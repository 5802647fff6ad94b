package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Fixture

/** [[Fixture.scratch]]: a builder's frame outlives the scratch root it
  * was written under, and the root never outlives the call.
  */
class FixtureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("scratch: the frame reads after its root is deleted; the root is gone") {
    var root = ""
    val df = Fixture.scratch("graft_fixture_spec_") { r =>
      root = r
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .write.parquet(s"$r/t")
      spark.read.parquet(s"$r/t").where($"id" >= 2L)
    }
    assert(root.nonEmpty)
    assert(!new java.io.File(root).exists, s"scratch root $root survived")
    assert(df.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((2L, "b"), (3L, "c")))
  }

  test("scratch: a builder that throws still deletes its root") {
    var root = ""
    var written = false
    val e = intercept[IllegalStateException] {
      Fixture.scratch("graft_fixture_spec_") { r =>
        root = r
        Seq(1L).toDF("id").write.parquet(s"$r/t")
        written = new java.io.File(s"$r/t").isDirectory
        throw new IllegalStateException("mid-build failure")
      }
    }
    assert(e.getMessage == "mid-build failure")
    assert(written, "the builder wrote under its root before throwing")
    assert(!new java.io.File(root).exists, s"scratch root $root survived")
  }
}
