package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Ledger

/** The exactly-once protocol's two primitives: [[Ledger.once]] (check
  * first, commit last) and [[Ledger.pin]] (reuse a completed pin,
  * recompute a torn one).
  */
class LedgerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withRoot(tag: String)(f: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory(tag).toString
    try f(root)
    finally graft.queries.Fixture.deleteDir(root)
  }

  test("once: None on a committed id, no row when the body throws") {
    withRoot("graft_ledger_once_") { root =>
      val ledger = s"$root/ledger"
      assert(Ledger.once(spark, ledger, "a")(7).contains(7))
      var ran = false
      assert(Ledger.once(spark, ledger, "a") { ran = true; 8 }.isEmpty)
      assert(!ran, "a committed id must not run its body")
      intercept[IllegalStateException] {
        Ledger.once(spark, ledger, "b")(throw new IllegalStateException("torn"))
      }
      assert(!Ledger.seen(spark, ledger, "b"))
      assert(Ledger.ids(spark, ledger) == Seq("a"))
      // the torn id runs again, and commits exactly one row
      assert(Ledger.once(spark, ledger, "b")(()).isDefined)
      assert(Ledger.ids(spark, ledger) == Seq("a", "b"))
    }
  }

  test("pin: a completed pin is reused without compute, a torn one recomputed") {
    withRoot("graft_ledger_pin_") { root =>
      val path = s"$root/decisions.parquet"
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.collect().map(_.getLong(0)).toSeq.sorted
      assert(ids(Ledger.pin(spark, path)(Seq(1L, 2L).toDF("id"))) == Seq(1L, 2L))
      var computed = false
      val reused = Ledger.pin(spark, path) { computed = true; Seq(9L).toDF("id") }
      assert(!computed && ids(reused) == Seq(1L, 2L))
      // a pin whose write never completed: data files, no marker
      val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      assert(marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(marker, false))
      assert(!Ledger.done(spark, path))
      val redone = Ledger.pin(spark, path) { computed = true; Seq(9L).toDF("id") }
      assert(computed && ids(redone) == Seq(9L))
      assert(Ledger.done(spark, path))
    }
  }
}
