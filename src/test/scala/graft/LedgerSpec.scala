package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Ledger

/** The exactly-once protocol's primitives: [[Ledger.once]] (check
  * first, commit last), [[Ledger.pin]] (reuse a completed pin,
  * recompute a torn one) and the size-cap slot [[Ledger.capSlot]]
  * (horizon pinned before the expiry body, nothing evaluated on a
  * replay).
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

  // Masses per admission day (0 = snapshot): 40 + 30 + 20 + 10 = 100.
  private val masses = Map(0 -> 40L, 1 -> 30L, 2 -> 20L, 3 -> 10L)

  test("capSlot: an under-cap call commits horizon 0 and runs no expiry") {
    withRoot("graft_ledger_cap_under_") { root =>
      val (ledger, horizon) = (s"$root/ledger", s"$root/horizon.parquet")
      var expired = false
      assert(Ledger.capSlot(spark, ledger, "cap1", horizon, 100L)(masses) {
        _ => expired = true } == 0)
      assert(!expired, "an under-cap slot must not call the expiry body")
      assert(Ledger.horizon(spark, horizon) == 0)
      assert(Ledger.ids(spark, ledger) == Seq("cap1"))
    }
  }

  test("capSlot: an over-cap call pins the horizon before the expiry body") {
    withRoot("graft_ledger_cap_over_") { root =>
      val (ledger, horizon) = (s"$root/ledger", s"$root/horizon.parquet")
      // tail(2) = 30 fits a 35 cap, tail(1) = 60 does not
      var seen = -1
      assert(Ledger.capSlot(spark, ledger, "cap1", horizon, 35L)(masses) {
        keepFrom =>
          assert(!Ledger.seen(spark, ledger, "cap1"),
            "the ledger row commits after the expiry body")
          seen = Ledger.horizon(spark, horizon)
          assert(keepFrom == 2)
      } == 2)
      assert(seen == 2, "the expiry body must read the pinned horizon")
      assert(Ledger.ids(spark, ledger) == Seq("cap1"))
    }
  }

  test("capSlot: a replay returns 0 without evaluating the masses") {
    withRoot("graft_ledger_cap_replay_") { root =>
      val (ledger, horizon) = (s"$root/ledger", s"$root/horizon.parquet")
      var massCalls = 0
      def counted: Map[Int, Long] = { massCalls += 1; masses }
      var expiries = 0
      assert(Ledger.capSlot(spark, ledger, "cap1", horizon, 35L)(counted) {
        _ => expiries += 1 } == 2)
      assert(massCalls == 1 && expiries == 1)
      assert(Ledger.capSlot(spark, ledger, "cap1", horizon, 35L)(counted) {
        _ => expiries += 1 } == 0)
      assert(massCalls == 1, "a replay must not evaluate the masses")
      assert(expiries == 1, "a replay must not call the expiry body")
      assert(Ledger.horizon(spark, horizon) == 2)
      assert(Ledger.ids(spark, ledger) == Seq("cap1"))
    }
  }
}
