package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Calendar
import graft.streaming.Calendar._

/** The lifecycle interpreters' contract, checked without starting a
  * stream: the delivery ladder's order within and across day slots,
  * the loud failure on an unknown control op, the one bounded control
  * read of a micro-batch, and the batch interpreter's walk of the same
  * steps.
  */
class CalendarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ctl(op: String, k: Int, replay: Boolean = false) =
    Control(op, k, () => 0L, replay)

  test("mtime ladder: drop < replay < ttl < cap < compact (each op's replay after it) < next drop") {
    (1 to 4).foreach { k =>
      val ladder = Seq(Land(k), Land(k, replay = true),
        ctl(OpTtl, k), ctl(OpTtl, k, replay = true),
        ctl(OpCap, k), ctl(OpCap, k, replay = true),
        ctl(OpCompact, k), ctl(OpCompact, k, replay = true),
        Land(k + 1)).map(Calendar.mtimeOffset)
      assert(ladder == ladder.sorted && ladder.distinct == ladder,
        s"slot $k ladder not strictly increasing: $ladder")
    }
  }

  test("an unknown control op fails loudly") {
    val landing = intercept[RuntimeException] {
      Calendar.mtimeOffset(ctl("refit", 2))
    }
    assert(landing.getMessage.contains("unknown control op refit"))
    val batch = Seq((2, "refit", 1L)).toDF("day", "op", "arg")
    val read = intercept[RuntimeException](Calendar.controls(batch))
    assert(read.getMessage.contains("unknown control op refit"))
  }

  test("one control read: admission-only, control-only and two-op days in order") {
    val none: Option[String] = None
    val batch = Seq[(Int, Option[String], Option[Long])](
        (3, Some(OpCompact), Some(0L)), // day 3: admission + two ops,
        (3, none, Some(77L)),           // listed out of order; the
        (3, Some(OpTtl), Some(2L)),     // admission row's arg is ignored
        (3, none, None),
        (1, none, None), (1, none, None), // day 1: admission only
        (2, Some(OpCap), Some(500L)),     // day 2: control only
        (2, Some(OpCap), Some(400L)),
        (2, Some(OpCap), Some(500L)))
      .toDF("day", "op", "arg")
    assert(Calendar.controls(batch) == Seq(
      DaySlot(1, admit = true, Nil),
      DaySlot(2, admit = false, Seq(OpCap -> Seq(400L, 500L))),
      DaySlot(3, admit = true,
        Seq(OpTtl -> Seq(2L), OpCompact -> Seq(0L)))))
  }

  test("batch interpreter: steps in order, Run ignored, replayed Land re-offered, controls get Seq(arg())") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val b = Binding("no_landing", "no_checkpoint", "no_anchor",
      Seq(org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)),
      k => Seq((k.toLong, s"x$k")).toDF("id", "extra"),
      (k, drop) => calls += s"admit $k ${drop.columns.mkString(",")} " +
        drop.collect().map(_.getLong(0)).mkString(","),
      Map(OpTtl -> ((k, args) => calls += s"ttl $k ${args.mkString(",")}")))
    var evals = 0L
    Calendar.batch(spark, b, Seq(
      Land(1), Run,
      Control(OpTtl, 2, () => { evals += 1; 40L + evals }),
      Derive(() => calls += "derive"),
      Land(1, replay = true), Land(3), Run))
    assert(calls == Seq("admit 1 id 1", "ttl 2 41", "derive",
      "admit 1 id 1", "admit 3 id 3"))
    assert(evals == 1L) // arg() evaluated once, when its step runs
    val e = intercept[RuntimeException] {
      Calendar.batch(spark, b, Seq(Control("refit", 2)))
    }
    assert(e.getMessage.contains("no refit slot"))
  }
}
