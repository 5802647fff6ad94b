package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Calendar
import graft.streaming.Calendar._

/** The streamed lifecycle interpreter's contract, checked without
  * starting a stream: the delivery ladder's order within and across
  * day slots, the loud failure on an unknown control op, and the one
  * bounded control read of a micro-batch.
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
}
