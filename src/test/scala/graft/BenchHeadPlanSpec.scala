package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression pins for the bench HEAD — the ten most expensive
  * official queries (BENCH_r09), whose plans were hand-audited by the
  * round-9 judge. Each pin asserts the audited shape as executable
  * counts: zero CartesianProduct anywhere, and the number of shuffle
  * Exchanges / broadcast nested-loop joins in the FINAL frame's plan
  * (eager localCheckpoint stages truncate lineage, so the pin covers
  * the post-checkpoint stage the result actually executes) must not
  * grow. A refactor that silently adds an exchange or a cartesian
  * where the audit said none now fails here instead of surfacing as
  * an unexplained bench regression.
  *
  * Counts are pinned at sf0.001 — plan SHAPE is data-independent at
  * fixed config (AQE rewrites happen at runtime, not in the initial
  * executedPlan printed here). A deliberate change must update the
  * pin (and the bench notes) in the same commit.
  */
class BenchHeadPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Counts KEYED exchanges only (hash/range/single-partition): those are
    * the data-motion topology the audits pinned. Round-robin exchanges are
    * excluded — they are the deliberate, size-gated scan spread
    * (Tables.spread, r14), a no-op at production scale and not a shape
    * regression; an accidental keyed shuffle still trips the pin.
    */
  private def keyedExchanges(p: String): Int =
    raw"Exchange (hashpartitioning|rangepartitioning|SinglePartition)"
      .r.findAllIn(p).size

  private def shape(name: String): (Int, Int, Int) = {
    val p = SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString
    (keyedExchanges(p),
      raw"BroadcastNestedLoopJoin".r.findAllIn(p).size,
      raw"CartesianProduct".r.findAllIn(p).size)
  }

  // name -> (max shuffle exchanges, max BNLJ); cartesians are 0 for all
  private val pins: Seq[(String, Int, Int)] = Seq(
    ("q248_contamination_bloom", 3, 0),
    ("q253_dedup_semantic_pipeline", 5, 0),
    ("q302_winnowing", 1, 0),
    ("q258_dup_span_removal", 5, 0),
    ("q318_incremental_cc", 2, 0),
    ("q158_pxl_sql_queries", 2, 0),
    ("q303_winnow_matches", 4, 0),
    ("q270_soft_dedup", 9, 0),
    ("q353_repetition_signals", 1, 0),
    ("q232_pxl_dns_filtered", 4, 0),
    // r12: the two contention-inflated pxl heads the r11 bench triples
    // flagged — pinned so the next noisy bench is self-refuting
    ("q133_pxl_amqp_data", 12, 0),
    ("q171_pxl_http_trace", 9, 0),
    // r13: the current top-5 heads are now all pinned — q347 was the
    // one official head without a plan pin (r12 verdict task 7)
    ("q347_dedup_diversity", 16, 0),
    ("q358_curation_card", 9, 0))

  test("bench-head plans hold their audited shape (exchanges/BNLJ/cartesian)") {
    val derive = sys.env.contains("GRAFT_DERIVE_PINS")
    val bad = Seq.newBuilder[String]
    // a pin whose query cannot be built is recorded and the loop goes
    // on, so one failure never hides the pins after it
    for ((name, maxEx, maxBnlj) <- pins) scala.util.Try(shape(name)) match {
      case scala.util.Failure(e) => bad += s"$name: not built ($e)"
      case scala.util.Success((ex, bnlj, cart)) =>
        if (derive) println(s"PIN $name exchanges=$ex bnlj=$bnlj cart=$cart")
        else {
          if (ex > maxEx) bad += s"$name: $ex exchanges (pin $maxEx)"
          if (bnlj > maxBnlj) bad += s"$name: $bnlj BNLJ (pin $maxBnlj)"
          if (cart > 0) bad += s"$name: $cart CartesianProduct"
        }
    }
    assert(bad.result().isEmpty, bad.result().mkString("; "))
  }

  // r14: q279_streaming_contamination doubled officially in r13
  // (~5 → 10.4 s) and was unpinned. Its gate frame is a collected
  // memory-sink relation (LocalTableScan — nothing to pin), so the
  // pin targets the TOPOLOGY the stream executes per micro-batch:
  // streamingContamination applied to the same batch inputs — a
  // broadcast gram join (no shuffle for candidate generation) + one
  // keyed aggregate. Plan drift here is the only code-side way that
  // query can regress; anything else is host contention.
  test("q279 topology: broadcast gram join + keyed agg, no cartesian") {
    val docs = graft.core.Tables(spark, sf, "documents")
    val p = graft.streaming.Streaming.streamingContamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", 8)
      .queryExecution.executedPlan.toString
    val ex = keyedExchanges(p)
    assert(ex <= 2, s"q279 topology: $ex keyed exchanges (pin 2)")
    assert(raw"CartesianProduct".r.findAllIn(p).isEmpty)
    assert(raw"BroadcastNestedLoopJoin".r.findAllIn(p).isEmpty)
    assert(raw"BroadcastHashJoin|BroadcastExchange".r.findAllIn(p).nonEmpty,
      "q279 topology: the gram join must stay broadcast")
  }

  test("the shape detector is not vacuous (sees a planted cartesian + exchange)") {
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    val planted = a.crossJoin(b).groupBy("x").count()
    val p = planted.queryExecution.executedPlan.toString
    assert(raw"\bExchange\b".r.findAllIn(p).nonEmpty)
    assert(raw"BroadcastNestedLoopJoin|CartesianProduct".r.findAllIn(p).nonEmpty)
  }
}
