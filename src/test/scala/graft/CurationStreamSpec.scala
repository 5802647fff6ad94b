package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CurationDay, CurationNDay}
import graft.streaming.CurationStream

/** The streaming curation lifecycle's recovery contract, witnessed:
  *  - STREAMED == BATCH: the file-source + foreachBatch path produces
  *    byte-identical decisions/manifest/state panel to the driver-loop
  *    path over the same four days (two engine paths — the gate rows
  *    add the shared DuckDB oracle as the third leg);
  *  - KILL/RESTART: the stream is stopped between days 2 and 3 and
  *    restarted from its checkpoint (inside runDaysStreamed), and the
  *    ledger shows each day committed exactly once;
  *  - TORN DAY: a day that crashed AFTER its artifact writes but
  *    BEFORE its ledger row (processDayBody without the commit) is
  *    re-offered through the stream and converges to the same final
  *    artifacts — the crash window the day ledger exists for;
  *  - OUT-OF-ORDER drops fail loudly (day k before day k−1).
  */
class CurationStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmpArtifacts(tag: String): CurationDay.Artifacts =
    CurationDay.Artifacts(
      java.nio.file.Files.createTempDirectory(tag).toString + "/a")

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def del(a: CurationDay.Artifacts): Unit =
    graft.queries.Fixture.deleteDir(
      new java.io.File(a.root).getParent)

  test("streamed lifecycle == batch lifecycle, exactly-once ledger") {
    val as = tmpArtifacts("graft_cstream_s_")
    val ab = tmpArtifacts("graft_cstream_b_")
    try {
      val (replayNoOp, days) = CurationStream.runDaysStreamed(spark, sf, as)
      assert(replayNoOp, "replayed committed day must be a ledger no-op")
      assert(days == Seq("day1", "day2", "day3", "day4"),
        s"each day exactly once, got $days")
      CurationStream.batch(spark, sf, ab, CurationStream.DaysCal)
      assert(rowsOf(CurationNDay.allDecisions(spark, as)) ==
        rowsOf(CurationNDay.allDecisions(spark, ab)))
      assert(rowsOf(spark.read.parquet(as.manifestDay(4))) ==
        rowsOf(spark.read.parquet(ab.manifestDay(4))))
      assert(rowsOf(CurationNDay.statesPanel(spark, as)) ==
        rowsOf(CurationNDay.statesPanel(spark, ab)))
      assert(rowsOf(spark.read.parquet(as.corpusDir)
          .select("doc_id", "shard", "text")) ==
        rowsOf(spark.read.parquet(ab.corpusDir)
          .select("doc_id", "shard", "text")))
      // day-4 sentinels witnessed the multi-day index growth
      val planted = CurationNDay.allDecisions(spark, as)
        .where(col("doc_id") >= 9200001L)
        .collect().map(r => r.getLong(1) -> r.getString(2)).toMap
      assert(planted(9200001L) == "dup_exact_corpus") // day-1 hash append
      assert(planted(9200002L) == "near_dup_corpus")  // day-2 band append
    } finally { del(as); del(ab) }
  }

  test("torn day (crash before ledger row) converges on stream replay") {
    val at = tmpArtifacts("graft_cstream_t_")
    val ab = tmpArtifacts("graft_cstream_c_")
    try {
      CurationNDay.bootstrapNDay(spark, sf, at)
      val fetch = graft.core.Tables(spark, sf, "documents")
      // day 1 committed normally
      assert(CurationNDay.processDay(spark, at, 1,
        spark.read.parquet(at.dropDay(1)), fetch))
      // day 2 CRASHES after all artifact writes, before its ledger row
      CurationNDay.processDayBody(spark, at, 2,
        spark.read.parquet(at.dropDay(2)), fetch)
      assert(graft.core.Ledger.ids(spark, at.ledger) == Seq("day1"))
      // the landing zone re-offers day 2 (at-least-once delivery);
      // the stream re-runs the whole day — idempotent by construction
      graft.streaming.Calendar.run(spark,
        CurationStream.binding(spark, at, fetch),
        Seq(graft.streaming.Calendar.Land(2), graft.streaming.Calendar.Run))
      assert(graft.core.Ledger.ids(spark, at.ledger) ==
        Seq("day1", "day2"))
      // control: the same two days with no crash
      CurationNDay.bootstrapNDay(spark, sf, ab)
      (1 to 2).foreach { k =>
        CurationNDay.processDay(spark, ab, k,
          spark.read.parquet(ab.dropDay(k)), fetch): Unit
      }
      Seq[CurationDay.Artifacts => String](
        _.decisionsDay(2), _.manifestDay(2), _.aggStateDay(2),
        _.centStateDay(2)).foreach { p =>
        assert(rowsOf(spark.read.parquet(p(at))) ==
          rowsOf(spark.read.parquet(p(ab))), p(at))
      }
      // distinct state converged too (summary rollup equality)
      assert(rowsOf(graft.ops.Scale.distinctStateCard(spark,
          at.distinctState, "event_type")) ==
        rowsOf(graft.ops.Scale.distinctStateCard(spark,
          ab.distinctState, "event_type")))
    } finally { del(at); del(ab) }
  }

  test("out-of-order drop fails loudly") {
    val a = tmpArtifacts("graft_cstream_o_")
    try {
      CurationNDay.bootstrapNDay(spark, sf, a)
      val fetch = graft.core.Tables(spark, sf, "documents")
      val ex = intercept[IllegalArgumentException] {
        CurationNDay.processDay(spark, a, 2,
          spark.read.parquet(a.dropDay(2)), fetch)
      }
      assert(ex.getMessage.contains("before day 1"))
    } finally del(a)
  }
}
