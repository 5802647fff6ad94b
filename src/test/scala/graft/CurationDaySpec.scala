package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CurationDay

/** The flagship's scan contract, asserted on executed plans: after
  * day-0 bootstrap, the delta-day stages read ONLY the persisted
  * artifacts and the day's drop. The single place the snapshot corpus
  * file may appear is the dedup candidate verify fetch inside the
  * decision stage (id-pruned to LSH candidates); the manifest fold
  * and the state folds must not touch the corpus files at all. A
  * full-recompute control proves the detector sees corpus scans.
  */
class CurationDaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // anchored to the corpus DIRECTORY so the drop files (e.g.
  // delta_events.parquet under the artifact root) can never match
  private def corpusScans(df: DataFrame, file: String): Int =
    df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).count(_.contains(s"$sf/$file.parquet"))

  test("delta-day stages never rescan the snapshot corpus (plan-asserted)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_curday_spec_").toString
    val a = CurationDay.Artifacts(root)
    CurationDay.bootstrap(spark, sf, a)
    try {
      val fetch = graft.core.Tables(spark, sf, "documents")
      val dec = CurationDay.decisions(spark, a, fetch)
      // decision stage: EXACTLY ONE documents scan (the candidate
      // verify fetch), zero events scans
      assert(corpusScans(dec, "documents") == 1,
        dec.queryExecution.executedPlan.toString.take(2000))
      assert(corpusScans(dec, "events") == 0)
      val decCk = dec.localCheckpoint(true)
      // manifest fold: zero corpus scans of any kind — only
      // manifest0 + the drop
      val man = CurationDay.grownManifest(spark, a, decCk)
      assert(corpusScans(man, "documents") == 0)
      assert(corpusScans(man, "events") == 0)
      // state folds: zero corpus scans — only the persisted states
      // + the day's events drop
      val st = CurationDay.foldedStates(spark, a)
      assert(corpusScans(st, "documents") == 0)
      assert(corpusScans(st, "events") == 0)
      // detector is NOT vacuous: a full recompute scans the corpus
      val full = graft.core.Tables(spark, sf, "events")
        .groupBy("event_type").count()
      assert(corpusScans(full, "events") == 1)
      // and the sentinel branches fired as designed
      val planted = dec.where(col("doc_id") >= 9000001L)
        .select("doc_id", "decision")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(planted(9000001L) == "dup_exact_corpus")
      assert(planted(9000002L) == "dup_exact_batch")
      assert(planted(9000003L) == "dup_exact_batch")
      assert(planted(9000004L) == "contaminated")
      assert(planted(9000005L) == "low_quality")
      // delta-run == full-recompute is the q488-q491 oracle gate;
      // here pin the fold's internal consistency: manifest totals
      // equal the curated-grown corpus size recomputed directly
      val grownDocs = man.agg(sum(col("n_docs"))).head().getLong(0)
      val organic = dec.where(col("decision") === "admitted").count()
      val m0Docs = spark.read.parquet(a.manifest0)
        .agg(sum(col("n_docs"))).head().getLong(0)
      assert(grownDocs == m0Docs + organic)
    } finally {
      graft.queries.Fixture.deleteDir(root)
    }
  }
}
