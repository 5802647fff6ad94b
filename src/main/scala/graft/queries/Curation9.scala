package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.Q._
import graft.ops.Dedup.h60Sql

/** Round-11 batch, part 1 — the flagship: the curation day as a
  * STREAMING job, welded to an N-DAY (N = 4) lifecycle drift proof.
  *
  * Two engine paths, one oracle (the q483 pattern, applied to the
  * whole lifecycle): [[graft.streaming.CurationStream]] drives four
  * daily drops through a Structured Streaming file source whose
  * `foreachBatch` invokes the ledger-gated
  * [[graft.ops.CurationNDay.processDay]] — WITH a kill/restart
  * between days 2 and 3 and a replayed-committed-day no-op witnessed
  * inside the run — while the batch interpreter
  * ([[graft.streaming.CurationStream.batch]]) applies the SAME
  * calendar value ([[graft.streaming.CurationStream.DaysCal]]) in a
  * plain driver loop. q505/q508 gate
  * both paths' full decision ledgers, q506/q509 both final manifests,
  * against ONE full-recompute DuckDB re-derivation of the
  * four-times-grown corpus; q507 gates the day-4 persisted-state
  * panel (additive agg + sharded distinct + cent histogram, each
  * folded four times) against the full event history; q510 pins the
  * per-day decision mix plus the stream's recovery facts (replay
  * no-op, exactly-once ledger).
  */
object Curation9 extends Gates {

  import graft.ops.{CurationDay, CurationNDay}
  import graft.streaming.CurationStream

  /** The STREAMED lifecycle, once per dir per JVM (artifacts live
    * until JVM exit — the q488 caching pattern): returns the artifact
    * root plus the recovery facts the q510 report pins.
    */
  private[queries] val streamed = Fixture.rooted("graft_curation_stream_") { (s, d, root) =>
    val a = CurationDay.Artifacts(root)
    val (replayNoOp, days) = CurationStream.runDaysStreamed(s, d, a)
    (a, replayNoOp, days)
  }

  /** The BATCH N-day lifecycle over the same day splits. */
  private val nDayBatch = Fixture.rooted("graft_curation_nday_") { (s, d, root) =>
    val a = CurationDay.Artifacts(root)
    CurationStream.batch(s, d, a, CurationStream.DaysCal)
    a
  }

  /** The RETRACTION day, run once per dir on the BATCH lifecycle's
    * artifacts (the streamed set stays pristine for q505-q507/q516):
    * victims = every corpus doc with doc_id % 16 == 1, captured
    * pre-retraction; returns (artifacts, day-5 re-offer decisions) —
    * the re-offer is the end-to-end witness that retraction really
    * removed the docs from the index (a re-offered retracted text
    * must be ADMITTED again unless a surviving doc still carries it,
    * which is exactly deleteFromDedupIndex's stillHeld semantics, and
    * the oracle recomputes the same answer from corpus5).
    */
  private[queries] val retracted = Fixture { (s, d) =>
    val a = nDayBatch(s, d)
    val pre = s.read.parquet(a.corpusDir)
    val victims = pre.where(pmod(col("doc_id"), lit(16L)) === 1L)
      .localCheckpoint(true)
    CurationNDay.retractDay(s, a, "retract1", victims,
      a.manifestDay(CurationNDay.NDays), a.manifestRetract(1)): Unit
    // day-5 re-offer drop: min + max retracted texts under new ids,
    // plus a surviving doc copy as the dup_exact control
    val post = s.read.parquet(a.corpusDir).localCheckpoint(true)
    val plant = victims.orderBy("doc_id").limit(1)
      .select(lit(9400001L).as("doc_id"), col("text"))
      .unionByName(victims.orderBy(col("doc_id").desc).limit(1)
        .select(lit(9400002L).as("doc_id"), col("text")))
      .unionByName(post.orderBy("doc_id").limit(1)
        .select(lit(9400003L).as("doc_id"), col("text")))
    val dec5 = CurationDay.decisionsOf(s, a, post, plant)
      .localCheckpoint(true)
    (a, dec5)
  }

  lazy val gates: Seq[Gate] = Seq(

    Gate("q505_curation_stream_decisions", (s, dir) =>
      CurationNDay.allDecisions(s, streamed(s, dir)._1)
        .orderBy("day", "doc_id"), oracle = decisionsOracle),

    // The pipeline's PRODUCT, gated directly: the materialized
    // shard-partitioned corpus after the four streamed days ==
    // the four-times-grown curated corpus, row for row, text and
    // shard placement included.
    Gate("q516_curated_corpus", (s, dir) =>
      s.read.parquet(streamed(s, dir)._1.corpusDir)
        .select("doc_id", "shard", "text")
        .orderBy("doc_id"), oracle =
      s"""WITH $nDayCtes
         |SELECT doc_id,
         |  CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |    % ${CurationDay.NShards} AS INT) AS shard, text
         |FROM grown4 ORDER BY doc_id""".stripMargin),

    // Retraction day: the manifest after retracting doc_id%16==1
    // (untouched shards carried, touched shards recomputed from their
    // pruned post-delete partitions) == the manifest over
    // grown4-minus-retracted.
    Gate("q517_retraction_manifest", (s, dir) => {
      val a = retracted(s, dir)._1
      s.read.parquet(a.manifestRetract(1)).orderBy("shard")
    }, oracle =
      s"""WITH $nDayCtes,
         |$retractionCtes,
         |m AS (SELECT doc_id,
         |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    (${h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")}) AS h
         |  FROM corpus5)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  bit_xor(h) AS checksum
         |FROM m GROUP BY shard ORDER BY shard""".stripMargin),

    // Post-retraction re-offer: retracted texts come back ADMITTED
    // (their hashes/bands really left the index), the surviving-doc
    // copy stays dup_exact_corpus — decisions against the shrunk
    // index == the oracle's recompute over corpus5.
    Gate("q518_post_retraction_decisions", (s, dir) =>
      retracted(s, dir)._2.orderBy("doc_id"), oracle =
      s"""WITH $nDayCtes,
         |$retractionCtes,
         |${Curation.dedupDecisionCtes("corpus5", "batch5", "5")},
         |${Curation8.postGateCtes("5")}
         |SELECT doc_id, decision,
         |  CASE WHEN decision = 'admitted'
         |    THEN CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) END AS shard
         |FROM final5 ORDER BY doc_id""".stripMargin),

    Gate("q506_curation_stream_manifest", (s, dir) =>
      s.read.parquet(streamed(s, dir)._1.manifestDay(CurationNDay.NDays))
        .orderBy("shard"), oracle = manifestOracle),

    Gate("q507_curation_stream_states", (s, dir) =>
      CurationNDay.statesPanel(s, streamed(s, dir)._1)
        .orderBy("event_type"), oracle =
      // Four-times-folded state panel == the full event history.
      """WITH base AS (SELECT event_type, user_id,
        |    CASE WHEN value IS NULL OR isnan(value) THEN NULL
        |      ELSE value END AS v
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT event_type,
        |    CAST(floor(v * 100.0 + 0.5) AS BIGINT) AS cent
        |  FROM base WHERE v IS NOT NULL),
        |k AS (SELECT event_type, cent, CAST(count(*) AS BIGINT) AS k
        |  FROM c GROUP BY 1, 2),
        |ct AS (SELECT event_type, cent, k,
        |    CAST(sum(k) OVER (PARTITION BY event_type ORDER BY cent)
        |      AS BIGINT) AS cum,
        |    CAST(sum(k) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM k),
        |q AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_values,
        |    min(CASE WHEN cum * 1000000 >= 500000 * n THEN cent END)
        |      AS p50_cents,
        |    min(CASE WHEN cum * 1000000 >= 900000 * n THEN cent END)
        |      AS p90_cents,
        |    min(CASE WHEN cum * 1000000 >= 990000 * n THEN cent END)
        |      AS p99_cents
        |  FROM ct GROUP BY 1),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(floor(v * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    round(CAST(sum(CAST(floor(v * 100.0 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 100.0 / count(*), 6) + 0.0 AS mean,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique
        |  FROM base GROUP BY 1)
        |SELECT a.event_type, n_rows, sum_cents, mean, n_unique,
        |  n_values, p50_cents, p90_cents, p99_cents
        |FROM a LEFT JOIN q ON q.event_type = a.event_type
        |ORDER BY a.event_type""".stripMargin),

    Gate("q508_curation_nday_decisions", (s, dir) =>
      CurationNDay.allDecisions(s, nDayBatch(s, dir))
        .orderBy("day", "doc_id"), oracle =
      // same oracle, second engine path (batch loop)
      decisionsOracle),

    Gate("q509_curation_nday_manifest", (s, dir) =>
      s.read.parquet(nDayBatch(s, dir).manifestDay(CurationNDay.NDays))
        .orderBy("shard"), oracle = manifestOracle),

    Gate("q510_curation_stream_report", (s, dir) => {
      val (a, replayNoOp, days) = streamed(s, dir)
      CurationNDay.allDecisions(s, a)
        .groupBy("day")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("decision") === "admitted", 1L).otherwise(0L))
            .as("n_admitted"),
          sum(when(col("decision") === "dup_exact_corpus", 1L)
            .otherwise(0L)).as("n_dup_exact_corpus"),
          sum(when(col("decision") === "dup_exact_batch", 1L)
            .otherwise(0L)).as("n_dup_exact_batch"),
          sum(when(col("decision") === "near_dup_corpus", 1L)
            .otherwise(0L)).as("n_near_dup_corpus"),
          sum(when(col("decision") === "contaminated", 1L).otherwise(0L))
            .as("n_contaminated"),
          sum(when(col("decision") === "low_quality", 1L).otherwise(0L))
            .as("n_low_quality"))
        .withColumn("replay_noop", lit(if (replayNoOp) "1" else "0"))
        .withColumn("ledger_days", lit(days.mkString(",")))
        .orderBy("day")
    }, oracle =
      s"""WITH $nDayCtes,
         |f AS (${(1 to 4).map(k =>
             s"SELECT $k AS day, decision FROM final$k")
             .mkString("\nUNION ALL\n")})
         |SELECT day, CAST(count(*) AS BIGINT) AS n_docs,
         |${Curation8.decisionCountCols},
         |  '1' AS replay_noop,
         |  'day1,day2,day3,day4' AS ledger_days
         |FROM f GROUP BY day ORDER BY day""".stripMargin))

  // ---- oracle: the four-day full recompute --------------------------

  /** Day k's corpus/batch/decision/post-gate chain (suffix k),
    * referencing `corpus$k` (k = 1 uses the bootstrap `corpus`).
    */
  private def dayChain(k: Int, batchDef: String): String = {
    val corpusSrc = if (k == 1) "corpus" else s"corpus$k"
    val grow =
      if (k == 1) ""
      else
        s"""corpus$k AS MATERIALIZED (SELECT doc_id, text FROM ${
             if (k == 2) "corpus" else s"corpus${k - 1}"
           }
           |  UNION ALL SELECT doc_id, text FROM admf${k - 1}),
           |""".stripMargin
    s"""${grow}batch$k AS MATERIALIZED ($batchDef),
       |${Curation.dedupDecisionCtes(corpusSrc, s"batch$k", s"$k")},
       |${Curation8.postGateCtes(s"$k")}""".stripMargin
  }

  private[queries] def nDayCtes: String =
    s"""${Curation8.poolBenchCtes},
       |${Curation8.curatedCorpusCtes("doc_id % 8 >= 4")},
       |${dayChain(1, "SELECT doc_id, text FROM pool WHERE doc_id % 8 = 0")},
       |${dayChain(2, "SELECT doc_id, text FROM pool WHERE doc_id % 8 = 1")},
       |${dayChain(3, "SELECT doc_id, text FROM pool WHERE doc_id % 8 = 2")},
       |day4base AS (SELECT doc_id, text FROM pool WHERE doc_id % 8 = 3),
       |corpus4 AS MATERIALIZED (SELECT doc_id, text FROM corpus3
       |  UNION ALL SELECT doc_id, text FROM admf3),
       |plant4 AS (
       |  SELECT CAST(9200001 AS BIGINT) AS doc_id, text FROM admf1
       |    WHERE doc_id = (SELECT min(doc_id) FROM admf1)
       |  UNION ALL SELECT 9200002, text || ' zzz' FROM admf2
       |    WHERE doc_id = (SELECT doc_id FROM admf2
       |      ORDER BY len(string_split(text, ' ')) DESC, doc_id LIMIT 1)),
       |batch4 AS MATERIALIZED (SELECT * FROM day4base
       |  UNION ALL SELECT * FROM plant4),
       |${Curation.dedupDecisionCtes("corpus4", "batch4", "4")},
       |${Curation8.postGateCtes("4")},
       |grown4 AS (SELECT doc_id, text FROM corpus4
       |  UNION ALL SELECT doc_id, text FROM admf4)""".stripMargin

  private def allDecisionsSql: String =
    (1 to 4).map { k =>
      s"""SELECT $k AS day, doc_id, decision,
         |  CASE WHEN decision = 'admitted'
         |    THEN CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) END AS shard
         |FROM final$k""".stripMargin
    }.mkString("\nUNION ALL\n")

  private[queries] val decisionsOracle: String =
    s"""WITH $nDayCtes
       |SELECT * FROM ($allDecisionsSql)
       |ORDER BY day, doc_id""".stripMargin

  private val manifestOracle: String =
    s"""WITH $nDayCtes,
       |m AS (SELECT doc_id,
       |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
       |      % ${CurationDay.NShards} AS INT) AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    (${h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")}) AS h
       |  FROM grown4)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id,
       |  bit_xor(h) AS checksum
       |FROM m GROUP BY shard ORDER BY shard""".stripMargin

  /** Retraction re-derivation on top of the four-day chain: victims,
    * the shrunk corpus, and the day-5 re-offer batch.
    */
  private[queries] def retractionCtes: String =
    s"""rtext AS (SELECT doc_id, text FROM grown4 WHERE doc_id % 16 = 1),
       |corpus5 AS MATERIALIZED (SELECT g.doc_id, g.text FROM grown4 g
       |  ANTI JOIN rtext USING (doc_id)),
       |batch5 AS (
       |  SELECT CAST(9400001 AS BIGINT) AS doc_id, text FROM rtext
       |    WHERE doc_id = (SELECT min(doc_id) FROM rtext)
       |  UNION ALL SELECT 9400002, text FROM rtext
       |    WHERE doc_id = (SELECT max(doc_id) FROM rtext)
       |  UNION ALL SELECT 9400003, text FROM corpus5
       |    WHERE doc_id = (SELECT min(doc_id) FROM corpus5))""".stripMargin
}
