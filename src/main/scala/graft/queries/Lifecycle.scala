package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Dedup.h60Sql
import graft.ops.{Dedup, CurationDay, CurationNDay, Pack}
import graft.streaming.CurationStream
import NorthStar.{sh, sigCtes, bandsSql}
import Q._

/** Text-corpus lifecycle gates: the incremental curation day, the
  * streamed and batch N-day chains, retraction, TTL and size-cap
  * retention, compaction and the full maintenance calendar — each
  * artifact (decisions, shard manifest, state folds, pack tape, ledger
  * cards) checked against a from-scratch DuckDB re-derivation.
  */
object Lifecycle extends Gates {

  /** `from`'s docs with shard, token count and content hash h, as `name`. */
  private def shardCte(name: String, from: String): String =
    s"""$name AS (SELECT doc_id,
       |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
       |      % ${graft.ops.CurationDay.NShards} AS INT) AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    (${h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")}) AS h
       |  FROM $from)""".stripMargin

  /** The shard manifest's per-shard columns over a [[shardCte]]. */
  private[queries] val manifestCols: String =
    """SELECT shard, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id,
      |  bit_xor(h) AS checksum""".stripMargin

  /** A streamed lifecycle's `cards` (index cards or a shard manifest)
    * with its calendar facts pinned: the ledger's day ids, and whether
    * the replayed step was a no-op; rows ordered by `order`.
    */
  private[queries] def ledgerCards(cards: org.apache.spark.sql.DataFrame,
      noop: Boolean, days: Seq[String],
      order: Seq[String] = Seq("modality", "metric")) =
    cards.withColumn("ledger_days", lit(days.mkString(",")))
      .withColumn("replay_stable", lit(if (noop) "1" else "0"))
      .orderBy(order.map(col): _*)

  /** The CTE body of the incremental dedup decision re-derivation,
    * referencing caller-provided corpus/batch CTEs (each with doc_id +
    * text) and ending with a `decisions$sfx(doc_id, decision)` CTE —
    * so the q488 curation-day oracle can continue the pipeline past
    * the decisions, and the q492 two-day oracle can instantiate the
    * SAME algorithm text twice (suffixed CTE names) against a grown
    * corpus, while q269/q283/q352 keep it verbatim.
    */
  private[queries] def dedupDecisionCtes(corpusSrc: String = "corpus",
                                         batchSrc: String = "batch",
                                         sfx: String = "",
                                         corpusBandCap: Int = 0): String = {
    // cap > 0: each corpus LSH bucket contributes its `cap` lowest-id
    // members only — the Dedup.incrementalDedupCapped policy, encoded
    // verbatim (q515); cap = 0 emits the historical text unchanged.
    val candSrc = if (corpusBandCap > 0) s"bandscap$sfx" else s"bandsc$sfx"
    val capCte =
      if (corpusBandCap <= 0) ""
      else
        s"""bandscap$sfx AS (SELECT doc_id, band, bh FROM (
           |  SELECT doc_id, band, bh,
           |    row_number() OVER (PARTITION BY band, bh ORDER BY doc_id)
           |      AS rk
           |  FROM bandsc$sfx) WHERE rk <= $corpusBandCap),
           |""".stripMargin
    s"""bhash$sfx AS (SELECT doc_id, md5(text) AS h FROM $batchSrc),
       |firsts$sfx AS (SELECT h, min(doc_id) AS first_id FROM bhash$sfx GROUP BY h),
       |chash$sfx AS (SELECT DISTINCT md5(text) AS h FROM $corpusSrc),
       |surv$sfx AS MATERIALIZED (SELECT b.doc_id, b.text FROM $batchSrc b
       |  JOIN bhash$sfx ON bhash$sfx.doc_id = b.doc_id
       |  JOIN firsts$sfx f ON f.h = bhash$sfx.h
       |  WHERE b.doc_id = f.first_id
       |    AND bhash$sfx.h NOT IN (SELECT h FROM chash$sfx)),
       |${sigCtes(s"surv$sfx", s"b$sfx")},
       |${sigCtes(corpusSrc, s"c$sfx")},
       |bandsb$sfx AS (${bandsSql(s"b$sfx")}),
       |bandsc$sfx AS (${bandsSql(s"c$sfx")}),
       |${capCte}cand$sfx AS MATERIALIZED (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
       |  FROM bandsb$sfx b JOIN $candSrc c ON b.band = c.band AND b.bh = c.bh),
       |gb$sfx AS (SELECT DISTINCT doc_id, unnest($sh) AS g FROM surv$sfx),
       |gc$sfx AS (SELECT DISTINCT doc_id, unnest($sh) AS g FROM $corpusSrc
       |  WHERE doc_id IN (SELECT corpus_id FROM cand$sfx)),
       |szb$sfx AS (SELECT doc_id, count(*) AS n FROM gb$sfx GROUP BY doc_id),
       |szc$sfx AS (SELECT doc_id, count(*) AS n FROM gc$sfx GROUP BY doc_id),
       |inter$sfx AS (SELECT cand$sfx.batch_id, cand$sfx.corpus_id, count(*) AS i
       |  FROM cand$sfx JOIN gb$sfx ON gb$sfx.doc_id = cand$sfx.batch_id
       |            JOIN gc$sfx ON gc$sfx.doc_id = cand$sfx.corpus_id
       |              AND gc$sfx.g = gb$sfx.g
       |  GROUP BY 1, 2),
       |near$sfx AS (SELECT DISTINCT batch_id FROM inter$sfx
       |  JOIN szb$sfx ON szb$sfx.doc_id = inter$sfx.batch_id
       |  JOIN szc$sfx ON szc$sfx.doc_id = inter$sfx.corpus_id
       |  WHERE CAST(i AS DOUBLE) / (szb$sfx.n + szc$sfx.n - i) >= 0.8),
       |decisions$sfx AS MATERIALIZED (SELECT b.doc_id,
       |  CASE WHEN bhash$sfx.h IN (SELECT h FROM chash$sfx) THEN 'dup_exact_corpus'
       |       WHEN b.doc_id <> f.first_id THEN 'dup_exact_batch'
       |       WHEN b.doc_id IN (SELECT batch_id FROM near$sfx) THEN 'near_dup_corpus'
       |       ELSE 'admitted' END AS decision
       |FROM $batchSrc b
       |JOIN bhash$sfx ON bhash$sfx.doc_id = b.doc_id
       |JOIN firsts$sfx f ON f.h = bhash$sfx.h)""".stripMargin
  }

  /** Curation-day artifacts are built ONCE per sf dir per JVM (the
    * production shape: day-0 bootstrap is amortized across delta
    * days, and q488-q491 are four facets of ONE delta-day run). The
    * scratch root lives until JVM exit (shutdown hook deletes it), so
    * every facet reads the same persisted artifacts.
    */
  private val day = Fixture.rooted("graft_curation_day_") { (s, d, root) =>
    val a = CurationDay.Artifacts(root)
    CurationDay.bootstrap(s, d, a)
    a
  }

  /** The delta-day decision frame, computed once per dir (it feeds
    * q488, q489, and q491) and pinned with an eager localCheckpoint.
    */
  private val dayDecisions = Fixture { (s, d) =>
    CurationDay.decisions(s, day(s, d), tp(s, d, "documents"))
      .localCheckpoint(true)
  }

  /** The TWO-day lifecycle run (q492-q494), computed once per dir:
    * bootstrap on the {2,3,4}-snapshot -> day-1 decisions -> ADMIT
    * (index append + manifest fold + agg-state persist + distinct-
    * state append) -> day-2 drop (with appended-index sentinels) ->
    * day-2 decisions -> day-2 admit. Returns the artifacts and the
    * checkpointed day-2 decision frame.
    */
  private val twoDay = Fixture.rooted("graft_curation_2day_") { (s, d, root) =>
    val a = CurationDay.Artifacts(root)
    CurationDay.bootstrapTwoDay(s, d, a)
    val fetch = tp(s, d, "documents")
    val dec1 = CurationDay.decisions(s, a, fetch).localCheckpoint(true)
    CurationDay.admitDay(s, a, dec1, a.deltaDocs, a.manifest0,
      a.manifest1)
    // event-state write side: persist day-1's folded agg partials
    // and append day-1's keys into the distinct state, so day-2
    // folds against a state that already absorbed day 1
    graft.ops.Scale.foldAggState(s.read.parquet(a.aggState),
        s.read.parquet(a.deltaEvents), "event_type",
        CurationDay.guardedValue)
      .select("event_type", "n_rows", "sum_cents")
      .write.mode("overwrite").parquet(a.aggState1)
    graft.ops.Scale.appendDistinctState(s, a.distinctState,
      s.read.parquet(a.deltaEvents), "event_type", "user_id", 16)
    CurationDay.writeDay2Drop(s, d, a, dec1)
    val dec2 = CurationDay.decisions(s, a, fetch, Some(a.day2Docs))
      .localCheckpoint(true)
    CurationDay.admitDay(s, a, dec2, a.day2Docs, a.manifest1,
      a.manifest2)
    (a, dec2)
  }

  /** The grown manifest and the folded states, computed once per dir
    * (each feeds its own gate row AND the q491 report — without the
    * cache the folds would run twice per gate pass).
    */
  private val dayManifest = Fixture { (s, d) =>
    CurationDay.grownManifest(s, day(s, d), dayDecisions(s, d))
      .localCheckpoint(true)
  }

  private val dayStates = Fixture { (s, d) =>
    CurationDay.foldedStates(s, day(s, d)).localCheckpoint(true)
  }

  private val sh8 = graft.ops.Dedup.shinglesSql("text", 8)

  private val sh2 = graft.ops.Dedup.shinglesSql("text", 2)

  /** The full-recompute re-derivation of the curation day, shared by
    * q488-q491: day-0 batch curation of the snapshot (exact-dedup
    * keepers -> decontamination -> repetition gate), the incremental
    * dedup decisions ([[dedupDecisionCtes]] — the exact
    * q269/q283 algorithm text), then the admitted docs' contamination
    * + repetition verdicts. Integer threshold contracts mirror
    * [[graft.ops.CurationDay]] constant for constant.
    */
  /** Day-0 batch curation of a snapshot (`snapPred` over pool):
    * exact-dedup keepers -> decontamination -> repetition gate,
    * ending with the `corpus` CTE. */
  private def curatedCorpusCtes(snapPred: String): String = {
    val cp = CurationDay.ContamPpm; val rt = CurationDay.RepTenths
    s"""snapraw AS (SELECT * FROM pool WHERE $snapPred),
       |skeep AS (SELECT min(doc_id) AS doc_id FROM snapraw GROUP BY md5(text)),
       |s1 AS MATERIALIZED (SELECT s.* FROM snapraw s JOIN skeep USING (doc_id)),
       |sct AS (SELECT doc_id,
       |    CAST(len(list_distinct($sh8)) AS BIGINT) AS n_grams FROM s1),
       |sg AS (SELECT doc_id, unnest(list_distinct($sh8)) AS g FROM s1),
       |shit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM sg JOIN bgr USING (g) GROUP BY 1),
       |s2 AS (SELECT s1.* FROM s1 JOIN sct USING (doc_id)
       |  LEFT JOIN shit USING (doc_id)
       |  WHERE coalesce(shit.c, 0) * 1000000 <= $cp * sct.n_grams),
       |corpus AS MATERIALIZED (SELECT doc_id, text FROM s2
       |  WHERE (CAST(len($sh2) AS BIGINT)
       |      - CAST(len(list_distinct($sh2)) AS BIGINT)) * 10
       |    <= $rt * CAST(len($sh2) AS BIGINT))""".stripMargin
  }

  /** The post-dedup gates for one day (suffix `sfx`, matching the
    * `decisions$sfx`/`batch$sfx` CTEs): contamination + repetition on
    * the dedup survivors, ending with `final$sfx(doc_id, decision)`
    * and `admf$sfx(doc_id, text)`. */
  private def postGateCtes(sfx: String): String = {
    val cp = CurationDay.ContamPpm; val rt = CurationDay.RepTenths
    s"""adm$sfx AS (SELECT d.doc_id, b.text FROM decisions$sfx d
       |  JOIN batch$sfx b USING (doc_id) WHERE d.decision = 'admitted'),
       |act$sfx AS (SELECT doc_id,
       |    CAST(len(list_distinct($sh8)) AS BIGINT) AS n_grams FROM adm$sfx),
       |ag$sfx AS (SELECT doc_id, unnest(list_distinct($sh8)) AS g FROM adm$sfx),
       |ahit$sfx AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM ag$sfx JOIN bgr USING (g) GROUP BY 1),
       |final$sfx AS (SELECT d.doc_id,
       |    CASE WHEN d.decision <> 'admitted' THEN d.decision
       |      WHEN coalesce(ahit$sfx.c, 0) * 1000000 > $cp * act$sfx.n_grams
       |        THEN 'contaminated'
       |      WHEN (CAST(len($sh2) AS BIGINT)
       |          - CAST(len(list_distinct($sh2)) AS BIGINT)) * 10
       |        > $rt * CAST(len($sh2) AS BIGINT) THEN 'low_quality'
       |      ELSE 'admitted' END AS decision
       |  FROM decisions$sfx d JOIN batch$sfx b USING (doc_id)
       |  LEFT JOIN act$sfx USING (doc_id)
       |  LEFT JOIN ahit$sfx USING (doc_id)),
       |admf$sfx AS MATERIALIZED (SELECT f.doc_id, b.text FROM final$sfx f
       |  JOIN batch$sfx b USING (doc_id) WHERE f.decision = 'admitted')""".stripMargin
  }

  private val poolBenchCtes: String =
    s"""pool AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
       |bench AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE source = 'src0'),
       |bgr AS MATERIALIZED (SELECT DISTINCT unnest(list_distinct($sh8)) AS g FROM bench)""".stripMargin

  private def dayCtes: String =
    s"""$poolBenchCtes,
       |${curatedCorpusCtes("doc_id % 5 <> 0")},
       |deltabase AS MATERIALIZED (SELECT doc_id, text FROM pool WHERE doc_id % 5 = 0),
       |plant AS (
       |  SELECT CAST(9000001 AS BIGINT) AS doc_id, text FROM corpus
       |    WHERE doc_id = (SELECT min(doc_id) FROM corpus)
       |  UNION ALL SELECT 9000002, text FROM deltabase
       |    WHERE doc_id = (SELECT min(doc_id) FROM deltabase)
       |  UNION ALL SELECT 9000003, text FROM deltabase
       |    WHERE doc_id = (SELECT min(doc_id) FROM deltabase)
       |  UNION ALL SELECT 9000004, text FROM bench
       |    WHERE doc_id = (SELECT min(doc_id) FROM bench)
       |  UNION ALL SELECT 9000005, repeat('spam ', 39) || 'spam'),
       |batch AS MATERIALIZED (SELECT * FROM deltabase UNION ALL SELECT * FROM plant),
       |${dedupDecisionCtes()},
       |${postGateCtes("")},
       |grown AS (SELECT doc_id, text FROM corpus
       |  UNION ALL SELECT doc_id, text FROM admf)""".stripMargin

  /** The two-day full-recompute re-derivation (q492-q494): day-1 on
    * the {2,3,4}-snapshot, then the SAME algorithm text instantiated
    * a second time (suffix "2") against the grown corpus — exactly
    * what the engine's appended index serves incrementally.
    */
  private def twoDayCtes: String =
    s"""$poolBenchCtes,
       |${curatedCorpusCtes("doc_id % 5 IN (2, 3, 4)")},
       |batch AS MATERIALIZED (SELECT doc_id, text FROM pool WHERE doc_id % 5 = 0),
       |${dedupDecisionCtes()},
       |${postGateCtes("")},
       |corpus2 AS MATERIALIZED (SELECT doc_id, text FROM corpus
       |  UNION ALL SELECT doc_id, text FROM admf),
       |day2base AS MATERIALIZED (SELECT doc_id, text FROM pool WHERE doc_id % 5 = 1),
       |plant2 AS (
       |  SELECT CAST(9100001 AS BIGINT) AS doc_id, text FROM admf
       |    WHERE doc_id = (SELECT min(doc_id) FROM admf)
       |  UNION ALL SELECT 9100002, text || ' zzz' FROM admf
       |    WHERE doc_id = (SELECT doc_id FROM admf
       |      ORDER BY len(string_split(text, ' ')) DESC, doc_id LIMIT 1)),
       |batch2 AS MATERIALIZED (SELECT * FROM day2base UNION ALL SELECT * FROM plant2),
       |${dedupDecisionCtes("corpus2", "batch2", "2")},
       |${postGateCtes("2")},
       |grown2 AS (SELECT doc_id, text FROM corpus2
       |  UNION ALL SELECT doc_id, text FROM admf2)""".stripMargin

  /** Full-recompute state oracle shared by q490 (single fold) and
    * q493 (build -> fold -> append -> fold chain) — two independent
    * engine paths against one SQL answer.
    */
  private val fullStateOracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(floor((CASE WHEN value IS NULL OR isnan(value)
      |      THEN NULL ELSE value END) * 100.0 + 0.5) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  round(CAST(sum(CAST(floor((CASE WHEN value IS NULL
      |      OR isnan(value) THEN NULL ELSE value END) * 100.0 + 0.5)
      |      AS BIGINT)) AS DOUBLE) / 100.0 / count(*), 6) + 0.0 AS mean,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique
      |FROM events
      |WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** The per-decision counts n_admitted .. n_low_quality. */
  private val decisionCountCols: String =
    """  CAST(sum(CASE WHEN decision = 'admitted' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_admitted,
      |  CAST(sum(CASE WHEN decision = 'dup_exact_corpus' THEN 1
      |    ELSE 0 END) AS BIGINT) AS n_dup_exact_corpus,
      |  CAST(sum(CASE WHEN decision = 'dup_exact_batch' THEN 1
      |    ELSE 0 END) AS BIGINT) AS n_dup_exact_batch,
      |  CAST(sum(CASE WHEN decision = 'near_dup_corpus' THEN 1
      |    ELSE 0 END) AS BIGINT) AS n_near_dup_corpus,
      |  CAST(sum(CASE WHEN decision = 'contaminated' THEN 1
      |    ELSE 0 END) AS BIGINT) AS n_contaminated,
      |  CAST(sum(CASE WHEN decision = 'low_quality' THEN 1
      |    ELSE 0 END) AS BIGINT) AS n_low_quality""".stripMargin

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
  private val retracted = Fixture { (s, d) =>
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
       |${dedupDecisionCtes(corpusSrc, s"batch$k", s"$k")},
       |${postGateCtes(s"$k")}""".stripMargin
  }

  private[queries] def nDayCtes: String =
    s"""${poolBenchCtes},
       |${curatedCorpusCtes("doc_id % 8 >= 4")},
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
       |${dedupDecisionCtes("corpus4", "batch4", "4")},
       |${postGateCtes("4")},
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

  private val decisionsOracle: String =
    s"""WITH $nDayCtes
       |SELECT * FROM ($allDecisionsSql)
       |ORDER BY day, doc_id""".stripMargin

  private val manifestOracle: String =
    s"""WITH $nDayCtes,
       |${shardCte("m", "grown4")}
       |$manifestCols
       |FROM m GROUP BY shard ORDER BY shard""".stripMargin

  /** Retraction re-derivation on top of the four-day chain: victims,
    * the shrunk corpus, and the day-5 re-offer batch.
    */
  private def retractionCtes: String =
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

  /** The tape in stream order: day 0 = curated snapshot, then each
    * day's admitted docs, (shard, doc_id)-ordered within the day —
    * exactly [[graft.ops.Pack.layoutWithOffset]]'s order contract.
    */
  private[queries] def tapeCtes: String =
    s"""${nDayCtes},
       |pd AS (SELECT 0 AS day, doc_id, text FROM corpus
       |  UNION ALL SELECT 1, doc_id, text FROM admf1
       |  UNION ALL SELECT 2, doc_id, text FROM admf2
       |  UNION ALL SELECT 3, doc_id, text FROM admf3
       |  UNION ALL SELECT 4, doc_id, text FROM admf4),
       |pt AS (SELECT day, doc_id,
       |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
       |      % ${CurationDay.NShards} AS INT) AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM pd),
       |tape AS (SELECT day, doc_id, shard, n_tok,
       |    CAST(sum(n_tok) OVER (ORDER BY day, shard, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM pt)""".stripMargin

  private[queries] val L = Pack.SeqLen

  /** TTL on the curation N-day lifecycle, on a FRESH batch root (the
    * q505 streamed root and the q517 retracted root keep their
    * states): age out everything admitted before day 2 (snapshot +
    * day 1 — the ring buffer dropping its oldest segments), rebuild
    * the pack tape, and re-offer the oldest victim's text + a
    * surviving control through a day-5 decisions pass.
    */
  private val ttlLife = Fixture.rooted("graft_curation_ttl_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    graft.streaming.CurationStream.batch(s, d, a,
      graft.streaming.CurationStream.DaysCal)
    val pre = s.read.parquet(a.corpusDir).localCheckpoint(true)
    CurationNDay.ttlDay(s, a, "ttl1", keepFromDay = 2,
      a.manifestDay(CurationNDay.NDays), a.manifestRetract(1)): Unit
    graft.ops.Pack.rebuild(s, a, CurationNDay.NDays)
    val post = s.read.parquet(a.corpusDir).localCheckpoint(true)
    val victims = pre.join(post.select("doc_id"), Seq("doc_id"),
      "left_anti")
    val plant = victims.orderBy("doc_id").limit(1)
      .select(lit(9900001L).as("doc_id"), col("text"))
      .unionByName(post.orderBy("doc_id").limit(1)
        .select(lit(9900002L).as("doc_id"), col("text")))
    val dec = graft.ops.CurationDay.decisionsOf(s, a,
        post.select("doc_id", "text"), plant)
      .localCheckpoint(true)
    (a, dec)
  }

  /** SIZE-capped retention on its own fresh lifecycle (pack layouts
    * must be intact — the caps are read from them; the horizon comes
    * from the decision-pinned masses, equal to the pack masses before
    * any tape rebuild). The gate's cap
    * is SCALE-PROPORTIONAL — 55% of the total admitted token mass,
    * exact integer arithmetic both engines derive from the same
    * persisted masses — so the horizon decision is genuinely computed
    * at every sf (on the sf0.01 fixture: total 12560, cap 6908, tail
    * masses 9827 > 6908 ≥ 6502 ⇒ keepFrom = 3) and the q557 row
    * never trips [[CurationNDay.capDayPinned]]'s newest-day loud-fail on a
    * bigger fixture the way a fixture-sized absolute cap would.
    */
  private val capLife = Fixture.rooted("graft_curation_cap_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    graft.streaming.CurationStream.batch(s, d, a,
      graft.streaming.CurationStream.DaysCal)
    def mass(k: Int): Long = CurationNDay.packMass(s, a, k)
    // the UNDER-CAP check first (q578): a cap covering the WHOLE
    // retained mass — day-0 snapshot included — must commit as a
    // ledgered no-op and expire nothing
    val total0 = (0 to CurationNDay.NDays).map(mass).sum
    val k0 = CurationNDay.capDayPinned(s, a, "cap0", maxTokens = total0,
      a.manifestDay(CurationNDay.NDays), s"$root/m_noop")
    require(k0 == 0, s"capLife: under-cap check expired days ($k0)")
    val total = (1 to CurationNDay.NDays).map(mass).sum
    val k = CurationNDay.capDayPinned(s, a, "cap1",
      maxTokens = total * 55L / 100L,
      a.manifestDay(CurationNDay.NDays), a.manifestRetract(1))
    (a, k)
  }

  private def capLifeArtifacts(
      s: org.apache.spark.sql.SparkSession,
      dir: String): graft.ops.CurationDay.Artifacts = capLife(s, dir)._1

  /** The retained N-day corpus after the day-1 TTL: admitted days 2..4. */
  private val ttlCorpusCte: String =
    """corpusT AS MATERIALIZED (
      |  SELECT doc_id, text FROM admf2
      |  UNION ALL SELECT doc_id, text FROM admf3
      |  UNION ALL SELECT doc_id, text FROM admf4)""".stripMargin

  /** The packing tape rebuilt over `from`'s docs: pt, tape and its rows. */
  private def tapeSql(from: String): String =
    s"""pt AS (SELECT 0 AS day, doc_id,
       |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
       |      % ${graft.ops.CurationDay.NShards} AS INT) AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM $from),
       |tape AS (SELECT day, doc_id, shard, n_tok,
       |    CAST(sum(n_tok) OVER (ORDER BY shard, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM pt)
       |SELECT day, doc_id, shard, n_tok,
       |  cum - n_tok AS start_tok,
       |  (cum - n_tok) // ${graft.ops.Pack.SeqLen} AS first_seq,
       |  (cum - 1) // ${graft.ops.Pack.SeqLen} AS last_seq
       |FROM tape ORDER BY doc_id""".stripMargin

  /** The q557 cap machinery (masses → 55% cap → horizon → capped
    * corpus), shared by the streamed-cap oracles.
    */
  private val capCtes: String =
    s"""mass AS (
       |  SELECT 1 AS day, CAST(sum(len(string_split(text, ' ')))
       |    AS BIGINT) AS m FROM admf1
       |  UNION ALL SELECT 2, CAST(sum(len(string_split(text, ' ')))
       |    AS BIGINT) FROM admf2
       |  UNION ALL SELECT 3, CAST(sum(len(string_split(text, ' ')))
       |    AS BIGINT) FROM admf3
       |  UNION ALL SELECT 4, CAST(sum(len(string_split(text, ' ')))
       |    AS BIGINT) FROM admf4),
       |cap AS (SELECT (CAST(sum(m) AS BIGINT) * 55) // 100 AS c
       |  FROM mass),
       |keepk AS (SELECT CAST(min(k) AS BIGINT) AS k FROM (
       |  SELECT ks.k, sum(m) AS tail
       |  FROM (SELECT unnest(range(1, 5)) AS k) ks
       |  JOIN mass ON mass.day >= ks.k GROUP BY ks.k)
       |  WHERE tail <= (SELECT c FROM cap)),
       |corpusC AS MATERIALIZED (
       |  SELECT doc_id, text FROM admf1
       |    WHERE (SELECT k FROM keepk) <= 1
       |  UNION ALL SELECT doc_id, text FROM admf2
       |    WHERE (SELECT k FROM keepk) <= 2
       |  UNION ALL SELECT doc_id, text FROM admf3
       |    WHERE (SELECT k FROM keepk) <= 3
       |  UNION ALL SELECT doc_id, text FROM admf4
       |    WHERE (SELECT k FROM keepk) <= 4)""".stripMargin

  /** The CURATION N-day lifecycle with its retention slot driven
    * THROUGH the stream (the other half of r12 verdict task 2): days
    * 1–4 + the ttl4 control (keepFrom = 2), kill/restart, replayed
    * control no-op'd by the slot's done row.
    */
  private val curTtlStream = Fixture.rooted("graft_cur_ttl_stream_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    val (noop, days) =
      graft.streaming.CurationStream.runTtlCalendarStreamed(s, d, a)
    (a, noop, days)
  }

  /** The STREAMED size-cap calendar (the cap control riding the same
    * file-source stream, horizon pinned before mutation).
    */
  private val capStream = Fixture.rooted("graft_cap_stream_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    val (noop, days, horizon) =
      graft.streaming.CurationStream.runCapCalendarStreamed(s, d, a)
    (a, noop, days, horizon)
  }

  /** The CURATION-side streamed compaction calendar
    * ([[graft.streaming.CurationStream.runCompactCalendarStreamed]] —
    * the q591/q592 symmetry: both calendars serve all three control
    * ops).
    */
  private val curCompactStream = Fixture.rooted("graft_cur_cmps_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    val (noop, days, settled) =
      graft.streaming.CurationStream.runCompactCalendarStreamed(s, d, a)
    (a, noop, days, settled)
  }

  /** The CURATION-side full maintenance calendar
    * ([[graft.streaming.CurationStream.runFullCalendarStreamed]] —
    * runnable because the streamed cap slot rides capDayPinned).
    */
  private val curFullCal = Fixture.rooted("graft_cur_full_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    val (noop, days, horizon, settled) =
      graft.streaming.CurationStream.runFullCalendarStreamed(s, d, a)
    (a, noop, days, horizon, settled)
  }

  /** The standalone lexical-evidence lifecycle: a persisted dedup
    * index over the %4 ∈ {0,1,2} corpus; the delta = the %4 == 3
    * organic docs plus two PLANTED witnesses (the pin-derived-sentinel
    * rule — both branches non-vacuous at any sf): 9900001 clones the
    * smallest corpus doc verbatim (the exact branch), 9900002 takes
    * the smallest ≥ 30-word corpus doc and APPENDS one token (same
    * shingle set + 2 — Jaccard (W−2)/W ≥ 0.8, the near branch).
    * Returns (index path, corpus texts, rejected texts).
    */
  private val evidenceLife = Fixture.rooted("graft_lex_ev_") { (s, d, root) =>
    val path = s"$root/lex_index"
    val docs = tp(s, d, "documents").select("doc_id", "text")
    val corpus = docs.where(pmod(col("doc_id"), lit(4L)).isin(0L, 1L, 2L))
      .localCheckpoint(true)
    val exactSn = corpus.orderBy("doc_id").limit(1)
      .select(lit(9900001L).as("doc_id"), col("text"))
    val nearSn = corpus
      .where(size(split(col("text"), " ")) >= 30)
      .orderBy("doc_id").limit(1)
      .select(lit(9900002L).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text"))
    val batch = docs.where(pmod(col("doc_id"), lit(4L)) === 3L)
      .unionByName(exactSn).unionByName(nearSn)
      .localCheckpoint(true)
    Dedup.writeDedupIndex(corpus, "text", "doc_id", path)
    val dec = Dedup.incrementalDedupIndexed(path, docs, batch,
      "text", "doc_id", 3, 16, 4, 0.8)
    val rejected = batch.join(
      dec.where(col("decision").isin(
          "dup_exact_corpus", "near_dup_corpus"))
        .select("doc_id"), "doc_id")
      .localCheckpoint(true)
    (path, corpus, rejected)
  }

  /** The evidence fixture's oracle CTEs: the %4 split, the two
    * planted witnesses, and [[dedupDecisionCtes]] giving
    * both the decisions AND the candidate/Jaccard internals the
    * partner ranking reuses.
    */
  private def evidenceCtes: String =
    s"""ecorp AS MATERIALIZED (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 4 IN (0, 1, 2)),
       |esnE AS (SELECT CAST(9900001 AS BIGINT) AS sdoc,
       |  (SELECT min(doc_id) FROM ecorp) AS src),
       |esnN AS (SELECT CAST(9900002 AS BIGINT) AS sdoc,
       |  (SELECT min(doc_id) FROM ecorp
       |    WHERE len(string_split(text, ' ')) >= 30) AS src),
       |ebatch AS MATERIALIZED (SELECT doc_id, text FROM documents
       |    WHERE doc_id % 4 = 3
       |  UNION ALL SELECT esnE.sdoc, e.text FROM esnE
       |    JOIN ecorp e ON e.doc_id = esnE.src
       |  UNION ALL SELECT esnN.sdoc, e.text || ' zz9' FROM esnN
       |    JOIN ecorp e ON e.doc_id = esnN.src),
       |${dedupDecisionCtes("ecorp", "ebatch", "EV")}""".stripMargin

  /** Partner ranking over a [[dedupDecisionCtes]] run:
    * exact = min-id corpus doc sharing the md5 (for the ids in
    * `exactIds`); near = rank 1 by (integer ppm DESC, id ASC) among
    * threshold-passing candidates (for the ids in `nearIds`) — the
    * rejected-set selectors are explicit so the evidence can be keyed
    * on the DAY's pinned verdicts rather than a fresh re-decision.
    */
  private[queries] def evidenceSelect(corpusSrc: String, batchSrc: String,
                             sfx: String, exactIds: String,
                             nearIds: String): String =
    s"""exev$sfx AS (SELECT b.doc_id, 'exact' AS kind,
       |    min(c.doc_id) AS partner_id,
       |    CAST(1000000 AS BIGINT) AS jaccard_ppm
       |  FROM $batchSrc b JOIN $corpusSrc c ON md5(c.text) = md5(b.text)
       |  WHERE b.doc_id IN (SELECT doc_id FROM $exactIds)
       |  GROUP BY b.doc_id),
       |nsc$sfx AS (SELECT inter$sfx.batch_id, inter$sfx.corpus_id,
       |    (CAST(i AS BIGINT) * 1000000)
       |      // (szb$sfx.n + szc$sfx.n - i) AS jppm
       |  FROM inter$sfx
       |    JOIN szb$sfx ON szb$sfx.doc_id = inter$sfx.batch_id
       |    JOIN szc$sfx ON szc$sfx.doc_id = inter$sfx.corpus_id
       |  WHERE CAST(i AS DOUBLE) / (szb$sfx.n + szc$sfx.n - i) >= 0.8),
       |nrev$sfx AS (SELECT batch_id AS doc_id, 'near' AS kind,
       |    corpus_id AS partner_id, jppm AS jaccard_ppm
       |  FROM (SELECT *, row_number() OVER (PARTITION BY batch_id
       |      ORDER BY jppm DESC, corpus_id) AS rn FROM nsc$sfx)
       |  WHERE rn = 1 AND batch_id IN (SELECT doc_id FROM $nearIds)),
       |evid$sfx AS (SELECT * FROM exev$sfx
       |  UNION ALL SELECT * FROM nrev$sfx)""".stripMargin

  lazy val gates: Seq[Gate] = Seq(
    // Shard manifest: per-shard doc/token mass + id range + an
    // order-independent bit_xor checksum — the curation->training
    // reproducibility handshake over the q-shardAssign layout.
    Gate("q362_shard_manifest", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      val sharded = graft.ops.Corpus.shardAssign(docs, "doc_id", 8)
        .select(col("doc_id"), col("shard"))
        .join(docs.select("doc_id", "n_tok", "text"), "doc_id")
      graft.core.Layout.shardManifest(sharded, "shard", "doc_id", "n_tok",
          "text")
        .orderBy("shard")
    }, oracle = {
      val h = Dedup.h60Sql("CAST(doc_id AS VARCHAR)")
      val hc = Dedup.h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")
      s"""WITH sh AS (SELECT doc_id,
         |    CAST(($h) % 8 AS INT) AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    ($hc) AS h
         |  FROM documents)
         |$manifestCols
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
    }),

    // ---- The round-10 flagship: the fully INCREMENTAL curation day.
    // q488 per-doc verdicts, q489 manifest fold, q490 state folds,
    // q491 the one-row day report — each gated against a
    // full-recompute DuckDB re-derivation on the grown corpus, and
    // CurationDaySpec pins that no delta stage rescans the snapshot
    // corpus (the single documents-file scan is the id-pruned dedup
    // candidate verify fetch).
    Gate("q488_curation_day_decisions", (s, dir) =>
      dayDecisions(s, dir).orderBy("doc_id"), oracle =
      s"""WITH $dayCtes
         |SELECT doc_id, decision,
         |  CASE WHEN decision = 'admitted'
         |    THEN CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) END AS shard
         |FROM final ORDER BY doc_id""".stripMargin),

    Gate("q489_curation_day_manifest", (s, dir) =>
      dayManifest(s, dir).orderBy("shard"), oracle =
      s"""WITH $dayCtes,
         |${shardCte("m", "grown")}
         |$manifestCols
         |FROM m GROUP BY shard ORDER BY shard""".stripMargin),

    Gate("q490_curation_day_states", (s, dir) =>
      dayStates(s, dir).orderBy("event_type"), oracle = fullStateOracle),

    // ---- Two-day lifecycle: day-2 runs against artifacts that
    // ALREADY absorbed day 1 (appended dedup index, folded manifest,
    // persisted agg partials, appended distinct keys). q492's
    // sentinels witness the appended index serving day 2; q493's
    // chained state == q490's full-recompute oracle (two engine
    // paths, one oracle — the q483 pattern); q494's twice-folded
    // manifest == the manifest over the twice-grown curated corpus.
    Gate("q492_curation_day2_decisions", (s, dir) =>
      twoDay(s, dir)._2.orderBy("doc_id"), oracle =
      s"""WITH $twoDayCtes
         |SELECT doc_id, decision,
         |  CASE WHEN decision = 'admitted'
         |    THEN CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) END AS shard
         |FROM final2 ORDER BY doc_id""".stripMargin),

    Gate("q493_curation_day2_states", (s, dir) => {
      val a = twoDay(s, dir)._1
      val d2 = s.read.parquet(a.day2Events)
      graft.ops.Scale.foldAggState(s.read.parquet(a.aggState1), d2,
          "event_type", CurationDay.guardedValue)
        .join(graft.ops.Scale.foldDistinctState(s, a.distinctState, d2,
          "event_type", "user_id", 16), "event_type")
        .orderBy("event_type")
    }, oracle =
      // two engine paths, one oracle (the q483 pattern): the chained
      // build -> fold -> append -> fold state answers q490's
      // full-recompute SQL
      fullStateOracle),

    Gate("q494_curation_day2_manifest", (s, dir) => {
      val a = twoDay(s, dir)._1
      s.read.parquet(a.manifest2).orderBy("shard")
    }, oracle =
      s"""WITH $twoDayCtes,
         |${shardCte("m", "grown2")}
         |$manifestCols
         |FROM m GROUP BY shard ORDER BY shard""".stripMargin),

    Gate("q491_curation_day_report", (s, dir) => {
      val dec = dayDecisions(s, dir)
      val cnt = dec.agg(
        count(lit(1)).as("n_delta"),
        sum(when(col("decision") === "admitted", 1L).otherwise(0L))
          .as("n_admitted"),
        sum(when(col("decision") === "dup_exact_corpus", 1L).otherwise(0L))
          .as("n_dup_exact_corpus"),
        sum(when(col("decision") === "dup_exact_batch", 1L).otherwise(0L))
          .as("n_dup_exact_batch"),
        sum(when(col("decision") === "near_dup_corpus", 1L).otherwise(0L))
          .as("n_near_dup_corpus"),
        sum(when(col("decision") === "contaminated", 1L).otherwise(0L))
          .as("n_contaminated"),
        sum(when(col("decision") === "low_quality", 1L).otherwise(0L))
          .as("n_low_quality"))
      val man = dayManifest(s, dir)
        .agg(sum(col("n_docs")).as("corpus_docs"),
          sum(col("n_tokens")).as("corpus_tokens"))
      val ev = dayStates(s, dir)
        .agg(sum(col("n_rows")).as("total_events"))
      cnt.crossJoin(broadcast(man)).crossJoin(broadcast(ev))
    }, oracle =
      s"""WITH $dayCtes,
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_delta,
         |$decisionCountCols
         |  FROM final),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS corpus_docs,
         |  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
         |    AS BIGINT) AS corpus_tokens FROM grown),
         |ev AS (SELECT CAST(count(*) AS BIGINT) AS total_events
         |  FROM events
         |  WHERE ts IS NOT NULL AND event_type IS NOT NULL)
         |SELECT cnt.*, tot.*, ev.* FROM cnt, tot, ev""".stripMargin),

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
         |${shardCte("m", "corpus5")}
         |$manifestCols
         |FROM m GROUP BY shard ORDER BY shard""".stripMargin),

    // Post-retraction re-offer: retracted texts come back ADMITTED
    // (their hashes/bands really left the index), the surviving-doc
    // copy stays dup_exact_corpus — decisions against the shrunk
    // index == the oracle's recompute over corpus5.
    Gate("q518_post_retraction_decisions", (s, dir) =>
      retracted(s, dir)._2.orderBy("doc_id"), oracle =
      s"""WITH $nDayCtes,
         |$retractionCtes,
         |${dedupDecisionCtes("corpus5", "batch5", "5")},
         |${postGateCtes("5")}
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
         |${decisionCountCols},
         |  '1' AS replay_noop,
         |  'day1,day2,day3,day4' AS ledger_days
         |FROM f GROUP BY day ORDER BY day""".stripMargin),

    // The pack tape after the four STREAMED days (day 0 = snapshot,
    // days 1-4 appended inside each day transaction), read back from
    // the per-day layout files alone.
    Gate("q519_pack_tape", (s, dir) =>
      Pack.fullLayout(s, streamed(s, dir)._1, CurationNDay.NDays)
        .orderBy("day", "doc_id"), oracle =
      s"""WITH $tapeCtes
         |SELECT day, doc_id, shard, n_tok,
         |  cum - n_tok AS start_tok,
         |  (cum - n_tok) // $L AS first_seq,
         |  (cum - 1) // $L AS last_seq
         |FROM tape ORDER BY day, doc_id""".stripMargin),

    Gate("q520_pack_report", (s, dir) =>
      Pack.packReport(
          Pack.fullLayout(s, streamed(s, dir)._1,
            CurationNDay.NDays))
        .orderBy("day"), oracle =
      s"""WITH $tapeCtes
         |SELECT day, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min((cum - n_tok) // $L) AS seq_lo,
         |  max((cum - 1) // $L) AS seq_hi,
         |  CAST(sum(CASE WHEN (cum - n_tok) // $L <> (cum - 1) // $L
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
         |  max(cum) AS next_tok
         |FROM tape GROUP BY day ORDER BY day""".stripMargin),

    // The tape after a RETRACTION: positions shift, so the repair is
    // a rebuild over the shrunk corpus (run on the BATCH lifecycle's
    // artifacts, whose corpus q517/q518's retraction day already
    // shrank) — rebuilt tape == the oracle's single-epoch layout over
    // corpus5.
    Gate("q528_pack_rebuild", (s, dir) => {
      val a = retracted(s, dir)._1
      graft.ops.Pack.rebuild(s, a, CurationNDay.NDays)
      graft.ops.Pack.fullLayout(s, a, 0).orderBy("doc_id")
    }, oracle =
      s"""WITH ${nDayCtes},
         |${retractionCtes},
         |pt AS (SELECT 0 AS day, doc_id,
         |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM corpus5),
         |tape AS (SELECT day, doc_id, shard, n_tok,
         |    CAST(sum(n_tok) OVER (ORDER BY shard, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM pt)
         |SELECT day, doc_id, shard, n_tok,
         |  cum - n_tok AS start_tok,
         |  (cum - n_tok) // $L AS first_seq,
         |  (cum - 1) // $L AS last_seq
         |FROM tape ORDER BY doc_id""".stripMargin),

    // Dataset diff between manifest epochs: the post-retraction
    // steward report — per-shard doc/token deltas + checksum-level
    // change classification, pure manifest arithmetic.
    Gate("q531_manifest_diff", (s, dir) => {
      val a = retracted(s, dir)._1
      graft.core.Layout.manifestDiff(
          s.read.parquet(a.manifestDay(CurationNDay.NDays)),
          s.read.parquet(a.manifestRetract(1)))
        .orderBy("shard")
    }, oracle =
      s"""WITH ${nDayCtes},
         |${retractionCtes},
         |mfb AS (SELECT CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) AS shard,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |      AS n_tokens,
         |    bit_xor(${h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")})
         |      AS ck
         |  FROM grown4 GROUP BY 1),
         |mfa AS (SELECT CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) AS shard,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |      AS n_tokens,
         |    bit_xor(${h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")})
         |      AS ck
         |  FROM corpus5 GROUP BY 1)
         |SELECT shard,
         |  coalesce(b.n_docs, 0) AS docs_before,
         |  coalesce(a.n_docs, 0) AS docs_after,
         |  coalesce(a.n_docs, 0) - coalesce(b.n_docs, 0) AS docs_delta,
         |  coalesce(a.n_tokens, 0) - coalesce(b.n_tokens, 0)
         |    AS tokens_delta,
         |  CASE WHEN b.ck IS NULL THEN 'new'
         |    WHEN a.ck IS NULL THEN 'gone'
         |    WHEN b.ck = a.ck THEN 'unchanged'
         |    ELSE 'changed' END AS status
         |FROM mfb b FULL JOIN mfa a USING (shard)
         |ORDER BY shard""".stripMargin),

    // Size-capped retention: the manifest after expiring to the
    // computed horizon, the horizon disclosed on every row.
    Gate("q557_cap_manifest", (s, dir) => {
      val (a, k) = capLife(s, dir)
      s.read.parquet(a.manifestRetract(1))
        .withColumn("keep_from_day", lit(k.toLong))
        .orderBy("shard")
    }, oracle =
      // Size-capped retention: the horizon is COMPUTED from the per-day
      // token masses (smallest k whose tail mass fits the cap), then
      // the manifest is the q552 shape at that horizon.
      s"""WITH ${nDayCtes},
         |$capCtes,
         |${shardCte("mC", "corpusC")}
         |$manifestCols,
         |  (SELECT k FROM keepk) AS keep_from_day
         |FROM mC GROUP BY shard ORDER BY shard""".stripMargin),

    Gate("q552_ttl_manifest", (s, dir) =>
      s.read.parquet(ttlLife(s, dir)._1.manifestRetract(1))
        .orderBy("shard"), oracle =
      // TTL manifest: shard manifest over the retained N-day corpus
      // (admitted days >= 2 only — snapshot + day 1 aged out).
      s"""WITH ${nDayCtes},
         |$ttlCorpusCte,
         |${shardCte("m", "corpusT")}
         |$manifestCols
         |FROM m GROUP BY shard ORDER BY shard""".stripMargin),

    Gate("q553_ttl_tape", (s, dir) => {
      val a = ttlLife(s, dir)._1
      graft.ops.Pack.fullLayout(s, a, 0).orderBy("doc_id")
    }, oracle =
      // The rebuilt tape over the retained corpus (q528's contract at
      // the TTL boundary).
      s"""WITH ${nDayCtes},
         |$ttlCorpusCte,
         |${tapeSql("corpusT")}""".stripMargin),

    Gate("q554_ttl_reoffer", (s, dir) =>
      ttlLife(s, dir)._2.orderBy("doc_id"), oracle =
      // TTL re-offer: the oldest victim's text readmits (unless a
      // retained doc still carries it), the surviving control stays
      // dup_exact_corpus — the q518 shape at the TTL boundary.
      s"""WITH ${nDayCtes},
         |$ttlCorpusCte,
         |victT AS (SELECT doc_id, text FROM grown4
         |  WHERE doc_id NOT IN (SELECT doc_id FROM corpusT)),
         |batchT AS (
         |  SELECT CAST(9900001 AS BIGINT) AS doc_id, text FROM victT
         |    WHERE doc_id = (SELECT min(doc_id) FROM victT)
         |  UNION ALL SELECT 9900002, text FROM corpusT
         |    WHERE doc_id = (SELECT min(doc_id) FROM corpusT)),
         |${dedupDecisionCtes("corpusT", "batchT", "T")},
         |${postGateCtes("T")}
         |SELECT doc_id, decision,
         |  CASE WHEN decision = 'admitted'
         |    THEN CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${graft.ops.CurationDay.NShards} AS INT) END AS shard
         |FROM finalT ORDER BY doc_id""".stripMargin),

    // The streamed size-cap slot: the post-cap manifest at the PINNED
    // horizon, with the calendar facts (ledger rows for the cap slot
    // and its done row; replayed control a no-op).
    Gate("q581_cap_stream_manifest", (s, dir) => {
      val (a, noop, days, horizon) = capStream(s, dir)
      ledgerCards(s.read.parquet(a.manifestRetract(1))
        .withColumn("keep_from_day", lit(horizon.toLong)), noop, days,
        Seq("shard"))
    }, oracle =
      // The streamed size-cap slot: the q557 manifest re-derivation plus
      // the calendar facts.
      s"""WITH ${nDayCtes},
         |${capCtes},
         |${shardCte("mC", "corpusC")}
         |${manifestCols},
         |  (SELECT k FROM keepk) AS keep_from_day,
         |  'cap4,cap4_done,day1,day2,day3,day4' AS ledger_days,
         |  '1' AS replay_stable
         |FROM mC GROUP BY shard ORDER BY shard""".stripMargin),

    // The tape the cap slot rebuilt in-stream, over the capped corpus.
    Gate("q582_cap_stream_tape", (s, dir) => {
      val a = capStream(s, dir)._1
      graft.ops.Pack.fullLayout(s, a, 0).orderBy("doc_id")
    }, oracle =
      // The tape the cap slot rebuilt, over the capped corpus.
      s"""WITH ${nDayCtes},
         |${capCtes},
         |${tapeSql("corpusC")}""".stripMargin),

    // The streamed curation retention slot: the post-TTL manifest
    // (the q552 shape) with the calendar facts pinned — ledger holds
    // the four admission days + the expiry row + the slot's done row,
    // and the replayed control added nothing.
    Gate("q576_cur_ttl_stream_manifest", (s, dir) => {
      val (a, noop, days) = curTtlStream(s, dir)
      ledgerCards(s.read.parquet(a.manifestRetract(1)), noop, days,
        Seq("shard"))
    }, oracle =
      // q552's manifest re-derivation + the streamed calendar facts.
      s"""WITH ${nDayCtes},
         |${ttlCorpusCte},
         |${shardCte("m", "corpusT")}
         |${manifestCols},
         |  'day1,day2,day3,day4,ttl4,ttl4_done' AS ledger_days,
         |  '1' AS replay_stable
         |FROM m GROUP BY shard ORDER BY shard""".stripMargin),

    // The tape the slot rebuilt in-stream (the q553 shape).
    Gate("q577_cur_ttl_stream_tape", (s, dir) => {
      val a = curTtlStream(s, dir)._1
      graft.ops.Pack.fullLayout(s, a, 0).orderBy("doc_id")
    }, oracle =
      // q553's rebuilt-tape re-derivation over the retained corpus.
      s"""WITH ${nDayCtes},
         |${ttlCorpusCte},
         |${tapeSql("corpusT")}""".stripMargin),

    // The UNDER-CAP no-op (the r12 ADVICE fix made gateable): a cap
    // covering the whole corpus — snapshot included — commits as a
    // ledgered no-op; the day-4 manifest is untouched, nothing
    // expires, the ledger pins both cap slots.
    Gate("q578_cap_noop_manifest", (s, dir) => {
      val a = capLifeArtifacts(s, dir)
      s.read.parquet(a.manifestDay(graft.ops.CurationNDay.NDays))
        .withColumn("keep_from_day", lit(0L))
        .withColumn("ledger_days",
          lit(graft.core.Ledger.ids(s, a.ledger)
            .mkString(",")))
        .orderBy("shard")
    }, oracle =
      // The under-cap manifest: the q552 shape over the FULL corpus
      // (grown4 — snapshot + every admitted day), keep_from_day = 0,
      // both cap slots ledgered.
      s"""WITH ${nDayCtes},
         |${shardCte("m", "grown4")}
         |${manifestCols},
         |  CAST(0 AS BIGINT) AS keep_from_day,
         |  'cap0,cap1,day1,day2,day3,day4' AS ledger_days
         |FROM m GROUP BY shard ORDER BY shard""".stripMargin),

    // LEXICAL REJECT EVIDENCE, standalone lifecycle: every corpus
    // rejection names its blocking stored partner — the planted
    // exact clone reads back its source at ppm 1e6, the planted
    // near-variant names its source with the exact integer Jaccard.
    Gate("q593_lex_reject_evidence", (s, dir) => {
      val (path, corpus, rejected) = evidenceLife(s, dir)
      Dedup.rejectEvidence(s, path, corpus, rejected, "text", "doc_id")
        .orderBy("doc_id")
    }, oracle = {
      val ex = "(SELECT doc_id FROM decisionsEV " +
        "WHERE decision = 'dup_exact_corpus')"
      val nr = "(SELECT doc_id FROM decisionsEV " +
        "WHERE decision = 'near_dup_corpus')"
      s"""WITH $evidenceCtes,
         |${evidenceSelect("ecorp", "ebatch", "EV", ex, nr)}
         |SELECT doc_id, kind, partner_id, jaccard_ppm FROM evidEV
         |ORDER BY doc_id""".stripMargin
    }),

    // COMPACTION ON THE CURATION CALENDAR (the q591 symmetry): the
    // op = "compact" slots settle the dedup index mid-chain;
    // decisions stay bit-identical to the plain chain — a THIRD
    // engine path onto the q505/q508 oracle.
    Gate("q600_cur_compact_stream_decisions", (s, dir) =>
      graft.ops.CurationNDay.allDecisions(s, curCompactStream(s, dir)._1)
        .orderBy("day", "doc_id"), oracle =
      // the plain chain's decision re-derivation, third engine path
      // (compaction is content-invariant)
      decisionsOracle),

    // Its day-4 manifest + calendar facts: ledger holds the four
    // admission days AND both compact slots; the replayed compact
    // control was a pure no-op; the index genuinely fragmented after
    // day 2 and settled to the target file count after compact4.
    Gate("q601_cur_compact_stream_cards", (s, dir) => {
      val (a, noop, days, settled) = curCompactStream(s, dir)
      ledgerCards(s.read.parquet(a.manifestDay(graft.ops.CurationNDay.NDays)),
          noop, days, Seq("shard"))
        .withColumn("files_settled", lit(if (settled) "1" else "0"))
    }, oracle =
      // q506's grown4 manifest + the calendar-fact literals: ledger =
      // four admission days + both compact slots (sorted), replay
      // no-op'd, files genuinely fragmented-then-settled.
      {
        s"""WITH ${nDayCtes},
           |${shardCte("m", "grown4")}
           |${manifestCols},
           |  'compact1_done,compact4_done,day1,day2,day3,day4'
           |    AS ledger_days,
           |  '1' AS replay_stable, '1' AS files_settled
           |FROM m GROUP BY shard ORDER BY shard""".stripMargin
      }),

    // THE CURATION FULL CALENDAR (the q604 sibling, runnable because
    // the streamed cap slot rides capDayPinned — decision-pinned
    // masses that survive the ttl's tape rebuild): compact + ttl +
    // cap + compact in one streamed run; decisions bit-identical to
    // the plain chain (the q505/q508 oracle, fourth engine path).
    Gate("q606_cur_full_cal_decisions", (s, dir) =>
      graft.ops.CurationNDay.allDecisions(s, curFullCal(s, dir)._1)
        .orderBy("day", "doc_id"), oracle =
      // the plain chain's decisions oracle, fourth engine path (every
      // maintenance slot follows the admissions it governs)
      decisionsOracle),

    // Its final manifest + calendar facts: post-cap corpus = days 3–4
    // admissions (ttl4 aged out snapshot + day 1; cap4's pinned
    // horizon 3 expired day 2); ledger holds four admission days and
    // all six maintenance rows; every replayed control no-op'd; the
    // compact4 slot re-settled the index the cap's rewrite had just
    // re-fragmented.
    Gate("q607_cur_full_cal_cards", (s, dir) => {
      val (a, noop, days, horizon, settled) = curFullCal(s, dir)
      ledgerCards(s.read.parquet(a.manifestRetract(1))
          .withColumn("keep_from", lit(horizon.toLong)), noop, days,
          Seq("shard"))
        .withColumn("files_settled", lit(if (settled) "1" else "0"))
    }, oracle =
      // the q576 manifest shape over days 3-4 admissions (ttl keepFrom
      // 2 aged out snapshot + day 1; the cap's pinned horizon 3 expired
      // day 2) + the calendar-fact literals
      {
        s"""WITH ${nDayCtes},
           |corpusF AS MATERIALIZED (
           |  SELECT doc_id, text FROM admf3
           |  UNION ALL SELECT doc_id, text FROM admf4),
           |mF AS (SELECT doc_id,
           |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
           |      % ${graft.ops.CurationDay.NShards} AS INT) AS shard,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           |    (${h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")}) AS h
           |  FROM corpusF)
           |${manifestCols},
           |  CAST(3 AS BIGINT) AS keep_from,
           |  'cap4,cap4_done,compact1_done,compact4_done,'
           |    || 'day1,day2,day3,day4,ttl4,ttl4_done' AS ledger_days,
           |  '1' AS replay_stable, '1' AS files_settled
           |FROM mF GROUP BY shard ORDER BY shard""".stripMargin
      })
  )
}
