package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.Q._

/** Round-11 batch, part 2 — state-lifecycle hardening: the
  * distinct-state crash-window audit turned from prose into a gated
  * function (q511: torn append detected → idempotent retry →
  * converged), and COMPACTION for the two persisted states that
  * accumulate a file batch per day (q512 cent histogram, q513
  * distinct keys — answers invariant, file counts pinned shrinking).
  */
object Curation10 extends Gates {

  import graft.ops.Scale

  /** 2024-01-05T00:00:00Z — chosen so the post-cut delta introduces
    * genuinely NEW (event_type, user_id) keys at every sf (115 at
    * sf0.01, 13 at sf0.001; later cuts add none — a torn keys append
    * that adds no keys would detect nothing and the gate would pass
    * vacuously).
    */
  private val AuditCut = 1704412800000000000L
  /** 2024-01-15T00:00:00Z — second append boundary for q512/q513. */
  private val MidCut = 1705276800000000000L

  private def ev(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "events").where(col("event_type").isNotNull)

  lazy val gates: Seq[Gate] = Seq(

    // Torn-append audit + recovery, end to end in one gate row:
    // bootstrap the sharded distinct state, leave a delta append
    // INSIDE the crash window (keys written, summary stale — the
    // exposed first half), verify the audit flags it, re-run the SAME
    // append (the documented recovery), verify the audit is clean,
    // and read the healed per-group cardinalities — which must equal
    // a full count(DISTINCT) recompute.
    Gate("q511_distinct_state_audit", (s, dir) => {
      val root = Curation2.tempIndexDir("graft_distinct_audit_")
      val p = s"$root/state"
      try {
        val e = ev(s, dir)
        val delta = e.where(col("ts") >= AuditCut)
        Scale.writeDistinctState(e.where(col("ts") < AuditCut),
          "event_type", "user_id", 8, p)
        Scale.appendDistinctKeys(s, p, delta, "event_type", "user_id", 8)
        val torn = Scale.verifyDistinctState(s, p, "event_type")
          .where(!col("ok")).count() > 0
        Scale.appendDistinctState(s, p, delta, "event_type", "user_id", 8)
        val healed = Scale.verifyDistinctState(s, p, "event_type")
          .where(!col("ok")).count() == 0
        Scale.distinctStateCard(s, p, "event_type")
          .withColumn("torn_detected", lit(if (torn) "1" else "0"))
          .withColumn("audit_after_retry_ok",
            lit(if (healed) "1" else "0"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(root)
    }, oracle =
      s"""SELECT event_type, n_unique, '1' AS torn_detected,
         |  '1' AS audit_after_retry_ok
         |FROM ($distinctOracle) ORDER BY event_type""".stripMargin),

    // Cent-histogram compaction: bootstrap + two in-place appends
    // (duplicate (group, cent) rows by design), compact to one file,
    // then exact quantiles off the COMPACTED state == the full
    // order-statistic recompute. File count pinned shrinking to 1.
    Gate("q512_cent_state_compaction", (s, dir) => {
      val root = Curation2.tempIndexDir("graft_cent_compact_")
      val p = s"$root/state"
      try {
        val e = ev(s, dir)
        // NaN-guarded (the q481 house rule): a raw NaN cast to long
        // would throw under ANSI / silently zero without it
        val v = graft.ops.CurationDay.guardedValue
        Scale.writeCentHist(e.where(col("ts") < AuditCut), "event_type",
          v, p)
        Scale.appendCentHist(e.where(col("ts") >= AuditCut &&
          col("ts") < MidCut), "event_type", v, p)
        Scale.appendCentHist(e.where(col("ts") >= MidCut), "event_type",
          v, p)
        val before = Scale.parquetFileCount(s, p)
        Scale.compactCentHist(s, p)
        val after = Scale.parquetFileCount(s, p)
        Scale.histQuantiles(s.read.parquet(p), "event_type",
            Seq("p50_cents" -> 500000L, "p90_cents" -> 900000L,
              "p99_cents" -> 990000L))
          .withColumn("files_reduced",
            lit(if (after < before) "1" else "0"))
          .withColumn("single_file", lit(if (after == 1L) "1" else "0"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(root)
    }, oracle =
      s"""WITH ${Curation7.centCountCtes},
        |${Curation8.centQuantileCols},
        |  '1' AS files_reduced, '1' AS single_file
        |FROM ct GROUP BY g ORDER BY event_type""".stripMargin),

    // Distinct-keys compaction: bootstrap + two appends (a file batch
    // per touched shard each), compact to one file per shard, audit
    // still clean, cardinalities invariant == full recompute.
    Gate("q513_distinct_state_compaction", (s, dir) => {
      val root = Curation2.tempIndexDir("graft_distinct_compact_")
      val p = s"$root/state"
      try {
        val e = ev(s, dir)
        Scale.writeDistinctState(e.where(col("ts") < AuditCut),
          "event_type", "user_id", 8, p)
        Scale.appendDistinctState(s, p, e.where(col("ts") >= AuditCut &&
          col("ts") < MidCut), "event_type", "user_id", 8)
        Scale.appendDistinctState(s, p, e.where(col("ts") >= MidCut),
          "event_type", "user_id", 8)
        val before = Scale.parquetFileCount(s, s"$p/keys")
        Scale.compactDistinctState(s, p)
        val after = Scale.parquetFileCount(s, s"$p/keys")
        val auditOk = Scale.verifyDistinctState(s, p, "event_type")
          .where(!col("ok")).count() == 0
        Scale.distinctStateCard(s, p, "event_type")
          .withColumn("files_reduced",
            lit(if (after < before) "1" else "0"))
          .withColumn("one_file_per_shard",
            lit(if (after <= 8L) "1" else "0"))
          .withColumn("audit_ok", lit(if (auditOk) "1" else "0"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(root)
    }, oracle =
      s"""SELECT event_type, n_unique, '1' AS files_reduced,
         |  '1' AS one_file_per_shard, '1' AS audit_ok
         |FROM ($distinctOracle) ORDER BY event_type""".stripMargin),

    // OTel Summary + Log wire roundtrip — the two signal shapes q487
    // left spec-only, now oracle-gated with the same machinery: a
    // deterministic frame (per-type exact p50/p90 summaries; per-
    // (type, day) log records) exports executor-side through
    // OtelSink, the captured OTLP/HTTP protobuf bytes are decoded by
    // the INDEPENDENT wire reader, and the decoded frame hash-matches
    // a DuckDB re-derivation. Closes plan.proto:363-549's four-signal
    // surface on the official gate.
    Gate("q514_otel_summary_log", (s, dir) => {
      import s.implicits._
      import graft.streaming.{OtelSink, OtlpWireCapture, OtlpProtoReader => R}
      import graft.functions.PixieFunctions.idiv
      val dayNs = 86400000000000L
      val e = ev(s, dir)
      val q = Scale.histQuantiles(
        Scale.centHist(e, "event_type", graft.ops.CurationDay.guardedValue),
        "event_type", Seq("q50c" -> 500000L, "q90c" -> 900000L))
      val sumIn = q
        .join(e.groupBy("event_type").agg(max(col("ts")).as("t_ns")),
          "event_type")
        .select(col("event_type"), col("t_ns"), col("n_rows").as("cnt"),
          (col("q50c").cast("double") / 100.0).as("q50"),
          (col("q90c").cast("double") / 100.0).as("q90"))
      val logIn = e
        .groupBy(col("event_type"), idiv(col("ts"), dayNs).as("day"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), (col("day") * dayNs).as("t_ns"),
          when(col("event_type") === "error", "ERROR").otherwise("INFO")
            .as("severity"),
          concat(col("event_type"), lit(":"), col("n").cast("string"))
            .as("body"))
      val sw = new OtlpWireCapture()
      val lw = new OtlpWireCapture()
      try {
        OtelSink.exportSummaries(sumIn, OtelSink.SummarySpec(
          "events.value.summary", "t_ns", "cnt",
          Map(0.5 -> "q50", 0.9 -> "q90"), Seq("event_type")), sw)
        OtelSink.exportLogs(logIn, OtelSink.LogSpec(
          "t_ns", "severity", "body", Seq("event_type")), lw)
        def str(b: Array[Byte]) = new String(b, "UTF-8")
        def dbl(l: Long) = java.lang.Double.longBitsToDouble(l)
        val summaries = for {
          env <- sw.captured.toArray(Array.empty[Array[Byte]]).toSeq
          rm <- R.messages(env, 1); sc <- R.messages(rm, 2)
          m <- R.messages(sc, 2)
          dp <- R.messages(R.firstMessage(m, 11), 1)
        } yield {
          val qs = R.messages(dp, 6)
            .map(qv => dbl(R.firstFixed64(qv, 1)) -> dbl(R.firstFixed64(qv, 2)))
            .toMap
          ("summary", str(R.firstBytes(m, 1)),
            R.keyValues(dp, 7)("event_type"), R.firstFixed64(dp, 3),
            Some(R.firstFixed64(dp, 4)): Option[Long],
            Some(qs(0.5)): Option[Double], Some(qs(0.9)): Option[Double],
            None: Option[String], None: Option[String])
        }
        val logs = for {
          env <- lw.captured.toArray(Array.empty[Array[Byte]]).toSeq
          rl <- R.messages(env, 1); sc <- R.messages(rl, 2)
          lr <- R.messages(sc, 2)
        } yield ("log", "events.log",
          R.keyValues(lr, 6)("event_type"), R.firstFixed64(lr, 1),
          None: Option[Long], None: Option[Double], None: Option[Double],
          Some(str(R.firstBytes(lr, 3))): Option[String],
          Some(str(R.firstBytes(R.firstMessage(lr, 5), 1))): Option[String])
        (summaries ++ logs)
          .toDF("signal", "name", "attr", "t_ns", "cnt", "q50", "q90",
            "severity", "body")
          .orderBy("signal", "attr", "t_ns")
      } finally { sw.close(); lw.close() }
    }, oracle =
      """WITH base AS (SELECT event_type, epoch_us(ts) * 1000 AS tns,
        |    CASE WHEN value IS NULL OR isnan(value) THEN NULL
        |      ELSE value END AS v
        |  FROM events WHERE event_type IS NOT NULL),
        |c AS (SELECT event_type,
        |    CAST(floor(v * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM base WHERE v IS NOT NULL),
        |k AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS k
        |  FROM c GROUP BY 1, 2),
        |ct AS (SELECT event_type, c, k,
        |    CAST(sum(k) OVER (PARTITION BY event_type ORDER BY c)
        |      AS BIGINT) AS cum,
        |    CAST(sum(k) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM k),
        |q AS (SELECT event_type, CAST(max(n) AS BIGINT) AS cnt,
        |    min(CASE WHEN cum * 1000000 >= 500000 * n THEN c END) AS q50c,
        |    min(CASE WHEN cum * 1000000 >= 900000 * n THEN c END) AS q90c
        |  FROM ct GROUP BY 1),
        |tm AS (SELECT event_type, CAST(max(tns) AS BIGINT) AS t_ns
        |  FROM base GROUP BY 1),
        |lg AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT 'summary' AS signal, 'events.value.summary' AS name,
        |    q.event_type AS attr, t_ns, cnt,
        |    CAST(q50c AS DOUBLE) / 100.0 AS q50,
        |    CAST(q90c AS DOUBLE) / 100.0 AS q90,
        |    CAST(NULL AS VARCHAR) AS severity,
        |    CAST(NULL AS VARCHAR) AS body
        |  FROM q JOIN tm ON tm.event_type = q.event_type
        |  UNION ALL
        |  SELECT 'log', 'events.log', event_type,
        |    day * 86400000000000, CAST(NULL AS BIGINT),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |    CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'INFO' END,
        |    event_type || ':' || CAST(n AS VARCHAR)
        |  FROM lg)
        |ORDER BY signal, attr, t_ns""".stripMargin),

    // LSH bucket-cap policy on a PLANTED hot bucket: 30 corpus docs
    // sharing a 45-word prefix (the boilerplate-degeneracy shape)
    // drive their shared buckets past the cap; a probe doc with the
    // same prefix arrives in the delta. The capped candidate
    // generator keeps each bucket's 8 lowest-id members, decisions
    // carry the hit_capped_bucket disclosure column, and the oracle
    // re-derives the IDENTICAL rank-cap policy in SQL — capped
    // behavior is gated, not just bounded. Round11Spec additionally
    // pins that the plant really exceeds the cap and the probe really
    // gets flagged (non-vacuity).
    Gate("q515_lsh_bucket_cap", (s, dir) => {
      val root = Curation2.tempIndexDir("graft_bucket_cap_")
      try {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val plantC = s.range(1, 31)
          .select((col("id") + 9300000L).as("doc_id"),
            concat(lit(CapPrefix + " w"), col("id").cast("string"))
              .as("text"))
        val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
          .unionByName(plantC)
        val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
          .unionByName(s.range(1)
            .select(lit(9300100L).as("doc_id"),
              lit(CapPrefix + " probe").as("text")))
        graft.ops.Dedup.writeDedupIndex(corpus, "text", "doc_id", root,
          NorthStar.NGRAM, NorthStar.K, NorthStar.BANDS)
        graft.ops.Dedup.incrementalDedupCapped(root, corpus, batch,
            "text", "doc_id", NorthStar.NGRAM, NorthStar.K,
            NorthStar.BANDS, 0.8, bucketCap = 8)
          .orderBy("doc_id")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(root)
    }, oracle =
      s"""WITH plantc AS (SELECT CAST(9300000 + i AS BIGINT) AS doc_id,
         |    '$CapPrefix w' || CAST(i AS VARCHAR) AS text
         |  FROM generate_series(1, 30) t(i)),
         |corpus AS MATERIALIZED (SELECT doc_id, text FROM documents
         |    WHERE doc_id % 5 <> 0
         |  UNION ALL SELECT * FROM plantc),
         |batch AS MATERIALIZED (SELECT doc_id, text FROM documents
         |    WHERE doc_id % 5 = 0
         |  UNION ALL SELECT CAST(9300100 AS BIGINT),
         |    '$CapPrefix probe'),
         |${Curation.dedupDecisionCtes(corpusBandCap = 8)},
         |bsz AS (SELECT band, bh, CAST(count(*) AS BIGINT) AS c
         |  FROM bandsc GROUP BY 1, 2),
         |hot AS (SELECT DISTINCT b.doc_id FROM bandsb b
         |  JOIN bsz ON bsz.band = b.band AND bsz.bh = b.bh
         |  WHERE bsz.c > 8)
         |SELECT d.doc_id, d.decision,
         |  (hot.doc_id IS NOT NULL) AS hit_capped_bucket
         |FROM decisions d LEFT JOIN hot ON hot.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin))

  /** 45 distinct pseudo-words — shared boilerplate prefix for the
    * q515 hot-bucket plant (engine and oracle build the same strings
    * from this one constant).
    */
  private[queries] val CapPrefix: String =
    (1 to 45).map("p" + _).mkString(" ")

  private val distinctOracle: String =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique
      |FROM events
      |WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      |GROUP BY 1""".stripMargin
}
