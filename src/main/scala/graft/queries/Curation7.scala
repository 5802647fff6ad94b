package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Corpus, Dedup, Events, Graph, Quality, Scale}
import graft.queries.Q._
import graft.functions.PixieFunctions.idiv

/** Round-9 batch: the HLL twin of the incremental-distinct state
  * (q454's approximate sibling — per-shard sketches folded
  * register-wise at a fraction of the state size), gap-based
  * sessionization (the session TABLE itself, the pre-step for every
  * session-level feature), and the winsorized robust mean (exact
  * order-statistic capping). Oracles follow the house exactness rules:
  * integer cents/ranks end-to-end, ONE final double formula, zero-sign
  * normalized ([[graft.core.Exact]]).
  */
object Curation7 extends Gates {

  lazy val gates: Seq[Gate] = Seq(

    // HLL distinct-state fold: bootstrap sketches from the snapshot,
    // fold two disjoint deltas in BOTH orders (each through a persisted
    // round-trip), and report the calibration row: the exact
    // cardinality (oracle-checked), the 5%-tolerance contract on the
    // folded estimate, and fold-order invariance (register-wise max is
    // batch-invariant; the HIP estimator a one-pass sketch serves is
    // not — the q440 caveat — so the pin is fold-vs-fold, never
    // fold-vs-one-pass).
    Gate("q455_hll_distinct_fold", (s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_id").isNotNull && col("user_id").isNotNull)
      val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
      val d1 = ev.where(pmod(col("event_id"), lit(10L)) === 0)
      val d2 = ev.where(pmod(col("event_id"), lit(10L)) === 5)
      val p0 = Curation2.tempIndexDir("graft_hll_a_")
      val p12 = Curation2.tempIndexDir("graft_hll_b_")
      val p21 = Curation2.tempIndexDir("graft_hll_c_")
      try {
        Scale.writeHllState(snap, "event_type", "user_id", 16, p0)
        Scale.foldHllState(s, p0, d1, "event_type", "user_id", 16)
          .write.parquet(s"$p12/sketches")
        val est12 = Scale.hllEstimate(
          Scale.foldHllState(s, p12, d2, "event_type", "user_id", 16),
          "event_type")
        Scale.foldHllState(s, p0, d2, "event_type", "user_id", 16)
          .write.parquet(s"$p21/sketches")
        val est21 = Scale.hllEstimate(
          Scale.foldHllState(s, p21, d1, "event_type", "user_id", 16),
          "event_type")
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"))
        exact
          .join(est12.select(col("event_type"),
            col("n_unique_est").as("__e12")), "event_type")
          .join(est21.select(col("event_type"),
            col("n_unique_est").as("__e21")), "event_type")
          .select(col("event_type"), col("n_exact"),
            (abs(col("__e12") - col("n_exact")) * 20L <= col("n_exact"))
              .as("est_err_ok"),
            (col("__e12") === col("__e21")).as("fold_order_invariant"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally {
        Curation2.deleteDir(p0); Curation2.deleteDir(p12)
        Curation2.deleteDir(p21)
      }
    }, oracle =
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  true AS est_err_ok, true AS fold_order_invariant
        |FROM events
        |WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // 30-minute gap sessions per user — one row per session.
    Gate("q456_sessionize", (s, dir) =>
      Events.sessionize(t(s, dir, "events"), "user_id", "ts", 1800000000L)
        .orderBy("user_id", "session_id"), oracle =
      s"$sessionSql ORDER BY user_id, session_id"),

    // Winsorized mean of value per event type, capped at the exact
    // [p05, p95] cent order statistics.
    Gate("q457_winsorized_mean", (s, dir) =>
      Quality.winsorizedMean(
          t(s, dir, "events").where(col("event_type").isNotNull),
          "event_type", col("value"))
        .orderBy("event_type"), oracle =
      s"""WITH $centCountCtes,
        |ct AS (SELECT g, c, k,
        |    CAST(sum(k) OVER (PARTITION BY g ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(k) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM k),
        |b AS (SELECT g, max(n) AS n,
        |    min(CASE WHEN cum >= (n * 50000 + 999999) // 1000000
        |      THEN c END) AS lo,
        |    min(CASE WHEN cum >= (n * 950000 + 999999) // 1000000
        |      THEN c END) AS hi
        |  FROM ct GROUP BY g)
        |SELECT k.g AS event_type, b.n, b.lo AS lo_cents,
        |  b.hi AS hi_cents,
        |  round(CAST(sum(k.k * k.c) AS DOUBLE) / 100.0 / b.n, 6) + 0.0
        |    AS mean_raw,
        |  round(CAST(sum(k.k * greatest(least(k.c, b.hi), b.lo))
        |    AS DOUBLE) / 100.0 / b.n, 6) + 0.0 AS mean_winsorized
        |FROM k JOIN b ON k.g = b.g
        |GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin),

    // Count-min sketch frequency state: bootstrap from the snapshot,
    // fold the delta, probe a deterministic key sample. Cells are
    // exact integer sums, so fold == rebuild ROW-IDENTICAL (asserted
    // into the fold_eq_rebuild column — the property HLL's estimator
    // can't give) and est >= exact deterministically (collisions only
    // add); exact calibration counts are the oracle-checked column.
    Gate("q458_cms_heavy_hitters", (s, dir) => {
      // event_type is a JOIN key below (probes/exact/estimates): a null
      // type would silently drop rows the oracle's GROUP BY keeps
      val ev = t(s, dir, "events")
        .where(col("event_id").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull)
      val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
      val delta = ev.where(pmod(col("event_id"), lit(5L)) === 0)
      val folded = Scale.foldCms(
        Scale.cmsSketch(snap, "event_type", "user_id"),
        Scale.cmsSketch(delta, "event_type", "user_id"), "event_type")
        .localCheckpoint(true)
      val rebuild = Scale.cmsSketch(ev, "event_type", "user_id")
      val foldEq = folded.exceptAll(rebuild).isEmpty &&
        rebuild.exceptAll(folded).isEmpty
      val probes = ev.where(pmod(col("user_id"), lit(97L)) === 0)
        .select("event_type", "user_id").distinct()
      val exact = ev.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n_exact"))
      probes
        .join(exact, Seq("event_type", "user_id"))
        .join(Scale.cmsEstimate(folded, probes, "event_type", "user_id"),
          Seq("event_type", "user_id"))
        .select(col("event_type"), col("user_id"), col("n_exact"),
          (col("cms_est") >= col("n_exact")).as("est_ge_exact"),
          lit(foldEq).as("fold_eq_rebuild"))
        .orderBy("event_type", "user_id")
    }, oracle =
      """SELECT event_type, user_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  true AS est_ge_exact, true AS fold_eq_rebuild
        |FROM events
        |WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type IS NOT NULL AND user_id % 97 = 0
        |GROUP BY 1, 2 ORDER BY event_type, user_id""".stripMargin),

    // Session-length histogram + engagement shares over the q456
    // session table (oracle composed from the q456 SQL — the q433
    // pattern, so the rollup cannot drift from the session
    // definition).
    Gate("q459_session_stats", (s, dir) => {
      val sess = Events.sessionize(t(s, dir, "events"), "user_id", "ts",
        1800000000L)
      val bucket = when(col("n_events") === 1, lit("1"))
        .when(col("n_events") <= 2, lit("2"))
        .when(col("n_events") <= 5, lit("3-5"))
        .when(col("n_events") <= 10, lit("6-10"))
        .otherwise(lit("11+"))
      val h = sess.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          sum(col("dur_us")).as("total_dur_us"))
      h.crossJoin(broadcast(h.agg(sum(col("n_sessions")).as("__t"))))
        .select(col("bucket"), col("n_sessions"), col("n_events"),
          col("total_dur_us"),
          idiv(col("n_sessions") * 1000000L, col("__t")).as("share_ppm"))
        .orderBy("bucket")
    }, oracle =
      s"""WITH sess AS ($sessionSql),
         |h AS (SELECT CASE WHEN n_events = 1 THEN '1'
         |    WHEN n_events <= 2 THEN '2'
         |    WHEN n_events <= 5 THEN '3-5'
         |    WHEN n_events <= 10 THEN '6-10' ELSE '11+' END AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_sessions,
         |    CAST(sum(n_events) AS BIGINT) AS n_events,
         |    CAST(sum(dur_us) AS BIGINT) AS total_dur_us
         |  FROM sess GROUP BY 1),
         |t AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS tot FROM h)
         |SELECT bucket, n_sessions, n_events, total_dur_us,
         |  n_sessions * 1000000 // tot AS share_ppm
         |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin),

    // Jensen-Shannon divergence matrix between source word profiles.
    Gate("q460_source_jsd", (s, dir) =>
      Corpus.sourceJsd(t(s, dir, "documents"), "text", "source")
        .orderBy("src_a", "src_b"), oracle = {
      val b = s"(${Dedup.h60Sql("w")}) % 256"
      s"""WITH prof AS (SELECT src, $b AS b, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT source AS src, unnest(string_split(text, ' ')) AS w
         |        FROM documents) WHERE w <> '' GROUP BY 1, 2),
         |tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM prof
         |  GROUP BY src),
         |grid AS (SELECT t.src, gb.b, t.n, coalesce(p.c, 0) AS c
         |  FROM tot t CROSS JOIN (SELECT unnest(range(256)) AS b) gb
         |  LEFT JOIN prof p ON p.src = t.src AND p.b = gb.b),
         |pr AS (SELECT a.src AS src_a, b2.src AS src_b,
         |    (a.c + 1.0) / (a.n + 256.0) AS pa,
         |    (b2.c + 1.0) / (b2.n + 256.0) AS pb
         |  FROM grid a JOIN grid b2 ON a.b = b2.b AND a.src < b2.src),
         |tm AS (SELECT src_a, src_b,
         |    CAST(floor((pa * ln(pa / ((pa + pb) / 2.0))
         |      + pb * ln(pb / ((pa + pb) / 2.0))) * 1000000000.0 + 0.5)
         |      AS BIGINT) AS t
         |  FROM pr)
         |SELECT src_a, src_b,
         |  round(CAST(sum(t) AS DOUBLE) / 2000000000.0, 6) + 0.0
         |    AS jsd_nats
         |FROM tm GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin
    }),

    // Bounded 12-round 3-core peel of the co-purchase part graph
    // (parts sharing >= 2 orders) — hub communities vs incidental
    // pairs; round-12 survivor semantics on both sides.
    Gate("q461_kcore", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .where(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = l.toDF("o", "a").join(l.toDF("o", "b"), "o")
        .where(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
        .where(col("w") >= 2)
      Graph.kcorePeel(edges, "a", "b", k = 3).orderBy("node")
    }, oracle = kcoreSql),

    // Sliding 7-day window count state: bootstrap from events before
    // Jan 28, fold the rest (watermark-ordered split), report per-type
    // trailing-window totals — the FORGETTING member of the persisted
    // state family. Both branches carry the answer: the window spans
    // the state/delta cut, and the Jan 1-23 state buckets must expire.
    Gate("q462_window_count_state", (s, dir) => {
      val cutNs = 1706400000000000000L // 2024-01-28T00:00:00Z
      val ev = t(s, dir, "events")
      val p = Curation2.tempIndexDir("graft_window_state_")
      try {
        Scale.writeWindowState(ev.where(col("ts") < cutNs), "event_type",
          "ts", 3600000000L, 168, p)
        Scale.windowTotals(
            Scale.foldWindowState(s, p, ev.where(col("ts") >= cutNs),
              "event_type", "ts", 3600000000L, 168),
            "event_type")
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(p)
    }, oracle = windowStateSql),

    // EWMA anomaly bins (exact binary half-life, 40-bucket horizon).
    Gate("q463_ewma_anomaly", (s, dir) =>
      Events.ewmaAnomalies(t(s, dir, "events"), "event_type", "ts",
          3600000000L)
        .orderBy("event_type", "rank"), oracle = {
      val lags = (1 to 40).map(i =>
        s"coalesce(lag(c, $i) OVER w, 0) * ${1L << (40 - i)}")
        .mkString("\n      |      + ")
      s"""WITH base AS (SELECT event_type AS et,
         |    epoch_us(ts) // 3600000000 AS b FROM events),
         |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM base),
         |grid AS (SELECT et, gb.b FROM (SELECT DISTINCT et FROM base)
         |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b
         |              FROM rng) gb),
         |c AS (SELECT et, b, CAST(count(*) AS BIGINT) AS c FROM base
         |  GROUP BY 1, 2),
         |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c FROM grid g
         |  LEFT JOIN c ON c.et = g.et AND c.b = g.b),
         |wsum AS (SELECT et, b, c,
         |    $lags AS w
         |  FROM f WINDOW w AS (PARTITION BY et ORDER BY b)),
         |sc AS (SELECT et, b, c,
         |    (w // 1099511627775) * 1000
         |      + (w % 1099511627775) * 1000 // 1099511627775
         |      AS ewma_milli
         |  FROM wsum CROSS JOIN rng WHERE b >= rng.b0 + 40),
         |rk AS (SELECT et, b, c, ewma_milli,
         |    c * 1000 - ewma_milli AS dev_milli,
         |    CAST(row_number() OVER (PARTITION BY et
         |      ORDER BY abs(c * 1000 - ewma_milli) DESC, b)
         |      AS INTEGER) AS rank
         |  FROM sc)
         |SELECT et AS event_type, rank, b AS bin, c, ewma_milli,
         |  dev_milli
         |FROM rk WHERE rank <= 5 ORDER BY et, rank""".stripMargin
    }),

    // Within-session signup -> purchase funnel (30-min gap sessions).
    Gate("q464_session_funnel", (s, dir) =>
      Events.sessionFunnel(t(s, dir, "events"), "user_id", "ts",
        "event_type", 1800000000L, "signup", "purchase"), oracle =
      s"""WITH sev AS ($sessionEventsSql),
         |per AS (SELECT user_id, session_id,
         |    min(CASE WHEN event_type = 'signup' THEN tus END) AS a,
         |    max(CASE WHEN event_type = 'purchase' THEN tus END) AS pb
         |  FROM sev GROUP BY 1, 2)
         |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_with_first,
         |  CAST(sum(CASE WHEN a IS NOT NULL AND pb >= a THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_converted,
         |  CASE WHEN sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) > 0
         |    THEN CAST(sum(CASE WHEN a IS NOT NULL AND pb >= a THEN 1
         |        ELSE 0 END) AS BIGINT) * 1000000
         |      // CAST(sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END)
         |        AS BIGINT)
         |    END AS conv_ppm
         |FROM per""".stripMargin),

    // Streaming sessionize replay == the batch session table on CLOSED
    // sessions (append mode cannot flush each user's open tail — the
    // q453 restriction pattern: the oracle drops every user's last
    // session).
    Gate("q465_streaming_sessions", (s, dir) => {
      import s.implicits._
      // Durable parquet sink (the recovery-spec pattern): the result
      // never materializes on the driver — the stream writes to a
      // scratch parquet dir, the post-processing reads it back as a
      // distributed frame, and the eager localCheckpoint pins the
      // answer before the scratch dir is deleted.
      val p = Curation2.tempIndexDir("graft_q465_sink_")
      val in = graft.core.Tables.stream(s, dir, "events")
        .where(col("user_id").isNotNull)
        .select(col("user_id"), col("ts").as("ts_ns"))
        .as[graft.streaming.Streaming.SessionEvent]
      val q = graft.streaming.Streaming.sessionize(in, 1800000000000L)
        .toDF().writeStream.format("parquet")
        .option("path", s"$p/out")
        .option("checkpointLocation", s"$p/cp")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        val rows = s.read.schema(org.apache.spark.sql.Encoders
            .product[graft.streaming.Streaming.Session].schema)
          .parquet(s"$p/out")
        import org.apache.spark.sql.expressions.Window
        rows.select(col("user_id"),
            idiv(col("start_ns"), 1000L).as("start_us"),
            idiv(col("end_ns"), 1000L).as("end_us"), col("n_events"))
          .withColumn("session_id", row_number().over(
            Window.partitionBy("user_id").orderBy("start_us")).cast("long"))
          .select(col("user_id"), col("session_id"), col("n_events"),
            col("start_us"), col("end_us"),
            (col("end_us") - col("start_us")).as("dur_us"))
          .orderBy("user_id", "session_id")
          .localCheckpoint(true)
      } finally {
        if (q.isActive) q.stop()
        Curation2.deleteDir(p)
      }
    }, oracle =
      s"""WITH sess AS ($sessionSql),
         |mx AS (SELECT user_id, max(session_id) AS m FROM sess
         |  GROUP BY 1)
         |SELECT s.user_id, s.session_id, s.n_events, s.start_us,
         |  s.end_us, s.dur_us
         |FROM sess s JOIN mx ON mx.user_id = s.user_id
         |WHERE s.session_id < mx.m
         |ORDER BY s.user_id, s.session_id""".stripMargin),

    // Hour-of-day x event-type pivot matrix (Dataset pivot API).
    Gate("q466_pivot_matrix", (s, dir) =>
      t(s, dir, "events").where(col("event_type").isNotNull)
        .withColumn("hod",
          pmod(idiv(graft.functions.PixieFunctions.nsToUs(col("ts")),
            3600000000L), lit(24L)).as("hod"))
        .groupBy("hod")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("hod"), oracle =
      """SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS view
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY 1 ORDER BY hod""".stripMargin),

    // Exact p25/p50/p75/p90/p99 value bands per event type.
    Gate("q467_quantile_bands", (s, dir) =>
      Quality.quantileBands(t(s, dir, "events"), "event_type",
          col("value"))
        .orderBy("event_type"), oracle =
      s"""WITH $centCountCtes,
        |ct AS (SELECT g, c, k,
        |    CAST(sum(k) OVER (PARTITION BY g ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(k) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM k)
        |SELECT g AS event_type, max(n) AS n,
        |  min(CASE WHEN cum >= (n * 250000 + 999999) // 1000000
        |    THEN c END) AS p25_cents,
        |  min(CASE WHEN cum >= (n * 500000 + 999999) // 1000000
        |    THEN c END) AS p50_cents,
        |  min(CASE WHEN cum >= (n * 750000 + 999999) // 1000000
        |    THEN c END) AS p75_cents,
        |  min(CASE WHEN cum >= (n * 900000 + 999999) // 1000000
        |    THEN c END) AS p90_cents,
        |  min(CASE WHEN cum >= (n * 990000 + 999999) // 1000000
        |    THEN c END) AS p99_cents
        |FROM ct GROUP BY g ORDER BY event_type""".stripMargin),

    // Shard-resize migration audit over the user key space: a divisor
    // doubling (16 -> 32) scatters each shard into exactly 2
    // destinations; 16 -> 24 scatters into lcm(16,24)/16 = 3 — the
    // measured case for power-of-two resharding of persisted states.
    Gate("q468_shard_split", (s, dir) => {
      val ev = t(s, dir, "events")
      Scale.shardSplitReport(ev, "user_id", 16, 32)
        .withColumn("resize", lit("16->32"))
        .unionByName(Scale.shardSplitReport(ev, "user_id", 16, 24)
          .withColumn("resize", lit("16->24")))
        .orderBy("resize", "old_shard")
    }, oracle = {
      val h = Dedup.h60Sql("CAST(user_id AS VARCHAR)")
      def one(nw: Int, label: String) =
        s"""SELECT '$label' AS resize, h % 16 AS old_shard,
           |  CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(CASE WHEN h % $nw <> h % 16 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_moved,
           |  CAST(count(DISTINCT h % $nw) AS BIGINT) AS n_dest_shards,
           |  CAST(sum(CASE WHEN h % $nw <> h % 16 THEN 1 ELSE 0 END)
           |    AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
           |    AS moved_ppm
           |FROM hs GROUP BY 2""".stripMargin
      s"""WITH hs AS (SELECT DISTINCT ($h) AS h FROM events
         |  WHERE user_id IS NOT NULL)
         |${one(32, "16->32")}
         |UNION ALL
         |${one(24, "16->24")}
         |ORDER BY resize, old_shard""".stripMargin
    }),

    // Incremental sessionization: state (closed sessions + open tails)
    // from events before Jan 15, fold the rest — sessions that span
    // the cut must MERGE at the fold boundary. Output == a from-scratch
    // sessionize (shares q456's oracle shape over ALL events).
    Gate("q469_session_state_fold", (s, dir) => {
      val cutNs = 1705276800000000000L // 2024-01-15T00:00:00Z
      val ev = t(s, dir, "events")
      val p = Curation2.tempIndexDir("graft_session_state_")
      try {
        Events.writeSessionState(ev.where(col("ts") < cutNs), "user_id",
          "ts", 1800000000L, p)
        Events.foldSessionState(s, p, ev.where(col("ts") >= cutNs),
            "user_id", "ts", 1800000000L)
          .orderBy("user_id", "session_id")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(p)
    }, oracle =
      s"$sessionSql ORDER BY user_id, session_id"),

    // Pre-join explosion audit: top-10 user keys by self-join output
    // cardinality (the salting/broadcast decision input).
    Gate("q470_join_explosion", (s, dir) => {
      val ev = t(s, dir, "events")
      Scale.joinExplosionAudit(ev, ev, "user_id", 10)
    }, oracle =
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS n FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1),
        |p AS (SELECT key, n AS n_a, n AS n_b,
        |    CAST(n AS HUGEINT) * n AS rows_out FROM c),
        |t AS (SELECT sum(rows_out) AS tot FROM p)
        |SELECT key, n_a, n_b,
        |  CAST(least(rows_out, CAST(9223372036854775807 AS HUGEINT))
        |    AS BIGINT) AS rows_out,
        |  CAST(rows_out * 1000000 // tot AS BIGINT) AS share_ppm
        |FROM p CROSS JOIN t
        |ORDER BY rows_out DESC, key LIMIT 10""".stripMargin),

    // Seasonal-naive weekly backtest on the hourly count grid: the
    // baseline error every forecaster must beat (MAE milli, WAPE ppm,
    // ratio vs lag-1 persistence).
    Gate("q477_seasonal_naive", (s, dir) =>
      Events.seasonalNaiveError(t(s, dir, "events"), "event_type", "ts",
          3600000000L)
        .orderBy("event_type"), oracle =
      """WITH base AS (SELECT event_type AS et,
        |    epoch_us(ts) // 3600000000 AS b FROM events),
        |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM base),
        |grid AS (SELECT et, gb.b FROM (SELECT DISTINCT et FROM base)
        |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b
        |              FROM rng) gb),
        |c AS (SELECT et, b, CAST(count(*) AS BIGINT) AS c FROM base
        |  GROUP BY 1, 2),
        |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c FROM grid g
        |  LEFT JOIN c ON c.et = g.et AND c.b = g.b),
        |l AS (SELECT et, b, c,
        |    lag(c, 168) OVER w AS ps, lag(c, 1) OVER w AS p1
        |  FROM f WINDOW w AS (PARTITION BY et ORDER BY b)),
        |sc AS (SELECT et,
        |    CAST(count(*) AS BIGINT) AS n_bins,
        |    CAST(sum(c) AS BIGINT) AS actual,
        |    CAST(sum(abs(c - ps)) AS BIGINT) AS es,
        |    CAST(sum(abs(c - p1)) AS BIGINT) AS e1
        |  FROM l CROSS JOIN rng WHERE b >= rng.b0 + 168 GROUP BY et)
        |SELECT et AS event_type, n_bins,
        |  es * 1000 // n_bins AS mae_milli,
        |  CASE WHEN actual > 0 THEN es * 1000000 // actual END
        |    AS wape_ppm,
        |  CASE WHEN e1 > 0 THEN es * 1000000 // e1 END
        |    AS vs_naive1_ppm
        |FROM sc ORDER BY event_type""".stripMargin),

    // Deequ-style column profile of the events table (one row per
    // column: rows, nulls, null ppm, exact distinct, quantized
    // min/max — ids as-is, value as cents, ts as epoch-us, the
    // string column by LENGTH).
    Gate("q478_column_profile", (s, dir) => {
      import graft.functions.PixieFunctions.nsToUs
      Quality.columnProfile(t(s, dir, "events"), Seq(
          ("event_id", col("event_id")),
          ("user_id", col("user_id")),
          ("value_cents", when(col("value").isNull ||
              isnan(col("value")), lit(null))
            .otherwise(floor(col("value") * 100.0 + 0.5)).cast("long")),
          ("ts_us", nsToUs(col("ts"))),
          ("event_type_len", length(col("event_type")).cast("long"))))
        .orderBy("column")
    }, oracle = {
      def one(nm: String, q: String) =
        s"""SELECT '$nm' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $q IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  CAST(sum(CASE WHEN $q IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000 // greatest(CAST(count(*) AS BIGINT), 1)
           |    AS null_ppm,
           |  CAST(count(DISTINCT $q) AS BIGINT) AS n_distinct,
           |  CAST(min($q) AS BIGINT) AS min_q,
           |  CAST(max($q) AS BIGINT) AS max_q
           |FROM events""".stripMargin
      Seq(
        one("event_id", "event_id"),
        one("user_id", "user_id"),
        one("value_cents",
          "(CASE WHEN value IS NULL OR isnan(value) THEN NULL " +
            "ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END)"),
        one("ts_us", "epoch_us(ts)"),
        one("event_type_len", "CAST(length(event_type) AS BIGINT)"))
        .mkString("\nUNION ALL\n") + "\nORDER BY \"column\""
    }),

    // CDC latest-state merge: events as a per-user changelog (signup=I,
    // error=D, else U, ts order with event_id tiebreak) — the MERGE
    // INTO semantics as one key-keyed window; final deletes drop keys.
    Gate("q471_cdc_apply", (s, dir) =>
      graft.ops.Cdc.apply(cdcChangelog(s, dir), "user_id",
          col("__tus"), col("event_id"), col("__op"), col("__vc"),
          valueName = "value_cents")
        .orderBy("user_id"), oracle =
      s"""WITH ch AS ($cdcSql),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY tus DESC, event_id DESC) AS rn,
         |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
         |      AS n_ops
         |  FROM ch)
         |SELECT user_id, n_ops, vc AS value_cents
         |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin),

    // SCD type-2 validity intervals over the same changelog.
    Gate("q472_scd2_history", (s, dir) =>
      graft.ops.Cdc.scd2(cdcChangelog(s, dir), "user_id",
          col("__tus"), col("event_id"), col("__op"), col("__vc"),
          valueName = "value_cents")
        .orderBy("user_id", "version"), oracle =
      s"""WITH ch AS ($cdcSql)
         |SELECT user_id,
         |  CAST(row_number() OVER w AS BIGINT) AS version,
         |  tus AS valid_from_us, lead(tus) OVER w AS valid_to_us,
         |  op, vc AS value_cents,
         |  lead(tus) OVER w IS NULL AS is_current
         |FROM ch WINDOW w AS (PARTITION BY user_id
         |  ORDER BY tus ASC, event_id ASC)
         |ORDER BY user_id, version""".stripMargin),

    // PMI collocations: top-20 bigrams by pointwise mutual information.
    Gate("q474_collocations", (s, dir) =>
      graft.ops.TextOps.collocations(t(s, dir, "documents"), "text")
        .localCheckpoint(true), oracle = {
      val sh1 = Dedup.shinglesSql("text", 1)
      val sh2 = Dedup.shinglesSql("text", 2)
      s"""WITH uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($sh1) AS w FROM documents)
         |  WHERE w <> '' GROUP BY 1),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_words FROM uni),
         |big AS (SELECT g, CAST(count(*) AS BIGINT) AS c_ab
         |  FROM (SELECT unnest($sh2) AS g FROM documents)
         |  WHERE len(string_split(g, ' ')) = 2
         |  GROUP BY 1 HAVING count(*) >= 5),
         |j AS (SELECT g, c_ab, split_part(g, ' ', 1) AS wa,
         |    split_part(g, ' ', 2) AS wb FROM big
         |  WHERE split_part(g, ' ', 1) <> ''
         |    AND split_part(g, ' ', 2) <> ''),
         |sc AS (SELECT g, c_ab, ua.c AS c_a, ub.c AS c_b,
         |    CAST(floor(ln(CAST(c_ab AS DOUBLE) * n_words
         |      / (CAST(ua.c AS DOUBLE) * ub.c)) * 1000000000.0 + 0.5)
         |      AS BIGINT) AS q
         |  FROM j JOIN uni ua ON ua.w = j.wa
         |  JOIN uni ub ON ub.w = j.wb CROSS JOIN n)
         |SELECT g AS bigram, c_ab, c_a, c_b,
         |  round(CAST(q AS DOUBLE) / 1000000000.0, 6) + 0.0 AS pmi_nats
         |FROM sc ORDER BY q DESC, g LIMIT 20""".stripMargin
    }),

    // Fightin' Words: per-source top-5 over-represented words by the
    // Dirichlet log-odds z-score vs the rest of the corpus.
    Gate("q475_fightin_words", (s, dir) =>
      graft.ops.TextOps.fightinWords(t(s, dir, "documents"), "text",
          "source")
        .orderBy("source", "rank"), oracle = {
      val sh1 = Dedup.shinglesSql("text", 1)
      def qln(x: String) =
        s"CAST(floor(ln(CAST($x AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)"
      s"""WITH sw AS (SELECT src, w, CAST(count(*) AS BIGINT) AS y
         |  FROM (SELECT source AS src, unnest($sh1) AS w FROM documents
         |        WHERE source IS NOT NULL)
         |  WHERE w <> '' GROUP BY 1, 2),
         |gw AS (SELECT w, CAST(sum(y) AS BIGINT) AS gy FROM sw
         |  GROUP BY 1 HAVING sum(y) >= 5),
         |swf AS (SELECT sw.src, sw.w, sw.y, gw.gy FROM sw
         |  JOIN gw USING (w)),
         |ns AS (SELECT src, CAST(sum(y) AS BIGINT) AS n FROM swf
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(gy) AS BIGINT) AS nn,
         |    CAST(count(*) AS BIGINT) AS v FROM gw),
         |sc AS (SELECT src, w, y,
         |    (${qln("y + 1")} - ${qln("n + v - y - 1")}
         |      - ${qln("gy - y + 1")}
         |      + ${qln("nn - n + v - (gy - y) - 1")}) AS dq,
         |    1.0 / (y + 1) + 1.0 / (gy - y + 1) AS var
         |  FROM swf JOIN ns USING (src) CROSS JOIN tot),
         |rk AS (SELECT src, w, y,
         |    round((CAST(dq AS DOUBLE) / 1000000000.0) / sqrt(var), 6)
         |      + 0.0 AS z
         |  FROM sc),
         |r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY src
         |    ORDER BY z DESC, w) AS BIGINT) AS rank FROM rk)
         |SELECT src AS source, rank, w AS word, y, z
         |FROM r2 WHERE rank <= 5 ORDER BY source, rank""".stripMargin
    }),

    // State-panel capstone: ONE ops dashboard row per event type
    // assembled from THREE independent persisted-state folds — the
    // all-time aggregate (q446 aggState), the exact distinct count
    // (q454 sharded keys), and the 7-day sliding window (q462) — all
    // incremental, none rescanning the snapshot. Oracle composed from
    // the three leg oracles (the q450 pattern).
    Gate("q476_state_panel", (s, dir) => {
      val ev = t(s, dir, "events").where(col("event_id").isNotNull)
      val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
      val delta = ev.where(pmod(col("event_id"), lit(5L)) === 0)
      val cutNs = 1706400000000000000L // q462's watermark cut
      val pa = Curation2.tempIndexDir("graft_panel_agg_")
      val pd = Curation2.tempIndexDir("graft_panel_distinct_")
      val pw = Curation2.tempIndexDir("graft_panel_window_")
      try {
        Scale.aggState(snap, "event_type", col("value"))
          .write.parquet(pa)
        val aggLeg = Scale.foldAggState(s.read.parquet(pa), delta,
          "event_type", col("value"))
        Scale.writeDistinctState(snap.where(col("user_id").isNotNull),
          "event_type", "user_id", nShards = 16, pd)
        val distinctLeg = Scale.foldDistinctState(s, pd,
          delta.where(col("user_id").isNotNull), "event_type",
          "user_id", nShards = 16)
        // the window leg mirrors q462 exactly: UNFILTERED events (its
        // oracle has no event_id predicate, unlike the agg/distinct legs)
        val evAll = t(s, dir, "events")
        Scale.writeWindowState(evAll.where(col("ts") < cutNs),
          "event_type", "ts", 3600000000L, 168, pw)
        val windowLeg = Scale.windowTotals(
          Scale.foldWindowState(s, pw, evAll.where(col("ts") >= cutNs),
            "event_type", "ts", 3600000000L, 168), "event_type")
        aggLeg.select("event_type", "n_rows", "mean")
          .join(distinctLeg, "event_type")
          .join(windowLeg.select("event_type", "window_events"),
            "event_type")
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally {
        Curation2.deleteDir(pa); Curation2.deleteDir(pd)
        Curation2.deleteDir(pw)
      }
    }, oracle =
      s"""WITH ag AS (SELECT * FROM
         |    (${graft.queries.Curation6.q446OracleSql})),
         |di AS (SELECT * FROM
         |    (${graft.queries.Curation6.q454OracleSql})),
         |wi AS (SELECT * FROM ($windowStateSql))
         |SELECT ag.event_type, ag.n_rows, ag.mean, di.n_unique,
         |  wi.window_events
         |FROM ag JOIN di USING (event_type) JOIN wi USING (event_type)
         |ORDER BY event_type""".stripMargin),

    // Quantile drift between time halves (cut Jan 15): the p50/p90
    // value bands before and after, and their shifts in cents — the
    // "did the metric distribution move" read next to PSI/KS (which
    // see shape, not location, in interpretable units).
    Gate("q479_quantile_drift", (s, dir) => {
      val cutNs = 1705276800000000000L
      val ev = t(s, dir, "events").where(col("event_type").isNotNull)
      val bands = Seq("p50" -> 500000L, "p90" -> 900000L)
      def side(p: org.apache.spark.sql.DataFrame, tag: String) =
        Quality.quantileBands(p, "event_type", col("value"), bands)
          .select(col("event_type"), col("n").as(s"n_$tag"),
            col("p50_cents").as(s"p50_$tag"),
            col("p90_cents").as(s"p90_$tag"))
      side(ev.where(col("ts") < cutNs), "a")
        .join(side(ev.where(col("ts") >= cutNs), "b"), "event_type")
        .withColumn("d50_cents", col("p50_b") - col("p50_a"))
        .withColumn("d90_cents", col("p90_b") - col("p90_a"))
        .orderBy("event_type")
    }, oracle = {
      def side(pred: String, tag: String) =
        s"""SELECT g AS event_type, max(n) AS n_$tag,
           |  min(CASE WHEN cum >= (n * 500000 + 999999) // 1000000
           |    THEN c END) AS p50_$tag,
           |  min(CASE WHEN cum >= (n * 900000 + 999999) // 1000000
           |    THEN c END) AS p90_$tag
           |FROM (SELECT g, c, k,
           |    CAST(sum(k) OVER (PARTITION BY g ORDER BY c
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum,
           |    CAST(sum(k) OVER (PARTITION BY g) AS BIGINT) AS n
           |  FROM (SELECT event_type AS g,
           |      CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
           |      CAST(count(*) AS BIGINT) AS k
           |    FROM events WHERE event_type IS NOT NULL
           |      AND value IS NOT NULL AND NOT isnan(value) AND $pred
           |    GROUP BY 1, 2))
           |GROUP BY g""".stripMargin
      s"""WITH a AS (${side("ts < TIMESTAMP '2024-01-15'", "a")}),
         |b AS (${side("ts >= TIMESTAMP '2024-01-15'", "b")})
         |SELECT a.event_type, n_a, p50_a, p90_a, n_b, p50_b, p90_b,
         |  p50_b - p50_a AS d50_cents, p90_b - p90_a AS d90_cents
         |FROM a JOIN b USING (event_type)
         |ORDER BY event_type""".stripMargin
    }),

    // Weekday/weekend traffic profile per event type: counts, weekend
    // share, and the weekend-vs-weekday DAILY-rate ratio (normalized
    // by each class's distinct day count — raw counts would conflate
    // the 5:2 day imbalance with actual intensity).
    Gate("q480_weekday_profile", (s, dir) => {
      import graft.functions.PixieFunctions.nsToUs
      // epoch day 0 = Thursday; days 2,3 (mod 7) = Saturday, Sunday
      val ev = t(s, dir, "events").where(col("event_type").isNotNull)
        .withColumn("__d", idiv(nsToUs(col("ts")), 86400000000L))
        .withColumn("__we", pmod(col("__d"), lit(7L)).isin(2L, 3L))
      val days = ev.select("__d", "__we").distinct()
        .agg(sum(when(col("__we"), 1L).otherwise(0L)).as("__wed"),
          sum(when(!col("__we"), 1L).otherwise(0L)).as("__wdd"))
      ev.groupBy("event_type")
        .agg(sum(when(!col("__we"), 1L).otherwise(0L)).as("n_weekday"),
          sum(when(col("__we"), 1L).otherwise(0L)).as("n_weekend"))
        .crossJoin(broadcast(days))
        .select(col("event_type"), col("n_weekday"), col("n_weekend"),
          idiv(col("n_weekend") * 1000000L,
            greatest(col("n_weekday") + col("n_weekend"), lit(1L)))
            .as("weekend_share_ppm"),
          when(col("n_weekday") > 0 && col("__wed") > 0,
            idiv(col("n_weekend") * col("__wdd") * 1000000L,
              col("n_weekday") * col("__wed"))).as("rate_ratio_ppm"))
        .orderBy("event_type")
    }, oracle =
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS d,
        |    (epoch_us(ts) // 86400000000) % 7 IN (2, 3) AS we
        |  FROM events WHERE event_type IS NOT NULL),
        |days AS (SELECT
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS wed,
        |    CAST(sum(CASE WHEN we THEN 0 ELSE 1 END) AS BIGINT) AS wdd
        |  FROM (SELECT DISTINCT d, we FROM e)),
        |c AS (SELECT event_type,
        |    CAST(sum(CASE WHEN we THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_weekday,
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_weekend
        |  FROM e GROUP BY 1)
        |SELECT event_type, n_weekday, n_weekend,
        |  n_weekend * 1000000
        |    // greatest(n_weekday + n_weekend, 1) AS weekend_share_ppm,
        |  CASE WHEN n_weekday > 0 AND wed > 0 THEN
        |    n_weekend * wdd * 1000000 // (n_weekday * wed)
        |  END AS rate_ratio_ppm
        |FROM c CROSS JOIN days ORDER BY event_type""".stripMargin),

    // k-anonymity risk sweep: how many QI classes (and how many rows)
    // fall below k for k in {2, 5, 10, 20} — the release-policy curve
    // behind q411's single-k audit (pick k where exposure is tolerable).
    Gate("q481_kanon_sweep", (s, dir) => {
      import graft.functions.PixieFunctions.nsToUs
      // NaN guard: Spark's non-ANSI floor/cast maps NaN to a null
      // bucket while DuckDB's CAST raises — filter NaN/null value on
      // BOTH sides so the QI classes match by construction (house
      // rule, cf. q457/q467/q479/q484).
      val classes = t(s, dir, "events")
        .where(col("value").isNotNull && !isnan(col("value")))
        .select(
          col("event_type"),
          (idiv(nsToUs(col("ts")), 3600000000L) % 24L).as("hod"),
          floor(col("value") / 50.0).cast("long").as("vb"),
          col("user_id"))
        .groupBy("event_type", "hod", "vb")
        .agg(countDistinct(col("user_id")).as("__ns"),
          count(lit(1)).as("__nr"))
      classes
        .crossJoin(broadcast(s.range(1)
          .select(explode(typedLit(Seq(2L, 5L, 10L, 20L))).as("k"))))
        .groupBy("k")
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("__ns") < col("k"), 1L).otherwise(0L))
            .as("n_violating"),
          sum(when(col("__ns") < col("k"), col("__nr")).otherwise(0L))
            .as("n_rows_exposed"))
        .withColumn("violating_share_ppm",
          idiv(col("n_violating") * 1000000L, col("n_classes")))
        .orderBy("k")
    }, oracle =
      """WITH cl AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 % 24 AS hod,
        |    CAST(floor(value / 50.0) AS BIGINT) AS vb,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS ns,
        |    CAST(count(*) AS BIGINT) AS nr
        |  FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2, 3),
        |ks AS (SELECT unnest([2, 5, 10, 20]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN ns < k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  CAST(sum(CASE WHEN ns < k THEN nr ELSE 0 END) AS BIGINT)
        |    AS n_rows_exposed,
        |  CAST(sum(CASE WHEN ns < k THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // CAST(count(*) AS BIGINT)
        |    AS violating_share_ppm
        |FROM cl CROSS JOIN ks GROUP BY 1 ORDER BY k""".stripMargin),

    // User-activity histogram: users bucketed by their event count on
    // an exact power-of-two ladder (no log2 floats — boundary-exact in
    // both engines), with user and event shares.
    Gate("q482_user_activity_histogram", (s, dir) => {
      val per = t(s, dir, "events").where(col("user_id").isNotNull)
        .groupBy("user_id").agg(count(lit(1)).as("__n"))
      val bucket = when(col("__n") <= 8, "001-8")
        .when(col("__n") <= 16, "009-16")
        .when(col("__n") <= 32, "017-32")
        .when(col("__n") <= 48, "033-48")
        .when(col("__n") <= 64, "049-64")
        .when(col("__n") <= 96, "065-96")
        .when(col("__n") <= 128, "097-128")
        .otherwise("129+")
      val h = per.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_users"), sum(col("__n")).as("n_events"))
      h.crossJoin(broadcast(h.agg(sum(col("n_users")).as("__tu"),
          sum(col("n_events")).as("__te"))))
        .select(col("bucket"), col("n_users"), col("n_events"),
          idiv(col("n_users") * 1000000L, col("__tu"))
            .as("user_share_ppm"),
          idiv(col("n_events") * 1000000L, col("__te"))
            .as("event_share_ppm"))
        .orderBy("bucket")
    }, oracle =
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |h AS (SELECT CASE WHEN n <= 8 THEN '001-8'
        |    WHEN n <= 16 THEN '009-16' WHEN n <= 32 THEN '017-32'
        |    WHEN n <= 48 THEN '033-48' WHEN n <= 64 THEN '049-64'
        |    WHEN n <= 96 THEN '065-96' WHEN n <= 128 THEN '097-128'
        |    ELSE '129+' END AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(n) AS BIGINT) AS n_events
        |  FROM per GROUP BY 1),
        |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu,
        |    CAST(sum(n_events) AS BIGINT) AS te FROM h)
        |SELECT bucket, n_users, n_events,
        |  n_users * 1000000 // tu AS user_share_ppm,
        |  n_events * 1000000 // te AS event_share_ppm
        |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin),

    // CDC cross-op consistency: the SCD2 history's CURRENT non-deleted
    // versions, re-projected to the latest-state shape, must equal
    // Cdc.apply — two independent engine paths sharing q471's oracle
    // (the strongest claim-chain form: either path drifting fails the
    // same gate).
    Gate("q483_cdc_consistency", (s, dir) => {
      val hist = graft.ops.Cdc.scd2(cdcChangelog(s, dir), "user_id",
        col("__tus"), col("event_id"), col("__op"), col("__vc"),
        valueName = "value_cents")
      val nops = hist.groupBy("user_id")
        .agg(max(col("version")).as("n_ops"))
      hist.where(col("is_current") && col("op") =!= "D")
        .join(nops, "user_id")
        .select(col("user_id"), col("n_ops"), col("value_cents"))
        .orderBy("user_id")
    }, oracle =
      s"""WITH ch AS ($cdcSql),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY tus DESC, event_id DESC) AS rn,
         |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
         |      AS n_ops
         |  FROM ch)
         |SELECT user_id, n_ops, vc AS value_cents
         |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin),

    // Robust value outliers per event type: median/MAD as EXACT cent
    // order statistics (the q457 rank machinery), outlier = |v - med|
    // > 3 * MAD — the value-domain companion of the rate-domain MAD
    // detector (q386), immune to the outliers it hunts.
    Gate("q484_value_outliers", (s, dir) => {
      val ev = t(s, dir, "events").where(col("event_type").isNotNull &&
        col("value").isNotNull && !isnan(col("value")))
        .select(col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("__c"))
      val med = Quality.quantileBands(
          ev.select(col("event_type"), (col("__c").cast("double") / 100.0)
            .as("v")),
          "event_type", col("v"), Seq("med" -> 500000L))
        .select(col("event_type"), col("med_cents"))
      val dev = ev.join(med, "event_type")
        .select(col("event_type"),
          abs(col("__c") - col("med_cents")).as("__d"))
      val mad = Quality.quantileBands(
          dev.select(col("event_type"), (col("__d").cast("double") / 100.0)
            .as("v")),
          "event_type", col("v"), Seq("mad" -> 500000L))
        .select(col("event_type"), col("mad_cents"))
      ev.join(med, "event_type").join(mad, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max(col("med_cents")).as("med_cents"),
          max(col("mad_cents")).as("mad_cents"),
          sum(when(abs(col("__c") - col("med_cents")) >
            col("mad_cents") * 3L, 1L).otherwise(0L)).as("n_outliers"))
        .withColumn("outlier_ppm",
          idiv(col("n_outliers") * 1000000L, col("n")))
        .orderBy("event_type")
    }, oracle =
      """WITH v AS (SELECT event_type AS g,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |med AS (SELECT g, min(CASE WHEN cum >=
        |      (n * 500000 + 999999) // 1000000 THEN c END) AS med
        |  FROM (SELECT g, c,
        |      CAST(sum(k) OVER (PARTITION BY g ORDER BY c
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS BIGINT) AS cum,
        |      CAST(sum(k) OVER (PARTITION BY g) AS BIGINT) AS n
        |    FROM (SELECT g, c, CAST(count(*) AS BIGINT) AS k FROM v
        |          GROUP BY 1, 2))
        |  GROUP BY g),
        |d AS (SELECT v.g, abs(v.c - med.med) AS c FROM v
        |  JOIN med ON med.g = v.g),
        |mad AS (SELECT g, min(CASE WHEN cum >=
        |      (n * 500000 + 999999) // 1000000 THEN c END) AS mad
        |  FROM (SELECT g, c,
        |      CAST(sum(k) OVER (PARTITION BY g ORDER BY c
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS BIGINT) AS cum,
        |      CAST(sum(k) OVER (PARTITION BY g) AS BIGINT) AS n
        |    FROM (SELECT g, c, CAST(count(*) AS BIGINT) AS k FROM d
        |          GROUP BY 1, 2))
        |  GROUP BY g)
        |SELECT v.g AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  max(med.med) AS med_cents, max(mad.mad) AS mad_cents,
        |  CAST(sum(CASE WHEN abs(v.c - med.med) > mad.mad * 3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(sum(CASE WHEN abs(v.c - med.med) > mad.mad * 3
        |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |    // CAST(count(*) AS BIGINT) AS outlier_ppm
        |FROM v JOIN med ON med.g = v.g JOIN mad ON mad.g = v.g
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Mann-Whitney / common-language effect size matrix: for every
    // event-type pair, P(value_a > value_b) + half-ties via the exact
    // rank-sum identity — rocAuc restricted to the pair with "is type
    // a" as the label (the pairwise "are these metric populations
    // different" read; 0.5 = indistinguishable).
    Gate("q485_mann_whitney", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = t(s, dir, "events")
      types.combinations(2).map { case Seq(a, b) =>
        graft.ops.Classify.rocAuc(
            ev.where(col("event_type").isin(a, b)),
            col("value"), col("event_type") === a)
          .select(lit(a).as("type_a"), lit(b).as("type_b"),
            col("n_pos").as("n_a"), col("n_neg").as("n_b"),
            col("auc").as("cles"))
      }.reduce(_ unionByName _).orderBy("type_a", "type_b")
    }, oracle = {
      def one(a: String, b: String) =
        s"""SELECT '$a' AS type_a, '$b' AS type_b, n_pos AS n_a,
           |  n_neg AS n_b,
           |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           |    round(CAST(r2 - n_pos*(n_pos+1) AS DOUBLE)
           |      / (2.0 * n_pos * n_neg), 6) END AS cles
           |FROM (SELECT CAST(sum(p * (2*(cum - c) + c + 1)) AS BIGINT)
           |      AS r2,
           |    CAST(sum(p) AS BIGINT) AS n_pos,
           |    CAST(sum(c - p) AS BIGINT) AS n_neg
           |  FROM (SELECT *, CAST(sum(c) OVER (ORDER BY s
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum
           |    FROM (SELECT s, CAST(count(*) AS BIGINT) AS c,
           |        CAST(sum(y) AS BIGINT) AS p
           |      FROM (SELECT
           |          CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS s,
           |          CASE WHEN event_type = '$a' THEN 1 ELSE 0 END AS y
           |        FROM events
           |        WHERE event_type IN ('$a', '$b')
           |          AND value IS NOT NULL AND NOT isnan(value))
           |      GROUP BY 1)))""".stripMargin
      Seq("click", "error", "purchase", "signup", "view")
        .combinations(2)
        .map { case Seq(a, b) => one(a, b) }
        .mkString("\nUNION ALL\n") + "\nORDER BY type_a, type_b"
    }),

    // Count autocorrelation at lags 1 / 24 / 168 over the hourly grid
    // — daily and weekly seasonality strength per type (the signal
    // q477's seasonal-naive baseline exploits), with the q430 exact
    // moment staging.
    Gate("q486_count_acf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.PixieFunctions.nsToUs
      val base = t(s, dir, "events").select(
        col("event_type").as("et"),
        idiv(nsToUs(col("ts")), 3600000000L).as("b"))
      val counts = base.groupBy("et", "b").agg(count(lit(1)).as("c"))
      val rng = counts.agg(min(col("b")).as("__b0"),
        max(col("b")).as("__b1"))
      val grid = counts.select("et").distinct()
        .crossJoin(broadcast(rng))
        .select(col("et"), explode(sequence(col("__b0"), col("__b1")))
          .as("b"), col("__b0"))
        .join(counts, Seq("et", "b"), "left")
        .na.fill(0L, Seq("c"))
      val w = Window.partitionBy("et").orderBy("b")
      Seq(1, 24, 168).map { l =>
        grid.withColumn("__p", lag(col("c"), l).over(w))
          .where(col("b") >= col("__b0") + l.toLong)
          .groupBy(col("et").as("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("__sy"),
            sum(col("__p")).as("__sx"),
            sum(col("c") * col("__p")).as("__sxy"),
            sum(col("__p") * col("__p")).as("__sxx"),
            sum(col("c") * col("c")).as("__syy"))
          .select(col("event_type"), lit(l.toLong).as("lag"), col("n"),
            {
              val dxx = col("n") * col("__sxx") - col("__sx") * col("__sx")
              val dyy = col("n") * col("__syy") - col("__sy") * col("__sy")
              val dxy = col("n") * col("__sxy") - col("__sx") * col("__sy")
              when(dxx > 0L && dyy > 0L,
                graft.core.Exact.zround(dxy.cast("double")
                  / sqrt(dxx.cast("double") * dyy.cast("double")), 6))
                .as("r")
            })
      }.reduce(_ unionByName _).orderBy("event_type", "lag")
    }, oracle = {
      def one(l: Int) =
        s"""SELECT et AS event_type, CAST($l AS BIGINT) AS lag, n,
           |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
           |  THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
           |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
           |        * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0
           |  END AS r
           |FROM (SELECT et, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(p) AS BIGINT) AS sx, CAST(sum(c) AS BIGINT) AS sy,
           |    CAST(sum(c * p) AS BIGINT) AS sxy,
           |    CAST(sum(p * p) AS BIGINT) AS sxx,
           |    CAST(sum(c * c) AS BIGINT) AS syy
           |  FROM (SELECT et, b, c, lag(c, $l) OVER w AS p FROM f
           |        CROSS JOIN rng WINDOW w AS (PARTITION BY et ORDER BY b))
           |    CROSS JOIN rng
           |  WHERE b >= rng.b0 + $l AND p IS NOT NULL GROUP BY et)""".stripMargin
      s"""WITH base AS (SELECT event_type AS et,
         |    epoch_us(ts) // 3600000000 AS b FROM events),
         |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM base),
         |grid AS (SELECT et, gb.b FROM (SELECT DISTINCT et FROM base)
         |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b
         |              FROM rng) gb),
         |cc AS (SELECT et, b, CAST(count(*) AS BIGINT) AS c FROM base
         |  GROUP BY 1, 2),
         |f AS (SELECT g.et, g.b, coalesce(cc.c, 0) AS c FROM grid g
         |  LEFT JOIN cc ON cc.et = g.et AND cc.b = g.b)
         |${one(1)}
         |UNION ALL
         |${one(24)}
         |UNION ALL
         |${one(168)}
         |ORDER BY event_type, lag""".stripMargin
    }),

    // Sample-vs-population calibration: the deterministic h60 1/16
    // sample's scaled estimates next to the exact aggregates, with the
    // error in ppm — fully exact on BOTH sides (the hash sample
    // re-derives identically in DuckDB), unlike a random-sample report.
    Gate("q473_sample_calibration", (s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_id").isNotNull && col("event_type").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("__vc"))
      val exact = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_exact"),
          sum(col("__vc")).as("sum_cents_exact"))
      val est = Corpus.stratifiedSample(ev, "event_id", lit(0.0625))
        .groupBy("event_type")
        .agg((count(lit(1)) * 16L).as("n_est"),
          (sum(col("__vc")) * 16L).as("sum_cents_est"))
      exact.join(est, "event_type")
        .select(col("event_type"), col("n_exact"), col("n_est"),
          idiv(abs(col("n_est") - col("n_exact")) * 1000000L,
            col("n_exact")).as("n_err_ppm"),
          col("sum_cents_exact"), col("sum_cents_est"))
        .orderBy("event_type")
    }, oracle = {
      val h = Dedup.h60Sql("CAST(event_id AS VARCHAR)")
      s"""WITH ev AS (SELECT event_id, event_type,
         |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
         |  FROM events WHERE event_id IS NOT NULL
         |    AND event_type IS NOT NULL AND value IS NOT NULL
         |    AND NOT isnan(value)),
         |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(sum(vc) AS BIGINT) AS sum_cents_exact
         |  FROM ev GROUP BY 1),
         |es AS (SELECT event_type,
         |    CAST(count(*) AS BIGINT) * 16 AS n_est,
         |    CAST(sum(vc) AS BIGINT) * 16 AS sum_cents_est
         |  FROM ev WHERE ($h) % 10000 < 625 GROUP BY 1)
         |SELECT event_type, n_exact, n_est,
         |  abs(n_est - n_exact) * 1000000 // n_exact AS n_err_ppm,
         |  sum_cents_exact, sum_cents_est
         |FROM ex JOIN es USING (event_type)
         |ORDER BY event_type""".stripMargin
    }))

  /** Shared changelog projection for q471/q472: events as CDC rows. */
  private def cdcChangelog(s: org.apache.spark.sql.SparkSession,
                           dir: String) =
    t(s, dir, "events")
      .where(col("user_id").isNotNull && col("event_id").isNotNull)
      .select(col("user_id"), col("event_id"),
        graft.functions.PixieFunctions.nsToUs(col("ts")).as("__tus"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("__op"),
        when(col("value").isNull || isnan(col("value")), lit(null))
          .otherwise(floor(col("value") * 100.0 + 0.5)).cast("long")
          .as("__vc"))

  /** q456's session derivation, shared verbatim by the q459 rollup. */
  /** Per-event session assignment rows (user_id, event_type, tus,
    * session_id) — the SQL twin of [[graft.ops.Events.sessionAssign]];
    * q456/q459/q464/q465 all derive from this one definition.
    */
  private val sessionEventsSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus
      |  FROM events WHERE user_id IS NOT NULL),
      |m AS (SELECT user_id, event_type, tus,
      |    CASE WHEN tus - lag(tus)
      |        OVER (PARTITION BY user_id ORDER BY tus) <= 1800000000
      |      THEN 0 ELSE 1 END AS new_s
      |  FROM e)
      |SELECT user_id, event_type, tus,
      |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS session_id
      |FROM m""".stripMargin

  private val sessionSql: String =
    s"""WITH sev AS ($sessionEventsSql)
       |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
       |  min(tus) AS start_us, max(tus) AS end_us,
       |  max(tus) - min(tus) AS dur_us
       |FROM sev GROUP BY 1, 2""".stripMargin

  /** q462's trailing-window rollup, shared by the q476 panel. */
  private val windowStateSql: String =
    """WITH b AS (SELECT event_type,
      |    epoch_us(ts) // 3600000000 AS b FROM events),
      |hi AS (SELECT max(b) AS hi FROM b),
      |w AS (SELECT event_type, b.b, CAST(count(*) AS BIGINT) AS c
      |  FROM b CROSS JOIN hi WHERE b.b > hi.hi - 168 GROUP BY 1, 2)
      |SELECT event_type, CAST(sum(c) AS BIGINT) AS window_events,
      |  CAST(count(*) AS BIGINT) AS buckets_live,
      |  CAST(max(c) AS BIGINT) AS peak_bucket_events
      |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin

  /** SQL twin of the q471/q472 changelog projection. */
  private val cdcSql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS tus,
      |  CASE WHEN event_type = 'signup' THEN 'I'
      |       WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |  CASE WHEN value IS NULL OR isnan(value) THEN NULL
      |       ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS vc
      |FROM events
      |WHERE user_id IS NOT NULL AND event_id IS NOT NULL""".stripMargin

  private[queries] val kcoreSql: String = {
    val rounds = (0 until 12).map { i =>
      s"""n$i AS MATERIALIZED (SELECT u FROM a$i GROUP BY u
         |  HAVING count(*) >= 3),
         |a${i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM a$i e
         |  JOIN n$i x ON x.u = e.u JOIN n$i y ON y.u = e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH l AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
       |    l_partkey AS p FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |e0 AS MATERIALIZED (SELECT a.p AS a, b.p AS b FROM l a
       |  JOIN l b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |a0 AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
       |  UNION SELECT b, a FROM e0),
       |$rounds
       |SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
       |FROM a12 GROUP BY u ORDER BY node""".stripMargin
  }

  /** Per-type value histogram in integer cents: v(g, c), k(g, c, k). */
  private[queries] val centCountCtes: String =
    """v AS (SELECT event_type AS g,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
      |  FROM events WHERE event_type IS NOT NULL
      |    AND value IS NOT NULL AND NOT isnan(value)),
      |k AS (SELECT g, c, CAST(count(*) AS BIGINT) AS k FROM v
      |  GROUP BY 1, 2)""".stripMargin
}
