package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Classify, Events, Graph, Scale, TextOps}
import graft.queries.Q._

/** Round-8 batch 2: behavioral event analytics (funnel, retention),
  * classifier trust audits (reliability/ECE, Cohen's kappa), and
  * scale-engineering diagnostics (hot-key skew profile, syndication
  * PageRank). Every query ships with a full DuckDB re-derivation;
  * ratios are exact integer ppm per the [[graft.ops.Corpus]] rules.
  */
object Curation4 extends Gates {

  import graft.functions.PixieFunctions.idiv

  /** q32's stopword list (== the `en` marker set) — the shared
    * English-ness signal for the calibration query.
    */
  private val stops = Seq("the", "a", "of", "to", "and", "in", "is")
  private val stopsSqlList = stops.map("'" + _ + "'").mkString(",")

  lazy val gates: Seq[Gate] = Seq(

    // Strict ordered funnel view -> click -> purchase, 7-day window:
    // per-stage distinct-user conversion over the event log.
    Gate("q373_funnel", (s, dir) => {
      Events.funnel(t(s, dir, "events"), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), windowSec = 7L * 86400L)
        .orderBy("stage")
    }, oracle =
      s"""WITH $funnelCtes,
        |cnts AS (
        |  SELECT CAST(0 AS BIGINT) AS stage, 'view' AS event_type,
        |    (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n_users
        |  UNION ALL SELECT 1, 'click',
        |    (SELECT CAST(count(*) AS BIGINT) FROM c1)
        |  UNION ALL SELECT 2, 'purchase',
        |    (SELECT CAST(count(*) AS BIGINT) FROM c2))
        |SELECT stage, event_type, n_users,
        |  CASE WHEN lag(n_users) OVER w IS NULL THEN CAST(1000000 AS BIGINT)
        |       WHEN lag(n_users) OVER w = 0 THEN CAST(0 AS BIGINT)
        |       ELSE n_users * 1000000 // lag(n_users) OVER w
        |  END AS conv_prev_ppm,
        |  CASE WHEN first_value(n_users) OVER w = 0 THEN CAST(0 AS BIGINT)
        |       ELSE n_users * 1000000 // first_value(n_users) OVER w
        |  END AS conv_first_ppm
        |FROM cnts WINDOW w AS (ORDER BY stage) ORDER BY stage""".stripMargin),

    // Weekly retention cohort matrix: first-event epoch-week cohorts x
    // week offsets, distinct active users + retained ppm.
    Gate("q374_retention", (s, dir) => {
      Events.retention(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    }, oracle =
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |coh AS (SELECT u, min(wk) AS cw FROM uw GROUP BY u),
        |cells AS (SELECT cw AS cohort_week, wk - cw AS week_offset,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM uw JOIN coh USING (u) GROUP BY 1, 2),
        |sizes AS (SELECT cohort_week, n_users AS c0 FROM cells
        |  WHERE week_offset = 0)
        |SELECT cohort_week, week_offset, n_users,
        |  n_users * 1000000 // c0 AS retained_ppm
        |FROM cells JOIN sizes USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // Reliability diagram + ECE for a ppm-probability predictor of
    // "document is English" (stopword load, integer-scaled) — is the
    // filter's confidence trustworthy enough to use as a sampling
    // weight?
    Gate("q375_calibration", (s, dir) => {
      val w = split(col("text"), " ")
      val scored = t(s, dir, "documents").select(
        least(idiv(size(filter(w, x => x.isin(stops: _*))).cast("long")
          * 3000000L, size(w).cast("long")), lit(1000000L)).as("prob_ppm"),
        (col("lang") === "en").cast("long").as("y"))
      Classify.calibration(scored, "prob_ppm", "y", bins = 10)
        .orderBy("bin")
    }, oracle =
      s"""WITH d AS (SELECT
         |    least(len(list_filter(string_split(text,' '),
         |        x -> x IN ($stopsSqlList))) * 3000000
         |      // len(string_split(text,' ')), 1000000) AS prob_ppm,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |bins AS (SELECT least(prob_ppm * 10 // 1000000, 9) AS bin,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(sum(prob_ppm) AS BIGINT) AS conf_sum
         |  FROM d GROUP BY 1),
         |pb AS (SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
         |    conf_sum // n AS conf_ppm,
         |    n_pos * 1000000 // n AS acc_ppm FROM bins),
         |pb2 AS (SELECT *, abs(conf_ppm - acc_ppm) AS gap_ppm FROM pb),
         |e AS (SELECT CAST(sum(n * gap_ppm) AS BIGINT)
         |    // CAST(sum(n) AS BIGINT) AS ece_ppm FROM pb2)
         |SELECT bin, n, n_pos, conf_ppm, acc_ppm, gap_ppm, ece_ppm
         |FROM pb2, e ORDER BY bin""".stripMargin),

    // Cohen's kappa of the marker-word language identifier vs the
    // ground-truth lang column: chance-corrected agreement, the
    // label-noise audit for classifier-labeled training data.
    Gate("q376_label_kappa", (s, dir) => {
      Classify.kappa(
        TextOps.langId(t(s, dir, "documents"), "text")
          .select(col("lang_pred"), col("lang")),
        "lang_pred", "lang")
    }, oracle =
      s"""WITH d AS (SELECT $langVoteSql AS a, lang AS b FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
         |  FROM d),
         |ma AS (SELECT a AS c, CAST(count(*) AS BIGINT) AS na FROM d GROUP BY 1),
         |mb AS (SELECT b AS c, CAST(count(*) AS BIGINT) AS nb FROM d GROUP BY 1),
         |pe AS (SELECT CAST(sum(coalesce(na, 0) * coalesce(nb, 0)) AS BIGINT)
         |    AS pe_num FROM ma FULL OUTER JOIN mb USING (c))
         |SELECT n, agree,
         |  agree * 1000000 // n AS po_ppm,
         |  pe_num * 1000000 // (n * n) AS pe_ppm,
         |  CASE WHEN n * n = pe_num THEN NULL
         |       ELSE (agree * n - pe_num) * 1000000 // (n * n - pe_num)
         |  END AS kappa_ppm
         |FROM tot, pe""".stripMargin),

    // Hot-key profile for event_type as a prospective shuffle key at
    // 32-way partitioning: share, deterministic hash bucket, and the
    // salt factor that would level each key.
    Gate("q377_skew_profile", (s, dir) => {
      Scale.skewProfile(t(s, dir, "events"), "event_type",
        topK = 10, partitions = 32)
    }, oracle =
      """WITH c AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT key, n,
        |  n * 1000000 // total AS share_ppm,
        |  CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) % 32 AS bucket,
        |  (n * 32 + total - 1) // total AS salt_factor
        |FROM c, t ORDER BY n DESC, key LIMIT 10""".stripMargin),

    // Crawl-frontier prioritization: 3 rounds of damped weighted
    // PageRank over the lexical-affinity graph (sources joined by the
    // integer dot product of their hashed word profiles — the q343
    // fingerprint, unnormalized). Which source is most central to the
    // corpus's vocabulary, hence where recrawl budget goes first.
    Gate("q378_profile_pagerank", (s, dir) => {
      Graph.pageRank(
          Graph.profileEdges(t(s, dir, "documents"), "text", "source"),
          "src", "dst", "w", iters = 3)
        .orderBy("node")
    }, oracle = {
      val contrib = (p: String) =>
        s"""SELECT e.dst AS node,
           |    CAST(sum((850000 * p.pr // 1000000) * e.w // o.out_w)
           |      AS BIGINT) AS in_w
           |  FROM e JOIN outw o ON o.src = e.src
           |  JOIN $p p ON p.node = e.src GROUP BY e.dst""".stripMargin
      val step = (prev: String, cur: String) =>
        s"""$cur AS (SELECT nodes.node,
           |    150000 // nn.n + coalesce(c.in_w, 0) AS pr
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN (${contrib(prev)}) c ON c.node = nodes.node)""".stripMargin
      s"""WITH $profileGraphCtes,
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM e
         |  GROUP BY src),
         |p0 AS (SELECT node, 1000000 // nn.n AS pr
         |  FROM nodes CROSS JOIN nn),
         |${step("p0", "p1")},
         |${step("p1", "p2")},
         |${step("p2", "p3")}
         |SELECT node, CAST(pr AS BIGINT) AS pr_ppm FROM p3
         |ORDER BY node""".stripMargin
    }),

    // Markov transition matrix over each user's event sequence:
    // (from, to) counts + ppm probability conditional on from_type.
    Gate("q379_event_transitions", (s, dir) => {
      Events.transitionMatrix(t(s, dir, "events"), "user_id",
          "event_type", "ts", "event_id")
        .orderBy("from_type", "to_type")
    }, oracle = q379OracleSql),

    // Peak in-flight spans per event type (span = [ts, ts + value
    // seconds)): sweep-line max concurrency + the earliest peak
    // instant, banded-prefix exact.
    Gate("q380_span_concurrency", (s, dir) => {
      Events.spanConcurrency(t(s, dir, "events"), "event_type", "ts",
          round(col("value") * lit(1000000.0)).cast("long"))
        .orderBy("event_type")
    }, oracle =
      """WITH ev AS (SELECT event_type AS et, epoch_us(ts) AS t,
        |    CAST(round(value * 1000000) AS BIGINT) AS dur FROM events),
        |deltas AS (SELECT et, t, 1 AS d FROM ev
        |  UNION ALL SELECT et, t + dur, -1 FROM ev),
        |net AS (SELECT et, t, CAST(sum(d) AS BIGINT) AS net FROM deltas
        |  GROUP BY 1, 2),
        |cum AS (SELECT et, t,
        |    sum(net) OVER (PARTITION BY et ORDER BY t) AS c FROM net),
        |peaks AS (SELECT et, CAST(max(c) AS BIGINT) AS peak FROM cum
        |  GROUP BY et),
        |spans AS (SELECT et, CAST(count(*) AS BIGINT) AS n_spans FROM ev
        |  GROUP BY et)
        |SELECT cum.et AS event_type, n_spans,
        |  peak AS peak_concurrency, CAST(min(t) AS BIGINT) AS peak_at_us
        |FROM cum JOIN peaks ON peaks.et = cum.et AND cum.c = peaks.peak
        |JOIN spans ON spans.et = cum.et
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    // CUSUM changepoint per event type over minute bins: where the
    // cumulative rate deviation peaks, in exact N-scaled integers.
    Gate("q381_rate_changepoint", (s, dir) => {
      Events.rateChangepoint(t(s, dir, "events"), "event_type", "ts",
          binUs = 60L * 1000000L)
        .orderBy("event_type")
    }, oracle =
      s"""WITH ${binGridCtes(60000000L)},
        |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c FROM grid g
        |  LEFT JOIN c ON c.et = g.et AND c.b = g.b),
        |tot AS (SELECT et, CAST(sum(c) AS BIGINT) AS t FROM f GROUP BY et),
        |s AS (SELECT f.et, f.b, tot.t, rng.b1 - rng.b0 + 1 AS nb,
        |    (rng.b1 - rng.b0 + 1)
        |      * sum(f.c) OVER (PARTITION BY f.et ORDER BY f.b)
        |      - row_number() OVER (PARTITION BY f.et ORDER BY f.b) * tot.t
        |      AS s
        |  FROM f CROSS JOIN rng JOIN tot ON tot.et = f.et),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY et ORDER BY abs(s) DESC, b) AS rn FROM s)
        |SELECT et AS event_type, b AS cp_bin, CAST(s AS BIGINT)
        |    AS cusum_scaled,
        |  CAST(sign(s) AS BIGINT) AS direction, nb AS n_bins,
        |  t AS n_events
        |FROM r WHERE rn = 1 ORDER BY et""".stripMargin),

    // Z-order (Morton) layout of lineitem by (l_partkey, l_suppkey)
    // into 64 balanced files + each file's zone map — the min/max
    // stats a reader prunes with.
    Gate("q382_zorder_layout", (s, dir) => {
      Scale.zorderLayout(
          t(s, dir, "lineitem").withColumn("rid",
            col("l_orderkey") * 8L + col("l_linenumber")),
          "l_partkey", "l_suppkey", "rid", bits = 8, nFiles = 64)
        .orderBy("file")
    }, oracle =
      s"""WITH $zLayoutCtes,
         |r AS (SELECT x, y,
         |    (row_number() OVER (ORDER BY zord, id) - 1) * 64 // nn.n
         |      AS file
         |  FROM g, nn)
         |SELECT file, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y
         |FROM r GROUP BY file ORDER BY file""".stripMargin),

    // Zone-map skipping: files scanned under z-order vs linear-by-x
    // for four rectangular predicates, with true selectivities.
    Gate("q383_zonemap_skipping", (s, dir) => {
      Scale.zonemapSkipReport(
          t(s, dir, "lineitem").withColumn("rid",
            col("l_orderkey") * 8L + col("l_linenumber")),
          "l_partkey", "l_suppkey", "rid", bits = 8, nFiles = 64,
          preds = zonePreds)
        .orderBy("pred_id", "layout")
    }, oracle =
      s"""WITH $zLayoutCtes,
         |zf AS (SELECT x, y,
         |    (row_number() OVER (ORDER BY zord, id) - 1) * 64 // nn.n
         |      AS file FROM g, nn),
         |lf AS (SELECT x, y,
         |    (row_number() OVER (ORDER BY x, id) - 1) * 64 // nn.n
         |      AS file FROM g, nn),
         |zz AS (SELECT 'zorder' AS layout, file, min(x) AS min_x,
         |    max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |  FROM zf GROUP BY file
         |  UNION ALL SELECT 'linear', file, min(x), max(x), min(y), max(y)
         |  FROM lf GROUP BY file),
         |p AS (SELECT * FROM (VALUES $zonePredsSql)
         |  AS t(pred_id, xlo, xhi, ylo, yhi)),
         |scans AS (SELECT pred_id, layout,
         |    CAST(sum(CASE WHEN NOT (max_x < xlo OR min_x > xhi
         |        OR max_y < ylo OR min_y > yhi) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS files_scanned,
         |    CAST(count(*) AS BIGINT) AS files_total
         |  FROM zz, p GROUP BY 1, 2),
         |rm AS (SELECT pred_id, CAST(count(*) AS BIGINT) AS rows_matched
         |  FROM d, p WHERE x >= xlo AND x <= xhi AND y >= ylo AND y <= yhi
         |  GROUP BY 1)
         |SELECT s.pred_id, s.layout, files_scanned, files_total,
         |  (files_total - files_scanned) * 1000000 // files_total
         |    AS skip_ppm,
         |  coalesce(rows_matched, 0) AS rows_matched
         |FROM scans s LEFT JOIN rm USING (pred_id)
         |ORDER BY pred_id, layout""".stripMargin),

    // Hourly latency percentile bands: exact nearest-rank p50/p95/p99
    // of value (in cents) per (event_type, hour) — the SLO dashboard.
    Gate("q388_latency_bands", (s, dir) => {
      Events.latencyBands(t(s, dir, "events"), "event_type", "ts",
          "value", binUs = 3600L * 1000000L)
        .orderBy("event_type", "bin")
    }, oracle =
      """WITH base AS (SELECT event_type AS et,
        |    epoch_us(ts) // 3600000000 AS b,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |rk AS (SELECT et, b, cents,
        |    row_number() OVER (PARTITION BY et, b ORDER BY cents) AS r,
        |    CAST(count(*) OVER (PARTITION BY et, b) AS BIGINT) AS n
        |  FROM base)
        |SELECT et AS event_type, b AS bin, max(n) AS n,
        |  max(CASE WHEN r = (n * 50 + 99) // 100 THEN cents END) AS p50_c,
        |  max(CASE WHEN r = (n * 95 + 99) // 100 THEN cents END) AS p95_c,
        |  max(CASE WHEN r = (n * 99 + 99) // 100 THEN cents END) AS p99_c
        |FROM rk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ROLLUP revenue report: Catalyst's native grouping-sets operator
    // over (returnflag, linestatus) with subtotal and grand-total rows,
    // quantized-sum exact.
    Gate("q389_revenue_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          qsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle =
      s"""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
         |  ${qsumSql("l_extendedprice * (1 - l_discount)")} AS rev
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY 1, 2""".stripMargin),

    // Salted skew join: events (hot event_type keys) joined to the
    // per-type stats dim on (key, salt) — result EXACTLY the plain
    // join (shared-oracle contract), skew spread 4-fold.
    Gate("q390_salted_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.groupBy("event_type")
        .agg(count(lit(1)).as("type_n"),
          sum(round(col("value") * lit(100.0)).cast("long")).as("type_cents"))
      graft.ops.Scale.saltedJoin(ev, dim, "event_type", "event_id", 4)
        .select(col("event_id"), col("event_type"), col("type_n"),
          col("type_cents"))
        .orderBy("event_id")
    }, oracle =
      """WITH dim AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS type_n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS type_cents
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, dim.type_n, dim.type_cents
        |FROM events e JOIN dim USING (event_type)
        |ORDER BY e.event_id""".stripMargin),

    // Time-weighted mean vs naive mean per type: gauge averaging where
    // each sample holds until the next one (banded lead, exact
    // cents x microsecond arithmetic).
    Gate("q391_time_weighted_mean", (s, dir) => {
      Events.timeWeightedMean(t(s, dir, "events"), "event_type", "ts",
          "value", "event_id")
        .orderBy("event_type")
    }, oracle =
      """WITH base AS (SELECT event_type AS et, epoch_us(ts) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    event_id AS eid FROM events),
        |led AS (SELECT et, t, cents,
        |    lead(t) OVER (PARTITION BY et ORDER BY t, eid) AS nt
        |  FROM base),
        |a AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
        |    max(t) - min(t) AS span_us,
        |    CAST(sum(cents * coalesce(nt - t, 0)) AS BIGINT) AS wsum,
        |    CAST(sum(cents) AS BIGINT) AS csum
        |  FROM led GROUP BY et)
        |SELECT et AS event_type, n, span_us,
        |  CASE WHEN span_us > 0 THEN wsum // span_us END AS twa_c,
        |  csum // n AS mean_c FROM a ORDER BY et""".stripMargin),

    // Time-to-convert per funnel stage: doubled-median + mean wait
    // between consecutive stage conversions (view->click->purchase).
    Gate("q392_funnel_times", (s, dir) => {
      Events.funnelTimes(t(s, dir, "events"), "user_id", "event_type",
          "ts", Seq("view", "click", "purchase"), windowSec = 7L * 86400L)
        .orderBy("stage")
    }, oracle =
      s"""WITH $funnelCtes,
        |d1 AS (SELECT c1.tk - s0.t0 AS dt FROM c1 JOIN s0 ON s0.u = c1.u),
        |d2 AS (SELECT c2.tk - c1.tk AS dt FROM c2 JOIN c1 ON c1.u = c2.u),
        |r1 AS (SELECT dt, row_number() OVER (ORDER BY dt) AS r,
        |    CAST(count(*) OVER () AS BIGINT) AS n FROM d1),
        |m1 AS (SELECT max(n) AS n, CAST(
        |    sum(CASE WHEN r = (n + 1) // 2 THEN dt END)
        |    + sum(CASE WHEN r = (n + 2) // 2 THEN dt END) AS BIGINT) AS med2,
        |    CAST(sum(dt) AS BIGINT) AS s FROM r1),
        |r2 AS (SELECT dt, row_number() OVER (ORDER BY dt) AS r,
        |    CAST(count(*) OVER () AS BIGINT) AS n FROM d2),
        |m2 AS (SELECT max(n) AS n, CAST(
        |    sum(CASE WHEN r = (n + 1) // 2 THEN dt END)
        |    + sum(CASE WHEN r = (n + 2) // 2 THEN dt END) AS BIGINT) AS med2,
        |    CAST(sum(dt) AS BIGINT) AS s FROM r2)
        |SELECT CAST(1 AS BIGINT) AS stage, 'click' AS event_type,
        |  n AS n_users, med2 AS med2_dt_us, s // n AS mean_dt_us
        |FROM m1 WHERE n IS NOT NULL
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'purchase', n, med2, s // n
        |FROM m2 WHERE n IS NOT NULL
        |ORDER BY stage""".stripMargin),

    // Theil-Sen robust trend per event type over 6-hour buckets:
    // median pairwise slope, outlier-resistant drift detection.
    Gate("q393_sen_trend", (s, dir) => {
      Events.senTrend(t(s, dir, "events"), "event_type", "ts",
          binUs = 6L * 3600L * 1000000L)
        .orderBy("event_type")
    }, oracle =
      s"""WITH ${binGridCtes(21600000000L)},
        |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c FROM grid g
        |  LEFT JOIN c ON c.et = g.et AND c.b = g.b),
        |p AS (SELECT a.et, a.b AS bi, a.c AS ci, j.b AS bj, j.c AS cj,
        |    CAST(j.c - a.c AS DOUBLE) / (j.b - a.b) AS slope
        |  FROM f a JOIN f j ON j.et = a.et AND a.b < j.b),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY et ORDER BY slope, bi, bj) AS r,
        |    CAST(count(*) OVER (PARTITION BY et) AS BIGINT) AS n FROM p),
        |m AS (SELECT et, max(n) AS n_pairs,
        |    sum(CASE WHEN r = (n + 1) // 2 THEN slope END)
        |    + sum(CASE WHEN r = (n + 2) // 2 THEN slope END) AS m2
        |  FROM r GROUP BY et)
        |SELECT et AS event_type, rng.b1 - rng.b0 + 1 AS n_bins, n_pairs,
        |  round(m2 / 2.0, 6) + 0.0 AS sen_slope,
        |  CAST(sign(m2) AS BIGINT) AS direction
        |FROM m CROSS JOIN rng ORDER BY et""".stripMargin),

    // Cumulative + trailing 24-hour moving sum/average of hourly cents
    // per type over the zero-filled grid — the dashboard timeseries.
    Gate("q394_moving_stats", (s, dir) => {
      Events.movingStats(t(s, dir, "events"), "event_type", "ts",
          "value", binUs = 3600L * 1000000L, window = 24)
        .orderBy("event_type", "bin")
    }, oracle =
      """WITH base AS (SELECT event_type AS et,
        |    epoch_us(ts) // 3600000000 AS b,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM base),
        |grid AS (SELECT et, gb.b FROM (SELECT DISTINCT et FROM base)
        |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b FROM rng) gb),
        |s AS (SELECT et, b, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS c_sum FROM base GROUP BY 1, 2),
        |f AS (SELECT g.et, g.b, coalesce(s.n, 0) AS n,
        |    coalesce(s.c_sum, 0) AS c_sum FROM grid g
        |  LEFT JOIN s ON s.et = g.et AND s.b = g.b)
        |SELECT et AS event_type, b AS bin, n, c_sum,
        |  CAST(sum(c_sum) OVER (PARTITION BY et ORDER BY b) AS BIGINT)
        |    AS cum_sum,
        |  CAST(sum(c_sum) OVER (PARTITION BY et ORDER BY b
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma_sum,
        |  CAST(sum(c_sum) OVER (PARTITION BY et ORDER BY b
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) // 24
        |    AS ma_avg
        |FROM f ORDER BY et, b""".stripMargin),

    // Weekly growth accounting: new / retained / resurrected actives
    // plus the churned count landing the week after last activity.
    Gate("q395_growth_accounting", (s, dir) => {
      Events.growthAccounting(t(s, dir, "events"), "user_id", "ts")
        .orderBy("week")
    }, oracle =
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |l AS (SELECT u, wk,
        |    min(wk) OVER (PARTITION BY u) AS fw,
        |    lag(wk) OVER (PARTITION BY u ORDER BY wk) AS pw,
        |    lead(wk) OVER (PARTITION BY u ORDER BY wk) AS nw
        |  FROM uw),
        |act AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN wk = fw THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN pw = wk - 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_retained,
        |    CAST(sum(CASE WHEN wk <> fw
        |        AND (pw IS NULL OR pw <> wk - 1) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM l GROUP BY wk),
        |ch AS (SELECT wk + 1 AS wk, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM l WHERE nw IS NULL OR nw <> wk + 1 GROUP BY 1)
        |SELECT coalesce(act.wk, ch.wk) AS week,
        |  coalesce(n_active, 0) AS n_active, coalesce(n_new, 0) AS n_new,
        |  coalesce(n_retained, 0) AS n_retained,
        |  coalesce(n_resurrected, 0) AS n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned
        |FROM act FULL OUTER JOIN ch ON act.wk = ch.wk
        |ORDER BY week""".stripMargin),

    // Ingest-time transition pairs (per-user last-event state) replayed
    // AvailableNow, then the shared count/ppm tail: identical matrix to
    // the batch q379 window — shares its oracle verbatim.
    Gate("q396_streaming_transitions", (s, dir) => {
      val pairs = replayPaths(s, dir, 2)
        .select(element_at(col("steps"), 1).as("from_type"),
          element_at(col("steps"), 2).as("to_type"))
      Events.transitionReport(pairs).orderBy("from_type", "to_type")
    }, oracle =
      // Streaming state == batch window: the ingest-time pair stream
      // aggregates to the identical matrix (q379's oracle verbatim).
      q379OracleSql),

    // Ingest-time trigram windows (per-user sliding-window state) ->
    // the shared top-paths tail: shares q387's oracle.
    Gate("q397_streaming_paths", (s, dir) => {
      val paths = replayPaths(s, dir, 3)
        .select(concat_ws(">", col("steps")).as("path"))
      Events.pathReport(paths, 10)
    }, oracle =
      // Streaming trigram stream == batch lead-chain top paths.
      q387OracleSql),

    // Hysteresis alerting on the per-shard hourly error rate: ON above
    // 30%, OFF at/below 15%, dead band keeps prior state — flap-free
    // alert + fired/cleared edges, window-expressed (no UDF state).
    Gate("q398_alert_hysteresis", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("shard", pmod(col("user_id"), lit(4L)))
      graft.ops.Alerts.alertHysteresis(
          graft.ops.Alerts.errorRates(ev, "shard", "ts",
            col("event_type") === "error", binUs = 3600L * 1000000L),
          hiPpm = 300000L, loPpm = 150000L)
        .orderBy("k", "b")
    }, oracle =
      s"""WITH $ratesCtes,
         |st AS (SELECT k, b, n, n_err, err_ppm,
         |    coalesce(last_value(CASE WHEN err_ppm > 300000 THEN 1
         |        WHEN err_ppm <= 150000 THEN 0 END IGNORE NULLS)
         |      OVER (PARTITION BY k ORDER BY b
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
         |      AS alert
         |  FROM rates)
         |SELECT k, b, n, n_err, err_ppm, CAST(alert AS BIGINT) AS alert,
         |  CAST(CASE WHEN alert = 1 AND coalesce(lag(alert)
         |      OVER (PARTITION BY k ORDER BY b), 0) = 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS fired,
         |  CAST(CASE WHEN alert = 0 AND coalesce(lag(alert)
         |      OVER (PARTITION BY k ORDER BY b), 0) = 1
         |    THEN 1 ELSE 0 END AS BIGINT) AS cleared
         |FROM st ORDER BY k, b""".stripMargin),

    // Multi-window SLO burn rate (75% target): trailing 6h + 24h
    // windows per shard, burn x100 integers (100 = exactly on budget).
    Gate("q399_burn_rate", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("shard", pmod(col("user_id"), lit(4L)))
      graft.ops.Alerts.burnRate(
          graft.ops.Alerts.errorRates(ev, "shard", "ts",
            col("event_type") === "error", binUs = 3600L * 1000000L),
          sloPpm = 750000L, windows = Seq(6, 24))
        .orderBy("k", "b")
    }, oracle =
      s"""WITH $ratesCtes
         |SELECT k, b, err_ppm,
         |  CASE WHEN CAST(sum(n) OVER w6 AS BIGINT) > 0
         |    THEN CAST(sum(n_err) OVER w6 AS BIGINT) * 100000000
         |      // (CAST(sum(n) OVER w6 AS BIGINT) * 250000)
         |    ELSE 0 END AS burn6_x100,
         |  CASE WHEN CAST(sum(n) OVER w24 AS BIGINT) > 0
         |    THEN CAST(sum(n_err) OVER w24 AS BIGINT) * 100000000
         |      // (CAST(sum(n) OVER w24 AS BIGINT) * 250000)
         |    ELSE 0 END AS burn24_x100
         |FROM rates
         |WINDOW w6 AS (PARTITION BY k ORDER BY b
         |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
         |  w24 AS (PARTITION BY k ORDER BY b
         |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
         |ORDER BY k, b""".stripMargin),

    // Apdex per (event_type, hour): T = 1 s, exact
    // (2*sat + tol)*1e6 // (2*n) ppm.
    Gate("q400_apdex", (s, dir) => {
      graft.ops.Alerts.apdex(t(s, dir, "events"), "event_type", "ts",
          "value", tCents = 100L, binUs = 3600L * 1000000L)
        .orderBy("k", "b")
    }, oracle =
      """WITH d AS (SELECT event_type AS k,
        |    epoch_us(ts) // 3600000000 AS b,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events)
        |SELECT k, b, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN c <= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_satisfied,
        |  CAST(sum(CASE WHEN c > 100 AND c <= 400 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_tolerating,
        |  (CAST(sum(CASE WHEN c <= 100 THEN 1 ELSE 0 END) AS BIGINT) * 2
        |    + CAST(sum(CASE WHEN c > 100 AND c <= 400 THEN 1 ELSE 0 END)
        |        AS BIGINT)) * 1000000
        |    // (CAST(count(*) AS BIGINT) * 2) AS apdex_ppm
        |FROM d GROUP BY k, b ORDER BY k, b""".stripMargin),

    // Latency heatmap: (event_type, 6-hour bucket, 20s-value cell)
    // density with per-column ppm share; overflow cell capped.
    Gate("q401_latency_heatmap", (s, dir) => {
      graft.ops.Alerts.latencyHeatmap(t(s, dir, "events"), "event_type",
          "ts", "value", binUs = 6L * 3600L * 1000000L,
          cellCents = 2000L, maxBucket = 20)
        .orderBy("k", "b", "vb")
    }, oracle =
      """WITH d AS (SELECT event_type AS k,
        |    epoch_us(ts) // 21600000000 AS b,
        |    least(CAST(round(value * 100) AS BIGINT) // 2000, 20) AS vb
        |  FROM events),
        |cell AS (SELECT k, b, vb, CAST(count(*) AS BIGINT) AS n FROM d
        |  GROUP BY 1, 2, 3),
        |tot AS (SELECT k, b, CAST(sum(n) AS BIGINT) AS t FROM cell
        |  GROUP BY 1, 2)
        |SELECT k, b, vb, n, n * 1000000 // t AS share_ppm
        |FROM cell JOIN tot USING (k, b) ORDER BY k, b, vb""".stripMargin),

    // DAU / WAU / MAU + stickiness over the zero-filled day grid:
    // bounded per-(user, day) fan-out, no sliding-distinct window.
    Gate("q402_active_users", (s, dir) => {
      Events.activeUsers(t(s, dir, "events"), "user_id", "ts")
        .orderBy("day")
    }, oracle =
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 86400000000 AS d FROM events
        |  WHERE user_id IS NOT NULL),
        |rng AS (SELECT min(d) AS d0, max(d) AS d1 FROM ud),
        |days AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM rng),
        |dau AS (SELECT d AS day, CAST(count(*) AS BIGINT) AS dau FROM ud
        |  GROUP BY 1),
        |wau AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS wau FROM
        |  (SELECT u, unnest(range(d, least(d + 7, d1 + 1))) AS day
        |   FROM ud, rng) GROUP BY day),
        |mau AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS mau FROM
        |  (SELECT u, unnest(range(d, least(d + 28, d1 + 1))) AS day
        |   FROM ud, rng) GROUP BY day)
        |SELECT days.day, coalesce(dau, 0) AS dau, coalesce(wau, 0) AS wau,
        |  coalesce(mau, 0) AS mau,
        |  CASE WHEN coalesce(mau, 0) > 0
        |    THEN coalesce(dau, 0) * 1000000 // mau ELSE 0 END
        |    AS stickiness_ppm
        |FROM days LEFT JOIN dau USING (day) LEFT JOIN wau USING (day)
        |LEFT JOIN mau USING (day) ORDER BY days.day""".stripMargin),

    // Cohort LTV curve: per (first-week cohort, offset) period + the
    // running cumulative revenue and per-user LTV, integer cents.
    Gate("q403_cohort_ltv", (s, dir) => {
      Events.cohortLtv(t(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("cohort_week", "week_offset")
    }, oracle =
      """WITH base AS (SELECT user_id AS u,
        |    epoch_us(ts) // 604800000000 AS wk,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |coh AS (SELECT u, min(wk) AS cw FROM base GROUP BY u),
        |cells AS (SELECT cw, wk - cw AS off,
        |    CAST(sum(cents) AS BIGINT) AS rev_c,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM base JOIN coh USING (u) GROUP BY 1, 2),
        |mx AS (SELECT max(wk) AS m FROM base),
        |grid AS (SELECT cw, unnest(range(0, m - cw + 1)) AS off
        |  FROM (SELECT DISTINCT cw FROM coh) CROSS JOIN mx),
        |sizes AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users FROM coh
        |  GROUP BY cw),
        |f AS (SELECT g.cw, g.off, coalesce(c.rev_c, 0) AS rev_c,
        |    coalesce(c.n_events, 0) AS n_events
        |  FROM grid g LEFT JOIN cells c ON c.cw = g.cw AND c.off = g.off)
        |SELECT f.cw AS cohort_week, f.off AS week_offset, n_users,
        |  n_events, rev_c,
        |  CAST(sum(rev_c) OVER (PARTITION BY f.cw ORDER BY f.off)
        |    AS BIGINT) AS cum_rev_c,
        |  CAST(sum(rev_c) OVER (PARTITION BY f.cw ORDER BY f.off)
        |    AS BIGINT) // n_users AS ltv_per_user_c
        |FROM f JOIN sizes ON sizes.cw = f.cw
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // Per-source length percentile of every document — the in-slice
    // position signal curation thresholds key on; banded in-group rank.
    Gate("q404_source_percentile", (s, dir) => {
      graft.ops.Corpus.groupPercentile(t(s, dir, "documents"), "source",
          "doc_id", col("n_chars"), bandWidth = 64L)
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS score
        |  FROM documents),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM d)
        |SELECT source, doc_id, score,
        |  CASE WHEN n > 1 THEN (rn - 1) * 1000000 // (n - 1)
        |    ELSE 0 END AS pct_ppm
        |FROM r ORDER BY doc_id""".stripMargin),

    // Last-touch attribution: each purchase as-of-joins (backward,
    // user-keyed) its latest preceding click/view; revenue and share
    // per touch type, 'none' for unattributed — q242's as-of machinery
    // composed into the classic marketing read.
    Gate("q405_attribution", (s, dir) => {
      // null users are excluded on BOTH legs: the window-based as-of
      // would group NULL user_ids into one partition and attribute
      // them to each other, while the oracle's correlated equality
      // predicate never matches NULL (round-8c review)
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          round(col("value") * lit(100.0)).cast("long").as("cents"),
          col("event_id"))
      val touches = ev.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts"),
          col("event_type").as("touch_type"), col("event_id"))
      val att = graft.ops.AsOf.joinBackward(purchases, touches,
        Seq("user_id"), "ts", "ts", "t_", Some("event_id"))
      val counts = att
        .groupBy(coalesce(col("t_touch_type"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("rev_c"))
      val total = counts.agg(sum(col("n")).as("__t"))
      counts.crossJoin(broadcast(total))
        .select(col("touch_type"), col("n"), col("rev_c"),
          graft.functions.PixieFunctions.idiv(col("n") * 1000000L,
            col("__t")).as("share_ppm"))
        .orderBy("touch_type")
    }, oracle =
      """WITH p AS (SELECT user_id, epoch_us(ts) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS cents, event_id
        |  FROM events WHERE event_type = 'purchase'
        |    AND user_id IS NOT NULL),
        |tch AS (SELECT user_id, epoch_us(ts) AS t,
        |    event_type AS tt, event_id AS eid FROM events
        |  WHERE event_type IN ('click', 'view')
        |    AND user_id IS NOT NULL),
        |att AS (SELECT p.cents,
        |    (SELECT tt FROM tch
        |     WHERE tch.user_id = p.user_id AND tch.t <= p.t
        |     ORDER BY tch.t DESC, tch.eid DESC LIMIT 1) AS touch_type
        |  FROM p),
        |c AS (SELECT coalesce(touch_type, 'none') AS touch_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS rev_c
        |  FROM att GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
        |SELECT touch_type, n, rev_c, n * 1000000 // t AS share_ppm
        |FROM c, tot ORDER BY touch_type""".stripMargin),

    // SymSpell edit-distance-1 vocabulary pairs: deletion-neighborhood
    // candidates + exact levenshtein verify, over the corpus vocab
    // with deterministically planted typos (2nd char dropped for a
    // hash-selected third of length>=4 words).
    Gate("q406_fuzzy_vocab", (s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "").distinct()
      val typos = vocab
        .where(length(col("w")) >= 4 &&
          pmod(graft.ops.Dedup.h60(col("w")), lit(3L)) === 0)
        .select(concat(col("w").substr(lit(1), lit(1)),
          col("w").substr(lit(3), length(col("w")))).as("w"))
      graft.ops.Dedup.fuzzyPairs(vocab.unionByName(typos), "w")
        .orderBy("wa", "wb")
    }, oracle = {
      val h = graft.ops.Dedup.h60Sql("w")
      s"""WITH vocab AS (SELECT DISTINCT unnest(string_split(text, ' '))
         |    AS w FROM documents),
         |typos AS (SELECT substr(w, 1, 1) || substr(w, 3, length(w)) AS w
         |  FROM vocab WHERE length(w) >= 4 AND ($h) % 3 = 0),
         |words AS (SELECT DISTINCT w FROM
         |  (SELECT w FROM vocab UNION ALL SELECT w FROM typos)
         |  WHERE w IS NOT NULL AND w <> ''),
         |v AS (SELECT w, unnest([w] || [substr(w, 1, i - 1)
         |      || substr(w, i + 1, length(w))
         |    for i in range(1, length(w) + 1)]) AS var
         |  FROM words),
         |cand AS (SELECT DISTINCT a.w AS wa, b.w AS wb
         |  FROM v a JOIN v b ON a.var = b.var AND a.w < b.w)
         |SELECT wa, wb, CAST(levenshtein(wa, wb) AS BIGINT) AS dist
         |FROM cand WHERE levenshtein(wa, wb) <= 1
         |ORDER BY wa, wb""".stripMargin
    }),

    // dbt-style data-quality suite: not-null / unique / range /
    // referential checks over the relational tables + events, one
    // pass/fail row per check — the promotion gate a snapshot must
    // clear.
    Gate("q407_quality_checks", (s, dir) => {
      import graft.ops.Quality
      val li = t(s, dir, "lineitem"); val ord = t(s, dir, "orders")
      Quality.suite(Seq(
          Quality.notNull(li, "lineitem", "l_orderkey"),
          Quality.unique(ord, "orders", Seq("o_orderkey")),
          Quality.acceptedRange(li, "lineitem", "l_quantity", 1, 50),
          Quality.referential(li, "lineitem", "l_orderkey", ord,
            "o_orderkey"),
          Quality.unique(t(s, dir, "customer"), "customer",
            Seq("c_custkey")),
          Quality.acceptedRange(t(s, dir, "events"), "events", "value",
            0, 1000)))
        .orderBy("check", "target")
    }, oracle =
      """SELECT * FROM (
        |SELECT 'not_null' AS "check", 'lineitem.l_orderkey' AS target,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_violations,
        |  CAST(count(*) AS BIGINT) AS n_total,
        |  sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS pass
        |FROM lineitem
        |UNION ALL
        |SELECT 'unique', 'orders.(o_orderkey)',
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
        |  CAST(count(*) AS BIGINT),
        |  count(*) = count(DISTINCT o_orderkey) FROM orders
        |UNION ALL
        |SELECT 'accepted_range', 'lineitem.l_quantity',
        |  CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |    OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT),
        |  sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |    OR l_quantity > 50 THEN 1 ELSE 0 END) = 0 FROM lineitem
        |UNION ALL
        |SELECT 'referential', 'lineitem.l_orderkey',
        |  CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(*) AS BIGINT),
        |  sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders)
        |  o ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'unique', 'customer.(c_custkey)',
        |  CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT),
        |  CAST(count(*) AS BIGINT),
        |  count(*) = count(DISTINCT c_custkey) FROM customer
        |UNION ALL
        |SELECT 'accepted_range', 'events.value',
        |  CAST(sum(CASE WHEN value IS NULL OR value < 0
        |    OR value > 1000 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT),
        |  sum(CASE WHEN value IS NULL OR value < 0
        |    OR value > 1000 THEN 1 ELSE 0 END) = 0 FROM events
        |) ORDER BY "check", target""".stripMargin),

    // Seasonal-baseline deviation: top-5 hours per type most deviant
    // from their own hour-of-day baseline — "busier than 3am usually
    // is", milli-scaled exact integers.
    Gate("q408_seasonal_deviation", (s, dir) => {
      Events.seasonalDeviation(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600L * 1000000L, topK = 5)
        .orderBy("event_type", "rank")
    }, oracle =
      s"""WITH ${binGridCtes(3600000000L)},
        |f AS (SELECT g.et, g.b, g.b % 24 AS hod, coalesce(c.c, 0) AS c
        |  FROM grid g LEFT JOIN c ON c.et = g.et AND c.b = g.b),
        |bl AS (SELECT et, hod,
        |    CAST(sum(c) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT)
        |      AS baseline_milli
        |  FROM f GROUP BY 1, 2),
        |d AS (SELECT f.et, f.b, f.hod, f.c, bl.baseline_milli,
        |    f.c * 1000 - bl.baseline_milli AS dev_milli
        |  FROM f JOIN bl ON bl.et = f.et AND bl.hod = f.hod),
        |r AS (SELECT *, row_number() OVER (PARTITION BY et
        |    ORDER BY abs(dev_milli) DESC, b) AS rank FROM d)
        |SELECT et AS event_type, CAST(rank AS INTEGER) AS rank,
        |  b AS bin, hod, c, baseline_milli, dev_milli
        |FROM r WHERE rank <= 5 ORDER BY et, rank""".stripMargin),

    // Bounded BFS: hop distances from the lexicographically-least
    // source over the profile graph, 3 Pregel rounds.
    Gate("q409_graph_hops", (s, dir) => {
      graft.ops.Graph.hopDistances(
          graft.ops.Graph.profileEdges(t(s, dir, "documents"), "text",
            "source"),
          "src", "dst", min(col("src")), maxHops = 3)
        .orderBy("node")
    }, oracle = {
      val step = (h: Int) =>
        s"""n$h AS (SELECT e.dst AS node, CAST($h AS BIGINT) AS hop
           |  FROM e JOIN h${h - 1} p ON e.src = p.node
           |  WHERE p.hop = ${h - 1}),
           |h$h AS (SELECT node, min(hop) AS hop FROM
           |  (SELECT * FROM h${h - 1} UNION ALL SELECT * FROM n$h)
           |  GROUP BY node)""".stripMargin
      s"""WITH $profileGraphCtes,
         |h0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS hop FROM e),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT node, hop FROM h3 ORDER BY node""".stripMargin
    }),

    // Delete docs from the persisted dedup index (tombstone path),
    // then run the indexed delta: decisions must match the
    // shrunk-corpus oracle — deleted docs no longer block admission.
    Gate("q384_dedup_index_delete", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      val deleted = corpus.where(pmod(col("doc_id"), lit(7L)) === 0)
      val remaining = corpus.where(pmod(col("doc_id"), lit(7L)) =!= 0)
      val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
      val idx = Curation2.tempIndexDir("graft_dedup_delete_")
      try {
        graft.ops.Dedup.writeDedupIndex(corpus, "text", "doc_id", idx,
          3, 16, 4)
        graft.ops.Dedup.deleteFromDedupIndex(s, idx, corpus, deleted,
          "text", "doc_id")
        graft.ops.Dedup.incrementalDedupIndexed(idx, remaining, batch,
            "text", "doc_id", 3, 16, 4, 0.8)
          .orderBy("doc_id")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(idx)
    }, oracle = Curation.incrementalDedupOracle(
      "doc_id % 5 <> 0 AND doc_id % 7 <> 0", "doc_id % 5 = 0")),

    // MAD-robust rate anomalies: top-5 most deviant hour buckets per
    // event type, z-scores as exact doubled-integer order statistics.
    Gate("q386_rate_anomalies", (s, dir) => {
      Events.rateAnomalies(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600L * 1000000L, topK = 5)
        .orderBy("event_type", "rank")
    }, oracle =
      s"""WITH ${binGridCtes(3600000000L)},
        |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c,
        |    rng.b1 - rng.b0 + 1 AS n
        |  FROM grid g LEFT JOIN c ON c.et = g.et AND c.b = g.b
        |  CROSS JOIN rng),
        |rc AS (SELECT *, row_number()
        |    OVER (PARTITION BY et ORDER BY c, b) AS r FROM f),
        |med AS (SELECT et, CAST(
        |    sum(CASE WHEN r = (n + 1) // 2 THEN c END)
        |    + sum(CASE WHEN r = (n + 2) // 2 THEN c END) AS BIGINT) AS med2
        |  FROM rc GROUP BY et),
        |d AS (SELECT f.et, f.b, f.c, f.n, med.med2,
        |    abs(f.c * 2 - med.med2) AS dev
        |  FROM f JOIN med ON med.et = f.et),
        |rd AS (SELECT *, row_number()
        |    OVER (PARTITION BY et ORDER BY dev, b) AS r FROM d),
        |mad AS (SELECT et, CAST(
        |    sum(CASE WHEN r = (n + 1) // 2 THEN dev END)
        |    + sum(CASE WHEN r = (n + 2) // 2 THEN dev END) AS BIGINT) AS mad4
        |  FROM rd GROUP BY et),
        |rk AS (SELECT d.et, d.b, d.c, d.med2, mad.mad4, d.dev,
        |    row_number() OVER (PARTITION BY d.et ORDER BY d.dev DESC, d.b)
        |      AS rank
        |  FROM d JOIN mad ON mad.et = d.et)
        |SELECT et AS event_type, CAST(rank AS INTEGER) AS rank, b AS bin,
        |  c, med2, mad4,
        |  CASE WHEN mad4 > 0 THEN dev * 2000000 // mad4 END AS z_ppm
        |FROM rk WHERE rank <= 5 ORDER BY et, rank""".stripMargin),

    // Top 3-event user journeys with corpus share — the path-analysis
    // companion to q379's one-step transition matrix.
    Gate("q387_top_paths", (s, dir) => {
      Events.topPaths(t(s, dir, "events"), "user_id", "event_type",
        "ts", "event_id", pathLen = 3, topK = 10)
    }, oracle = q387OracleSql),

    // Delete vectors from the persisted SQ8 index (retained-bounds
    // tombstone), then serve: deleted neighbors vanish, survivors
    // keep their build-time codes.
    Gate("q385_sq8_index_delete", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Curation2.tempIndexDir("graft_sq8_delete_")
      try {
        graft.ops.Similarity.writeSq8Index(emb, "vec_id", "embedding", idx)
        graft.ops.Similarity.deleteFromSq8Index(s, idx,
          emb.where(pmod(col("vec_id"), lit(11L)) === 0), "vec_id")
        graft.ops.Similarity.sq8TopKIndexed(s, idx,
            emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(idx)
    }, oracle = Curation2.sq8OracleSql("vec_id % 11 <> 0")),

    // Ingest-time hysteresis alerting: per-shard open-bin state with
    // gap zero-fill, replayed AvailableNow — the q398 detector
    // restricted to each key's [first, last) observed bins (the final
    // open bin is never emitted; a key's stream begins at its first
    // bin — shared base CTEs by construction).
    Gate("q453_streaming_alerts", (s, dir) => {
      import s.implicits._
      val stream = graft.core.Tables.stream(s, dir, "events")
        .where(col("user_id").isNotNull)
        .select(pmod(col("user_id"), lit(4L)).as("k"),
          graft.functions.PixieFunctions.nsToUs(col("ts")).as("ts_us"),
          (col("event_type") === "error").cast("long").as("e"))
        .as[graft.streaming.Streaming.AlertEvent]
      val alerts = graft.streaming.Streaming
        .streamingAlerts(stream, binUs = 3600L * 1000000L,
          hiPpm = 300000L, loPpm = 150000L)
      drainMemory(s, alerts, "append")(_.orderBy("k", "b"))
    }, oracle =
      // The q398 detector over the SAME shared rate CTEs, restricted to
      // each key's [first, last) observed bins — the streaming append
      // contract (final open bin unemitted; stream begins at the key's
      // first bin). Bins before a key's first event carry alert 0 in the
      // batch grid, so the restriction never changes a surviving row.
      s"""WITH $ratesCtes,
         |kb AS (SELECT k, min(b) AS kb0, max(b) AS kb1 FROM base
         |  GROUP BY 1),
         |st AS (SELECT k, b, n, n_err, err_ppm,
         |    coalesce(last_value(CASE WHEN err_ppm > 300000 THEN 1
         |        WHEN err_ppm <= 150000 THEN 0 END IGNORE NULLS)
         |      OVER (PARTITION BY k ORDER BY b
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
         |      AS alert
         |  FROM rates),
         |fin AS (SELECT k, b, n, n_err, err_ppm,
         |    CAST(alert AS BIGINT) AS alert,
         |    CAST(CASE WHEN alert = 1 AND coalesce(lag(alert)
         |        OVER (PARTITION BY k ORDER BY b), 0) = 0
         |      THEN 1 ELSE 0 END AS BIGINT) AS fired,
         |    CAST(CASE WHEN alert = 0 AND coalesce(lag(alert)
         |        OVER (PARTITION BY k ORDER BY b), 0) = 1
         |      THEN 1 ELSE 0 END AS BIGINT) AS cleared
         |  FROM st)
         |SELECT fin.* FROM fin JOIN kb ON kb.k = fin.k
         |WHERE fin.b >= kb.kb0 AND fin.b < kb.kb1
         |ORDER BY fin.k, fin.b""".stripMargin))

  /** Stream the events table as the typed [[graft.streaming.Streaming
    * .UserEvent]] dataset (ts is already the TIME64NS epoch-ns long at
    * the load boundary).
    */
  private def eventStream(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    graft.core.Tables.stream(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts").as("ts_ns"),
        col("event_id"))
      .as[graft.streaming.Streaming.UserEvent]
  }

  /** AvailableNow replay of [[graft.streaming.Streaming
    * .streamingPaths]] into a memory sink; returns the collected
    * window frame (steps array column) as a batch DataFrame.
    */
  private def replayPaths(s: org.apache.spark.sql.SparkSession, dir: String,
                          pathLen: Int): org.apache.spark.sql.DataFrame =
    drainMemory(s, graft.streaming.Streaming
      .streamingPaths(eventStream(s, dir), pathLen), "append")()

  /** q383's predicate rectangles (xlo, xhi, ylo, yhi) over
    * (l_partkey, l_suppkey) — narrow-x, narrow-y, narrow-both, and a
    * wide box; sf-stable (key ranges only grow with scale factor).
    */
  private val zonePreds: Seq[(Long, Long, Long, Long)] = Seq(
    (100L, 299L, 0L, 10000000L),
    (0L, 10000000L, 10L, 29L),
    (100L, 299L, 10L, 29L),
    (0L, 999L, 0L, 49L))

  // ---- generated oracle SQL ------------------------------------------

  /** Shared by q379 (batch window) and q396 (streaming state) — the
    * two implementations must agree on this exact matrix.
    */
  private val q379OracleSql: String =
    """WITH base AS (SELECT user_id AS u, event_type AS et,
      |    epoch_us(ts) AS ts, event_id AS eid FROM events),
      |pairs AS (SELECT et AS from_type,
      |    lead(et) OVER (PARTITION BY u ORDER BY ts, eid) AS to_type
      |  FROM base),
      |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS t FROM c
      |  GROUP BY 1)
      |SELECT from_type, to_type, n, n * 1000000 // t AS p_ppm
      |FROM c JOIN tt USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** The lexical-affinity source graph CTEs (q343's fingerprint dot
    * products) — shared by the q378 PageRank and q409 BFS oracles.
    */
  private[queries] val profileGraphCtes: String = {
    val bkt = s"(${graft.ops.Dedup.h60Sql("w")}) % 256"
    s"""prof AS (SELECT src, $bkt AS b, count(*) AS c FROM
       |  (SELECT source AS src, unnest(string_split(text, ' ')) AS w
       |   FROM documents) WHERE w <> '' GROUP BY 1, 2),
       |e AS (SELECT a.src AS src, b2.src AS dst,
       |    CAST(sum(a.c * b2.c) AS BIGINT) AS w
       |  FROM prof a JOIN prof b2 ON a.b = b2.b AND a.src <> b2.src
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Shared error-rate grid CTEs for the q398/q399 alerting oracles:
    * per-shard hourly (n, n_err, err_ppm) zero-filled over the global
    * range — the SQL mirror of [[graft.ops.Alerts.errorRates]].
    */
  private val ratesCtes: String =
    """base AS (SELECT user_id % 4 AS k, epoch_us(ts) // 3600000000 AS b,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS e
      |  FROM events),
      |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM base),
      |grid AS (SELECT k, gb.b FROM (SELECT DISTINCT k FROM base)
      |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b FROM rng) gb),
      |c AS (SELECT k, b, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(e) AS BIGINT) AS n_err FROM base GROUP BY 1, 2),
      |rates AS (SELECT g.k, g.b, coalesce(c.n, 0) AS n,
      |    coalesce(c.n_err, 0) AS n_err,
      |    CASE WHEN coalesce(c.n, 0) > 0
      |      THEN coalesce(c.n_err, 0) * 1000000 // c.n ELSE 0 END
      |      AS err_ppm
      |  FROM grid g LEFT JOIN c ON c.k = g.k AND c.b = g.b)""".stripMargin

  /** Shared by q387 (batch lead chain) and q397 (streaming state). */
  private val q387OracleSql: String =
    """WITH base AS (SELECT user_id AS u, event_type AS et,
      |    epoch_us(ts) AS ts, event_id AS eid FROM events),
      |p AS (SELECT et || '>' || lead(et, 1) OVER w || '>'
      |      || lead(et, 2) OVER w AS path,
      |    et IS NOT NULL AND lead(et, 1) OVER w IS NOT NULL
      |      AND lead(et, 2) OVER w IS NOT NULL AS isfull
      |  FROM base WINDOW w AS (PARTITION BY u ORDER BY ts, eid)),
      |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p
      |  WHERE isfull GROUP BY path),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
      |SELECT path, n, n * 1000000 // t AS share_ppm FROM c, t
      |ORDER BY n DESC, path LIMIT 10""".stripMargin

  /** SQL mirror of [[graft.ops.Scale.interleaveBits]] — generated from
    * the same bit loop so the two can't drift.
    */
  private def interleaveSql(bx: String, by: String, bits: Int): String =
    (0 until bits).map { k =>
      s"((($bx >> $k) & 1) << ${2 * k}) + ((($by >> $k) & 1) << ${2 * k + 1})"
    }.mkString(" + ")

  /** Shared layout CTE prefix for q382/q383: row id, dims, Morton key
    * over 8-bit equi-width buckets, and the total row count.
    */
  private val zLayoutCtes: String = {
    val z = interleaveSql("bxx", "byy", 8)
    s"""d AS (SELECT l_orderkey * 8 + l_linenumber AS id,
       |    CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
       |  FROM lineitem),
       |mm AS (SELECT min(x) AS x0, max(x) AS x1,
       |    min(y) AS y0, max(y) AS y1 FROM d),
       |g AS (SELECT id, x, y, $z AS zord FROM
       |  (SELECT id, x, y,
       |     (x - x0) // ((x1 - x0 + 256) // 256) AS bxx,
       |     (y - y0) // ((y1 - y0 + 256) // 256) AS byy FROM d, mm)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g)""".stripMargin
  }

  private val zonePredsSql: String =
    zonePreds.zipWithIndex.map { case ((a, b, c, d), i) =>
      s"($i::BIGINT, $a::BIGINT, $b::BIGINT, $c::BIGINT, $d::BIGINT)"
    }.mkString(", ")

  /** q31's lang-vote CASE (NorthStar oracle), reused verbatim for the
    * kappa oracle's predicted column.
    */
  private val langVoteSql = {
    val scores = TextOps.langMarkers.map { case (lang, ms) =>
      lang -> s"len(list_filter(string_split(text,' '), x -> x IN (${
        ms.map("'" + _ + "'").mkString(",")})))"
    }
    val langs = scores.map(_._1)
    val cond = langs.map { l =>
      val others = langs.filter(_ != l)
        .map(o => s"(${scores.find(_._1 == l).get._2}) >= (${
          scores.find(_._1 == o).get._2})")
        .mkString(" AND ")
      s"WHEN $others THEN '$l'"
    }.mkString("\n       ")
    s"""CASE WHEN ${scores.map(s => s"(${s._2})").mkString(" + ")} = 0
       | THEN 'unknown'
       |       $cond
       |       ELSE 'unknown' END""".stripMargin
  }

  /** Events per type in `binUs`-wide bins on the dense (type × bin)
    * grid: base, rng, grid, and the busy cells c(et, b, c).
    */
  private def binGridCtes(binUs: Long): String =
    s"""base AS (SELECT event_type AS et,
       |    epoch_us(ts) // $binUs AS b FROM events),
       |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM base),
       |grid AS (SELECT et, gb.b FROM (SELECT DISTINCT et FROM base)
       |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b FROM rng) gb),
       |c AS (SELECT et, b, CAST(count(*) AS BIGINT) AS c FROM base
       |  GROUP BY 1, 2)""".stripMargin

  /** Per user the first view, then the click and the purchase within 7
    * days of it: base, s0, c1, c2.
    */
  private[queries] val funnelCtes: String =
    """base AS (SELECT user_id AS u, event_type AS et,
      |    epoch_us(ts) AS ts FROM events),
      |s0 AS (SELECT u, min(ts) AS t0 FROM base WHERE et = 'view' GROUP BY u),
      |c1 AS (SELECT b.u, min(s0.t0) AS t0, min(b.ts) AS tk
      |  FROM base b JOIN s0 ON b.u = s0.u
      |  WHERE b.et = 'click' AND b.ts > s0.t0
      |    AND b.ts <= s0.t0 + 604800000000 GROUP BY b.u),
      |c2 AS (SELECT b.u, min(c1.t0) AS t0, min(b.ts) AS tk
      |  FROM base b JOIN c1 ON b.u = c1.u
      |  WHERE b.et = 'purchase' AND b.ts > c1.tk
      |    AND b.ts <= c1.t0 + 604800000000 GROUP BY b.u)""".stripMargin
}
