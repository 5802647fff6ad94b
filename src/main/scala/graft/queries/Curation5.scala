package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Events, Multimodal, Quality, Similarity, TextOps}
import graft.queries.Q._

/** Round-8 batch 3: corpus linguistics (Mikolov phrase mining),
  * release-gate governance (k-anonymity, Benford), sequential drift
  * detection (closed-form CUSUM), embedding-health drift + CCMatrix
  * margin mining, parametric trend (OLS), and multimodal shot
  * segmentation. Every query ships a full DuckDB re-derivation under
  * the [[graft.ops.Corpus]] exactness rules (integer quantization
  * before cross-row sums; ONE final double formula rounded at 1e-6).
  */
object Curation5 extends Gates {

  import graft.functions.PixieFunctions.{idiv, nsToUs}

  lazy val gates: Seq[Gate] = Seq(

    // word2vec phrase promotion: bigrams whose corpus count beats the
    // unigram-independence prediction (staged-integer e6 score) — the
    // "new_york" pass a tokenizer pipeline runs before training.
    Gate("q410_phrase_mining", (s, dir) => {
      TextOps.phraseMining(t(s, dir, "documents"), "text",
          delta = 2L, minCount = 3L, minScoreE6 = 1200000L)
        .orderBy(col("score_e6").desc, col("w1"), col("w2"))
    }, oracle =
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) > 0),
        |uni AS (SELECT unnest(w) AS wd FROM toks),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM uni),
        |cw AS (SELECT wd, CAST(count(*) AS BIGINT) AS c FROM uni
        |  GROUP BY 1),
        |bi AS (SELECT z[1] AS w1, z[2] AS w2 FROM
        |  (SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS z
        |   FROM toks WHERE len(w) >= 2)),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM bi
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT w1, w2, c_ab, a.c AS c_w1, b.c AS c_w2,
        |  ((c_ab - 2) * 1000000 // a.c) * nt // b.c AS score_e6
        |FROM cb JOIN cw a ON a.wd = cb.w1 JOIN cw b ON b.wd = cb.w2, n
        |WHERE ((c_ab - 2) * 1000000 // a.c) * nt // b.c >= 1200000
        |ORDER BY score_e6 DESC, w1, w2""".stripMargin),

    // K-anonymity audit over the event log: QI = (event_type,
    // hour-of-day, 50-unit value band); combinations identifying
    // fewer than 5 distinct users are the re-identification report.
    Gate("q411_k_anonymity", (s, dir) => {
      // NaN guard both sides: Spark floor/cast maps NaN to a null
      // bucket (non-ANSI) while DuckDB's CAST raises on NaN.
      val proj = t(s, dir, "events")
        .where(col("value").isNotNull && !isnan(col("value")))
        .select(
          col("event_type"),
          (idiv(nsToUs(col("ts")), 3600000000L) % 24L).as("hod"),
          floor(col("value") / 50.0).cast("long").as("vb"),
          col("user_id"))
      Quality.kAnonymity(proj, "user_id",
          Seq("event_type", "hod", "vb"), k = 5L)
        .orderBy("event_type", "hod", "vb")
    }, oracle =
      """SELECT event_type,
        |  epoch_us(ts) // 3600000000 % 24 AS hod,
        |  CAST(floor(value / 50.0) AS BIGINT) AS vb,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_subjects,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM events
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1, 2, 3
        |HAVING count(DISTINCT user_id) < 5
        |ORDER BY event_type, hod, vb""".stripMargin),

    // One-sided CUSUM drift alarms per event type over the hourly
    // count grid — the sequential detector in closed form (running
    // sum + running min), milli-scaled integers end-to-end.
    Gate("q412_cusum_drift", (s, dir) => {
      Events.cusumDrift(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600000000L, slackDen = 4L, hMult = 3L)
        .orderBy("event_type", "bin")
    }, oracle = q412OracleSql),

    // Embedding-space snapshot drift per label: squared centroid
    // distance between the vec_id-parity halves + the most drifted
    // dimension — the "did my embedding distribution move" check.
    Gate("q413_centroid_drift", (s, dir) => {
      Similarity.centroidDrift(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label")
        .withColumnRenamed("grp", "label")
        .orderBy("label")
    }, oracle =
      """WITH q AS (SELECT label, vec_id % 2 AS half, i AS d,
        |    CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000 + 0.5)
        |      AS BIGINT) AS qx
        |  FROM embeddings, (SELECT unnest(range(64)) AS i)),
        |s AS (SELECT label, half, d, CAST(sum(qx) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1, 2, 3),
        |p AS (SELECT a.label, a.d, a.s AS sa, a.n AS na, b.s AS sb,
        |    b.n AS nb, a.s * b.n - b.s * a.n AS num
        |  FROM s a JOIN s b ON a.label = b.label AND a.d = b.d
        |    AND a.half = 0 AND b.half = 1),
        |top AS (SELECT label, CAST(d AS INTEGER) AS top_dim,
        |    CAST(sign(num) AS BIGINT) AS top_sign,
        |    abs(num) * 1000 // (na * nb) AS top_absdiff_e9,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY abs(num) DESC, d) AS r
        |  FROM p),
        |l AS (SELECT label, na AS n_a, nb AS n_b,
        |    list(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
        |      ORDER BY d) AS diffs
        |  FROM p GROUP BY 1, 2, 3)
        |SELECT l.label, n_a, n_b,
        |  round(list_sum(list_transform(diffs, x -> x * x)) / 1e12, 6)
        |    AS dist2,
        |  top_dim, top_sign, top_absdiff_e9
        |FROM l JOIN top ON top.label = l.label AND top.r = 1
        |ORDER BY l.label""".stripMargin),

    // CCMatrix/LASER margin-based bitext mining: mutual nearest
    // neighbors across the label-parity sides of a sampled slice,
    // scored with the ratio margin over each side's 4-NN background.
    // The exact cross on the slice is the labeled baseline; the
    // mutual+margin logic is scorer-agnostic (ANN shortlist at scale).
    Gate("q414_margin_mining", (s, dir) => {
      val side = t(s, dir, "embeddings")
        .where(col("vec_id") % 5 === 0)
        .withColumn("side", col("label") % 2)
      Similarity.marginMining(side, "vec_id", "embedding", "side", k = 4)
        .orderBy("id_a")
    }, oracle =
      """WITH v AS (SELECT vec_id, label % 2 AS side,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
        |      AS qe
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(range(64),
        |      i -> a.qe[i+1] * b.qe[i+1])) AS BIGINT) AS dot_e12
        |  FROM v a JOIN v b ON a.side = 0 AND b.side = 1),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY id_a
        |      ORDER BY dot_e12 DESC, id_b) AS ra,
        |    row_number() OVER (PARTITION BY id_b
        |      ORDER BY dot_e12 DESC, id_a) AS rb FROM pr),
        |k AS (SELECT *,
        |    sum(dot_e12) FILTER (ra <= 4) OVER (PARTITION BY id_a) AS ka,
        |    sum(dot_e12) FILTER (rb <= 4) OVER (PARTITION BY id_b) AS kb
        |  FROM r)
        |SELECT id_a, id_b, dot_e12,
        |  CASE WHEN ka + kb > 0
        |    THEN round(8.0 * dot_e12 / (ka + kb), 6) + 0.0 END AS margin
        |FROM k WHERE ra = 1 AND rb = 1 ORDER BY id_a""".stripMargin),

    // OLS trend per event type over the zero-filled hourly grid —
    // slope/intercept/r2 from exact integer sums (the parametric
    // companion of q393's Theil-Sen on the same grid).
    Gate("q415_ols_trend", (s, dir) => {
      Events.olsTrend(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600000000L)
        .orderBy("event_type")
    }, oracle =
      s"""WITH $hourlyGridCtes,
        |raw AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
        |    CAST(min(b) AS BIGINT) AS b0, CAST(sum(b) AS BIGINT) AS sb,
        |    CAST(sum(c) AS BIGINT) AS sy,
        |    CAST(sum(b * c) AS BIGINT) AS sbc,
        |    CAST(sum(b * b) AS BIGINT) AS sbb,
        |    CAST(sum(c * c) AS BIGINT) AS syy
        |  FROM f GROUP BY 1),
        |sh AS (SELECT et, n, sy, syy, sb - n * b0 AS sx,
        |    sbc - b0 * sy AS sxy,
        |    sbb - 2 * b0 * sb + n * b0 * b0 AS sxx FROM raw),
        |d AS (SELECT et, n, n * sxx - sx * sx AS dxx,
        |    n * syy - sy * sy AS dyy, n * sxy - sx * sy AS dxy,
        |    sy * sxx - sx * sxy AS inum FROM sh)
        |SELECT et AS event_type, n AS n_bins,
        |$olsFitCols
        |FROM d ORDER BY event_type""".stripMargin),

    // Benford first-digit audit of the value feed per event type:
    // observed ppm share vs the log10(1+1/d) expectation (precomputed
    // literals), deviation in exact integer ppm.
    Gate("q416_benford", (s, dir) => {
      Quality.benford(t(s, dir, "events"), "event_type", "value")
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type", "d")
    }, oracle = {
      val bens = Quality.benfordPpmTable.zipWithIndex
        .map { case (p, i) => s"WHEN d = ${i + 1} THEN ${p}" }
        .mkString(" ")
      s"""WITH dg AS (SELECT event_type AS grp, CASE
         |    WHEN value >= 1000 AND value < 10000
         |      THEN CAST(floor(value / 1000.0) AS BIGINT)
         |    WHEN value >= 100 AND value < 1000
         |      THEN CAST(floor(value / 100.0) AS BIGINT)
         |    WHEN value >= 10 AND value < 100
         |      THEN CAST(floor(value / 10.0) AS BIGINT)
         |    WHEN value >= 1 AND value < 10
         |      THEN CAST(floor(value / 1.0) AS BIGINT)
         |    WHEN value >= 0.1 AND value < 1
         |      THEN CAST(floor(value * 10.0) AS BIGINT)
         |    WHEN value >= 0.01 AND value < 0.1
         |      THEN CAST(floor(value * 100.0) AS BIGINT)
         |    WHEN value >= 0.001 AND value < 0.01
         |      THEN CAST(floor(value * 1000.0) AS BIGINT) END AS d
         |  FROM events WHERE value IS NOT NULL AND value > 0),
         |dd AS (SELECT grp, d FROM dg WHERE d IS NOT NULL),
         |tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS nn FROM dd
         |  GROUP BY 1),
         |c AS (SELECT grp, d, CAST(count(*) AS BIGINT) AS n FROM dd
         |  GROUP BY 1, 2)
         |SELECT c.grp AS event_type, c.d, c.n,
         |  c.n * 1000000 // nn AS share_ppm,
         |  CAST(CASE $bens END AS BIGINT) AS benford_ppm,
         |  c.n * 1000000 // nn - (CASE $bens END) AS dev_ppm
         |FROM c JOIN tot ON tot.grp = c.grp
         |ORDER BY event_type, d""".stripMargin
    }),

    // Multimodal shot-boundary detection: >=30% relative change in
    // consecutive 64-byte frame energies (exact integer deltas) over
    // the documents-as-media payloads, with per-media shot indices.
    Gate("q417_shot_boundaries", (s, dir) => {
      val media = Multimodal.asMediaTable(
        t(s, dir, "documents"), "doc_id", "text")
      Multimodal.shotBoundaries(media, frameBytes = 64,
          thresholdPct = 30L, minDelta = 0L)
        .orderBy("media_id", "frame_no")
    }, oracle =
      """WITH f AS (SELECT doc_id, len(text) AS n,
        |    unnest(range((len(text) + 63) // 64)) AS frame_no
        |  FROM documents WHERE len(text) > 0),
        |pos AS (SELECT doc_id, frame_no,
        |    unnest(range(frame_no * 64, least(frame_no * 64 + 64, n))) AS p
        |  FROM f),
        |e AS (SELECT pos.doc_id AS media_id,
        |    CAST(frame_no AS INTEGER) AS frame_no,
        |    CAST(sum(ord(substr(text, CAST(p AS INTEGER) + 1, 1)))
        |      AS BIGINT) AS byte_sum
        |  FROM pos JOIN documents d ON d.doc_id = pos.doc_id
        |  GROUP BY 1, 2),
        |l AS (SELECT *, lag(byte_sum) OVER (PARTITION BY media_id
        |    ORDER BY frame_no) AS prev_sum FROM e),
        |b AS (SELECT media_id, frame_no, prev_sum, byte_sum,
        |    byte_sum - prev_sum AS delta
        |  FROM l WHERE prev_sum IS NOT NULL
        |    AND byte_sum - prev_sum <> 0
        |    AND abs(byte_sum - prev_sum) * 100 >=
        |      greatest(byte_sum, prev_sum) * 30)
        |SELECT media_id, frame_no, prev_sum, byte_sum, delta,
        |  CAST(row_number() OVER (PARTITION BY media_id
        |    ORDER BY frame_no) AS BIGINT) AS shot_no
        |FROM b ORDER BY media_id, frame_no""".stripMargin),

    // Spark's NATIVE session_window operator must reproduce q63's
    // window-function sessionization exactly (shared oracle BY
    // CONSTRUCTION). session_window merges on `delta <= gap`
    // (an event landing exactly on the previous window's end joins
    // it — Round8cSpec pins this), which is precisely the island
    // labeling's `delta <= gap` merge — same 1h gap on both paths.
    Gate("q418_session_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id"),
        nsToUs(col("ts")).as("ts_us"))
      ev.withColumn("__t", timestamp_micros(col("ts_us")))
        .groupBy(col("user_id"),
          session_window(col("__t"), "3600000000 microsecond"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
        .withColumn("session_no", row_number().over(
          Window.partitionBy("user_id").orderBy("start_us")).cast("long"))
        .select("user_id", "session_no", "n_events", "start_us", "end_us")
        .orderBy("user_id", "session_no")
    }, oracle =
      // shared oracle BY CONSTRUCTION: the native session_window path
      // must equal the q63 island labeling exactly
      Extended.q63OracleSql),

    // Leading-edge debounce of the event stream: per (user, type),
    // events within 24h of their predecessor chain into a burst and
    // only the first survives — the retry/duplicate-webhook cleaner.
    Gate("q419_debounce", (s, dir) => {
      Events.debounce(t(s, dir, "events"),
          Seq("user_id", "event_type"), "ts", "event_id",
          gapUs = 86400000000L)
        .orderBy("user_id", "event_type", "burst_no")
    }, oracle =
      s"""WITH $burstCtes
        |SELECT user_id, event_type, burst_no, ts_us, event_id,
        |  burst_size, burst_size - 1 AS n_suppressed
        |FROM (SELECT user_id, event_type, burst_no, t AS ts_us, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type, burst_no
        |      ORDER BY t, event_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id, event_type,
        |      burst_no) AS BIGINT) AS burst_size
        |  FROM g)
        |WHERE rn = 1
        |ORDER BY user_id, event_type, burst_no""".stripMargin),

    // PSI of the value feed per event type between the two time
    // halves — the binned ML-monitoring drift score, nano-nat terms.
    Gate("q420_psi_drift", (s, dir) => {
      Quality.psiDrift(t(s, dir, "events"), "event_type", "ts",
          "value", bandWidth = 50.0, bands = 10)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type")
    }, oracle =
      """WITH e AS (SELECT event_type AS grp, epoch_us(ts) AS t, value
        |  FROM events),
        |rng AS (SELECT (min(t) + max(t)) // 2 AS mid FROM e),
        |h AS (SELECT grp, CASE WHEN t <= mid THEN 0 ELSE 1 END AS half,
        |    least(9, greatest(0, CAST(floor(value / 50.0) AS BIGINT)))
        |      AS band FROM e, rng WHERE value IS NOT NULL),
        |c AS (SELECT grp, half, band, CAST(count(*) AS BIGINT) AS c
        |  FROM h GROUP BY 1, 2, 3),
        |sup AS (SELECT grp, bd.band FROM (SELECT DISTINCT grp FROM c)
        |  CROSS JOIN (SELECT unnest(range(0, 10)) AS band) bd),
        |tot AS (SELECT grp,
        |    coalesce(CAST(sum(c) FILTER (half = 0) AS BIGINT), 0) AS ta,
        |    coalesce(CAST(sum(c) FILTER (half = 1) AS BIGINT), 0) AS tb
        |  FROM c GROUP BY 1),
        |j AS (SELECT sup.grp, coalesce(a.c, 0) AS ca,
        |    coalesce(b.c, 0) AS cb
        |  FROM sup
        |  LEFT JOIN (SELECT grp, band, c FROM c WHERE half = 0) a
        |    ON a.grp = sup.grp AND a.band = sup.band
        |  LEFT JOIN (SELECT grp, band, c FROM c WHERE half = 1) b
        |    ON b.grp = sup.grp AND b.band = sup.band),
        |terms AS (SELECT j.grp, tot.ta, tot.tb,
        |    CAST(floor(((ca + 1.0) / (ta + 10.0) - (cb + 1.0) / (tb + 10.0))
        |      * ln(((ca + 1.0) / (ta + 10.0)) / ((cb + 1.0) / (tb + 10.0)))
        |      * 1e9 + 0.5) AS BIGINT) AS term
        |  FROM j JOIN tot ON tot.grp = j.grp)
        |SELECT grp AS event_type, max(ta) AS n_a, max(tb) AS n_b,
        |  round(CAST(sum(term) AS BIGINT) / 1e9, 6) AS psi
        |FROM terms GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Gini concentration of documents over sources — the diversity
    // topline next to the domain caps (0 even .. 1e6 one-source).
    Gate("q421_domain_gini", (s, dir) =>
      Quality.gini(t(s, dir, "documents"), "source"), oracle =
      """WITH x AS (SELECT source, CAST(count(*) AS BIGINT) AS x
        |  FROM documents GROUP BY 1),
        |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, source)
        |    AS BIGINT) AS r FROM x),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(x) AS BIGINT) AS total,
        |    CAST(sum(r * x) AS BIGINT) AS rx FROM r)
        |SELECT n_keys, total,
        |  ((2 * rx - (n_keys + 1) * total) * 1000 // n_keys) * 1000
        |    // total AS gini_ppm
        |FROM s""".stripMargin),

    // Two-sample KS drift per event type: sup-distance between the
    // half CDFs over unit value bands, exact integer ppm + location.
    Gate("q422_ks_drift", (s, dir) => {
      Quality.ksDrift(t(s, dir, "events"), "event_type", "ts",
          "value", bandWidth = 1.0)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type")
    }, oracle =
      """WITH e AS (SELECT event_type AS grp, epoch_us(ts) AS t, value
        |  FROM events),
        |rng AS (SELECT (min(t) + max(t)) // 2 AS mid FROM e),
        |h AS (SELECT grp, CASE WHEN t <= mid THEN 0 ELSE 1 END AS half,
        |    CAST(floor(value / 1.0) AS BIGINT) AS band FROM e, rng
        |  WHERE value IS NOT NULL),
        |c AS (SELECT grp, half, band, CAST(count(*) AS BIGINT) AS c
        |  FROM h GROUP BY 1, 2, 3),
        |j AS (SELECT coalesce(a.grp, b.grp) AS grp,
        |    coalesce(a.band, b.band) AS band,
        |    coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
        |  FROM (SELECT grp, band, c FROM c WHERE half = 0) a
        |  FULL OUTER JOIN (SELECT grp, band, c FROM c WHERE half = 1) b
        |    ON a.grp = b.grp AND a.band = b.band),
        |cum AS (SELECT grp, band, ca, cb,
        |    CAST(sum(ca) OVER (PARTITION BY grp ORDER BY band) AS BIGINT)
        |      AS cuma,
        |    CAST(sum(cb) OVER (PARTITION BY grp ORDER BY band) AS BIGINT)
        |      AS cumb FROM j),
        |tot AS (SELECT grp, CAST(sum(ca) AS BIGINT) AS ta,
        |    CAST(sum(cb) AS BIGINT) AS tb FROM cum GROUP BY 1),
        |d AS (SELECT cum.grp, band, ta, tb,
        |    abs(cuma * 1000000 // ta - cumb * 1000000 // tb) AS dd,
        |    row_number() OVER (PARTITION BY cum.grp ORDER BY
        |      abs(cuma * 1000000 // ta - cumb * 1000000 // tb) DESC,
        |      band) AS rn
        |  FROM cum JOIN tot ON tot.grp = cum.grp
        |  WHERE ta > 0 AND tb > 0)
        |SELECT grp AS event_type, ta AS n_a, tb AS n_b, dd AS d_ppm,
        |  band AS d_band
        |FROM d WHERE rn = 1 ORDER BY event_type""".stripMargin),

    // Heaps-law vocabulary growth at 50-doc checkpoints: each word
    // attributed to its FIRST document — one word-keyed min, no
    // per-prefix rescans.
    Gate("q423_vocab_growth", (s, dir) => {
      TextOps.vocabGrowth(t(s, dir, "documents"), "text", "doc_id",
          checkpointDocs = 50L)
        .orderBy("cp")
    }, oracle =
      """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |ww AS (SELECT doc_id, w FROM words WHERE w <> ''),
        |firsts AS (SELECT min(doc_id) // 50 AS cp FROM ww GROUP BY w),
        |nw AS (SELECT cp, CAST(count(*) AS BIGINT) AS new_words
        |  FROM firsts GROUP BY 1),
        |docs AS (SELECT doc_id // 50 AS cp,
        |    CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |j AS (SELECT docs.cp, n_docs, coalesce(new_words, 0) AS new_words
        |  FROM docs LEFT JOIN nw ON nw.cp = docs.cp)
        |SELECT cp, n_docs, new_words,
        |  CAST(sum(n_docs) OVER (ORDER BY cp) AS BIGINT) AS n_docs_cum,
        |  CAST(sum(new_words) OVER (ORDER BY cp) AS BIGINT) AS vocab_size
        |FROM j ORDER BY cp""".stripMargin),

    // Zipf rank-frequency fit over the corpus vocabulary (hapax
    // trimmed): milli-quantized logs, exact-sum least squares.
    Gate("q424_zipf_fit", (s, dir) =>
      TextOps.zipfFit(t(s, dir, "documents"), "text", minCount = 2L), oracle =
      s"""WITH c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w HAVING count(*) >= 2),
        |r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w)
        |    AS BIGINT) AS r FROM c),
        |q AS (SELECT
        |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
        |      AS x,
        |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
        |      AS y FROM r),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy FROM q),
        |d AS (SELECT n, n * sxx - sx * sx AS dxx, n * syy - sy * sy AS dyy,
        |    n * sxy - sx * sy AS dxy, sy * sxx - sx * sxy AS inum FROM s)
        |SELECT n AS n_words,
        |$olsFitCols
        |FROM d""".stripMargin),

    // Mutual information between event type and hour-of-day (nats,
    // with both marginal entropies) — the feature-dependence audit.
    Gate("q425_mutual_info", (s, dir) => {
      val proj = t(s, dir, "events").select(col("event_type"),
        (idiv(nsToUs(col("ts")), 3600000000L) % 24L).as("hod"))
      Quality.mutualInfo(proj, "event_type", "hod")
    }, oracle =
      """WITH e AS (SELECT event_type AS a,
        |    epoch_us(ts) // 3600000000 % 24 AS b FROM events),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM e
        |  GROUP BY 1, 2),
        |ca AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cells
        |  GROUP BY 1),
        |cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells
        |  GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM cells),
        |mi AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(sum(CAST(floor((CAST(c AS DOUBLE) / CAST(N AS DOUBLE))
        |      * ln((CAST(c AS DOUBLE) * CAST(N AS DOUBLE))
        |        / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
        |      * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS mi
        |  FROM cells JOIN ca USING (a) JOIN cb USING (b), n),
        |ha AS (SELECT CAST(sum(CAST(floor(
        |    (CAST(ca AS DOUBLE) / CAST(N AS DOUBLE))
        |    * ln(CAST(N AS DOUBLE) / CAST(ca AS DOUBLE))
        |    * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ha FROM ca, n),
        |hb AS (SELECT CAST(sum(CAST(floor(
        |    (CAST(cb AS DOUBLE) / CAST(N AS DOUBLE))
        |    * ln(CAST(N AS DOUBLE) / CAST(cb AS DOUBLE))
        |    * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS hb FROM cb, n)
        |SELECT n_cells, round(mi / 1e9, 6) + 0.0 AS mi_nats,
        |  round(ha / 1e9, 6) AS h_a_nats, round(hb / 1e9, 6) AS h_b_nats
        |FROM mi, ha, hb""".stripMargin),

    // Triangle counts over the kNN-sparsified source-affinity graph
    // via degree orientation — each triangle generated exactly once
    // at its lowest-ranked vertex, wedge fan-out sqrt(E)-bounded.
    Gate("q427_triangles", (s, dir) => {
      val knn = graft.ops.Graph.knnEdges(
        graft.ops.Graph.profileEdges(t(s, dir, "documents"), "text",
          "source"), "src", "dst", "w", k = 3)
      graft.ops.Graph.triangleCounts(knn, "a", "b")
        .orderBy("node")
    }, oracle =
      s"""WITH ${Curation4.profileGraphCtes},
        |knn AS (SELECT src, dst FROM (SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY w DESC, dst)
        |      AS r FROM e) WHERE r <= 3),
        |und AS (SELECT DISTINCT least(src, dst) AS a,
        |    greatest(src, dst) AS b FROM knn WHERE src <> dst),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
        |  GROUP BY 1),
        |wd AS (SELECT und.a, und.b, da.d AS da, db.d AS db FROM und
        |  JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b),
        |o AS (SELECT CASE WHEN da < db OR (da = db AND a < b)
        |      THEN a ELSE b END AS u,
        |    CASE WHEN da < db OR (da = db AND a < b)
        |      THEN b ELSE a END AS v,
        |    CASE WHEN da < db OR (da = db AND a < b)
        |      THEN db ELSE da END AS dv FROM wd),
        |wedge AS (SELECT o1.u, o1.v, o2.v AS w FROM o o1
        |  JOIN o o2 ON o1.u = o2.u
        |  WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
        |tri AS (SELECT wedge.u, wedge.v, wedge.w FROM wedge
        |  JOIN o ON o.u = wedge.v AND o.v = wedge.w)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM
        |  (SELECT unnest([u, v, w]) AS node FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin),

    // Multi-field entity resolution on customers: deterministic dirty
    // variants planted (one digit deleted from the name, same nation/
    // segment/balance), blocking on (nation, segment), edit-distance
    // verify, balance-equality evidence — the Fellegi-Sunter shape.
    Gate("q428_entity_resolution", (s, dir) => {
      val cust = t(s, dir, "customer")
      val p = (pmod(col("c_custkey"), lit(8L)) + 10L).cast("int")
      val variants = cust.where(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(col("c_name").substr(lit(1), p - 1),
            col("c_name").substr(p + 1, lit(100))).as("c_name"),
          col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      val all = cust.select("c_custkey", "c_name", "c_nationkey",
        "c_mktsegment", "c_acctbal").unionByName(variants)
      val bal = all.select(col("c_custkey"),
        floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("__cents"))
      graft.ops.Dedup.recordLinkage(all, "c_custkey", "c_name",
          Seq("c_nationkey", "c_mktsegment"), maxDist = 1)
        .join(bal.toDF("id_a", "__ca"), "id_a")
        .join(bal.toDF("id_b", "__cb"), "id_b")
        .where(col("__ca") === col("__cb"))
        .select("id_a", "id_b", "name_a", "name_b", "dist")
        .orderBy("id_a", "id_b")
    }, oracle =
      """WITH var AS (SELECT c_custkey + 1000000 AS c_custkey,
        |    substr(c_name, 1, CAST(c_custkey % 8 AS INTEGER) + 9) ||
        |      substr(c_name, CAST(c_custkey % 8 AS INTEGER) + 11, 100)
        |      AS c_name,
        |    c_nationkey, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 13 = 0),
        |allr AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
        |    c_acctbal FROM customer
        |  UNION ALL SELECT * FROM var),
        |pairs AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    a.c_name AS name_a, b.c_name AS name_b,
        |    CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
        |    CAST(floor(a.c_acctbal * 100 + 0.5) AS BIGINT) AS ca,
        |    CAST(floor(b.c_acctbal * 100 + 0.5) AS BIGINT) AS cb
        |  FROM allr a JOIN allr b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey)
        |SELECT id_a, id_b, name_a, name_b, dist FROM pairs
        |WHERE dist <= 1 AND ca = cb
        |ORDER BY id_a, id_b""".stripMargin),

    // STL-lite residual anomalies: trend removed, then hour-of-day
    // baseline of the DETRENDED series — exact rational integers,
    // one final double formula; top-5 residuals per type.
    Gate("q429_residual_anomalies", (s, dir) => {
      Events.residualAnomalies(t(s, dir, "events"), "event_type",
          "ts", binUs = 3600000000L, topK = 5)
        .orderBy("event_type", "rank")
    }, oracle = q429OracleSql),

    // Lead-lag cross-correlation between type count series (lags
    // -6..6 hours): the "errors follow clicks by N hours" scan, with
    // the lag-0 Pearson matrix embedded and each pair's best |r|
    // flagged.
    Gate("q430_lead_lag", (s, dir) => {
      Events.seriesCorrelation(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600000000L, maxLag = 6)
        .orderBy("et_a", "et_b", "lag")
    }, oracle = q430OracleSql),

    // RFM segmentation over the event log: per-user recency/frequency/
    // monetary quintiles (banded ranks — no corpus-wide window) and
    // the classic 3-digit segment cell.
    Gate("q431_rfm_segments", (s, dir) => {
      Events.rfm(t(s, dir, "events"), "user_id", "ts", "value",
          nowUs = Q.tailNowNs(s, dir) / 1000L)
        .orderBy("user_id")
    }, oracle =
      """WITH anchor AS (SELECT max(epoch_us(ts)) + 1 AS nowus FROM events),
        |u AS (SELECT user_id,
        |    nowus - max(epoch_us(ts)) AS rec_us,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS mon_cents
        |  FROM events, anchor WHERE user_id IS NOT NULL
        |  GROUP BY user_id, nowus),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        |q AS (SELECT user_id, rec_us, freq, mon_cents,
        |    row_number() OVER (ORDER BY rec_us, user_id) AS rr,
        |    row_number() OVER (ORDER BY freq, user_id) AS rf,
        |    row_number() OVER (ORDER BY mon_cents, user_id) AS rm
        |  FROM u),
        |p AS (SELECT user_id, rec_us, freq, mon_cents,
        |    CASE WHEN n > 1 THEN (rr - 1) * 1000000 // (n - 1) ELSE 0 END
        |      AS pr,
        |    CASE WHEN n > 1 THEN (rf - 1) * 1000000 // (n - 1) ELSE 0 END
        |      AS pf,
        |    CASE WHEN n > 1 THEN (rm - 1) * 1000000 // (n - 1) ELSE 0 END
        |      AS pm
        |  FROM q, n)
        |SELECT user_id, rec_us, freq, mon_cents,
        |  6 - (least(4, pr * 5 // 1000000) + 1) AS r_score,
        |  least(4, pf * 5 // 1000000) + 1 AS f_score,
        |  least(4, pm * 5 // 1000000) + 1 AS m_score,
        |  (6 - (least(4, pr * 5 // 1000000) + 1)) * 100
        |    + (least(4, pf * 5 // 1000000) + 1) * 10
        |    + least(4, pm * 5 // 1000000) + 1 AS segment
        |FROM p ORDER BY user_id""".stripMargin),

    // Burstiness per type: Fano factor + CV^2 of the hourly counts —
    // Poisson-vs-bursty traffic shape from exact integer sums.
    Gate("q432_burstiness", (s, dir) => {
      Events.burstiness(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600000000L)
        .orderBy("event_type")
    }, oracle = q432OracleSql),

    // Composed incident panel — ONE row per event type joining four
    // round-8c detectors: traffic shape (Fano/CV2), CUSUM alarm count
    // + peak, the top STL residual, and the best lead-lag partner
    // (both directions of the unordered pairs, lag sign flipped for
    // the reversed view). The flagship read an on-call engineer
    // actually wants; every leg is the already-gated operator, and
    // the oracle is ASSEMBLED from the legs' oracle strings.
    Gate("q433_ops_panel", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val burst = Events.burstiness(ev, "event_type", "ts", 3600000000L)
      val cusum = Events.cusumDrift(ev, "event_type", "ts",
          3600000000L, 4L, 3L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_alarms"), max(col("s_milli")).as("max_s"))
      val resid = Events.residualAnomalies(ev, "event_type", "ts",
          3600000000L, 1)
        .select(col("event_type"), col("bin").as("resid_bin"),
          col("dev_milli").as("resid_dev"))
      val ll = Events.seriesCorrelation(ev, "event_type", "ts",
        3600000000L, 6)
      val both = ll.select(col("et_a").as("event_type"),
          col("et_b").as("partner"), col("lag"), col("r"))
        .unionByName(ll.select(col("et_b").as("event_type"),
          col("et_a").as("partner"), (-col("lag")).as("lag"), col("r")))
      val partner = both.withColumn("__rk", row_number().over(
          Window.partitionBy("event_type").orderBy(
            coalesce(abs(col("r")), lit(-2.0d)).desc, col("partner"),
            col("lag"))))
        .where(col("__rk") === 1)
        .select(col("event_type"), col("partner"),
          col("lag").as("partner_lag"), col("r").as("partner_r"))
      burst.join(cusum, Seq("event_type"), "left")
        .join(resid, Seq("event_type"), "left")
        .join(partner, Seq("event_type"), "left")
        .na.fill(0L, Seq("n_alarms", "max_s"))
        .orderBy("event_type")
    }, oracle =
      s"""WITH bs AS (SELECT * FROM ($q432OracleSql)),
         |ca AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_alarms,
         |    max(s_milli) AS max_s
         |  FROM ($q412OracleSql) GROUP BY 1),
         |ra AS (SELECT event_type, bin AS resid_bin,
         |    dev_milli AS resid_dev
         |  FROM ($q429OracleSql)
         |  WHERE rank = 1),
         |lr AS (SELECT * FROM ($q430OracleSql)),
         |bo AS (SELECT et_a AS event_type, et_b AS partner, lag, r
         |    FROM lr
         |  UNION ALL SELECT et_b, et_a, -lag, r FROM lr),
         |pt AS (SELECT event_type, partner, lag AS partner_lag,
         |    r AS partner_r, row_number() OVER (PARTITION BY event_type
         |      ORDER BY coalesce(abs(r), -2.0) DESC, partner, lag) AS rk
         |  FROM bo)
         |SELECT bs.event_type, bs.n_bins, bs.mean_milli, bs.fano, bs.cv2,
         |  coalesce(ca.n_alarms, 0) AS n_alarms,
         |  coalesce(ca.max_s, 0) AS max_s,
         |  ra.resid_bin, ra.resid_dev,
         |  pt.partner, pt.partner_lag, pt.partner_r
         |FROM bs LEFT JOIN ca ON ca.event_type = bs.event_type
         |LEFT JOIN ra ON ra.event_type = bs.event_type
         |LEFT JOIN pt ON pt.event_type = bs.event_type AND pt.rk = 1
         |ORDER BY bs.event_type""".stripMargin),

    // Needle-in-a-haystack eval-set construction: plant a traceable
    // needle sentence at a deterministic fractional depth of every
    // 7th document — the long-context retrieval probe corpus, with
    // the placement metadata and a content checksum for the trainer.
    Gate("q434_needle_haystack", (s, dir) => {
      val w = split(col("text"), " ")
      val n = size(w).cast("long")
      val depth = element_at(typedLit(Seq(10L, 25L, 50L, 75L, 90L)),
        (idiv(col("doc_id"), 7L) % 5L).cast("int") + 1)
      val pos = idiv(n * depth, 100L)
      val needle = concat(lit("needle"), col("doc_id").cast("string"),
        lit(" marker"))
      t(s, dir, "documents").where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), depth.as("depth_pct"), n.as("n_words"),
          pos.as("needle_pos"),
          md5(concat_ws(" ",
            concat(slice(w, lit(1), pos.cast("int")),
              array(needle),
              slice(w, (pos + 1L).cast("int"), (n - pos).cast("int"))))
            .cast("binary")).as("checksum"))
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
        |    ([10, 25, 50, 75, 90])[CAST(doc_id // 7 % 5 AS INTEGER) + 1]
        |      AS depth_pct
        |  FROM documents WHERE doc_id % 7 = 0),
        |p AS (SELECT doc_id, CAST(depth_pct AS BIGINT) AS depth_pct,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(len(w) AS BIGINT) * depth_pct // 100 AS needle_pos, w
        |  FROM d)
        |SELECT doc_id, depth_pct, n_words, needle_pos,
        |  md5(array_to_string(
        |    w[1:CAST(needle_pos AS INTEGER)]
        |      || ['needle' || CAST(doc_id AS VARCHAR) || ' marker']
        |      || w[CAST(needle_pos AS INTEGER) + 1:CAST(n_words AS INTEGER)],
        |    ' ')) AS checksum
        |FROM p ORDER BY doc_id""".stripMargin),

    // Ingest-time leading-edge debounce replayed over the file stream
    // (AvailableNow): closed bursts only — each key's final burst
    // stays open in state, and the oracle drops it the same way (the
    // q94 append-mode contract). Same 24h gap as batch q419.
    Gate("q426_streaming_debounce", (s, dir) => {
      import s.implicits._
      val stream = graft.core.Tables.stream(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          nsToUs(col("ts")).as("ts_us"), col("event_id"))
        .as[graft.streaming.Streaming.DebEvent]
      val bursts = graft.streaming.Streaming
        .streamingDebounce(stream, gapUs = 86400000000L)
      drainMemory(s, bursts, "append")(
        _.orderBy("user_id", "event_type", "burst_no"))
    }, oracle =
      s"""WITH $burstCtes,
        |bursts AS (SELECT user_id, event_type, burst_no, ts_us,
        |    event_id, burst_size, burst_size - 1 AS n_suppressed
        |  FROM (SELECT user_id, event_type, burst_no, t AS ts_us,
        |      event_id,
        |      row_number() OVER (PARTITION BY user_id, event_type,
        |        burst_no ORDER BY t, event_id) AS rn,
        |      CAST(count(*) OVER (PARTITION BY user_id, event_type,
        |        burst_no) AS BIGINT) AS burst_size
        |    FROM g)
        |  WHERE rn = 1),
        |mx AS (SELECT user_id, event_type, max(burst_no) AS mb
        |  FROM bursts GROUP BY 1, 2)
        |SELECT b.* FROM bursts b JOIN mx
        |  ON mx.user_id = b.user_id AND mx.event_type = b.event_type
        |WHERE b.burst_no < mx.mb
        |ORDER BY b.user_id, b.event_type, b.burst_no""".stripMargin))

  /** Hourly event counts per type on the dense (type × hour) grid between
      * the first and last busy hour: base, c, rng, grid, f(et, b, c).
      */
  private[queries] val hourlyGridCtes: String =
    """base AS (SELECT event_type AS et,
      |    epoch_us(ts) // 3600000000 AS b FROM events),
      |c AS (SELECT et, b, CAST(count(*) AS BIGINT) AS c FROM base
      |  GROUP BY 1, 2),
      |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM c),
      |grid AS (SELECT et, gb.b FROM (SELECT DISTINCT et FROM c)
      |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b FROM rng) gb),
      |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c FROM grid g
      |  LEFT JOIN c ON c.et = g.et AND c.b = g.b)""".stripMargin

  /** Slope, intercept and r2 of the integer least-squares sums in `d`. */
  private[queries] val olsFitCols: String =
    """  CASE WHEN dxx <> 0 THEN
      |    round(CAST(dxy AS DOUBLE) / CAST(dxx AS DOUBLE), 6) + 0.0 END
      |    AS slope,
      |  CASE WHEN dxx <> 0 THEN
      |    round(CAST(inum AS DOUBLE) / CAST(dxx AS DOUBLE), 6) + 0.0 END
      |    AS intercept,
      |  CASE WHEN dxx <> 0 AND dyy <> 0 THEN
      |    round(CAST(dxy AS DOUBLE) * CAST(dxy AS DOUBLE)
      |      / (CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)), 6) END
      |    AS r2""".stripMargin

  /** Per (user, type) bursts split on >24h gaps: e, f, g(.., burst_no). */
  private[queries] val burstCtes: String =
    """e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
      |    event_id FROM events),
      |f AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
      |      OR t - lag(t) OVER w > 86400000000 THEN 1 ELSE 0 END AS nb
      |  FROM e WINDOW w AS (PARTITION BY user_id, event_type
      |    ORDER BY t, event_id)),
      |g AS (SELECT *, CAST(sum(nb) OVER (PARTITION BY user_id,
      |    event_type ORDER BY t, event_id) AS BIGINT) AS burst_no
      |  FROM f)""".stripMargin

  // The leg oracles that the q433 panel oracle reads.
  private val q412OracleSql: String =
    s"""WITH $hourlyGridCtes,
      |m AS (SELECT et, CAST(sum(c) AS BIGINT) * 1000
      |    // CAST(count(*) AS BIGINT) AS mm FROM f GROUP BY 1),
      |x AS (SELECT f.et, f.b, f.c, m.mm,
      |    f.c * 1000 - m.mm - m.mm // 4 AS x
      |  FROM f JOIN m ON m.et = f.et),
      |u AS (SELECT et, b, c, mm,
      |    CAST(sum(x) OVER (PARTITION BY et ORDER BY b) AS BIGINT) AS u
      |  FROM x),
      |v AS (SELECT *, u - least(min(u) OVER (PARTITION BY et
      |    ORDER BY b), 0) AS s FROM u)
      |SELECT et AS event_type,
      |  CAST(row_number() OVER (PARTITION BY et ORDER BY b) AS BIGINT)
      |    AS alarm_no,
      |  b AS bin, c, mm AS mean_milli, s AS s_milli
      |FROM v WHERE s >= mm * 3 ORDER BY event_type, bin""".stripMargin

  private val q430OracleSql: String =
    s"""WITH $hourlyGridCtes,
      |al AS (SELECT et AS et_a, b, c AS ca, lg AS lag, b + lg AS bb
      |  FROM f, (SELECT unnest(range(-6, 7)) AS lg)),
      |j AS (SELECT al.et_a, fb.et AS et_b, al.lag, al.ca, fb.c AS cb
      |  FROM al JOIN f fb ON fb.b = al.bb WHERE al.et_a < fb.et),
      |s AS (SELECT et_a, et_b, lag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(ca) AS BIGINT) AS sx, CAST(sum(cb) AS BIGINT) AS sy,
      |    CAST(sum(ca * cb) AS BIGINT) AS sxy,
      |    CAST(sum(ca * ca) AS BIGINT) AS sxx,
      |    CAST(sum(cb * cb) AS BIGINT) AS syy
      |  FROM j GROUP BY 1, 2, 3),
      |d AS (SELECT et_a, et_b, lag, n AS n_bins,
      |    n * sxx - sx * sx AS dxx, n * syy - sy * sy AS dyy,
      |    n * sxy - sx * sy AS dxy FROM s),
      |r AS (SELECT et_a, et_b, lag, n_bins,
      |    CASE WHEN dxx > 0 AND dyy > 0 THEN
      |      round(CAST(dxy AS DOUBLE)
      |        / sqrt(CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)), 6) + 0.0
      |    END AS r FROM d)
      |SELECT et_a, et_b, lag, n_bins, r,
      |  row_number() OVER (PARTITION BY et_a, et_b
      |    ORDER BY coalesce(abs(r), -2.0) DESC, lag) = 1 AS best
      |FROM r ORDER BY et_a, et_b, lag""".stripMargin

  private val q432OracleSql: String =
    s"""WITH $hourlyGridCtes,
      |s AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS sy,
      |    CAST(sum(c * c) AS BIGINT) AS syy FROM f GROUP BY 1)
      |SELECT et AS event_type, n AS n_bins, sy * 1000 // n AS mean_milli,
      |  CASE WHEN sy > 0 THEN round(CAST(n * syy - sy * sy AS DOUBLE)
      |    / CAST(n * sy AS DOUBLE), 6) END AS fano,
      |  CASE WHEN sy > 0 THEN round(CAST(n * syy - sy * sy AS DOUBLE)
      |    / CAST(sy * sy AS DOUBLE), 6) END AS cv2
      |FROM s ORDER BY event_type""".stripMargin

  private val q429OracleSql: String =
    s"""WITH $hourlyGridCtes,
      |raw AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
      |    CAST(min(b) AS BIGINT) AS b0, CAST(sum(b) AS BIGINT) AS sb,
      |    CAST(sum(c) AS BIGINT) AS sy,
      |    CAST(sum(b * c) AS BIGINT) AS sbc,
      |    CAST(sum(b * b) AS BIGINT) AS sbb
      |  FROM f GROUP BY 1),
      |sh AS (SELECT et, b0, n, sy, sb - n * b0 AS sx,
      |    sbc - b0 * sy AS sxy,
      |    sbb - 2 * b0 * sb + n * b0 * b0 AS sxx FROM raw),
      |d AS (SELECT et, b0, n * sxx - sx * sx AS dxx,
      |    n * sxy - sx * sy AS dxy, sy * sxx - sx * sxy AS inum
      |  FROM sh WHERE n * sxx - sx * sx <> 0),
      |tr AS (SELECT f.et, f.b, f.c, f.b % 24 AS hod, d.dxx,
      |    d.inum + d.dxy * (f.b - d.b0) AS aa
      |  FROM f JOIN d ON d.et = f.et),
      |detr AS (SELECT et, b, c, hod,
      |    c * 1000 - ((aa // dxx) * 1000
      |      + ((aa - (aa // dxx) * dxx) * 1000) // dxx) AS ds
      |  FROM tr),
      |bl AS (SELECT et, hod, CAST(sum(ds) AS BIGINT) AS bn,
      |    CAST(count(*) AS BIGINT) AS cnt FROM detr GROUP BY 1, 2),
      |r AS (SELECT detr.et, detr.b, detr.hod, detr.c,
      |    detr.ds * bl.cnt - bl.bn AS rr, bl.cnt
      |  FROM detr JOIN bl ON bl.et = detr.et AND bl.hod = detr.hod),
      |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY et
      |    ORDER BY abs(CAST(rr AS DOUBLE) / CAST(cnt AS DOUBLE))
      |      DESC, b) AS INTEGER) AS rank FROM r)
      |SELECT et AS event_type, rank, b AS bin, hod, c,
      |  round(CAST(rr AS DOUBLE) / CAST(cnt AS DOUBLE), 6) + 0.0 AS dev_milli
      |FROM rk WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin
}
