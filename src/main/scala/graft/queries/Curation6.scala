package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Events, Quality, Scale, TextOps}
import graft.queries.Q._

/** Round-8 batch 4: document summarization signals (TF-IDF keywords,
  * Flesch readability), the privacy-audit ladder beyond k-anonymity
  * (l-diversity, t-closeness), association-rule mining, key-space-
  * sharded distinct counting, and Pareto/ABC concentration. Every
  * query ships a full DuckDB re-derivation under the
  * [[graft.ops.Corpus]] exactness rules (nano-quantized per-term
  * logs, truncating integer division on positive operands, ONE final
  * double formula).
  */
object Curation6 extends Gates {

  import graft.functions.PixieFunctions.{idiv, nsToUs}

  /** Shared QI projection for the privacy audits: (event_type,
    * hour-of-day) classes with the 100-unit value band as the
    * sensitive attribute — one definition so q437/q438 and their
    * oracles cannot drift apart.
    */
  private def privacyProj(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "events").select(
      col("event_type"),
      (idiv(nsToUs(col("ts")), 3600000000L) % 24L).as("hod"),
      floor(col("value") / 100.0).cast("long").as("vb"))

  private val privacyProjSql =
    """SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod,
      |    CAST(floor(value / 100.0) AS BIGINT) AS vb FROM events""".stripMargin

  lazy val gates: Seq[Gate] = Seq(

    // TF-IDF keyword extraction: each doc's top-3 terms by the exact
    // integer tf * nano-quantized ln(N/df) score, ties word-ascending
    // — the topic-tagging signal for dataset cards and facet search.
    Gate("q435_tfidf_keywords", (s, dir) => {
      TextOps.tfidfKeywords(t(s, dir, "documents"), "text", "doc_id", k = 3)
        .orderBy("doc_id", "rank")
    }, oracle =
      """WITH w AS (SELECT doc_id, w FROM (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS w FROM documents
        |    WHERE doc_id IS NOT NULL)
        |  WHERE w <> ''),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        |  FROM w GROUP BY 1, 2),
        |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM tf),
        |sc AS (SELECT doc_id, w, tf,
        |    tf * CAST(floor(ln(CAST(n_docs AS DOUBLE)
        |      / CAST(df AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)
        |      AS sn
        |  FROM tf JOIN dfq USING (w) CROSS JOIN n),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY sn DESC, w) AS BIGINT) AS rank FROM sc)
        |SELECT doc_id, rank, w AS word, tf,
        |  round(CAST(sn AS DOUBLE) / 1000000000.0, 6) AS tfidf
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // Flesch reading-ease per doc from exact integer word/sentence/
    // syllable-proxy counts (vowel-group runs, min 1 per word) — the
    // readability gate of the text-quality ladder.
    Gate("q436_readability", (s, dir) => {
      TextOps.readability(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }, oracle =
      """WITH base AS (SELECT doc_id, text, lower(text) AS lt
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(lt, ' '),
        |      w -> w <> '')) AS BIGINT) AS n_words,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        |      AS n_sentences,
        |    CAST(len(regexp_extract_all(lt, '[aeiouy]+')) AS BIGINT)
        |      + CAST(len(list_filter(string_split(lt, ' '),
        |          w -> w <> '' AND NOT regexp_matches(w, '[aeiouy]')))
        |        AS BIGINT) AS n_syllables
        |  FROM base)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round(206.835
        |    - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
        |    - 84.6 * CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE),
        |    6) + 0.0 AS flesch
        |FROM t WHERE n_words > 0 ORDER BY doc_id""".stripMargin),

    // L-diversity audit: (event_type, hour-of-day) classes whose
    // 100-unit value bands show fewer than 3 distinct values — the
    // homogeneity-attack report k-anonymity alone misses.
    Gate("q437_l_diversity", (s, dir) => {
      Quality.lDiversity(privacyProj(s, dir), "vb",
          Seq("event_type", "hod"), l = 3L)
        .orderBy("event_type", "hod")
    }, oracle =
      s"""WITH p AS ($privacyProjSql)
         |SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT vb) AS BIGINT) AS n_sensitive
         |FROM p WHERE vb IS NOT NULL GROUP BY 1, 2
         |HAVING count(DISTINCT vb) < 3
         |ORDER BY event_type, hod""".stripMargin),

    // T-closeness audit: per-class total-variation distance between
    // the class's sensitive-band distribution and the global one —
    // nano-quantized probabilities, absent-value mass via the closed
    // form (no class x sensitive cross join).
    Gate("q438_t_closeness", (s, dir) => {
      Quality.tCloseness(privacyProj(s, dir), "vb",
          Seq("event_type", "hod"))
        .orderBy("event_type", "hod")
    }, oracle =
      s"""WITH p AS (SELECT * FROM ($privacyProjSql)
         |  WHERE event_type IS NOT NULL AND hod IS NOT NULL),
         |cells AS (SELECT event_type, hod, vb,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM p WHERE vb IS NOT NULL GROUP BY 1, 2, 3),
         |cls AS (SELECT event_type, hod, CAST(sum(c) AS BIGINT) AS n_q
         |  FROM cells GROUP BY 1, 2),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cells),
         |g AS (SELECT vb,
         |    (CAST(sum(c) AS BIGINT) * 1000000000) // nn AS pg
         |  FROM cells CROSS JOIN n GROUP BY vb, nn),
         |gt AS (SELECT CAST(sum(pg) AS BIGINT) AS g_total FROM g),
         |j AS (SELECT cells.event_type, cells.hod, n_q,
         |    (c * 1000000000) // n_q AS pq, pg
         |  FROM cells JOIN cls USING (event_type, hod)
         |  JOIN g USING (vb)),
         |a AS (SELECT event_type, hod, n_q,
         |    CAST(sum(abs(pq - pg)) AS BIGINT) AS pres,
         |    CAST(sum(pg) AS BIGINT) AS pgsum
         |  FROM j GROUP BY 1, 2, 3)
         |SELECT event_type, hod, n_q,
         |  round(CAST(pres + g_total - pgsum AS DOUBLE) / 2000000000.0, 6)
         |    AS tvd
         |FROM a CROSS JOIN gt ORDER BY event_type, hod""".stripMargin),

    // Association rules over user baskets of event types: directed
    // a -> b rules with >= 5 co-occurring users — support/confidence
    // in exact ppm, lift milli-scaled, all truncating integer
    // division (the "users who error also purchase?" miner).
    Gate("q439_assoc_rules", (s, dir) => {
      Events.assocRules(t(s, dir, "events"), "user_id", "event_type",
          minBaskets = 5L)
        .orderBy("antecedent", "consequent")
    }, oracle =
      """WITH it AS (SELECT DISTINCT user_id AS b, event_type AS i
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM it),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS c
        |  FROM it GROUP BY 1),
        |p AS (SELECT x.i AS antecedent, y.i AS consequent,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM it x JOIN it y USING (b)
        |  WHERE x.i <> y.i GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT antecedent, consequent, n_both,
        |  (n_both * 1000000) // nb AS support_ppm,
        |  (n_both * 1000000) // ca.c AS confidence_ppm,
        |  (n_both * nb * 1000) // (ca.c * cb.c) AS lift_milli
        |FROM p JOIN ic ca ON ca.i = p.antecedent
        |JOIN ic cb ON cb.i = p.consequent CROSS JOIN n
        |ORDER BY antecedent, consequent""".stripMargin),

    // Distinct users per event type via key-space sharding (64-way
    // hash shards dedup locally, cardinalities SUM — exact because
    // shards partition the key space); the oracle is the plain
    // count(DISTINCT) the sharded plan must equal. n_shards_hit is
    // hash-dependent diagnostics, selected away from the gated
    // surface (Round8dSpec pins it instead).
    Gate("q440_sharded_distinct", (s, dir) => {
      Scale.shardedDistinct(t(s, dir, "events"), "event_type",
          "user_id", nShards = 64)
        .select("event_type", "n_unique")
        .orderBy("event_type")
    }, oracle =
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Pareto/ABC revenue concentration by part: cent-quantized
    // revenue, rank + running share over the PER-KEY aggregate
    // (dimension-sized window), classic 80/95 class cut.
    Gate("q441_pareto_abc", (s, dir) => {
      Quality.paretoAbc(t(s, dir, "lineitem"), "l_partkey",
          col("l_extendedprice") * (lit(1) - col("l_discount")))
        .orderBy("rank")
    }, oracle =
      """WITH per AS (SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
        |      * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM per),
        |r AS (SELECT l_partkey, cents,
        |    CAST(row_number() OVER (ORDER BY cents DESC, l_partkey)
        |      AS BIGINT) AS rank,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM per)
        |SELECT l_partkey, rank, cents,
        |  (cum * 1000000) // total AS cum_ppm,
        |  CASE WHEN (cum * 1000000) // total <= 800000 THEN 'A'
        |       WHEN (cum * 1000000) // total <= 950000 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin),

    // Pairwise Pearson correlation matrix over the lineitem numerics
    // from ONE scan of exact decimal moments — the collinearity /
    // leaky-proxy audit before any model fit.
    Gate("q442_corr_matrix", (s, dir) => {
      graft.ops.Fit.corrMatrix(t(s, dir, "lineitem"), Seq(
          ("l_quantity", col("l_quantity"), 1.0),
          ("l_extendedprice", col("l_extendedprice"), 100.0),
          ("l_discount", col("l_discount"), 10000.0),
          ("l_tax", col("l_tax"), 10000.0)))
        .orderBy("col_a", "col_b")
    }, oracle = {
      val pairs = Seq(("qa", "l_quantity"), ("qb", "l_extendedprice"),
        ("qc", "l_discount"), ("qd", "l_tax"))
      val blocks = pairs.combinations(2).map { case Seq((a, na), (b, nb)) =>
        s"""SELECT '$na' AS col_a, '$nb' AS col_b, n,
           |  CASE WHEN n*ss$a - s$a*s$a > 0 AND n*ss$b - s$b*s$b > 0 THEN
           |    round(CAST(n*sp$a$b - s$a*s$b AS DOUBLE)
           |      / (sqrt(CAST(n*ss$a - s$a*s$a AS DOUBLE))
           |         * sqrt(CAST(n*ss$b - s$b*s$b AS DOUBLE))), 6) + 0.0
           |  END AS r FROM s""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH q AS (SELECT
         |    CAST(floor(l_quantity * 1.0 + 0.5) AS BIGINT) AS qa,
         |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS qb,
         |    CAST(floor(l_discount * 10000.0 + 0.5) AS BIGINT) AS qc,
         |    CAST(floor(l_tax * 10000.0 + 0.5) AS BIGINT) AS qd
         |  FROM lineitem
         |  WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
         |    AND l_extendedprice IS NOT NULL
         |    AND NOT isnan(l_extendedprice)
         |    AND l_discount IS NOT NULL AND NOT isnan(l_discount)
         |    AND l_tax IS NOT NULL AND NOT isnan(l_tax)),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(qa) AS sqa, sum(qb) AS sqb, sum(qc) AS sqc,
         |    sum(qd) AS sqd,
         |    sum(CAST(qa AS HUGEINT)*qa) AS ssqa,
         |    sum(CAST(qb AS HUGEINT)*qb) AS ssqb,
         |    sum(CAST(qc AS HUGEINT)*qc) AS ssqc,
         |    sum(CAST(qd AS HUGEINT)*qd) AS ssqd,
         |    sum(CAST(qa AS HUGEINT)*qb) AS spqaqb,
         |    sum(CAST(qa AS HUGEINT)*qc) AS spqaqc,
         |    sum(CAST(qa AS HUGEINT)*qd) AS spqaqd,
         |    sum(CAST(qb AS HUGEINT)*qc) AS spqbqc,
         |    sum(CAST(qb AS HUGEINT)*qd) AS spqbqd,
         |    sum(CAST(qc AS HUGEINT)*qd) AS spqcqd
         |  FROM q)
         |SELECT * FROM ($blocks) ORDER BY col_a, col_b""".stripMargin
    }),

    // ROC-AUC of value as a purchase classifier via the exact
    // rank-sum identity (doubled average ranks over distinct
    // micro-quantized scores — no per-row window, ties exact).
    Gate("q443_roc_auc", (s, dir) => {
      graft.ops.Classify.rocAuc(t(s, dir, "events"), col("value"),
        col("event_type") === "purchase")
    }, oracle = q443OracleSql),

    // Kaplan-Meier time-to-first-purchase per user (log domain:
    // nano-quantized per-factor logs, exact cumulative sums; exp is
    // the caller's — libm exp is not IEEE-pinned across engines).
    Gate("q444_kaplan_meier", (s, dir) => {
      Events.kaplanMeier(t(s, dir, "events"), "user_id", "ts",
          "event_type", "purchase")
        .orderBy("dur_us")
    }, oracle =
      """WITH per AS (SELECT user_id, min(epoch_us(ts)) AS t0,
        |    max(epoch_us(ts)) AS tmax,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS tevt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |dd AS (SELECT dur_us, obs FROM (SELECT
        |      coalesce(tevt - t0, tmax - t0) AS dur_us,
        |      CASE WHEN tevt IS NOT NULL THEN 1 ELSE 0 END AS obs
        |    FROM per) WHERE dur_us IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM dd),
        |byt AS (SELECT dur_us, CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(obs) AS BIGINT) AS d FROM dd GROUP BY 1),
        |r AS (SELECT dur_us, total, d, CAST(sum(total) OVER
        |    (ORDER BY dur_us ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS cumtot FROM byt),
        |ev AS (SELECT dur_us, nn - (cumtot - total) AS n_risk, d
        |  FROM r CROSS JOIN n WHERE d > 0),
        |tm AS (SELECT dur_us, n_risk, d,
        |    CASE WHEN n_risk > d THEN CAST(floor(
        |      ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END AS term,
        |    CASE WHEN n_risk = d THEN 1 ELSE 0 END AS z FROM ev),
        |c AS (SELECT dur_us, n_risk, d,
        |    CAST(sum(term) OVER w AS BIGINT) AS cum,
        |    CAST(max(z) OVER w AS BIGINT) AS zs
        |  FROM tm WINDOW w AS (ORDER BY dur_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT dur_us, n_risk, d,
        |  CASE WHEN zs = 0 THEN
        |    round(CAST(cum AS DOUBLE) / 1000000000.0, 6) + 0.0
        |  END AS log_survival,
        |  zs = 1 AS survival_zero
        |FROM c ORDER BY dur_us""".stripMargin),

    // Simplified (centroid) silhouette per label cluster — the O(n·k)
    // cluster-quality audit; centroids from exact micro-quantized
    // dimension sums, distances folded in index order (q29 contract).
    Gate("q445_silhouette", (s, dir) => {
      graft.ops.Similarity.simplifiedSilhouette(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label")
        .orderBy("label")
    }, oracle =
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |ex AS (SELECT label, i AS d, e[i+1] AS x
        |  FROM v, range(64) t(i)),
        |cd AS (SELECT label, d,
        |    CAST(sum(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1, 2),
        |cent AS (SELECT label AS clabel,
        |    list(CAST(s AS DOUBLE) / 1000000.0 / n ORDER BY d) AS c
        |  FROM cd GROUP BY 1),
        |pc AS (SELECT v.vec_id, v.label, cent.clabel,
        |    sqrt(list_sum(list_transform(range(64),
        |      i -> (e[i+1] - c[i+1]) * (e[i+1] - c[i+1])))) AS dist
        |  FROM v, cent),
        |ab AS (SELECT vec_id, label,
        |    max(CASE WHEN clabel = label THEN dist END) AS a,
        |    min(CASE WHEN clabel <> label THEN dist END) AS b
        |  FROM pc GROUP BY 1, 2),
        |sm AS (SELECT label, CASE WHEN greatest(a, b) > 0 THEN
        |    CAST(floor((b - a) / greatest(a, b) * 1000000.0 + 0.5)
        |      AS BIGINT) ELSE 0 END AS sm FROM ab)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_points,
        |  round(CAST(sum(sm) AS DOUBLE) / 1000000.0 / count(*), 6) + 0.0
        |    AS mean_silhouette
        |FROM sm GROUP BY 1 ORDER BY label""".stripMargin),

    // Incremental aggregate maintenance: per-type (count, sum) state
    // persisted from the event_id%5!=0 snapshot, the %5==0 delta
    // folded WITHOUT rescanning the snapshot — result must equal the
    // full-corpus GROUP BY (the IVM member of the persisted-index
    // family; q269/q283/q338 pattern).
    Gate("q446_incremental_agg", (s, dir) => {
      // null event_ids would land in NEITHER split (pmod(null) fails
      // both predicates) while the full-corpus oracle keeps them —
      // exclude explicitly on both engine sides (null-parity contract)
      val ev = t(s, dir, "events").where(col("event_id").isNotNull)
      val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
      val delta = ev.where(pmod(col("event_id"), lit(5L)) === 0)
      val statePath = Curation2.tempIndexDir("graft_agg_state_")
      try {
        Scale.aggState(snap, "event_type", col("value"))
          .write.parquet(statePath)
        Scale.foldAggState(s.read.parquet(statePath), delta,
            "event_type", col("value"))
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(statePath)
    }, oracle = q446OracleSql),

    // Temporal sequence rules: a FOLLOWED BY b within 6 h, support =
    // distinct users — the "what does an error lead to" miner between
    // co-occurrence (q439) and strict adjacency (q379).
    Gate("q447_seq_rules", (s, dir) => {
      Events.seqRules(t(s, dir, "events"), "user_id", "event_type",
          "ts", gapUs = 21600000000L, minUsers = 5L)
        .orderBy("antecedent", "consequent")
    }, oracle =
      """WITH e AS (SELECT user_id AS u, event_type AS et,
        |    epoch_us(ts) AS t FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nn FROM e),
        |p AS (SELECT DISTINCT x.u, x.et AS antecedent,
        |    y.et AS consequent
        |  FROM e x JOIN e y ON x.u = y.u
        |  WHERE x.et <> y.et AND y.t > x.t
        |    AND y.t <= x.t + 21600000000),
        |r AS (SELECT antecedent, consequent,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM p GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT antecedent, consequent, n_users,
        |  (n_users * 1000000) // nn AS support_ppm
        |FROM r CROSS JOIN n ORDER BY antecedent, consequent""".stripMargin),

    // A/B readout: user_id-parity variants, purchase conversion, the
    // exact 2x2 chi-square closed form + the SRM guardrail chi-square.
    Gate("q448_ab_chi_square", (s, dir) => {
      Events.abChiSquare(t(s, dir, "events"), "user_id",
        pmod(col("user_id"), lit(2L)), "event_type", "purchase")
    }, oracle = q448OracleSql),

    // CUPED variance reduction: pre-period (before Jan 16) spend as
    // the covariate, theta from exact decimal moments, per-variant
    // raw vs adjusted post-period means.
    Gate("q449_cuped", (s, dir) => {
      Events.cuped(t(s, dir, "events"), "user_id",
          pmod(col("user_id"), lit(2L)), col("value"), "ts",
          graft.functions.PixieFunctions.tsNsLit("2024-01-16"))
        .orderBy("variant")
    }, oracle = q449OracleSql),

    // Composed experiment readout: one row per variant stitching the
    // CUPED means, the per-variant conversion rate, the chi-square +
    // SRM guardrails, and the value-as-classifier AUC — the panel an
    // experimentation platform renders per test. The oracle is
    // ASSEMBLED from the legs' oracle strings (the q433 pattern) so
    // the panel SQL can never drift from the detectors.
    Gate("q450_experiment_panel", (s, dir) => {
      val variant = pmod(col("user_id"), lit(2L))
      val ev = t(s, dir, "events")
      val cu = Events.cuped(ev, "user_id", variant, col("value"), "ts",
        graft.functions.PixieFunctions.tsNsLit("2024-01-16"))
      val ab = Events.abChiSquare(ev, "user_id", variant,
        "event_type", "purchase")
      val auc = graft.ops.Classify.rocAuc(ev, col("value"),
        col("event_type") === "purchase")
      cu.crossJoin(broadcast(ab.select(col("rate_a_ppm"),
          col("rate_b_ppm"), col("chi2"), col("srm_chi2"))))
        .crossJoin(broadcast(auc.select(col("auc"))))
        .select(col("variant"), col("n_subjects"),
          when(col("variant") === 0, col("rate_a_ppm"))
            .otherwise(col("rate_b_ppm")).as("rate_ppm"),
          col("mean_post"), col("mean_adjusted"),
          col("chi2"), col("srm_chi2"), col("auc"))
        .orderBy("variant")
    }, oracle =
      s"""WITH cu AS (SELECT * FROM ($q449OracleSql)),
         |ab AS (SELECT * FROM ($q448OracleSql)),
         |au AS (SELECT * FROM ($q443OracleSql))
         |SELECT cu.variant, cu.n_subjects,
         |  CASE WHEN cu.variant = 0 THEN ab.rate_a_ppm
         |       ELSE ab.rate_b_ppm END AS rate_ppm,
         |  cu.mean_post, cu.mean_adjusted, ab.chi2, ab.srm_chi2,
         |  au.auc
         |FROM cu CROSS JOIN ab CROSS JOIN au
         |ORDER BY cu.variant""".stripMargin),

    // Jaro-Winkler blocked linkage over part names (brand blocks):
    // the native codegen expression, bit-identical to DuckDB's
    // jaro_winkler_similarity (fuzz-verified), thresholded on the
    // ROUNDED score so the cut is boundary-safe cross-engine.
    Gate("q451_jaro_linkage", (s, dir) => {
      graft.ops.Dedup.jaroLinkage(t(s, dir, "part"), "p_partkey",
          "p_name", Seq("p_brand", "p_size"), minJw = 0.9)
        .orderBy("p_brand", "p_size", "id_a", "id_b")
    }, oracle =
      """WITH p AS (SELECT p_partkey, p_brand, p_size, p_name
        |  FROM part),
        |j AS (SELECT x.p_brand, x.p_size, x.p_partkey AS id_a,
        |    y.p_partkey AS id_b,
        |    round(jaro_winkler_similarity(x.p_name, y.p_name), 6) AS jw
        |  FROM p x JOIN p y ON x.p_brand = y.p_brand
        |    AND x.p_size = y.p_size AND x.p_partkey < y.p_partkey)
        |SELECT p_brand, p_size, id_a, id_b, jw FROM j
        |WHERE jw >= 0.9
        |ORDER BY p_brand, p_size, id_a, id_b""".stripMargin),

    // Typo-tolerant linkage on the FULL Damerau-Levenshtein metric
    // (native codegen expression; transpositions cost 1) with plain
    // Levenshtein alongside — integer distances, definitional parity.
    Gate("q452_typo_linkage", (s, dir) => {
      graft.ops.Dedup.typoLinkage(t(s, dir, "part"), "p_partkey",
          "p_name", Seq("p_brand", "p_size"), maxDl = 3L)
        .orderBy("p_brand", "p_size", "id_a", "id_b")
    }, oracle =
      """WITH p AS (SELECT p_partkey, p_brand, p_size, p_name
        |  FROM part),
        |j AS (SELECT x.p_brand, x.p_size, x.p_partkey AS id_a,
        |    y.p_partkey AS id_b,
        |    CAST(damerau_levenshtein(x.p_name, y.p_name) AS BIGINT)
        |      AS dl,
        |    CAST(levenshtein(x.p_name, y.p_name) AS BIGINT) AS lev
        |  FROM p x JOIN p y ON x.p_brand = y.p_brand
        |    AND x.p_size = y.p_size AND x.p_partkey < y.p_partkey)
        |SELECT p_brand, p_size, id_a, id_b, dl, lev FROM j
        |WHERE dl <= 3
        |ORDER BY p_brand, p_size, id_a, id_b""".stripMargin),

    // Incremental DISTINCT-count maintenance: shard-partitioned key
    // state + per-shard cardinality summary persisted from the
    // event_id%5!=0 snapshot; the %5==0 delta folds via a
    // PARTITION-PRUNED read of only its shards (untouched shards
    // contribute through the summary alone) — result must equal the
    // full count(DISTINCT) (the distinct edition of q446's IVM).
    Gate("q454_incremental_distinct", (s, dir) => {
      val ev = t(s, dir, "events").where(col("event_id").isNotNull)
      val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
      val delta = ev.where(pmod(col("event_id"), lit(5L)) === 0)
      val statePath = Curation2.tempIndexDir("graft_distinct_state_")
      try {
        Scale.writeDistinctState(snap, "event_type", "user_id",
          nShards = 16, statePath)
        Scale.foldDistinctState(s, statePath, delta, "event_type",
            "user_id", nShards = 16)
          .orderBy("event_type")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(statePath)
    }, oracle = q454OracleSql))

  // The leg oracles that other oracles read: the q450 panel reads
  // q443/q448/q449, and Curation7's q476 panel reads q446/q454.
  private val q443OracleSql: String =
    """WITH q AS (SELECT
      |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS s,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events
      |  WHERE value IS NOT NULL AND NOT isnan(value)),
      |g AS (SELECT s, CAST(count(*) AS BIGINT) AS c,
      |    CAST(sum(y) AS BIGINT) AS p FROM q GROUP BY 1),
      |r AS (SELECT *, CAST(sum(c) OVER (ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cum FROM g),
      |t AS (SELECT CAST(sum(p * (2*(cum - c) + c + 1)) AS BIGINT)
      |      AS r2,
      |    CAST(sum(p) AS BIGINT) AS n_pos,
      |    CAST(sum(c - p) AS BIGINT) AS n_neg FROM r)
      |SELECT n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    round(CAST(r2 - n_pos*(n_pos+1) AS DOUBLE)
      |      / (2.0 * n_pos * n_neg), 6) END AS auc
      |FROM t""".stripMargin

  private[queries] val q446OracleSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  round(CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 100.0 / count(*), 6) + 0.0 AS mean
      |FROM events WHERE event_id IS NOT NULL
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  private val q448OracleSql: String =
    """WITH per AS (SELECT user_id, user_id % 2 AS v,
      |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |      END) AS BIGINT) AS conv
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      |c AS (SELECT
      |    CAST(sum(CASE WHEN v = 0 AND conv = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN v = 0 AND conv = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN v <> 0 AND conv = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN v <> 0 AND conv = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d
      |  FROM per)
      |SELECT a + b AS n_a, c + d AS n_b, a AS conv_a, c AS conv_b,
      |  CASE WHEN a + b > 0 THEN (a * 1000000) // (a + b) END
      |    AS rate_a_ppm,
      |  CASE WHEN c + d > 0 THEN (c * 1000000) // (c + d) END
      |    AS rate_b_ppm,
      |  CASE WHEN a + b > 0 AND c + d > 0 AND a + c > 0
      |      AND b + d > 0 THEN
      |    round(CAST(a + b + c + d AS DOUBLE)
      |      * CAST(a*d - b*c AS DOUBLE) * CAST(a*d - b*c AS DOUBLE)
      |      / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
      |         * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)), 6)
      |  END AS chi2,
      |  CASE WHEN a + b + c + d > 0 THEN
      |    round(CAST((a + b) - (c + d) AS DOUBLE)
      |      * CAST((a + b) - (c + d) AS DOUBLE)
      |      / CAST(a + b + c + d AS DOUBLE), 6) END AS srm_chi2
      |FROM c""".stripMargin

  private val q449OracleSql: String =
    """WITH per AS (SELECT user_id, user_id % 2 AS variant,
      |    coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN
      |      CAST(floor(value * 100.0 + 0.5) AS BIGINT) END),
      |      0) AS x,
      |    coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN
      |      CAST(floor(value * 100.0 + 0.5) AS BIGINT) END),
      |      0) AS y
      |  FROM events WHERE user_id IS NOT NULL
      |    AND (value IS NULL OR NOT isnan(value)) GROUP BY 1, 2),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS nn,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM per),
      |t AS (SELECT nn, sx,
      |    CASE WHEN nn*sxx - sx*sx > 0 THEN
      |      CAST(nn*sxy - sx*sy AS DOUBLE)
      |        / CAST(nn*sxx - sx*sx AS DOUBLE)
      |    ELSE 0.0 END AS theta FROM m),
      |v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_subjects,
      |    CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv
      |  FROM per GROUP BY 1)
      |SELECT variant, n_subjects,
      |  round(CAST(syv AS DOUBLE) / 100.0 / n_subjects, 6) + 0.0
      |    AS mean_post,
      |  round((CAST(syv AS DOUBLE) / n_subjects
      |    - theta * (CAST(sxv AS DOUBLE) / n_subjects
      |      - CAST(sx AS DOUBLE) / nn)) / 100.0, 6) + 0.0 AS mean_adjusted
      |FROM v CROSS JOIN t ORDER BY variant""".stripMargin

  private[queries] val q454OracleSql: String =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique
      |FROM events
      |WHERE event_id IS NOT NULL AND user_id IS NOT NULL
      |GROUP BY 1 ORDER BY event_type""".stripMargin
}
