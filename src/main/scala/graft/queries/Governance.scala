package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.PixieFunctions.{idiv, nsToUs}
import graft.ops.Dedup.h60Sql
import graft.ops.{Dedup, Similarity, TextOps, UrlOps, Classify, Quality, CurationNDay}
import Lifecycle.{L, tapeCtes}
import NorthStar.{K, BANDS, NGRAM, sigCtes, candCtes, interCtes, pairsCte, reachCtes,
  compCte}
import Q._
import Sketches.cumCountCols
import TextCuration.{canonUrlSql, rawUrlCol, repFracCtes, segFracCtes, sigBandCtes}

/** Quality and governance gates: privacy (k-anonymity, l-diversity,
  * t-closeness), leakage-safe and group splits, contamination
  * attribution, quality signals and classifier/filter evaluation,
  * distribution drift (PSI, KS, centroid, language mix), CDC/SCD2
  * history, schema evolution and exactly-once ingest, and the curation
  * and data cards a steward reads.
  */
object Governance extends Gates {

  /** [[sigBandCtes]] over `documents` extended with the recursive
    * connected-components closure (the q325 shape). Ends with
    * comp(doc_id, component=min reachable id).
    */
  private def ccCtes: String =
    s"""${sigBandCtes("documents")},
       |e AS (SELECT da AS u, db AS v FROM cand UNION
       |  SELECT db, da FROM cand),
       |reach AS (SELECT u AS a, v AS b FROM e
       |  UNION SELECT r.a, e.v FROM reach r JOIN e ON r.b = e.u),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
       |  FROM reach GROUP BY a)""".stripMargin

  /** q32's stopword list (== the `en` marker set) — the shared
    * English-ness signal for the calibration query.
    */
  private val stops = Seq("the", "a", "of", "to", "and", "in", "is")

  private val stopsSqlList = stops.map("'" + _ + "'").mkString(",")

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

  /** SQL twin of the q471/q472 changelog projection. */
  private val cdcSql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS tus,
      |  CASE WHEN event_type = 'signup' THEN 'I'
      |       WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |  CASE WHEN value IS NULL OR isnan(value) THEN NULL
      |       ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS vc
      |FROM events
      |WHERE user_id IS NOT NULL AND event_id IS NOT NULL""".stripMargin

  lazy val gates: Seq[Gate] = Seq(
    // Leakage-safe split: keyed by duplicate-cluster component, so no
    // exact/near copy ever straddles train/test.
    Gate("q284_leakage_safe_split", (s, dir) => {
      Dedup.leakageSafeSplit(t(s, dir, "documents"), "text", "doc_id",
          valPct = 10, testPct = 10, NGRAM, K, BANDS, 0.8)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH RECURSIVE ${sigCtes("documents", "")},
         |$candCtes,
         |${interCtes("documents")},
         |${pairsCte("pairs")},
         |${reachCtes("pairs")},
         |$compCte,
         |allc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c USING (doc_id))
         |SELECT doc_id, component,
         |  CASE WHEN h < 10 THEN 'test' WHEN h < 20 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM (SELECT doc_id, component,
         |    (${h60Sql("CAST(component AS VARCHAR)")}) % 100 AS h FROM allc)
         |ORDER BY doc_id""".stripMargin),

    // Per-source corpus report card: the monitoring rollup a curation
    // pipeline publishes per snapshot — volume, token mass, exact-dup
    // rate, and length profile, one partial-agg pass over the corpus.
    Gate("q280_corpus_report", (s, dir) => {
      val d = t(s, dir, "documents")
      d.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_unique"),
          round((col("n_docs") - col("n_unique")).cast("double") /
            col("n_docs"), 6).as("dup_ratio"),
          round(col("n_chars").cast("double") / col("n_docs"), 6)
            .as("mean_chars"))
        .orderBy("source")
    }, oracle =
      """SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  count(DISTINCT md5(text)) AS n_unique,
        |  round(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
        |    / count(*), 6) AS dup_ratio,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // Ingest-time decontamination: the q237 batch answer reproduced by
    // a STATELESS stream-static join + one complete-mode aggregate
    // (AvailableNow replay == batch; shares q237's oracle verbatim).
    Gate("q279_streaming_contamination", (s, dir) => {
      val evalSet = t(s, dir, "documents").filter(col("source") === "src0")
      val stream = graft.core.Tables.stream(s, dir, "documents")
        .filter(col("source") =!= "src0")
      val out = graft.streaming.Streaming
        .streamingContamination(stream, evalSet, "text", "doc_id", 8)
      drainMemory(s, out, "complete")(_.orderBy("doc_id"))
    }, oracle =
      // replay == batch: the streaming row shares q237's oracle verbatim
      graft.queries.NorthStar.contaminationOracle),

    // The per-doc signal card: quality + lang-ID + script share are all
    // map-only, so they CHAIN into one projection lineage (one scan);
    // entropy is the only aggregating signal and joins back by doc —
    // two scans total, not one per signal. The composed "score
    // everything once" pass a curation pipeline actually runs.
    Gate("q329_signal_card", (s, dir) => {
      val docs = t(s, dir, "documents")
      val nchars = length(col("text")).cast("long")
      val nlat = (nchars -
        length(regexp_replace(col("text"), "[A-Za-z]", ""))).cast("long")
      val mapSignals = TextOps.langId(TextOps.qualityScore(docs, "text"), "text")
        .select(col("doc_id"), col("n_words"),
          round(col("quality_score"), 6).as("quality_score"),
          col("lang_pred"),
          round(nlat.cast("double") / greatest(nchars, lit(1L)), 6)
            .as("latin_share"))
      val ent = TextOps.tokenEntropy(docs, "text", "doc_id")
        .select(col("doc_id"), col("entropy_nats"))
      mapSignals.join(ent, "doc_id").orderBy("doc_id")
    }, oracle = {
      val scores = TextOps.langMarkers.map { case (l, ms) =>
        s"""    len(list_filter(string_split(text, ' '),
           |      x -> x IN (${ms.map("'" + _ + "'").mkString(", ")})))
           |      AS score_$l""".stripMargin }.mkString(",\n")
      val langs = TextOps.langMarkers.map(_._1)
      val cases = langs.map { l =>
        val geAll = langs.filter(_ != l)
          .map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"       WHEN $geAll THEN '$l'" }.mkString("\n")
      val stopIn = "x IN ('the', 'a', 'of', 'to', 'and', 'in', 'is')"
      s"""WITH wc AS (SELECT doc_id, w, count(*) AS c FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> '' GROUP BY doc_id, w),
         |ent AS (SELECT doc_id,
         |    round(ln(CAST(sum(c) AS DOUBLE))
         |      - CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1000000.0
         |          + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / sum(c), 6)
         |      AS entropy_nats
         |  FROM wc GROUP BY doc_id),
         |ls AS (SELECT doc_id,
         |$scores
         |  FROM documents),
         |lang AS (SELECT doc_id,
         |  CASE WHEN ${langs.map(l => s"score_$l").mkString(" + ")} = 0
         |         THEN 'unknown'
         |$cases
         |       ELSE 'unknown' END AS lang_pred FROM ls),
         |base AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4
         |      + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |         / len(string_split(text, ' '))) * 0.3
         |      + (1.0 - CAST(len(list_filter(string_split(text, ' '),
         |           x -> $stopIn)) AS DOUBLE)
         |         / len(string_split(text, ' '))) * 0.3, 6) AS quality_score,
         |    round(CAST(length(text)
         |        - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1), 6) AS latin_share
         |  FROM documents)
         |SELECT b.doc_id, n_words, quality_score, entropy_nats, lang_pred,
         |  latin_share
         |FROM base b JOIN ent USING (doc_id) JOIN lang USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }),

    // Contamination attribution: per flagged doc, the worst-leaking
    // suite (q310's src0/src1 suite convention).
    Gate("q344_contamination_attr", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Corpus.contaminationAttribution(
          docs.filter(!col("source").isin("src0", "src1")),
          docs.filter(col("source").isin("src0", "src1")),
          "text", "doc_id", "source")
        .orderBy("doc_id")
    }, oracle = {
      val sh8 = Dedup.shinglesSql("text", 8)
      s"""WITH ev AS (SELECT DISTINCT source AS suite,
         |    unnest(list_distinct($sh8)) AS g
         |  FROM documents WHERE source IN ('src0', 'src1')),
         |cg AS (SELECT doc_id, unnest(list_distinct($sh8)) AS g
         |  FROM documents WHERE source NOT IN ('src0', 'src1')),
         |tot AS (SELECT doc_id,
         |    CAST(len(list_distinct($sh8)) AS BIGINT) AS n_grams
         |  FROM documents WHERE source NOT IN ('src0', 'src1')),
         |hit AS (SELECT doc_id, suite, count(*) AS c
         |  FROM cg JOIN ev USING (g) GROUP BY 1, 2),
         |w AS (SELECT hit.doc_id, suite, c,
         |    round(CAST(c AS DOUBLE) / n_grams, 6) AS r
         |  FROM hit JOIN tot USING (doc_id)),
         |rn AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY c DESC, suite ASC) AS rk FROM w),
         |cnt AS (SELECT doc_id, count(*) AS n_suites_hit FROM w
         |  GROUP BY doc_id)
         |SELECT rn.doc_id, suite AS top_suite,
         |  CAST(c AS BIGINT) AS n_contaminated, r AS contamination_ratio,
         |  n_suites_hit
         |FROM rn JOIN cnt USING (doc_id) WHERE rk = 1
         |ORDER BY doc_id""".stripMargin
    }),

    // Gopher repetition filters, intra-doc: duplicate-2-gram fraction
    // and top-gram share per doc — map-only (sorted-array fold).
    Gate("q353_repetition_signals", (s, dir) =>
      TextOps.repetitionSignals(t(s, dir, "documents"), "text", "doc_id",
          n = 2)
        .orderBy("doc_id"), oracle =
      s"""WITH g AS (SELECT doc_id,
         |    unnest(${Dedup.shinglesSql("text", 2)}) AS g FROM documents),
         |cnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
         |    count(*) AS dist, CAST(max(c) AS BIGINT) AS mx
         |  FROM cnt GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(total, 0) AS total_grams,
         |  coalesce(dist, 0) AS distinct_grams,
         |  round(CAST(coalesce(total, 0) - coalesce(dist, 0) AS DOUBLE)
         |    / greatest(coalesce(total, 0), 1), 6) AS dup_gram_frac,
         |  round(CAST(coalesce(mx, 0) AS DOUBLE)
         |    / greatest(coalesce(total, 0), 1), 6) AS top_gram_frac
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Unigram-LM surprisal (perplexity-proxy quality): mean -ln p(w)
    // per doc under the corpus's own unigram model, micro-nat exact.
    Gate("q355_unigram_surprisal", (s, dir) =>
      TextOps.unigramSurprisal(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id"), oracle =
      """WITH wx AS (SELECT doc_id, w FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |     FROM documents) WHERE w <> ''),
        |c AS (SELECT w, count(*) AS c FROM wx GROUP BY w),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM c),
        |q AS (SELECT doc_id,
        |    CAST(floor(-ln(CAST(c AS DOUBLE) / nn) * 1e6 + 0.5) AS BIGINT)
        |      AS q
        |  FROM wx JOIN c USING (w), n)
        |SELECT doc_id, count(*) AS n_words,
        |  round(CAST(sum(q) AS DOUBLE) / 1e6 / count(*), 6)
        |    AS mean_surprisal_nats
        |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // The per-doc CURATION DECISION CARD — every dedup/quality verdict
    // a pipeline applies, in one frame with a transparent keep rule:
    // exact-dup loser (md5 keeper), near-dup loser (MinHash-LSH -> CC,
    // min-id keeper), URL-dup loser (canonical keeper), segment-dup
    // and repetition fractions vs fixed thresholds. Five individually-
    // gated lineages (q24/q325/q349/q354/q353) joined by doc_id — the
    // composed "why was my doc dropped" answer, fully SQL-re-derived.
    Gate("q358_curation_card", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      val exactLoser = docs
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
        .join(Dedup.exact(docs, "text", "doc_id")
          .select(col("content_hash").as("h"), col("keeper_id")), "h")
        .select(col("doc_id"),
          (col("doc_id") =!= col("keeper_id")).as("exact_loser"))
      val cc = Dedup.connectedComponents(
        Dedup.minhashPairs(docs, "text", "doc_id", NGRAM, K, BANDS),
        "doc_a", "doc_b")
      val seg = TextOps.segmentDupFraction(docs, "text", "doc_id", 20)
        .select(col("doc_id"), col("dup_segment_frac"))
      // same value as repetitionSignals' dup_gram_frac but WITHOUT the
      // per-row sort (the card doesn't need the top-gram share):
      // distinct count via array_distinct is the cheaper map-only path
      val rep = docs
        .select(col("doc_id"), Dedup.shingles(col("text"), 2).as("__g"))
        .select(col("doc_id"), round(
          (size(col("__g")) - size(array_distinct(col("__g"))))
            .cast("double") / greatest(size(col("__g")), lit(1)), 6)
          .as("dup_gram_frac"))
      val urls = docs
        .select(col("doc_id"), UrlOps.canonicalUrl(col("url")).as("cu"))
        .join(UrlOps.urlDedup(docs, "url", "doc_id")
          .select(col("canonical_url").as("cu"),
            col("keeper_id").as("uk")), "cu")
        .select(col("doc_id"), (col("doc_id") =!= col("uk")).as("url_loser"))
      docs.select("doc_id")
        .join(exactLoser, "doc_id")
        .join(cc, Seq("doc_id"), "left")
        .withColumn("near_loser",
          coalesce(col("component") =!= col("doc_id"), lit(false)))
        .drop("component")
        // LEFT join: a whitespace-only doc has no segments but must
        // still get a verdict row (0.0 = no segment-dup evidence)
        .join(seg, Seq("doc_id"), "left")
        .withColumn("dup_segment_frac",
          coalesce(col("dup_segment_frac"), lit(0.0)))
        .join(rep, "doc_id").join(urls, "doc_id")
        .withColumn("keep", !col("exact_loser") && !col("near_loser") &&
          !col("url_loser") && col("dup_segment_frac") <= 0.5 &&
          col("dup_gram_frac") <= 0.3)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH RECURSIVE $ccCtes,
         |ex AS (SELECT doc_id, md5(text) AS h FROM documents),
         |exk AS (SELECT h, min(doc_id) AS k FROM ex GROUP BY h),
         |$segFracCtes,
         |$repFracCtes,
         |u AS (SELECT doc_id, $canonUrlSql AS cu FROM documents),
         |uk AS (SELECT cu, min(doc_id) AS k FROM u GROUP BY cu)
         |SELECT d.doc_id,
         |  d.doc_id <> exk.k AS exact_loser,
         |  coalesce(comp.component <> d.doc_id, FALSE) AS near_loser,
         |  coalesce(sega.dup_segment_frac, 0.0) AS dup_segment_frac,
         |  rep.dup_gram_frac,
         |  d.doc_id <> uk.k AS url_loser,
         |  d.doc_id = exk.k
         |    AND NOT coalesce(comp.component <> d.doc_id, FALSE)
         |    AND d.doc_id = uk.k
         |    AND coalesce(sega.dup_segment_frac, 0.0) <= 0.5
         |    AND rep.dup_gram_frac <= 0.3 AS keep
         |FROM documents d
         |JOIN ex ON ex.doc_id = d.doc_id
         |JOIN exk ON exk.h = ex.h
         |LEFT JOIN comp ON comp.doc_id = d.doc_id
         |LEFT JOIN sega ON sega.doc_id = d.doc_id
         |JOIN rep ON rep.doc_id = d.doc_id
         |JOIN u ON u.doc_id = d.doc_id
         |JOIN uk ON uk.cu = u.cu
         |ORDER BY d.doc_id""".stripMargin),

    // Classifier evaluation scorecard: NB lang model trained on the
    // %5!=0 slice, held-out %5==0 predictions vs true labels —
    // per-class support/TP/FP/FN + precision/recall/F1 (F1 straight
    // from the counts, never from rounded p/r).
    Gate("q360_classifier_eval", (s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val test = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val pred = graft.ops.Classify.naiveBayes(train, test, "text", "lang",
        "doc_id", 256)
      graft.ops.Classify.evalReport(pred,
          test.select(col("doc_id"), col("lang")), "doc_id", "predicted",
          "lang")
        .orderBy("cls")
    }, oracle =
      s"""WITH ${NorthStar.nbPredCtes("lang")},
         |truth AS (SELECT doc_id, lang AS y FROM te),
         |j AS (SELECT truth.doc_id, y, cls AS p FROM truth
         |  JOIN pred USING (doc_id)),
         |classes AS (SELECT y AS cls FROM j UNION SELECT p FROM j),
         |bt AS (SELECT y AS cls, count(*) AS support,
         |    CAST(sum(CASE WHEN p = y THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |  FROM j GROUP BY y),
         |bp AS (SELECT p AS cls, count(*) AS n_pred FROM j GROUP BY p),
         |r AS (SELECT classes.cls, coalesce(support, 0) AS support,
         |    coalesce(tp, 0) AS tp,
         |    coalesce(n_pred, 0) - coalesce(tp, 0) AS fp,
         |    coalesce(support, 0) - coalesce(tp, 0) AS fn
         |  FROM classes LEFT JOIN bt USING (cls) LEFT JOIN bp USING (cls))
         |SELECT cls, support, tp, fp, fn,
         |  CASE WHEN tp + fp > 0
         |    THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6)
         |    ELSE 0.0 END AS "precision",
         |  CASE WHEN support > 0
         |    THEN round(CAST(tp AS DOUBLE) / support, 6)
         |    ELSE 0.0 END AS recall,
         |  CASE WHEN tp * 2 + fp + fn > 0
         |    THEN round(CAST(tp AS DOUBLE) * 2 / (tp * 2 + fp + fn), 6)
         |    ELSE 0.0 END AS f1
         |FROM r ORDER BY cls""".stripMargin),

    // Quality-filter threshold sweep: the keep-rate tradeoff curve
    // over n_chars cutoffs (doc and token mass kept per threshold).
    Gate("q361_filter_sweep", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      graft.ops.Corpus.filterSweep(docs, "n_chars", "n_tok",
          Seq(0.0, 100.0, 200.0, 300.0, 400.0, 500.0))
        .orderBy("threshold")
    }, oracle =
      """WITH d AS (SELECT n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |x AS (SELECT CAST(t AS DOUBLE) AS threshold, n_chars, n_tok
        |  FROM d, unnest([0.0, 100.0, 200.0, 300.0, 400.0, 500.0]) u(t))
        |SELECT threshold, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_chars >= threshold THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  round(CAST(sum(CASE WHEN n_chars >= threshold THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS doc_share,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN n_chars >= threshold THEN n_tok ELSE 0 END)
        |    AS BIGINT) AS tokens_kept,
        |  round(CAST(sum(CASE WHEN n_chars >= threshold THEN n_tok
        |      ELSE 0 END) AS DOUBLE) / sum(n_tok), 6) AS token_share
        |FROM x GROUP BY threshold ORDER BY threshold""".stripMargin),

    // Domain-stratified split: the split key is the registered domain,
    // so no site straddles train/test (site-level style/boilerplate
    // leakage — the web analog of the q284 cluster-keyed rule).
    Gate("q367_domain_safe_split", (s, dir) =>
      UrlOps.domainSafeSplit(
          t(s, dir, "documents").withColumn("url", rawUrlCol),
          "url", "doc_id", valPct = 10, testPct = 10)
        .orderBy("doc_id"), oracle = {
      val h = Dedup.h60Sql("domain")
      s"""WITH u AS (SELECT doc_id, lower(source) || '.com' AS domain
         |  FROM documents)
         |SELECT doc_id, domain,
         |  CASE WHEN ($h) % 100 < 10 THEN 'test'
         |       WHEN ($h) % 100 < 20 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM u ORDER BY doc_id""".stripMargin
    }),

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
           |    ${cumCountCols("    ")}
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
      s"""WITH v AS (SELECT event_type AS g,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE event_type IS NOT NULL
        |    AND value IS NOT NULL AND NOT isnan(value)),
        |med AS (SELECT g, min(CASE WHEN cum >=
        |      (n * 500000 + 999999) // 1000000 THEN c END) AS med
        |  FROM (SELECT g, c,
        |      ${cumCountCols("      ")}
        |    FROM (SELECT g, c, CAST(count(*) AS BIGINT) AS k FROM v
        |          GROUP BY 1, 2))
        |  GROUP BY g),
        |d AS (SELECT v.g, abs(v.c - med.med) AS c FROM v
        |  JOIN med ON med.g = v.g),
        |mad AS (SELECT g, min(CASE WHEN cum >=
        |      (n * 500000 + 999999) // 1000000 THEN c END) AS mad
        |  FROM (SELECT g, c,
        |      ${cumCountCols("      ")}
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

    // Schema-evolution report: two event-file batches written under
    // DIFFERENT schemas (batch B adds event_type) into one directory,
    // read back with mergeSchema — per merged column: type, file
    // presence, and the non-null row mass it actually holds. The
    // presence/type columns pin the footer-level merge; the row-mass
    // column is data-bound (the oracle re-derives it from events).
    Gate("q499_schema_evolution", (s, dir) => {
      Fixture.scratch("graft_schema_evo_") { p =>
        val ev = t(s, dir, "events").where(col("event_id").isNotNull)
        ev.where(pmod(col("event_id"), lit(2L)) === 0)
          .select("event_id", "user_id", "value")
          .repartition(2).write.mode("append").parquet(p)
        ev.where(pmod(col("event_id"), lit(2L)) === 1)
          .select("event_id", "user_id", "value", "event_type")
          .repartition(2).write.mode("append").parquet(p)
        graft.core.Layout.schemaEvolutionReport(s, p)
          .orderBy("column")
      }
    }, oracle =
      """WITH ev AS (SELECT * FROM events WHERE event_id IS NOT NULL),
        |a AS (SELECT * FROM ev WHERE event_id % 2 = 0),
        |b AS (SELECT * FROM ev WHERE event_id % 2 = 1)
        |SELECT * FROM (
        |  SELECT 'event_id' AS "column", 'bigint' AS dtype,
        |    CAST(4 AS BIGINT) AS n_files,
        |    CAST(4 AS BIGINT) AS n_files_present,
        |    (SELECT CAST(count(event_id) AS BIGINT) FROM ev)
        |      AS n_rows_nonnull
        |  UNION ALL
        |  SELECT 'event_type', 'string', 4, 2,
        |    (SELECT CAST(count(event_type) AS BIGINT) FROM b)
        |  UNION ALL
        |  SELECT 'user_id', 'bigint', 4, 4,
        |    (SELECT CAST(count(user_id) AS BIGINT) FROM ev)
        |  UNION ALL
        |  SELECT 'value', 'double', 4, 4,
        |    (SELECT CAST(count(value) AS BIGINT) FROM ev))
        |ORDER BY "column"""".stripMargin),

    // Exactly-once batch ingest: b1 ingested, b1 REPLAYED (must
    // no-op against the ledger), b2 ingested — the table holds each
    // batch exactly once and the replay's return value is pinned in
    // the output row.
    Gate("q500_idempotent_ingest", (s, dir) => {
      Fixture.scratch("graft_ingest_") { p =>
        val ev = t(s, dir, "events").where(col("event_id").isNotNull)
          .select("event_id", "event_type")
        val b1 = ev.where(pmod(col("event_id"), lit(2L)) === 0)
        val b2 = ev.where(pmod(col("event_id"), lit(2L)) === 1)
        val r1 = graft.ops.Scale.ingestBatch(s, s"$p/table", s"$p/ledger", "b1", b1)
        val r1Replay =
          graft.ops.Scale.ingestBatch(s, s"$p/table", s"$p/ledger", "b1", b1)
        val r2 = graft.ops.Scale.ingestBatch(s, s"$p/table", s"$p/ledger", "b2", b2)
        s.read.parquet(s"$p/table")
          .groupBy("__batch", "event_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("ingest_results",
            lit(Seq(r1, r1Replay, r2).map(b => if (b) "1" else "0")
              .mkString("")))
          .orderBy("__batch", "event_type")
      }
    }, oracle =
      """SELECT CASE WHEN event_id % 2 = 0 THEN 'b1' ELSE 'b2' END
        |    AS __batch,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  '101' AS ingest_results
        |FROM events WHERE event_id IS NOT NULL
        |GROUP BY 1, 2 ORDER BY __batch, event_type""".stripMargin),

    // Leakage-safe corpus split: documents split train/val/test by a
    // deterministic ppm hash draw on the SOURCE (domain) key — the
    // per-(split, source) census plus the leak invariant column
    // (n_splits per source must be 1, checked in the oracle too).
    Gate("q523_group_split", (s, dir) => {
      val assigned = graft.ops.Corpus.groupSplit(
        t(s, dir, "documents"), "source",
        valPpm = 100000L, testPpm = 100000L)
      assigned.groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"))
        .join(assigned.groupBy("source")
          .agg(countDistinct(col("split")).as("n_splits_of_source")),
          "source")
        .orderBy("split", "source")
    }, oracle =
      s"""WITH a AS (SELECT *,
         |    CASE WHEN (${h60Sql("source")}) % 1000000 < 100000 THEN 'test'
         |      WHEN (${h60Sql("source")}) % 1000000 < 200000 THEN 'val'
         |      ELSE 'train' END AS split
         |  FROM documents),
         |per AS (SELECT split, source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars
         |  FROM a GROUP BY 1, 2),
         |leak AS (SELECT source,
         |    CAST(count(DISTINCT split) AS BIGINT) AS n_splits_of_source
         |  FROM a GROUP BY 1)
         |SELECT source, split, n_docs, n_chars, n_splits_of_source
         |FROM per JOIN leak USING (source)
         |ORDER BY split, source""".stripMargin),

    // The lifecycle datasheet over the STREAMED artifacts: every
    // number read from persisted state, gated against a from-scratch
    // re-derivation.
    Gate("q524_data_card", (s, dir) =>
      CurationNDay.dataCard(s, Lifecycle.streamed(s, dir)._1)
        .orderBy("section", "metric"), oracle =
      s"""WITH $tapeCtes,
         |ev AS (SELECT event_type, user_id, value FROM events
         |  WHERE ts IS NOT NULL AND event_type IS NOT NULL)
         |SELECT * FROM (
         |  SELECT 'decisions' AS section, decision AS metric,
         |    CAST(count(*) AS BIGINT) AS value FROM (
         |      SELECT decision FROM final1
         |      UNION ALL SELECT decision FROM final2
         |      UNION ALL SELECT decision FROM final3
         |      UNION ALL SELECT decision FROM final4) GROUP BY 2
         |  UNION ALL SELECT 'corpus', 'n_docs', count(*) FROM grown4
         |  UNION ALL SELECT 'corpus', 'n_tokens',
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |    FROM grown4
         |  UNION ALL SELECT 'pack', 'n_tokens', max(cum) FROM tape
         |  UNION ALL SELECT 'pack', 'n_seqs',
         |    (max(cum) + ${L - 1}) // $L FROM tape
         |  UNION ALL SELECT 'pack', 'tail_pad',
         |    ($L - max(cum) % $L) % $L FROM tape
         |  UNION ALL SELECT 'pack', 'n_straddle',
         |    CAST(sum(CASE WHEN (cum - n_tok) // $L <> (cum - 1) // $L
         |      THEN 1 ELSE 0 END) AS BIGINT) FROM tape
         |  UNION ALL SELECT 'index', 'n_hashes',
         |    count(DISTINCT md5(text)) FROM grown4
         |  UNION ALL SELECT 'index', 'n_band_rows',
         |    4 * count(*) FROM grown4
         |  UNION ALL SELECT 'states', 'n_event_types',
         |    count(DISTINCT event_type) FROM ev
         |  UNION ALL SELECT 'states', 'n_events', count(*) FROM ev
         |  UNION ALL SELECT 'states', 'n_type_user_pairs',
         |    count(DISTINCT (event_type, user_id)) FROM ev)
         |ORDER BY section, metric""".stripMargin),

    // Language-mix drift per ADMITTED day vs the curated snapshot —
    // the monitor a multilingual pipeline alarms on when one day's
    // crawl skews the mix (PSI over lang, one psiPanel pass; base =
    // the snapshot ids from the tape's day 0, days = the admitted
    // decisions joined back to the documents table for lang).
    Gate("q537_lang_drift", (s, dir) => {
      val a = Lifecycle.streamed(s, dir)._1
      val lang = t(s, dir, "documents").select("doc_id", "lang")
      val base = s.read.parquet(a.packDay(0)).select("doc_id")
        .join(lang, "doc_id")
      val cur = CurationNDay.allDecisions(s, a)
        .where(col("decision") === "admitted").select("day", "doc_id")
        .join(lang, "doc_id")
      graft.ops.Quality.psiPanel(base, cur, "lang", "day")
        .orderBy("day")
    }, oracle =
      s"""WITH ${Lifecycle.nDayCtes},
         |lg AS (SELECT doc_id, lang FROM documents),
         |bl AS (SELECT lang FROM corpus JOIN lg USING (doc_id)),
         |cl AS (
         |  SELECT 1 AS day, lang FROM admf1 JOIN lg USING (doc_id)
         |  UNION ALL SELECT 2, lang FROM admf2 JOIN lg USING (doc_id)
         |  UNION ALL SELECT 3, lang FROM admf3 JOIN lg USING (doc_id)
         |  UNION ALL SELECT 4, lang FROM admf4 JOIN lg USING (doc_id)),
         |bc AS (SELECT lang, CAST(count(*) AS BIGINT) AS b
         |  FROM bl GROUP BY 1),
         |cc AS (SELECT day, lang, CAST(count(*) AS BIGINT) AS c
         |  FROM cl GROUP BY 1, 2),
         |frame AS (SELECT DISTINCT day, lang FROM (
         |  SELECT day, lang FROM cc
         |  UNION ALL SELECT d.day, bc.lang
         |    FROM (SELECT DISTINCT day FROM cc) d, bc)),
         |j AS (SELECT f.day, f.lang, coalesce(b, 0) AS b,
         |    coalesce(c, 0) AS c
         |  FROM frame f LEFT JOIN bc USING (lang)
         |    LEFT JOIN cc USING (day, lang)),
         |t AS (SELECT day, CAST(count(*) AS BIGINT) AS kk,
         |    sum(b) AS tb, sum(c) AS tc FROM j GROUP BY 1)
         |SELECT day, CAST(count(*) AS BIGINT) AS n_bins,
         |  round(sum(CAST(floor(
         |    ((b + 1.0) / (tb + kk) - (c + 1.0) / (tc + kk))
         |    * ln(((b + 1.0) / (tb + kk)) / ((c + 1.0) / (tc + kk)))
         |    * 1000000000.0 + 0.5) AS BIGINT)) / 1000000000.0, 6)
         |    + 0.0 AS psi
         |FROM j JOIN t USING (day) GROUP BY day ORDER BY day""".stripMargin),

    // PSI drift monitor over the lifecycle's event days: each day's
    // event_type mix vs the bootstrap window, add-one smoothed,
    // micro-nat-quantized terms (the alarm a production ingest pins a
    // threshold on). The whole panel is ONE psiPanel pass (two scans),
    // not a scan pair per day.
    Gate("q527_psi_drift", (s, dir) => {
      val cuts = CurationNDay.Cuts
      val ev = t(s, dir, "events")
        .where(col("ts").isNotNull && col("event_type").isNotNull)
      graft.ops.Quality.psiPanel(
          ev.where(col("ts") < cuts.head),
          ev.where(col("ts") >= cuts.head).withColumn("day",
            when(col("ts") < cuts(1), 1).when(col("ts") < cuts(2), 2)
              .when(col("ts") < cuts(3), 3).otherwise(4)),
          "event_type", "day")
        .orderBy("day")
    }, oracle = {
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22",
        "2024-01-28").map(d => s"TIMESTAMP '$d 00:00:00'")
      def dayPred(k: Int): String =
        if (k == 4) s"ts >= ${cuts(3)}"
        else s"ts >= ${cuts(k - 1)} AND ts < ${cuts(k)}"
      def dayPsi(k: Int): String =
        s"""cc$k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
           |  FROM ev WHERE ${dayPred(k)} GROUP BY 1),
           |j$k AS (SELECT coalesce(b, 0) AS b, coalesce(c, 0) AS c
           |  FROM bc FULL JOIN cc$k USING (event_type)),
           |t$k AS (SELECT CAST(count(*) AS BIGINT) AS kk,
           |    sum(b) AS tb, sum(c) AS tc FROM j$k),
           |psi$k AS (SELECT $k AS day,
           |    CAST(count(*) AS BIGINT) AS n_bins,
           |    round(sum(CAST(floor(
           |      ((b + 1.0) / (tb + kk) - (c + 1.0) / (tc + kk))
           |      * ln(((b + 1.0) / (tb + kk)) / ((c + 1.0) / (tc + kk)))
           |      * 1000000000.0 + 0.5) AS BIGINT)) / 1000000000.0, 6)
           |      + 0.0 AS psi
           |  FROM j$k, t$k)""".stripMargin
      s"""WITH ev AS (SELECT event_type, ts FROM events
         |  WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         |bc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS b
         |  FROM ev WHERE ts < ${cuts(0)} GROUP BY 1),
         |${(1 to 4).map(dayPsi).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT * FROM psi1 UNION ALL SELECT * FROM psi2
         |  UNION ALL SELECT * FROM psi3 UNION ALL SELECT * FROM psi4)
         |ORDER BY day""".stripMargin
    })
  )
}
