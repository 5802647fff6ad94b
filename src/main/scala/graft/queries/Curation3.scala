package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextOps, UrlOps}
import Q._
import NorthStar.{K, BANDS, NGRAM}

/** Round-8 tranche (q348+): incremental index maintenance for BOTH
  * persisted indexes (SQ8 ANN append + compaction, dedup-index
  * append), URL/domain-aware curation (canonical-URL dedup, domain
  * quality rollup), and the Gopher-style intra/inter-doc repetition
  * battery (repetition signals, segment-level dup fraction,
  * unigram-LM surprisal). Oracle SQL is generated from the same
  * constants as the Scala operators (the NorthStar pattern).
  */
object Curation3 extends Gates {

  /** Deterministic messy-URL augment both engines re-derive (the
    * documents fixture has no URL column — same pattern as Curation2's
    * dirty-corpus augment): scheme/host case mess, www/blog
    * subdomains, default and non-default ports, trailing slashes,
    * tracking params, unsorted params, fragments.
    */
  private[graft] def rawUrlCol = {
    val id = col("doc_id")
    def m(k: Int) = pmod(id, lit(k.toLong))
    concat(
      when(m(5) === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
      when(m(7) < 2, lit("WWW."))
        .when(m(7).isin(2L, 3L), lit("blog.")).otherwise(lit("")),
      when(m(3) === 0, upper(col("source"))).otherwise(col("source")),
      lit(".com"),
      when(m(11) === 0,
          when(m(5) === 0, lit(":80")).otherwise(lit(":443")))
        .when(m(13) === 0, lit(":8080")).otherwise(lit("")),
      lit("/p/"), m(40).cast("string"),
      when(m(2) === 0, lit("/")).otherwise(lit("")),
      when(m(4) === 0, concat(lit("?utm_source=feed&id="),
          m(10).cast("string"), lit("&utm_campaign=x")))
        .when(m(4) === 1, lit("?b=2&a=1")).otherwise(lit("")),
      when(m(6) === 0, lit("#frag")).otherwise(lit("")))
  }

  private val rawUrlSql =
    """(CASE WHEN doc_id % 5 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
      |(CASE WHEN doc_id % 7 < 2 THEN 'WWW.'
      |      WHEN doc_id % 7 IN (2, 3) THEN 'blog.' ELSE '' END) ||
      |(CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END) ||
      |'.com' ||
      |(CASE WHEN doc_id % 11 = 0 THEN
      |        (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE ':443' END)
      |      WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END) ||
      |'/p/' || CAST(doc_id % 40 AS VARCHAR) ||
      |(CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      |(CASE WHEN doc_id % 4 = 0 THEN
      |        '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR) ||
      |        '&utm_campaign=x'
      |      WHEN doc_id % 4 = 1 THEN '?b=2&a=1' ELSE '' END) ||
      |(CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)""".stripMargin

  /** The ANALYTICALLY-derived canonical form of [[rawUrlCol]] — the
    * oracle pins the regex canonicalizer against ground truth computed
    * straight from the synthesis constants, not a second regex
    * implementation: scheme/host lowered, www stripped (blog kept),
    * default ports gone, :8080 kept, trailing slash gone, fragment
    * gone, utm_* stripped, surviving params name-sorted.
    */
  private val canonUrlSql =
    """(CASE WHEN doc_id % 5 = 0 THEN 'http' ELSE 'https' END) || '://' ||
      |(CASE WHEN doc_id % 7 IN (2, 3) THEN 'blog.' ELSE '' END) ||
      |lower(source) || '.com' ||
      |(CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 = 0
      |      THEN ':8080' ELSE '' END) ||
      |'/p/' || CAST(doc_id % 40 AS VARCHAR) ||
      |(CASE WHEN doc_id % 4 = 0 THEN '?id=' || CAST(doc_id % 10 AS VARCHAR)
      |      WHEN doc_id % 4 = 1 THEN '?a=1&b=2' ELSE '' END)""".stripMargin

  lazy val gates: Seq[Gate] = Seq(
    // Incremental SQ8 maintenance: index built on the 80% snapshot, the
    // 20% delta folded in WITHOUT re-encoding the corpus (bounds-drift
    // check -> append with stored bounds, or rebuild if violated).
    // Either path must equal a full rebuild over snapshot+delta — so
    // this shares q326's full-corpus oracle verbatim.
    Gate("q348_sq8_index_append", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(5L)) =!= 0)
      val delta = emb.where(pmod(col("vec_id"), lit(5L)) === 0)
      val idx = Curation2.tempIndexDir("graft_sq8_append_")
      // build sits INSIDE the try: a failure mid-build must still
      // clean up the scratch dir (r8 self-review)
      try {
        Similarity.writeSq8Index(corpus, "vec_id", "embedding", idx)
        Similarity.appendSq8Index(s, idx, delta, "vec_id", "embedding",
          corpus)
        Similarity.sq8TopKIndexed(s, idx, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", 5)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(idx)
    }, oracle = Curation2.sq8OracleSql("TRUE")),

    // URL dedup: canonicalize the messy raw forms, one hash agg per
    // canonical key; copies, collapsed raw spellings, min-id keeper.
    Gate("q349_url_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      UrlOps.urlDedup(docs, "url", "doc_id").orderBy("canonical_url")
    }, oracle = q349OracleSql),

    // Per-registered-domain rollup: doc/URL counts, URL-dup rate, and
    // the exact quality mean — the frame domainCap budgets a crawl on.
    Gate("q350_domain_rollup", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      UrlOps.domainQualityRollup(docs, "url", "n_chars").orderBy("domain")
    }, oracle =
      s"""WITH u AS (SELECT doc_id, n_chars,
         |    lower(source) || '.com' AS domain, $canonUrlSql AS cu
         |  FROM documents)
         |SELECT domain, count(*) AS n_docs, count(DISTINCT cu) AS n_urls,
         |  round(1.0 - CAST(count(DISTINCT cu) AS DOUBLE) / count(*), 6)
         |    AS url_dup_rate,
         |  round(CAST(sum(CAST(floor(CAST(n_chars AS DOUBLE) * 1e6 + 0.5)
         |      AS BIGINT)) AS DOUBLE) / 1e6 / count(*), 6) AS mean_quality
         |FROM u GROUP BY domain ORDER BY domain""".stripMargin),

    // Index compaction after appends: the append leaves small files;
    // compaction rewrites the codes into right-sized partitions and
    // must not change a single answer — shares q326's oracle too.
    Gate("q351_sq8_index_compact", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(5L)) =!= 0)
      val delta = emb.where(pmod(col("vec_id"), lit(5L)) === 0)
      val idx = Curation2.tempIndexDir("graft_sq8_compact_")
      try {
        Similarity.writeSq8Index(corpus, "vec_id", "embedding", idx)
        Similarity.appendSq8Index(s, idx, delta, "vec_id", "embedding",
          corpus)
        Similarity.compactSq8Index(s, idx, 4)
        Similarity.sq8TopKIndexed(s, idx, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", 5)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(idx)
    }, oracle = Curation2.sq8OracleSql("TRUE")),

    // Dedup-index append: ingest batch1 into the persisted index, then
    // serve batch2's decisions from the appended index. The oracle
    // re-derives batch2's decisions against the GROWN corpus directly
    // (corpus' = %5 != 1) — proving appended index == rebuilt index.
    Gate("q352_dedup_index_append", (s, dir) => {
      // exchange-bound consumer: spread opt-out (r14 regression +2.3 s)
      val docs = tp(s, dir, "documents")
      val corpus0 = docs.where(pmod(col("doc_id"), lit(5L)).isin(2L, 3L, 4L))
      val batch1 = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
      val batch2 = docs.where(pmod(col("doc_id"), lit(5L)) === 1)
      val grown = docs.where(pmod(col("doc_id"), lit(5L)) =!= 1)
      val idx = Curation2.tempIndexDir("graft_dedup_append_")
      try {
        Dedup.writeDedupIndex(corpus0, "text", "doc_id", idx, NGRAM, K,
          BANDS)
        Dedup.appendDedupIndex(batch1, "text", "doc_id", idx, NGRAM, K,
          BANDS)
        Dedup.incrementalDedupIndexed(idx, grown, batch2, "text", "doc_id",
            NGRAM, K, BANDS, 0.8)
          .orderBy("doc_id")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(idx)
    }, oracle =
      Curation.incrementalDedupOracle("doc_id % 5 <> 1", "doc_id % 5 = 1")),

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

    // Inter-doc segment dedup: 20-word segments, a segment seen in >1
    // doc flags every holder; per-doc duplicated-segment fraction.
    Gate("q354_segment_dup", (s, dir) =>
      TextOps.segmentDupFraction(t(s, dir, "documents"), "text", "doc_id",
          w = 20)
        .orderBy("doc_id"), oracle =
      """WITH wl AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sg AS (SELECT doc_id, ws,
        |    unnest(range(0, CAST(ceil(len(ws) / 20.0) AS INT))) AS seg
        |  FROM wl WHERE len(ws) > 0),
        |st AS (SELECT doc_id, md5(array_to_string(
        |    list_slice(ws, seg * 20 + 1, seg * 20 + 20), ' ')) AS h
        |  FROM sg),
        |sh AS (SELECT h, count(DISTINCT doc_id) AS nd FROM st GROUP BY h)
        |SELECT doc_id, count(*) AS n_segments,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_segments,
        |  round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_segment_frac
        |FROM st JOIN sh USING (h) GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),

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

    // Streaming ingest-time URL dedup: the canonicalizer is a
    // stateless map inside the stream, the per-canonical rollup is the
    // stateful agg (collect_set for the raw-form count — streaming
    // forbids COUNT DISTINCT, and the set's SIZE equals it exactly).
    // AvailableNow replay == the batch q349 answer, shared oracle.
    Gate("q356_streaming_url_dedup", (s, dir) => {
      val docs = graft.core.Tables.stream(s, dir, "documents")
        .withColumn("url", rawUrlCol)
      val agg = docs
        .select(UrlOps.canonicalUrl(col("url")).as("canonical_url"),
          col("url").as("raw"), col("doc_id"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_copies"),
          size(collect_set(col("raw"))).cast("long").as("n_raw_forms"),
          min(col("doc_id")).as("keeper_id"))
      drainMemory(s, agg, "complete")(_.orderBy("canonical_url"))
    }, oracle =
      // the streaming replay must equal the batch q349 answer exactly
      q349OracleSql),

    // Crawl-frontier seen-URL check: bloom prefilter over the seen
    // canonical set, exact join only for bloom-positives.
    Gate("q357_url_frontier", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      val seen = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      val frontier = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
      UrlOps.urlSeenFilter(seen, frontier, "url", "doc_id")
        .orderBy("doc_id")
    }, oracle =
      s"""WITH u AS (SELECT doc_id, $canonUrlSql AS cu FROM documents),
         |seen AS (SELECT DISTINCT cu FROM u WHERE doc_id % 5 <> 0)
         |SELECT doc_id, cu AS canonical_url,
         |  cu IN (SELECT cu FROM seen) AS seen
         |FROM u WHERE doc_id % 5 = 0 ORDER BY doc_id""".stripMargin),

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

    // Per-source redundancy report: exact-text and canonical-URL dup
    // rates plus the micro-quantized means of the per-doc segment-dup
    // and repetition fractions — the "which source is worth paying
    // for" monitoring rollup. All keyed aggs; output O(#sources).
    Gate("q359_redundancy_report", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      val base = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text").cast("binary"))).as("__nt"),
        countDistinct(UrlOps.canonicalUrl(col("url"))).as("__nu"))
      def meanMicro(df: org.apache.spark.sql.DataFrame, c: String,
                    out: String) =
        df.join(docs.select("doc_id", "source"), "doc_id")
          .groupBy("source")
          .agg(sum(floor(col(c) * 1e6 + 0.5).cast("long")).as("__s"),
            count(lit(1)).as("__n"))
          .select(col("source"),
            round(col("__s").cast("double") / 1e6 / col("__n"), 6).as(out))
      base
        .join(meanMicro(TextOps.segmentDupFraction(docs, "text", "doc_id",
          20), "dup_segment_frac", "mean_seg_dup"), "source")
        .join(meanMicro(TextOps.repetitionSignals(docs, "text", "doc_id",
          2), "dup_gram_frac", "mean_rep"), "source")
        .select(col("source"), col("n_docs"),
          round(lit(1.0) - col("__nt").cast("double") / col("n_docs"), 6)
            .as("exact_dup_rate"),
          round(lit(1.0) - col("__nu").cast("double") / col("n_docs"), 6)
            .as("url_dup_rate"),
          col("mean_seg_dup"), col("mean_rep"))
        .orderBy("source")
    }, oracle =
      s"""WITH $segFracCtes,
         |$repFracCtes,
         |u AS (SELECT doc_id, $canonUrlSql AS cu FROM documents),
         |d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
         |base AS (SELECT source, count(*) AS n_docs,
         |    count(DISTINCT h) AS nt, count(DISTINCT cu) AS nu
         |  FROM d JOIN u USING (doc_id) GROUP BY source),
         |segs AS (SELECT source,
         |    CAST(sum(CAST(floor(dup_segment_frac * 1e6 + 0.5) AS BIGINT))
         |      AS BIGINT) AS s, count(*) AS n
         |  FROM sega JOIN documents USING (doc_id) GROUP BY source),
         |reps AS (SELECT source,
         |    CAST(sum(CAST(floor(dup_gram_frac * 1e6 + 0.5) AS BIGINT))
         |      AS BIGINT) AS s, count(*) AS n
         |  FROM rep JOIN documents USING (doc_id) GROUP BY source)
         |SELECT base.source, n_docs,
         |  round(1.0 - CAST(nt AS DOUBLE) / n_docs, 6) AS exact_dup_rate,
         |  round(1.0 - CAST(nu AS DOUBLE) / n_docs, 6) AS url_dup_rate,
         |  round(CAST(segs.s AS DOUBLE) / 1e6 / segs.n, 6) AS mean_seg_dup,
         |  round(CAST(reps.s AS DOUBLE) / 1e6 / reps.n, 6) AS mean_rep
         |FROM base JOIN segs USING (source) JOIN reps USING (source)
         |ORDER BY source""".stripMargin),

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

    // Streaming ANN ingest: the snapshot index is built in batch, then
    // the delta slice ARRIVES AS A STREAM and each micro-batch folds
    // into the persisted index via foreachBatch + appendSq8Index (the
    // bounds-drift contract unchanged). After the replay the index
    // must answer exactly like a full rebuild — shares q326's oracle,
    // completing the serving story: batch build -> streaming ingest ->
    // compaction, all decision-identical.
    Gate("q363_streaming_sq8_ingest", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(5L)) =!= 0)
      val idx = Curation2.tempIndexDir("graft_sq8_stream_")
      try {
        Similarity.writeSq8Index(corpus, "vec_id", "embedding", idx)
        val deltaStream = graft.core.Tables.stream(s, dir, "embeddings")
          .where(pmod(col("vec_id"), lit(5L)) === 0)
        // the rebuild-path corpus must GROW with each appended batch —
        // otherwise a drifting later batch would rebuild without the
        // earlier deltas (foreachBatch runs sequentially, so the fold
        // is safe; batches are checkpointed before joining the
        // accumulator)
        var corpusAcc = corpus
        val q = deltaStream.writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              if (!batch.isEmpty) {
                val b = batch.localCheckpoint(true)
                Similarity.appendSq8Index(s, idx, b, "vec_id", "embedding",
                  corpusAcc)
                corpusAcc = corpusAcc.unionByName(b)
              }
              ()
          }
          .start()
        q.awaitTermination()
        Similarity.sq8TopKIndexed(s, idx, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", 5)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(idx)
    }, oracle =
      // streamed delta ingest == full rebuild, by the append contract
      Curation2.sq8OracleSql("TRUE")),

    // Dedup-index compaction: append batch1, COMPACT the hash/band
    // tables, then serve batch2 — decisions must still equal the
    // grown-corpus rebuild (shares q352's oracle).
    Gate("q366_dedup_index_compact", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus0 = docs.where(pmod(col("doc_id"), lit(5L)).isin(2L, 3L, 4L))
      val batch1 = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
      val batch2 = docs.where(pmod(col("doc_id"), lit(5L)) === 1)
      val grown = docs.where(pmod(col("doc_id"), lit(5L)) =!= 1)
      val idx = Curation2.tempIndexDir("graft_dedup_compact_")
      try {
        Dedup.writeDedupIndex(corpus0, "text", "doc_id", idx, NGRAM, K,
          BANDS)
        Dedup.appendDedupIndex(batch1, "text", "doc_id", idx, NGRAM, K,
          BANDS)
        Dedup.compactDedupIndex(s, idx, 2)
        Dedup.incrementalDedupIndexed(idx, grown, batch2, "text", "doc_id",
            NGRAM, K, BANDS, 0.8)
          .orderBy("doc_id")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(idx)
    }, oracle =
      // compaction must not change a single decision
      Curation.incrementalDedupOracle("doc_id % 5 <> 1", "doc_id % 5 = 1")),

    // Hard-negative mining (DPR-style): per query the cosine band
    // ranks 6..15 — below the top-5 "positives", above the easy tail.
    Gate("q369_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", skip = 5, k = 10)
        .withColumn("score", round(col("score"), 6).cast("float"))
        .orderBy("query_id", "rank")
    }, oracle =
      s"""WITH $queryCosCtes
        |SELECT qid AS query_id, nid AS neighbor_id,
        |  CAST(rank AS INTEGER) AS rank,
        |  CAST(round(cos, 6) AS REAL) AS score
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY cos DESC, nid) AS rank FROM s)
        |WHERE rank > 5 AND rank <= 15 ORDER BY query_id, rank""".stripMargin),

    // Related-pair mining: the 0.4 <= J < 0.8 paraphrase/revision band
    // — positive pairs for contrastive training, not dedup fodder.
    // The raw fixture has no mid-band pairs (texts are exact dups or
    // unrelated), so every %10==0 doc gets a DETERMINISTIC "revision":
    // the original plus ~2/3 as many unique filler words, landing its
    // Jaccard squarely in the band (J = (m-2)/(m+2m/3) in 0.46-0.59);
    // both engines re-derive the augment from the same formula.
    Gate("q370_related_pairs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = split(col("text"), " ")
      val nf = call_function("div", size(w).cast("long") * 2L, lit(3L))
      // Spark sequence(1, 0) DESCENDS to [1, 0] while DuckDB
      // range(1, 1) is empty — guard nf=0 (sub-2-word docs) so both
      // engines plant the identical revision
      val filler = concat_ws(" ", when(nf >= 1L,
        transform(sequence(lit(1L), nf),
          i => concat(lit("pad"), col("doc_id").cast("string"), lit("x"),
            i.cast("string"))))
        .otherwise(array().cast("array<string>")))
      // two-step select: the filler must see the ORIGINAL doc_id, so
      // the +1000000 alias happens in a SEPARATE projection (in one
      // select, projection collapse resolves the filler's doc_id
      // against the alias — the lookupAttr lineage gotcha)
      val revisions = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" "), filler).as("text"))
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.relatedPairs(
          docs.select("doc_id", "text").unionByName(revisions),
          "text", "doc_id", lo = 0.4, hi = 0.8, NGRAM, K, BANDS)
        .orderBy("doc_a", "doc_b")
    }, oracle =
      s"""WITH aug AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' ' || array_to_string(
         |    list_transform(
         |      range(1, (2 * len(string_split(text, ' '))) // 3 + 1),
         |      i -> 'pad' || CAST(doc_id AS VARCHAR) || 'x' ||
         |        CAST(i AS VARCHAR)), ' ')
         |  FROM documents WHERE doc_id % 10 = 0),
         |${sigBandCtes("aug")},
         |g AS (SELECT DISTINCT doc_id AS did,
         |    unnest(${Dedup.shinglesSql("text", NGRAM)}) AS g
         |  FROM aug),
         |sz AS (SELECT did, count(*) AS n FROM g GROUP BY did),
         |inter AS (SELECT cand.da, cand.db, count(*) AS i FROM cand
         |  JOIN g ga ON ga.did = cand.da
         |  JOIN g gb2 ON gb2.did = cand.db AND gb2.g = ga.g
         |  GROUP BY 1, 2),
         |jac AS (SELECT da, db, i,
         |    CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
         |  FROM inter
         |  JOIN sz sa ON sa.did = inter.da
         |  JOIN sz sb ON sb.did = inter.db)
         |SELECT da AS doc_a, db AS doc_b, CAST(i AS BIGINT) AS inter,
         |  round(j, 6) AS jaccard
         |FROM jac WHERE j >= 0.4 AND j < 0.8
         |ORDER BY doc_a, doc_b""".stripMargin),

    // DPR triplet builder: per query the rank-1 positive + the
    // rank-6..15 hard negatives as one training row.
    Gate("q371_contrastive_triplets", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.contrastiveTriplets(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", negSkip = 5, negK = 10)
        .orderBy("query_id")
    }, oracle =
      s"""WITH $queryCosCtes,
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, nid) AS rank FROM s),
        |p AS (SELECT qid, nid AS pos_id FROM r WHERE rank = 1),
        |ng AS (SELECT qid, array_to_string(
        |    list(CAST(nid AS VARCHAR) ORDER BY rank), ',') AS neg_ids
        |  FROM r WHERE rank > 5 AND rank <= 15 GROUP BY qid)
        |SELECT p.qid AS query_id, pos_id,
        |  coalesce(neg_ids, '') AS neg_ids
        |FROM p LEFT JOIN ng ON ng.qid = p.qid
        |ORDER BY query_id""".stripMargin),

    // SQ8 index health stats: codes count, dim, bounds geometry —
    // everything re-derivable from the raw embeddings by the oracle.
    Gate("q372_sq8_index_stats", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Curation2.tempIndexDir("graft_sq8_stats_")
      try {
        Similarity.writeSq8Index(emb, "vec_id", "embedding", idx)
        Similarity.sq8IndexStats(s, idx).localCheckpoint(true)
      } finally Curation2.deleteDir(idx)
    }, oracle =
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |dd AS (SELECT u.i AS d, e[u.i + 1] AS x
        |  FROM v, unnest(range(64)) u(i)),
        |b AS (SELECT d, min(x) AS lo, max(x) AS hi FROM dd GROUP BY d)
        |SELECT (SELECT count(*) FROM embeddings) AS n_codes,
        |  count(*) AS dim,
        |  round(min(lo), 6) + 0.0 AS min_lo, round(max(hi), 6) + 0.0 AS max_hi,
        |  round(CAST(sum(CAST(floor((hi - lo) * 1e6 + 0.5) AS BIGINT))
        |    AS DOUBLE) / 1e6 / count(*), 6) AS mean_width
        |FROM b""".stripMargin),

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

    // The ROUND-8 FLAGSHIP: crawl-to-corpus in one plan — URL dedup ->
    // exact text dedup -> repetition filter -> per-domain cap ->
    // shard layout, handed off as the manifest (counts, token mass,
    // id ranges, content checksums per shard). Every stage is
    // individually gated (q349/q24/q353/q301/q362); this row proves
    // the modern pipeline composes end-to-end with one SQL
    // re-derivation.
    Gate("q368_crawl_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      val urlKeep = docs
        .select(col("doc_id"), UrlOps.canonicalUrl(col("url")).as("cu"))
        .groupBy("cu").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val s1 = docs.join(urlKeep, "doc_id")
      val exKeep = Dedup.exact(s1, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      val s2 = s1.join(exKeep, "doc_id")
      val g = Dedup.shingles(col("text"), 2)
      val s3 = s2.where(round(
        (size(g) - size(array_distinct(g))).cast("double") /
          greatest(size(g), lit(1)), 6) <= 0.3)
      val s4 = graft.ops.Corpus.domainCap(
        s3.withColumn("domain", UrlOps.registeredDomain(col("url"))),
        "doc_id", "domain", "n_chars", 40)
      val sharded = graft.ops.Corpus.shardAssign(s4, "doc_id", 4)
        .select("doc_id", "shard")
        .join(s4.select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_tok")),
          "doc_id")
      graft.core.Layout.shardManifest(sharded, "shard", "doc_id", "n_tok",
          "text")
        .orderBy("shard")
    }, oracle = {
      val hs = Dedup.h60Sql("CAST(doc_id AS VARCHAR)")
      val hc = Dedup.h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")
      s"""WITH u AS (SELECT doc_id, text, n_chars, source, $canonUrlSql AS cu
         |  FROM documents),
         |k1 AS (SELECT min(doc_id) AS doc_id FROM u GROUP BY cu),
         |s1 AS (SELECT u.* FROM u JOIN k1 USING (doc_id)),
         |k2 AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
         |s2 AS (SELECT s1.* FROM s1 JOIN k2 USING (doc_id)),
         |rep AS (SELECT doc_id, round(CAST(total - dist AS DOUBLE)
         |    / greatest(total, 1), 6) AS f FROM
         |  (SELECT doc_id, CAST(len(grams) AS BIGINT) AS total,
         |     CAST(len(list_distinct(grams)) AS BIGINT) AS dist FROM
         |    (SELECT doc_id, ${Dedup.shinglesSql("text", 2)} AS grams
         |     FROM s2))),
         |s3 AS (SELECT s2.* FROM s2 JOIN rep USING (doc_id)
         |  WHERE f <= 0.3),
         |d3 AS (SELECT *, lower(source) || '.com' AS domain FROM s3),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY domain
         |    ORDER BY n_chars DESC, doc_id) AS rn FROM d3),
         |s4 AS (SELECT * FROM rk WHERE rn <= 40),
         |sh AS (SELECT doc_id, CAST(($hs) % 4 AS INT) AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    ($hc) AS h
         |  FROM s4)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  bit_xor(h) AS checksum
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
    }),

    // Packing-efficiency sweep: per candidate seqLen, sequence counts
    // and pad shares under pad-per-doc vs concatenate-and-chunk.
    Gate("q364_packing_sweep", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      graft.ops.Corpus.packingSweep(docs, "n_tok",
          Seq(64L, 128L, 256L, 512L))
        .orderBy("seq_len")
    }, oracle =
      """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS tok FROM documents),
        |x AS (SELECT CAST(L AS BIGINT) AS seq_len, tok
        |  FROM d, unnest([64, 128, 256, 512]) u(L)),
        |a AS (SELECT seq_len, count(*) AS n_docs,
        |    CAST(sum(tok) AS BIGINT) AS tokens_total,
        |    CAST(sum((tok + seq_len - 1) // seq_len) AS BIGINT)
        |      AS n_seq_padded
        |  FROM x GROUP BY seq_len),
        |b AS (SELECT *, CAST((tokens_total + seq_len - 1) // seq_len
        |    AS BIGINT) AS n_seq_packed FROM a)
        |SELECT seq_len, n_docs, tokens_total, n_seq_padded,
        |  round(CAST(n_seq_padded * seq_len - tokens_total AS DOUBLE)
        |    / (n_seq_padded * seq_len), 6) AS pad_share_padded,
        |  n_seq_packed,
        |  round(CAST(n_seq_packed * seq_len - tokens_total AS DOUBLE)
        |    / (n_seq_packed * seq_len), 6) AS pad_share_packed
        |FROM b ORDER BY seq_len""".stripMargin),

    // Dedup detection scorecard vs PLANTED ground truth: every %10==0
    // doc gets a 3-word-suffix clone; the near-dup pipeline
    // (MinHash-LSH candidates -> exact Jaccard >= 0.8) is scored on
    // how many planted pairs it finds (recall — short docs whose
    // Jaccard legitimately falls under the threshold are counted
    // against it, deterministically) and how many clone-touching
    // pairs are spurious (precision). One row.
    Gate("q365_dedup_scorecard", (s, dir) => {
      val docs = t(s, dir, "documents")
      val clones = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" planted clone marker")).as("text"))
      val aug = docs.select("doc_id", "text").unionByName(clones)
      val pairs = Dedup.ngramJaccard(aug, "text", "doc_id",
        NGRAM, K, BANDS, 0.8)
      val clonePairs = pairs.where(col("doc_a") >= 1000000L ||
        col("doc_b") >= 1000000L)
      val nP = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .agg(count(lit(1)).as("n_planted"))
      val det = clonePairs
        .where(col("doc_b") === col("doc_a") + 1000000L)
        .agg(count(lit(1)).as("n_detected"))
      val cp = clonePairs.agg(count(lit(1)).as("n_clone_pairs"))
      nP.crossJoin(det).crossJoin(cp)
        .select(col("n_planted"), col("n_detected"), col("n_clone_pairs"),
          (col("n_clone_pairs") - col("n_detected")).as("n_spurious"),
          round(col("n_detected").cast("double") / col("n_planted"), 6)
            .as("recall"),
          when(col("n_clone_pairs") > 0,
            round(col("n_detected").cast("double") / col("n_clone_pairs"),
              6)).otherwise(lit(0.0)).as("precision"))
    }, oracle =
      s"""WITH aug AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' planted clone marker'
         |  FROM documents WHERE doc_id % 10 = 0),
         |${sigBandCtes("aug")},
         |g AS (SELECT DISTINCT doc_id AS did,
         |    unnest(${Dedup.shinglesSql("text", NGRAM)}) AS g FROM aug),
         |sz AS (SELECT did, count(*) AS n FROM g GROUP BY did),
         |inter AS (SELECT cand.da, cand.db, count(*) AS i FROM cand
         |  JOIN g ga ON ga.did = cand.da
         |  JOIN g gb2 ON gb2.did = cand.db AND gb2.g = ga.g
         |  GROUP BY 1, 2),
         |jac AS (SELECT da, db FROM inter
         |  JOIN sz sa ON sa.did = inter.da
         |  JOIN sz sb ON sb.did = inter.db
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |cp AS (SELECT * FROM jac WHERE da >= 1000000 OR db >= 1000000),
         |np AS (SELECT count(*) AS n_planted FROM documents
         |  WHERE doc_id % 10 = 0),
         |dc AS (SELECT count(*) AS n FROM cp WHERE db = da + 1000000),
         |cc AS (SELECT count(*) AS n FROM cp)
         |SELECT n_planted, CAST(dc.n AS BIGINT) AS n_detected,
         |  CAST(cc.n AS BIGINT) AS n_clone_pairs,
         |  CAST(cc.n - dc.n AS BIGINT) AS n_spurious,
         |  round(CAST(dc.n AS DOUBLE) / n_planted, 6) AS recall,
         |  CASE WHEN cc.n > 0
         |    THEN round(CAST(dc.n AS DOUBLE) / cc.n, 6)
         |    ELSE 0.0 END AS "precision"
         |FROM np, dc, cc""".stripMargin),

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
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  bit_xor(h) AS checksum
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
    })
  )

  /** MinHash -> LSH bands -> candidate-pair CTEs over `src` (ends with
    * cand(da, db)), regenerated from the same Dedup constants.
    */
  private def sigBandCtes(src: String): String = {
    val bands = (0 until BANDS).map { b =>
      val cols = (b * (K / BANDS) until (b + 1) * (K / BANDS))
        .map(i => s"CAST(s$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS bh FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""shx AS (SELECT doc_id, unnest(${Dedup.shinglesSql("text", NGRAM)})
       |    AS sh FROM $src),
       |hx AS (SELECT doc_id, (${Dedup.h60Sql("sh")}) % ${Dedup.P} AS h
       |  FROM shx),
       |sig AS (SELECT doc_id,
       |${Dedup.perms(K).zipWithIndex.map { case ((a, b), i) =>
           s"  min(($a * h + $b) % ${Dedup.P}) AS s$i" }.mkString(",\n")}
       |FROM hx GROUP BY doc_id),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
       |    AND a.doc_id < b.doc_id)""".stripMargin
  }

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

  /** q354's per-doc segment-dup CTEs, ending with
    * sega(doc_id, dup_segment_frac).
    */
  private val segFracCtes =
    """wl AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |sg AS (SELECT doc_id, ws,
      |    unnest(range(0, CAST(ceil(len(ws) / 20.0) AS INT))) AS seg
      |  FROM wl WHERE len(ws) > 0),
      |st AS (SELECT doc_id, md5(array_to_string(
      |    list_slice(ws, seg * 20 + 1, seg * 20 + 20), ' ')) AS segh
      |  FROM sg),
      |shd AS (SELECT segh, count(DISTINCT doc_id) AS nd FROM st
      |  GROUP BY segh),
      |sega AS (SELECT doc_id,
      |    round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(*), 6) AS dup_segment_frac
      |  FROM st JOIN shd USING (segh) GROUP BY doc_id)""".stripMargin

  /** q353's per-doc duplicate-2-gram CTEs, ending with
    * rep(doc_id, dup_gram_frac).
    */
  private val repFracCtes =
    s"""g2 AS (SELECT doc_id, unnest(${Dedup.shinglesSql("text", 2)}) AS g
       |  FROM documents),
       |cnt2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
       |rep AS (SELECT doc_id,
       |    round(CAST(sum(c) - count(*) AS DOUBLE)
       |      / greatest(sum(c), 1), 6) AS dup_gram_frac
       |  FROM cnt2 GROUP BY doc_id)""".stripMargin

  private val q349OracleSql =
    s"""WITH u AS (SELECT doc_id, $rawUrlSql AS raw, $canonUrlSql AS cu
       |  FROM documents)
       |SELECT cu AS canonical_url, count(*) AS n_copies,
       |  count(DISTINCT raw) AS n_raw_forms, min(doc_id) AS keeper_id
       |FROM u GROUP BY cu ORDER BY cu""".stripMargin

  /** Cosines of the first ten vectors (the queries) against every other
      * vector: v, n, q and s(qid, nid, cos).
      */
  private[queries] val queryCosCtes: String =
    """v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n AS (SELECT vec_id, e,
      |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
      |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n
      |  WHERE vec_id < 10),
      |s AS (SELECT qid, vec_id AS nid,
      |    list_sum(list_transform(range(64), i -> qe[i+1] * e[i+1]))
      |      / (qn * nrm) AS cos
      |  FROM q, n WHERE vec_id <> qid)""".stripMargin
}
