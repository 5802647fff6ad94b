package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextOps}
import Q._
import NorthStar.{K, BANDS, NGRAM, sigCtes, candCtes, interCtes, reachCtes, compCte}

/** Round-7 session-5 tranche (q319–q342): canonical text
  * normalization (NFC Expression + control strip + collapse) and
  * normalized dedup; distinct-n diversity; PCA covariance; script
  * profile; syndication; best-copy keeper; the quantization ladder's
  * SQ8 + BQ + persisted-index paths; padding-waste and DoReMi mixture
  * reports; the signal card; containment; BM25 + snippets + positional
  * phrase search; RRF fusion; diversity quotas; embedding-health
  * outliers; rank agreement; packed-sequence boundaries. Oracle SQL is
  * generated from the same constants as the Scala operators (the
  * NorthStar pattern).
  */
object Curation2 extends Gates {

  /** Fresh scratch directory for a persisted-index round trip; paired
    * with [[deleteDir]] so gate/bench runs leave nothing behind.
    */
  private[graft] def tempIndexDir(prefix: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      prefix + java.util.UUID.randomUUID().toString.replace("-", ""))
      .getAbsolutePath

  private[graft] def deleteDir(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rec)
      f.delete(); ()
    }
    rec(new java.io.File(path))
  }
  /** The documents' MinHash signature CTEs (shx, hx, sig). */
  private val docSig = sigCtes("documents", "x", "sig")

  /** Script-injection augment: %5==0 docs get a Cyrillic phrase, %5==1
    * a Han phrase — deterministic multilingual mess both engines
    * re-derive (the corpus fixture is all-ASCII).
    */
  private val cyr = "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440"
  private val han = "\u4f60\u597d\u4e16\u754c"

  /** Deterministic "dirty corpus" augment both engines re-derive:
    * doc_id%3==0 gets a DECOMPOSED accent prefix (e + U+0301), %3==1
    * gets every space doubled, %3==2 gets a TAB-joined tail — the three
    * mess classes (unicode form, run-whitespace, control chars) a crawl
    * normalizer exists for.
    */
  private val decomposed = "cafe\u0301" // e + combining acute (U+0301)
  private val composed = "caf\u00e9" // precomposed e-acute = NFC(decomposed)

  private def dirty(text: org.apache.spark.sql.Column,
                    id: org.apache.spark.sql.Column) =
    when(pmod(id, lit(3L)) === 0, concat(lit(decomposed + " "), text))
      .when(pmod(id, lit(3L)) === 1, regexp_replace(text, " ", "  "))
      .otherwise(concat(text, lit("\ttail")))

  private val dirtySql =
    """CASE WHEN doc_id % 3 = 0 THEN 'cafe' || chr(769) || ' ' || text
      |  WHEN doc_id % 3 = 1 THEN replace(text, ' ', '  ')
      |  ELSE text || chr(9) || 'tail' END""".stripMargin

  private val normalizeSql =
    s"""trim(regexp_replace(regexp_replace(nfc_normalize(dirty),
       |  '[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g'))""".stripMargin

  lazy val gates: Seq[Gate] = Seq(
    // Canonical normalization over the dirtied corpus: NFC composes the
    // accents, controls become spaces, runs collapse — per-doc report.
    Gate("q319_normalize_text", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), dirty(col("text"), col("doc_id")).as("text"))
      TextOps.normalizeText(docs, "text", "doc_id").orderBy("doc_id")
    }, oracle =
      s"""WITH d AS (SELECT doc_id, $dirtySql AS dirty FROM documents),
         |n AS (SELECT doc_id, dirty, $normalizeSql AS norm_text FROM d)
         |SELECT doc_id, norm_text,
         |  CAST(length(dirty) AS BIGINT) AS n_chars_raw,
         |  CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
         |  norm_text <> dirty AS changed
         |FROM n ORDER BY doc_id""".stripMargin),

    // Normalization composed with exact dedup: a doc and its
    // whitespace-mangled decomposed-accent clone hash identically AFTER
    // normalizeCol — the dup classes raw md5 can never see.
    Gate("q321_normalized_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id"),
        concat(col("text"), lit(" " + composed)).as("text"))
      val clones = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(regexp_replace(col("text"), " ", "  "),
            lit(" " + decomposed)).as("text"))
      val norm = base.unionByName(clones)
        .select(col("doc_id"), TextOps.normalizeCol(col("text")).as("norm_text"))
      Dedup.exact(norm, "norm_text", "doc_id").orderBy("content_hash")
    }, oracle = q321OracleSql),

    // Distinct-n diversity per corpus slice (n = 1, 2, 3).
    Gate("q320_distinct_ngrams", (s, dir) =>
      TextOps.distinctNgramRatio(t(s, dir, "documents"), "text", "source")
        .orderBy("source", "n"), oracle = {
      def one(n: Int) =
        s"""SELECT source, $n AS n, count(*) AS total_grams,
           |  count(DISTINCT g) AS distinct_grams,
           |  round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
           |    AS distinct_ratio
           |FROM (SELECT source, unnest(${Dedup.shinglesSql("text", n)}) AS g
           |      FROM documents)
           |GROUP BY source""".stripMargin
      s"""${one(1)}
         |UNION ALL
         |${one(2)}
         |UNION ALL
         |${one(3)}
         |ORDER BY source, n""".stripMargin
    }),

    // The distributed half of PCA: one-pass upper-triangular covariance
    // of the embedding matrix, micro-quantized per term (engine-exact
    // at any partitioning). The driver-side eigen fit and the map-only
    // projection are spec'd in SignalsSpec (orthonormality, Cv=λv,
    // variance ordering, projection plan shape).
    Gate("q322_pca_covariance", (s, dir) =>
      Similarity.covarianceUT(t(s, dir, "embeddings"), "embedding", 64)
        .orderBy("i", "j"), oracle =
      """WITH v AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |terms AS (SELECT i, j,
        |    CAST(floor(e[i + 1] * e[j + 1] * 1000000.0 + 0.5) AS BIGINT) AS q
        |  FROM v, unnest(range(64)) a(i), unnest(range(64)) b(j)
        |  WHERE j >= i),
        |prods AS (SELECT i, j, sum(q) AS sxy, count(*) AS n
        |  FROM terms GROUP BY i, j),
        |means AS (SELECT d, sum(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS sx
        |  FROM (SELECT unnest(e) AS x,
        |          unnest(range(64)) AS d FROM v)
        |  GROUP BY d)
        |SELECT p.i, p.j, p.n,
        |  round(CAST(sxy AS DOUBLE) / 1000000.0 / n
        |    - (CAST(mi.sx AS DOUBLE) / 1000000.0 / n)
        |    * (CAST(mj.sx AS DOUBLE) / 1000000.0 / n), 6) + 0.0 AS cov
        |FROM prods p
        |JOIN means mi ON mi.d = p.i
        |JOIN means mj ON mj.d = p.j
        |ORDER BY p.i, p.j""".stripMargin),

    // Script/char-class profile over the multilingual-injected corpus.
    Gate("q323_script_profile", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5L)) === 0,
            concat(col("text"), lit(" " + cyr)))
          .when(pmod(col("doc_id"), lit(5L)) === 1,
            concat(col("text"), lit(" " + han)))
          .otherwise(col("text")).as("text"))
      TextOps.scriptProfile(docs, "text", "doc_id").orderBy("doc_id")
    }, oracle = {
      val counts = TextOps.scriptClasses.map { case (nm, _, re2) =>
        s"""  CAST(length(text) - length(regexp_replace(text, '$re2', '', 'g'))
           |    AS BIGINT) AS n_$nm""".stripMargin }.mkString(",\n")
      val shares = TextOps.scriptClasses.map { case (nm, _, _) =>
        s"  round(CAST(n_$nm AS DOUBLE) / greatest(n_chars, 1), 6) AS ${nm}_share"
      }.mkString(",\n")
      s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' $cyr'
         |         WHEN doc_id % 5 = 1 THEN text || ' $han'
         |         ELSE text END AS text
         |  FROM documents),
         |c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |$counts
         |FROM d)
         |SELECT doc_id, n_chars,
         |${TextOps.scriptClasses.map(c => s"  n_${c._1}").mkString(",\n")},
         |$shares
         |FROM c ORDER BY doc_id""".stripMargin
    }),

    // Cross-source syndication: exact-copy groups spanning >1 source.
    // The fixture's exact dups are all within-source, so the corpus is
    // augmented with a deterministic 'mirror' source republishing every
    // 17th doc verbatim — the wire-copy shape the op exists to find.
    Gate("q324_syndication", (s, dir) => {
      val docs = t(s, dir, "documents")
      val mirrored = docs.unionByName(
        docs.where(pmod(col("doc_id"), lit(17L)) === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("source", lit("mirror")))
      graft.ops.Corpus.syndication(mirrored, "text", "doc_id", "source")
        .orderBy("content_hash")
    }, oracle =
      """WITH m AS (SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'mirror' FROM documents
        |  WHERE doc_id % 17 = 0)
        |SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |  count(DISTINCT source) AS n_sources, min(doc_id) AS keeper_id,
        |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
        |FROM m GROUP BY 1
        |HAVING count(DISTINCT source) > 1
        |ORDER BY content_hash""".stripMargin),

    // Best-copy keeper policy: near-dup clusters keep the LONGEST copy
    // (n_chars as the quality score), not the min-id one.
    Gate("q325_keep_best", (s, dir) =>
      Dedup.keepBestQuality(t(s, dir, "documents"), "text", "doc_id",
          "n_chars", NGRAM, K, BANDS)
        .orderBy("doc_id"), oracle =
      s"""WITH RECURSIVE $docSig,
         |$candCtes,
         |${reachCtes("cand")},
         |$compCte,
         |allc AS (SELECT d.doc_id,
         |    coalesce(c.component, d.doc_id) AS component,
         |    CAST(d.n_chars AS DOUBLE) AS score
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |best AS (SELECT component, doc_id AS keeper_id, row_number() OVER
         |    (PARTITION BY component ORDER BY score DESC, doc_id ASC) AS rn
         |  FROM allc)
         |SELECT a.doc_id, a.component, a.score, b.keeper_id,
         |  a.doc_id = b.keeper_id AS keep
         |FROM allc a JOIN best b ON b.component = a.component AND b.rn = 1
         |ORDER BY a.doc_id""".stripMargin),

    // SQ8 scalar-quantized ANN: uint8 codes vs per-dim bounds,
    // asymmetric distance scan, top-5 (queries = vec_id < 10).
    Gate("q326_ann_sq8", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    }, oracle = sq8OracleSql("TRUE")),

    // Padding-efficiency report: naive arrival-order batches vs
    // length-grouped batching, one row per strategy.
    Gate("q327_padding_waste", (s, dir) =>
      graft.ops.Corpus.paddingWaste(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("strategy"), oracle =
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |naive AS (SELECT ntok,
        |    (row_number() OVER (ORDER BY doc_id) - 1) // 8 AS batch FROM d),
        |np AS (SELECT ntok,
        |    max(ntok) OVER (PARTITION BY batch) - ntok AS pad FROM naive),
        |bucketed AS (SELECT ntok, ntok // 16 AS bucket,
        |    (row_number() OVER (PARTITION BY ntok // 16
        |       ORDER BY ntok, doc_id) - 1) // 8 AS batch FROM d),
        |bp AS (SELECT ntok,
        |    max(ntok) OVER (PARTITION BY bucket, batch) - ntok AS pad
        |  FROM bucketed),
        |rep AS (
        |  SELECT 'naive' AS strategy, count(*) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS total_tokens,
        |    CAST(sum(pad) AS BIGINT) AS pad_tokens,
        |    round(CAST(sum(pad) AS DOUBLE) / (sum(ntok) + sum(pad)), 6)
        |      AS pad_ratio
        |  FROM np
        |  UNION ALL
        |  SELECT 'length_grouped', count(*),
        |    CAST(sum(ntok) AS BIGINT), CAST(sum(pad) AS BIGINT),
        |    round(CAST(sum(pad) AS DOUBLE) / (sum(ntok) + sum(pad)), 6)
        |  FROM bp)
        |SELECT * FROM rep ORDER BY strategy""".stripMargin),

    // One-round DoReMi-style mixture reweight: target = src0 docs (the
    // q254 fixture convention), slices = the remaining sources.
    Gate("q328_doremi_reweight", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Corpus.doremiReweight(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "text", "doc_id", "source")
        .orderBy("source")
    }, oracle = {
      val sh2 = Dedup.shinglesSql("text", 2)
      val B = 256
      def bkt(part: Int) =
        s"(${Dedup.h60Sql(s"split_part(g, ' ', $part)")}) % $B"
      s"""WITH tg AS (SELECT unnest($sh2) AS g FROM documents
         |  WHERE source = 'src0'),
         |tb2 AS (SELECT ${bkt(1)} AS b1, ${bkt(2)} AS b2 FROM tg
         |  WHERE len(string_split(g, ' ')) = 2),
         |big AS (SELECT b1, b2, count(*) AS c12 FROM tb2 GROUP BY b1, b2),
         |ctx AS (SELECT b1, count(*) AS c1 FROM tb2 GROUP BY b1),
         |rg2 AS (SELECT doc_id, unnest($sh2) AS g
         |  FROM documents WHERE source <> 'src0'),
         |rb2 AS (SELECT doc_id, ${bkt(1)} AS b1, ${bkt(2)} AS b2 FROM rg2
         |  WHERE len(string_split(g, ' ')) = 2),
         |sc2 AS (SELECT doc_id,
         |    CAST(floor((ln(coalesce(c12, 0) + 1.0)
         |      - ln(coalesce(c1, 0) + ${B}.0)) * 1000000.0 + 0.5) AS BIGINT)
         |      AS lp_q
         |  FROM rb2 LEFT JOIN big USING(b1, b2) LEFT JOIN ctx USING(b1)),
         |lm AS (SELECT doc_id, count(*) AS n_bigrams,
         |    CAST(sum(lp_q) AS BIGINT) AS lp_sum_q FROM sc2 GROUP BY doc_id),
         |per AS (SELECT d.source AS src,
         |    CAST(sum(n_bigrams) AS BIGINT) AS nb,
         |    CAST(sum(lp_sum_q) AS BIGINT) AS lps
         |  FROM lm JOIN documents d USING (doc_id) GROUP BY 1),
         |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS tnb,
         |    CAST(sum(lps) AS BIGINT) AS tlps FROM per),
         |w AS (SELECT src, nb,
         |    CAST(nb AS DOUBLE) / tnb AS share,
         |    -CAST(lps AS DOUBLE) / 1000000.0 / nb AS loss_nats,
         |    greatest(-CAST(lps AS DOUBLE) / 1000000.0 / nb
         |      + CAST(tlps AS DOUBLE) / 1000000.0 / tnb, 0.0) AS excess_nats
         |  FROM per, tot),
         |wq AS (SELECT *, CAST(floor(share * (1.0 + 0.5 * excess_nats)
         |    * 1000000000.0 + 0.5) AS BIGINT) AS rwq FROM w),
         |z AS (SELECT CAST(sum(rwq) AS BIGINT) AS z FROM wq)
         |SELECT src AS source, nb AS n_bigrams,
         |  round(share, 6) AS share, round(loss_nats, 6) AS loss_nats,
         |  round(excess_nats, 6) + 0.0 AS excess_nats,
         |  round(CAST(rwq AS DOUBLE) / z, 6) AS new_share
         |FROM wq, z ORDER BY source""".stripMargin
    }),

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

    // Asymmetric containment: sub-document duplication with direction.
    Gate("q330_containment", (s, dir) =>
      Dedup.containment(t(s, dir, "documents"), "text", "doc_id",
          NGRAM, K, BANDS, 0.5)
        .orderBy("doc_a", "doc_b"), oracle =
      s"""WITH $docSig,
         |$candCtes,
         |${interCtes("documents", "ng")}
         |SELECT da AS doc_a, db AS doc_b, CAST(i AS BIGINT) AS inter_grams,
         |  round(CAST(i AS DOUBLE) / sa.ng, 6) AS containment_a,
         |  round(CAST(i AS DOUBLE) / sb.ng, 6) AS containment_b,
         |  CASE WHEN CAST(i AS DOUBLE) / sa.ng >= CAST(i AS DOUBLE) / sb.ng
         |    THEN da ELSE db END AS contained_doc
         |FROM inter JOIN sizes sa ON da = sa.doc_id
         |           JOIN sizes sb ON db = sb.doc_id
         |WHERE greatest(CAST(i AS DOUBLE) / sa.ng,
         |               CAST(i AS DOUBLE) / sb.ng) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Okapi BM25 keyword retrieval: queries = the first 5 words of
    // docs 0-4 (self-retrieval fixture), top-10 per query.
    Gate("q331_bm25", (s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.where(col("doc_id") < 5)
        .select(col("doc_id"), concat_ws(" ",
          slice(split(col("text"), " "), 1, 5)).as("qtext"))
      TextOps.bm25TopK(docs, qs, "doc_id", "text", "qtext", 10)
        .orderBy("query_id", "rank")
    }, oracle =
      s"""WITH $bm25Ctes
         |SELECT query_id, doc_id, rank, n_terms, bm25 FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // Reciprocal-rank fusion of the exact-cosine and SQ8 rankings —
    // the hybrid-retrieval combiner over two real ranking lists.
    Gate("q332_rrf_hybrid", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val cos = Similarity.cosineTopK(emb, qs, "vec_id", "embedding", 10)
      val sq8 = Similarity.sq8TopK(emb, qs, "vec_id", "embedding", 10)
      Similarity.rrfFuse(Seq(cos, sq8), 5).orderBy("query_id", "rank")
    }, oracle =
      s"""WITH $hybridCtes,
        |u AS (SELECT qid, nid, rank FROM cr WHERE rank <= 10
        |  UNION ALL SELECT qid, nid, rank FROM r8 WHERE rank <= 10),
        |f AS (SELECT qid, nid,
        |    CAST(sum(CAST(floor(1000000000.0 / (60 + rank) + 0.5) AS BIGINT))
        |      AS BIGINT) AS rrf_q,
        |    count(*) AS n_lists
        |  FROM u GROUP BY 1, 2),
        |fr AS (SELECT qid AS query_id, nid AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY rrf_q DESC, nid ASC) AS INTEGER) AS rank,
        |    n_lists, rrf_q
        |  FROM f)
        |SELECT query_id, neighbor_id, rank, n_lists, rrf_q FROM fr
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Positional-index exact phrase search: phrases = words 4-6 of
    // docs 0-4; every doc containing the phrase (dup copies included).
    Gate("q333_phrase_search", (s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.where(col("doc_id") < 5)
        .select(col("doc_id"), concat_ws(" ",
          slice(split(col("text"), " "), 4, 3)).as("phrase"))
      TextOps.phraseSearch(docs, qs, "doc_id", "text", "phrase")
        .orderBy("query_id", "doc_id")
    }, oracle =
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |post AS (SELECT doc_id AS did, g.i - 1 AS pos, ws[g.i] AS w
        |  FROM d, unnest(range(1, len(ws) + 1)) g(i)),
        |qs AS (SELECT doc_id AS query_id,
        |    list_slice(string_split(text, ' '), 4, 6) AS ph
        |  FROM documents WHERE doc_id < 5),
        |qt AS (SELECT query_id, len(ph) AS plen, t.i - 1 AS off, ph[t.i] AS w
        |  FROM qs, unnest(range(1, len(ph) + 1)) t(i)),
        |st AS (SELECT query_id, plen, did, pos - off AS start,
        |    count(DISTINCT off) AS hit
        |  FROM qt JOIN post USING (w)
        |  GROUP BY query_id, plen, did, pos - off),
        |m AS (SELECT query_id, did, start FROM st
        |  WHERE hit = plen AND start >= 0)
        |SELECT query_id, did AS doc_id, count(*) AS n_matches,
        |  CAST(min(start) AS BIGINT) AS first_pos
        |FROM m GROUP BY 1, 2 ORDER BY query_id, doc_id""".stripMargin),

    // Binary-quantized ANN: sign bits vs per-dim mean, Hamming
    // shortlist (50), exact-cosine rerank top-5.
    Gate("q334_ann_bq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bqTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, 64)
        .orderBy("query_id", "rank")
    }, oracle =
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |ms AS (SELECT d,
        |    CAST(sum(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sq,
        |    count(*) AS n
        |  FROM (SELECT unnest(e) AS x, unnest(range(64)) AS d FROM v)
        |  GROUP BY d),
        |mm AS (SELECT list(CAST(sq AS DOUBLE) / 1000000.0 / n ORDER BY d)
        |    AS m FROM ms),
        |codes AS (SELECT vec_id, e,
        |    CAST(list_sum(list_transform(range(32), j ->
        |      CASE WHEN e[j+1] > m[j+1] THEN (1::BIGINT << j)
        |           ELSE 0::BIGINT END)) AS BIGINT) AS c0,
        |    CAST(list_sum(list_transform(range(32), j ->
        |      CASE WHEN e[j+33] > m[j+33] THEN (1::BIGINT << j)
        |           ELSE 0::BIGINT END)) AS BIGINT) AS c1
        |  FROM v, mm),
        |q AS (SELECT vec_id AS qid, e AS qe, c0 AS qc0, c1 AS qc1
        |  FROM codes WHERE vec_id < 10),
        |h AS (SELECT qid, qe, vec_id AS nid, e,
        |    bit_count(xor(c0, qc0)) + bit_count(xor(c1, qc1)) AS ham
        |  FROM q, codes WHERE vec_id <> qid),
        |hs AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY ham, nid) AS hrank FROM h),
        |sl AS (SELECT * FROM hs WHERE hrank <= 50),
        |sc AS (SELECT qid, nid, ham,
        |    list_sum(list_transform(range(64), i -> qe[i+1] * e[i+1]))
        |      / (sqrt(list_sum(list_transform(qe, x -> x * x)))
        |         * sqrt(list_sum(list_transform(e, x -> x * x)))) AS score
        |  FROM sl),
        |r AS (SELECT qid AS query_id, nid AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, nid ASC) AS INTEGER) AS rank,
        |    CAST(ham AS BIGINT) AS hamming, round(score, 6) AS score
        |  FROM sc)
        |SELECT query_id, neighbor_id, rank, hamming, score FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Dedup threshold operating-point sweep over verified candidates.
    Gate("q335_threshold_sweep", (s, dir) =>
      Dedup.dedupThresholdSweep(t(s, dir, "documents"), "text", "doc_id",
          NGRAM, K, BANDS)
        .orderBy("threshold"), oracle = {
      val ths = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
      val values = ths.map(v => s"(CAST($v AS DOUBLE))").mkString(", ")
      s"""WITH $docSig,
         |$candCtes,
         |${interCtes("documents")},
         |sc AS (SELECT da, db, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
         |  FROM inter JOIN sizes sa ON da = sa.doc_id
         |             JOIN sizes sb ON db = sb.doc_id),
         |th(threshold) AS (VALUES $values),
         |pj AS (SELECT threshold, da, db, j FROM sc, th WHERE j >= threshold),
         |pairs AS (SELECT threshold, count(*) AS n_pairs FROM pj GROUP BY 1),
         |docs AS (SELECT threshold, count(DISTINCT d) AS n_docs FROM
         |  (SELECT threshold, unnest([da, db]) AS d FROM pj) GROUP BY 1)
         |SELECT th.threshold,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
         |FROM th LEFT JOIN pairs USING (threshold)
         |        LEFT JOIN docs USING (threshold)
         |ORDER BY threshold""".stripMargin
    }),

    // The dedup decision ledger: per dropped doc, reason + keeper +
    // strongest evidence.
    Gate("q336_dedup_explain", (s, dir) =>
      Dedup.dedupExplain(t(s, dir, "documents"), "text", "doc_id",
          NGRAM, K, BANDS, 0.8)
        .orderBy("doc_id"), oracle =
      s"""WITH RECURSIVE hx0 AS (SELECT doc_id, md5(text) AS h FROM documents),
         |grp AS (SELECT h, min(doc_id) AS keeper FROM hx0 GROUP BY h),
         |ed AS (SELECT doc_id, 'exact' AS reason, keeper AS keeper_id,
         |    CAST(1.0 AS DOUBLE) AS evidence
         |  FROM hx0 JOIN grp USING (h) WHERE doc_id <> keeper),
         |surv AS (SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ed)),
         |${sigCtes("surv", "x", "sig")},
         |$candCtes,
         |${interCtes("surv")},
         |pr AS (SELECT da, db, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
         |  FROM inter JOIN sizes sa ON da = sa.doc_id
         |             JOIN sizes sb ON db = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |${reachCtes("pr")},
         |$compCte,
         |ev AS (SELECT d AS doc_id, max(j) AS evidence FROM
         |  (SELECT da AS d, j FROM pr UNION ALL SELECT db, j FROM pr)
         |  GROUP BY d),
         |nd AS (SELECT c.doc_id, 'near' AS reason,
         |    c.component AS keeper_id, ev.evidence
         |  FROM comp c JOIN ev USING (doc_id) WHERE c.doc_id <> c.component)
         |SELECT doc_id, reason, keeper_id, round(evidence, 6) AS evidence
         |FROM (SELECT * FROM ed UNION ALL SELECT * FROM nd)
         |ORDER BY doc_id""".stripMargin),

    // Snippet extraction for the q331 hit list: best 8-word window per
    // (query, top-3 doc), tie to the earliest start.
    Gate("q337_bm25_snippets", (s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = docs.where(col("doc_id") < 5)
        .select(col("doc_id"), concat_ws(" ",
          slice(split(col("text"), " "), 1, 5)).as("qtext"))
      TextOps.bm25Snippets(docs, qs, "doc_id", "text", "qtext", 3)
        .orderBy("query_id", "rank")
    }, oracle =
      s"""WITH $bm25Ctes,
         |hits AS (SELECT query_id, doc_id, rank FROM r WHERE rank <= 3),
         |post AS (SELECT doc_id, g.i - 1 AS pos, ws[g.i] AS tw FROM
         |  (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
         |  unnest(range(1, len(ws) + 1)) g(i)),
         |hp AS (SELECT h.query_id, h.doc_id, h.rank, post.pos
         |  FROM hits h JOIN qt ON qt.query_id = h.query_id
         |  JOIN post ON post.doc_id = h.doc_id AND post.tw = qt.w),
         |wins AS (SELECT a.query_id, a.doc_id, a.rank, a.pos AS p,
         |    count(*) AS hw
         |  FROM hp a JOIN hp b ON b.query_id = a.query_id
         |    AND b.doc_id = a.doc_id
         |    AND b.pos >= a.pos AND b.pos < a.pos + 8
         |  GROUP BY 1, 2, 3, 4),
         |best AS (SELECT query_id, doc_id, rank,
         |    max(hw) AS hits_in_window FROM wins GROUP BY 1, 2, 3),
         |bs AS (SELECT w2.query_id, w2.doc_id, w2.rank, b.hits_in_window,
         |    CAST(min(w2.p) AS BIGINT) AS best_start
         |  FROM wins w2 JOIN best b ON b.query_id = w2.query_id
         |    AND b.doc_id = w2.doc_id AND w2.hw = b.hits_in_window
         |  GROUP BY 1, 2, 3, 4)
         |SELECT bs.query_id, bs.doc_id, bs.rank, bs.hits_in_window,
         |  bs.best_start,
         |  array_to_string(list_slice(string_split(d.text, ' '),
         |    bs.best_start + 1, bs.best_start + 8), ' ') AS snippet
         |FROM bs JOIN documents d ON d.doc_id = bs.doc_id
         |ORDER BY query_id, rank""".stripMargin),

    // The persisted-index SQ8 path: codes + bounds written once, the
    // query reads ONLY the index — identical answers to q326 by
    // construction (shares its oracle, the q283 pattern).
    Gate("q338_ann_sq8_indexed", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = tempIndexDir("graft_sq8_index_")
      // build inside the try (a mid-build failure must still clean up);
      // materialize (lineage-truncating) BEFORE deleting the on-disk
      // index so every gate/bench run cleans up after itself (r7 ADVICE)
      try {
        Similarity.writeSq8Index(emb, "vec_id", "embedding", idx)
        Similarity.sq8TopKIndexed(s, idx, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", 5)
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      } finally deleteDir(idx)
    }, oracle = sq8OracleSql("TRUE")),

    // Diversity-quota retrieval: top-5 with at most 2 results per label.
    Gate("q339_quota_ann", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.quotaCosineTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", 5, 2)
        .orderBy("query_id", "rank")
    }, oracle =
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, e,
        |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n
        |  WHERE vec_id < 10),
        |s AS (SELECT qid, vec_id AS nid, n.label,
        |    list_sum(list_transform(range(64), i -> qe[i+1] * e[i+1]))
        |      / (qn * nrm) AS score
        |  FROM q, n WHERE vec_id <> qid),
        |lr AS (SELECT *, row_number() OVER (PARTITION BY qid, label
        |    ORDER BY score DESC, nid ASC) AS lrank FROM s),
        |g AS (SELECT qid, nid, label, score,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, nid ASC) AS INTEGER) AS rank
        |  FROM lr WHERE lrank <= 2)
        |SELECT qid AS query_id, nid AS neighbor_id, label, rank,
        |  round(score, 6) AS score
        |FROM g WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Embedding-health outliers: best-centroid cosine vs the exact p05
    // threshold; centroids = the first 8 vectors (SQL-re-derivable).
    Gate("q340_embedding_outliers", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toSeq).toSeq
      // exact percentile for the oracle check (quantile_cont parity);
      // the library default is the bounded-memory percentile_approx
      Similarity.embeddingOutliers(emb, "vec_id", "embedding", seeds,
          exact = true)
        .orderBy("vec_id")
    }, oracle =
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |seeds AS (SELECT vec_id AS sid, e AS se,
        |    sqrt(list_sum(list_transform(e, x -> x * x))) AS sn
        |  FROM v WHERE vec_id < 8),
        |sc AS (SELECT n.vec_id, s.sid,
        |    list_sum(list_transform(range(64), i -> e[i+1] * se[i+1]))
        |      / (nrm * sn) AS cos
        |  FROM n, seeds s),
        |mx AS (SELECT vec_id, max(cos) AS mc FROM sc GROUP BY vec_id),
        |cellt AS (SELECT sc.vec_id,
        |    CAST(min(sc.sid) + 1 AS INTEGER) AS cell, max(sc.cos) AS cell_cos
        |  FROM sc JOIN mx ON mx.vec_id = sc.vec_id AND sc.cos = mx.mc
        |  GROUP BY sc.vec_id),
        |thr AS (SELECT quantile_cont(cell_cos, 0.05) AS t FROM cellt)
        |SELECT vec_id, cell, round(cell_cos, 6) + 0.0 AS cell_cos,
        |  round(t, 6) + 0.0 AS threshold, cell_cos < t AS is_outlier
        |FROM cellt, thr ORDER BY vec_id""".stripMargin),

    // Rank agreement between the exact-cosine and SQ8 top-10 lists:
    // per-query Kendall tau-a over shared candidates.
    Gate("q341_rank_agreement", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      Similarity.rankAgreement(
          Similarity.cosineTopK(emb, qs, "vec_id", "embedding", 10),
          Similarity.sq8TopK(emb, qs, "vec_id", "embedding", 10), 10)
        .orderBy("query_id")
    }, oracle =
      s"""WITH $hybridCtes,
         |sa AS (SELECT qid, nid, rank AS ra FROM cr WHERE rank <= 10),
         |sbx AS (SELECT qid, nid, rank AS rb FROM r8 WHERE rank <= 10),
         |sh2 AS (SELECT sa.qid, sa.nid, ra, rb FROM sa JOIN sbx
         |  USING (qid, nid)),
         |pr AS (SELECT x.qid, count(*) AS np,
         |    sum(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0
         |        THEN 1 ELSE 0 END) AS nc
         |  FROM sh2 x JOIN sh2 y ON x.qid = y.qid AND x.nid < y.nid
         |  GROUP BY x.qid),
         |allq AS (SELECT qid FROM sa UNION SELECT qid FROM sbx),
         |base AS (SELECT qid, count(*) AS ns FROM sh2 GROUP BY qid)
         |SELECT allq.qid AS query_id,
         |  CAST(coalesce(ns, 0) AS BIGINT) AS n_shared,
         |  CAST(coalesce(np, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(nc, 0) AS BIGINT) AS n_concordant,
         |  CASE WHEN coalesce(np, 0) > 0
         |    THEN round(CAST(nc * 2 - np AS DOUBLE) / np, 6) + 0.0 END AS kendall_tau
         |FROM allq LEFT JOIN base USING (qid) LEFT JOIN pr USING (qid)
         |ORDER BY query_id""".stripMargin),

    // Per-sequence doc-boundary offsets (cu_seqlens) over the q244
    // packed layout.
    Gate("q342_pack_boundaries", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.ops.Corpus.packBoundaries(docs, "doc_id", "n_tok", "source", 512L)
        .orderBy("seq")
    }, oracle =
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |c AS (SELECT *, CAST(sum(ntok) OVER (ORDER BY source, doc_id) - ntok
        |    AS BIGINT) AS start_tok FROM d),
        |b AS (SELECT start_tok % 512 AS boundary, start_tok // 512 AS seq
        |  FROM c)
        |SELECT seq, count(*) AS n_docs_starting,
        |  array_to_string(list_sort(list(boundary)), ',') AS boundaries
        |FROM b GROUP BY seq ORDER BY seq""".stripMargin),

    // Source-redundancy matrix: pairwise hashed-profile cosine.
    Gate("q343_source_similarity", (s, dir) =>
      graft.ops.Corpus.sourceSimilarity(t(s, dir, "documents"),
          "text", "source")
        .orderBy("src_a", "src_b"), oracle = {
      val b = s"(${Dedup.h60Sql("w")}) % 256"
      s"""WITH prof AS (SELECT src, $b AS b, count(*) AS c FROM
         |  (SELECT source AS src, unnest(string_split(text, ' ')) AS w
         |   FROM documents) WHERE w <> '' GROUP BY 1, 2),
         |norms AS (SELECT src, CAST(sum(c * c) AS BIGINT) AS n2
         |  FROM prof GROUP BY src),
         |d AS (SELECT a.src AS src_a, b2.src AS src_b,
         |    CAST(sum(a.c * b2.c) AS BIGINT) AS dot
         |  FROM prof a JOIN prof b2 ON a.b = b2.b AND a.src < b2.src
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |  round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
         |    AS profile_cosine
         |FROM d JOIN norms na ON na.src = d.src_a
         |       JOIN norms nb ON nb.src = d.src_b
         |ORDER BY src_a, src_b""".stripMargin
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

    // Per-query MRR + nDCG@10 (the q317 queries, same-label relevance).
    Gate("q345_retrieval_metrics", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.retrievalMetrics(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", "label", 10)
        .orderBy("query_id")
    }, oracle = {
      val terms = Similarity.dcgTerms(10)
      val dt = terms.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, ${t}::BIGINT)" }.mkString(", ")
      val ic = terms.scanLeft(0L)(_ + _).tail.zipWithIndex
        .map { case (c, i) => s"(${i + 1}, ${c}::BIGINT)" }.mkString(", ")
      s"""WITH v AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |n AS (SELECT vec_id, label, e,
         |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
         |q AS (SELECT vec_id AS qid, label AS qlab, e AS qe, nrm AS qn
         |  FROM n WHERE vec_id < 20),
         |s AS (SELECT qid, qlab, vec_id AS nid, n.label AS nlab,
         |    list_sum(list_transform(range(64), i -> qe[i+1] * e[i+1]))
         |      / (qn * nrm) AS cos
         |  FROM q, n WHERE vec_id <> qid),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, nid) AS INTEGER) AS rank FROM s),
         |tk AS (SELECT qid, qlab, rank, qlab = nlab AS rel FROM r
         |  WHERE rank <= 10),
         |dt(rank, term) AS (VALUES $dt),
         |perq AS (SELECT qid, qlab,
         |    min(CASE WHEN rel THEN rank END) AS frr,
         |    CAST(sum(CASE WHEN rel THEN term ELSE 0::BIGINT END) AS BIGINT)
         |      AS dcg_q
         |  FROM tk JOIN dt USING (rank) GROUP BY qid, qlab),
         |lc AS (SELECT label, count(*) AS n_label FROM embeddings
         |  GROUP BY label),
         |ic(rk, cum) AS (VALUES $ic),
         |fin AS (SELECT qid, frr, dcg_q,
         |    least(10, n_label - 1) AS rr2
         |  FROM perq JOIN lc ON lc.label = perq.qlab)
         |SELECT qid AS query_id, frr AS first_rel_rank,
         |  round(CASE WHEN frr IS NOT NULL THEN 1.0 / frr ELSE 0.0 END, 6)
         |    AS reciprocal_rank,
         |  round(CASE WHEN rr2 > 0 THEN CAST(dcg_q AS DOUBLE) / ic.cum
         |        ELSE 0.0 END, 6) AS ndcg
         |FROM fin LEFT JOIN ic ON ic.rk = fin.rr2
         |ORDER BY query_id""".stripMargin
    }),

    // Streaming NORMALIZED exact dedup: normalizeCol runs inside the
    // stream (stateless map) before the stateful hash agg, so the
    // ingest-time dedup catches the unicode/whitespace dup classes raw
    // md5 misses — AvailableNow replay over the q321 corpus must equal
    // the batch q321 answer exactly (shared oracle).
    Gate("q346_streaming_norm_dedup", (s, dir) => {
      val docs = graft.core.Tables.stream(s, dir, "documents")
      val base = docs.select(col("doc_id"),
        concat(col("text"), lit(" " + composed)).as("text"))
      val clones = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(regexp_replace(col("text"), " ", "  "),
            lit(" " + decomposed)).as("text"))
      val agg = base.unionByName(clones)
        .select(col("doc_id"),
          TextOps.normalizeCol(col("text")).as("norm_text"))
        .groupBy(md5(col("norm_text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      drainMemory(s, agg, "complete")(_.orderBy("content_hash"))
    }, oracle =
      // the streaming replay must equal the batch q321 answer exactly
      q321OracleSql),

    // Dedup diversity lift: distinct-n per slice BEFORE vs AFTER exact
    // dedup in one report — the "did dedup actually help" number.
    Gate("q347_dedup_diversity", (s, dir) => {
      val docs = t(s, dir, "documents")
      val keepers = Dedup.exact(docs, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      val surv = docs.join(keepers, "doc_id")
      TextOps.distinctNgramRatio(docs, "text", "source")
        .withColumn("stage", lit("raw"))
        .unionByName(TextOps.distinctNgramRatio(surv, "text", "source")
          .withColumn("stage", lit("deduped")))
        .orderBy("stage", "source", "n")
    }, oracle = {
      def one(src: String, stage: String, n: Int) =
        s"""SELECT source, $n AS n, count(*) AS total_grams,
           |  count(DISTINCT g) AS distinct_grams,
           |  round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
           |    AS distinct_ratio, '$stage' AS stage
           |FROM (SELECT source, unnest(${Dedup.shinglesSql("text", n)}) AS g
           |      FROM $src)
           |GROUP BY source""".stripMargin
      s"""WITH surv AS (SELECT d.* FROM documents d JOIN
         |  (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
         |  USING (doc_id))
         |${(1 to 3).map(n => one("documents", "raw", n)).mkString("\nUNION ALL\n")}
         |UNION ALL
         |${(1 to 3).map(n => one("surv", "deduped", n)).mkString("\nUNION ALL\n")}
         |ORDER BY stage, source, n""".stripMargin
    })
  )

  /** BM25 oracle CTEs (shared by q331 and the q337 snippet stage):
    * postings, df, lengths, corpus stats, query terms, per-term
    * quantized scores, ranked results — generated from the same
    * constants as [[graft.ops.TextOps.bm25TopK]].
    */
  private val bm25Ctes: String =
    """words AS (SELECT did, w FROM
      |  (SELECT doc_id AS did, unnest(string_split(text, ' ')) AS w
      |   FROM documents) WHERE w <> ''),
      |tf AS (SELECT did, w, count(*) AS tf FROM words GROUP BY 1, 2),
      |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |lens AS (SELECT did, count(*) AS len FROM words GROUP BY did),
      |stats AS (SELECT count(*) AS nd, CAST(sum(len) AS BIGINT) AS tl
      |  FROM lens),
      |qt AS (SELECT query_id, w FROM
      |  (SELECT doc_id AS query_id,
      |     unnest(list_distinct(list_slice(string_split(text, ' '), 1, 5)))
      |       AS w
      |   FROM documents WHERE doc_id < 5) WHERE w <> ''),
      |sc AS (SELECT query_id, did,
      |    ln(1.0 + (nd - df + 0.5) / (df + 0.5)) AS idf,
      |    1.2 * ((1.0 - 0.75) +
      |      0.75 * len / (CAST(tl AS DOUBLE) / nd)) AS nrm,
      |    tf
      |  FROM qt JOIN tf USING (w) JOIN dfx USING (w)
      |    JOIN lens USING (did), stats),
      |tq AS (SELECT query_id, did,
      |    CAST(floor(idf * (tf * (1.2 + 1.0)) / (tf + nrm)
      |      * 1000000000.0 + 0.5) AS BIGINT) AS term_q
      |  FROM sc),
      |agg AS (SELECT query_id, did, CAST(sum(term_q) AS BIGINT) AS score_q,
      |    count(*) AS n_terms FROM tq GROUP BY 1, 2),
      |r AS (SELECT query_id, did AS doc_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_q DESC, did ASC) AS INTEGER) AS rank,
      |    n_terms,
      |    round(CAST(score_q AS DOUBLE) / 1000000000.0, 6) AS bm25
      |  FROM agg)""".stripMargin

  /** The exact-cosine + SQ8 ranking CTEs shared by q332 (fusion) and
    * q341 (rank agreement).
    */
  private val hybridCtes: String =
    """v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n AS (SELECT vec_id, e,
      |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
      |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n
      |  WHERE vec_id < 10),
      |cs AS (SELECT qid, vec_id AS nid,
      |    list_sum(list_transform(range(64), i -> qe[i+1] * e[i+1]))
      |      / (qn * nrm) AS cos
      |  FROM q, n WHERE vec_id <> qid),
      |cr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
      |    ORDER BY cos DESC, nid) AS rank FROM cs),
      |mm AS (SELECT d, min(x) AS lo, max(x) AS hi
      |  FROM (SELECT unnest(e) AS x, unnest(range(64)) AS d FROM v)
      |  GROUP BY d),
      |p AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi
      |  FROM mm),
      |codes AS (SELECT vec_id AS nid, list_transform(range(64), j ->
      |    CASE WHEN hi[j+1] = lo[j+1] THEN 0
      |    ELSE least(255, CAST(floor((e[j+1] - lo[j+1])
      |      / (hi[j+1] - lo[j+1]) * 256.0) AS BIGINT)) END) AS cd
      |  FROM v, p),
      |s8 AS (SELECT qid, nid, list_sum(list_transform(range(64), j ->
      |    (qe[j+1] - (lo[j+1] + (cd[j+1] + 0.5) * (hi[j+1] - lo[j+1]) / 256.0))
      |    * (qe[j+1] - (lo[j+1] + (cd[j+1] + 0.5) * (hi[j+1] - lo[j+1]) / 256.0))
      |    )) AS dist
      |  FROM q, codes, p WHERE nid <> qid),
      |r8 AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
      |    ORDER BY dist, nid) AS rank FROM s8)""".stripMargin

  /** q321's oracle, shared verbatim by the q346 streaming replay. */
  private val q321OracleSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text || ' ' || 'caf' || chr(233) AS dirty
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    replace(text, ' ', '  ') || ' ' || 'cafe' || chr(769)
       |  FROM documents WHERE doc_id % 10 = 0),
       |n AS (SELECT doc_id, $normalizeSql AS norm_text FROM base)
       |SELECT md5(norm_text) AS content_hash, min(doc_id) AS keeper_id,
       |  count(*) AS n_copies
       |FROM n GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** The SQ8 ANN re-derivation, parameterized by the codes-side
    * predicate: q326 serves ALL codes ("TRUE"); q385 serves the
    * post-delete index, i.e. the same BUILD-TIME bounds (computed over
    * the full corpus `v`) with deleted ids filtered OUT of the code
    * table only — exactly [[graft.ops.Similarity.deleteFromSq8Index]]'s
    * retained-bounds tombstone contract.
    */
  private[queries] def sq8OracleSql(codesPred: String): String =
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |mm AS (SELECT d, min(x) AS lo, max(x) AS hi
       |  FROM (SELECT unnest(e) AS x, unnest(range(64)) AS d FROM v)
       |  GROUP BY d),
       |p AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi
       |  FROM mm),
       |codes AS (SELECT vec_id AS nid, list_transform(range(64), j ->
       |    CASE WHEN hi[j+1] = lo[j+1] THEN 0
       |    ELSE least(255, CAST(floor((e[j+1] - lo[j+1])
       |      / (hi[j+1] - lo[j+1]) * 256.0) AS BIGINT)) END) AS cd
       |  FROM v, p WHERE $codesPred),
       |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 10),
       |s AS (SELECT qid, nid, list_sum(list_transform(range(64), j ->
       |    (qe[j+1] - (lo[j+1] + (cd[j+1] + 0.5) * (hi[j+1] - lo[j+1]) / 256.0))
       |    * (qe[j+1] - (lo[j+1] + (cd[j+1] + 0.5) * (hi[j+1] - lo[j+1]) / 256.0))
       |    )) AS dist
       |  FROM q, codes, p WHERE nid <> qid),
       |r AS (SELECT qid AS query_id, nid AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nid)
       |      AS INTEGER) AS rank,
       |    round(dist, 6) AS adc_dist FROM s)
       |SELECT query_id, neighbor_id, rank, adc_dist FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

}
