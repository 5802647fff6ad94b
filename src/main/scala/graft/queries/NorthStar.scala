package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.MlAggregators
import graft.ops.{Corpus, Dedup, Multimodal, Similarity, TextOps}
import Q._
import graft.ops.Dedup.h60Sql

/** North-star LLM-data-pipeline operators (SURVEY §7.9) over the
  * documents/embeddings tables: dedup (exact / MinHash+LSH / SimHash /
  * n-gram Jaccard), similarity search, text analysis, multimodal binary
  * plumbing. Oracle SQL is *generated from the same constants* as the
  * Scala operators so both engines evaluate the identical algorithm.
  */
object NorthStar extends Gates {

  /** MinHash/LSH parameters of every n-gram dedup gate: signature
    * length, bands, shingle width.
    */
  private[queries] val K = 16; private[queries] val BANDS = 4
  private[queries] val NGRAM = 3

  /** The init-only 8-cell quantizer of the embeddings (q76 contract). */
  private def cells8(emb: DataFrame) =
    MlAggregators.fitCentroids(emb, col("embedding").cast("array<double>"), 8)

  lazy val gates: Seq[Gate] = Seq(
    // Exact dedup: content-hash groups, surviving id, copy count.
    Gate("q24_dedup_exact", (s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("content_hash")
    }, oracle =
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
        |count(*) AS n_copies FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin),

    // MinHash signatures (16 permutation-minima over word-3-gram
    // shingles) — checked column-by-column against SQL.
    Gate("q25_minhash_sig", (s, dir) => {
      Dedup.minhashSignatures(t(s, dir, "documents"), "text", "doc_id", NGRAM, K)
        .orderBy("doc_id")
    }, oracle =
      s"$sigCte SELECT * FROM sig ORDER BY doc_id"),

    // LSH banding self-join -> near-dup candidate pairs.
    Gate("q26_minhash_pairs", (s, dir) => {
      Dedup.minhashPairs(t(s, dir, "documents"), "text", "doc_id", NGRAM, K, BANDS)
        .orderBy("doc_a", "doc_b")
    }, oracle =
      s"""$sigCte, bands AS (${bandsSql()})
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
         |  AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin),

    // 32-bit SimHash from distinct-word majority votes.
    Gate("q27_simhash", (s, dir) => {
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }, oracle =
      s"""WITH w AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
         |h AS (SELECT doc_id, (${h60Sql("w")}) % 4294967296 AS h FROM w),
         |s AS (SELECT doc_id,
         |${simhashBits.map(b => s"  CAST(sum(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b$b").mkString(",\n")}
         |FROM h GROUP BY doc_id)
         |SELECT doc_id,
         |${simhashBits.map(b => s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")} AS simhash
         |FROM s ORDER BY doc_id""".stripMargin),

    // Exact n-gram Jaccard scored over MinHash-LSH candidate pairs (no
    // blocked all-pairs join — the 100 TB candidates-then-verify shape).
    Gate("q28_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccard(t(s, dir, "documents"), "text", "doc_id", NGRAM, K, BANDS, 0.2)
        .orderBy("doc_a", "doc_b")
    }, oracle =
      s"""$sigCte, $candCtes,
         |${interCtes("documents")}
         |SELECT da AS doc_a, db AS doc_b, i AS inter,
         |  CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
         |FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Brute-force cosine top-5 (queries = vec_id < 10), exact baseline.
    Gate("q29_ann_cosine", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .withColumn("score", round(col("score"), 6).cast("float"))
        .orderBy("query_id", "rank")
    }, oracle =
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 10),
        |s AS (SELECT qid, vec_id AS nid,
        |    list_sum(list_transform(range(64), i -> qe[i+1] * e[i+1])) / (qn * nrm) AS cos
        |  FROM q, n WHERE vec_id <> qid)
        |SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank,
        |  CAST(round(cos, 6) AS REAL) AS score
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
        |      FROM s)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // LSH-bucketed approximate ANN (the 100 TB scale path) — rows-only
    // check; recall vs the exact baseline is asserted in SimilaritySpec.
    Gate("q30_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshCosineTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
          "embedding", 5, dim = 64, bitsPerTable = 4, nTables = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    }, oracle = {
      // q30 oracle: the sign-LSH projections are deterministic literals
      // (Similarity.proj), so the whole multi-table bucket -> candidate ->
      // score -> rank pipeline is re-derivable in SQL. Dot products use the
      // same sequential-sum shape as q29 (bit-exact across engines).
      val bucketCols = (0 until 8)
        .map(t => s"(${Similarity.lshBucketSql("e", 64, t, 4)}) AS b$t").mkString(",\n    ")
      val bucketCase = (0 until 8)
        .map(t => s"WHEN $t THEN b$t").mkString(" ")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
         |bk AS (SELECT vec_id,
         |    $bucketCols
         |  FROM n),
         |cb AS (SELECT vec_id, t.tbl, (CASE t.tbl $bucketCase END) AS bucket
         |  FROM bk, (SELECT unnest(range(8)) AS tbl) t),
         |qb AS (SELECT * FROM cb WHERE vec_id < 10),
         |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
         |  FROM cb c JOIN qb q ON c.tbl = q.tbl AND c.bucket = q.bucket
         |    AND c.vec_id <> q.vec_id),
         |s AS (SELECT cand.qid, cand.nid,
         |    list_sum(list_transform(range(64), i -> qn.e[i+1] * cn.e[i+1]))
         |      / (qn.nrm * cn.nrm) AS cos
         |  FROM cand JOIN n qn ON qn.vec_id = cand.qid
         |            JOIN n cn ON cn.vec_id = cand.nid)
         |SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |      FROM s)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // IVF ANN (the cell-partitioned 100 TB scale path): coarse quantizer
    // FIT by the in-repo kmeans aggregator (one distributed agg; the
    // driver receives only the 8-centroid model, never data rows),
    // corpus partitioned by nearest cell, queries probe the 2 closest of
    // 8 cells. The fit runs init-only (iters=0: evenly-spaced picks from
    // the canonical sorted point set, no float accumulation) so the SQL
    // oracle re-derives the identical model; Lloyd refinement is a
    // deployment knob (MlAggregators.kmeansFit) the gate doesn't depend
    // on. Fully deterministic -> full SQL oracle.
    Gate("q76_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = cells8(emb).map(_.toArray).toArray
      Similarity.ivfCosineTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
          "embedding", 5, seeds, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    }, oracle =
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |$quantizerCtes,
        |cellof AS (SELECT vec_id, sid AS cell FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, sid) AS rn
        |   FROM cs) WHERE rn = 1),
        |probes AS (SELECT vec_id AS qid, sid AS cell FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, sid) AS rn
        |   FROM cs WHERE vec_id < 10) WHERE rn <= 2),
        |cand AS (SELECT DISTINCT p.qid, co.vec_id AS nid
        |  FROM probes p JOIN cellof co ON co.cell = p.cell AND co.vec_id <> p.qid),
        |s AS (SELECT qid, nid,
        |    list_sum(list_transform(range(64), i -> qn.e[i+1] * cn2.e[i+1]))
        |      / (qn.nrm * cn2.nrm) AS cos
        |  FROM cand JOIN n qn ON qn.vec_id = qid JOIN n cn2 ON cn2.vec_id = nid)
        |SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
        |      FROM s)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // PQ ANN (the compressed-scan scale path): 4 subspace codebooks of
    // 8 centroids fit in ONE distributed agg pass (driver receives only
    // the 4 models), corpus encoded to 4 small codes, queries scored by
    // asymmetric distance over the codes. Init-only fit => full SQL
    // oracle, same contract as q76.
    Gate("q246_ann_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (m, sd) = (4, 16)
      val row = emb.agg(
        MlAggregators.kmeansFit(
          slice(col("embedding").cast("array<double>"), 1, sd), 8, iters = 0).as("m0"),
        (1 until m).map(j => MlAggregators.kmeansFit(
          slice(col("embedding").cast("array<double>"), j * sd + 1, sd), 8,
          iters = 0).as(s"m$j")): _*).head()
      val cbs = (0 until m).map(j => MlAggregators.kmeansCentroids(row.getString(j)))
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
          "embedding", 5, 64, cbs)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    }, oracle = {
      // Per-subspace re-derivation of the q246 PQ pipeline: seeds follow
      // the exact kmeansFit canonical-pick contract (distinct-sorted,
      // cap 128, evenly spaced, round_even 1e-6), encode ties to the
      // smallest centroid, ADC summed in subspace order like the Spark
      // expression — identical IEEE operation order, identical doubles.
      val m = 4; val sd = 16; val ksub = 8
      val subCtes = (0 until m).map { j =>
        s"""sub$j AS (SELECT vec_id, e[${j * sd + 1}:${(j + 1) * sd}] AS se FROM v),
           |cv$j AS (SELECT se, row_number() OVER (ORDER BY se) AS rn
           |  FROM (SELECT DISTINCT se FROM sub$j) ORDER BY se LIMIT 128),
           |cc$j AS (SELECT count(*) AS c FROM cv$j),
           |seed$j AS (SELECT r.i + 1 AS sid,
           |    list_transform(cv$j.se, x -> round_even(x * 1000000, 0) / 1000000) AS ce
           |  FROM range($ksub) r(i), cc$j, cv$j
           |  WHERE cv$j.rn = (r.i * cc$j.c) // $ksub + 1),
           |cd$j AS (SELECT s.vec_id, d.sid,
           |    list_sum(list_transform(range($sd),
           |      i -> (s.se[i+1] - d.ce[i+1]) * (s.se[i+1] - d.ce[i+1]))) AS dist
           |  FROM sub$j s, seed$j d),
           |code$j AS (SELECT vec_id, sid AS code FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
           |   FROM cd$j) WHERE rn = 1),
           |adc$j AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
           |    list_sum(list_transform(range($sd),
           |      i -> (q.se[i+1] - d.ce[i+1]) * (q.se[i+1] - d.ce[i+1]))) AS dist
           |  FROM sub$j q JOIN code$j c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
           |  JOIN seed$j d ON d.sid = c.code)""".stripMargin
      }.mkString(",\n")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |$subCtes,
         |tot AS (SELECT adc0.qid, adc0.nid,
         |    adc0.dist + adc1.dist + adc2.dist + adc3.dist AS adc
         |  FROM adc0 JOIN adc1 USING (qid, nid) JOIN adc2 USING (qid, nid)
         |    JOIN adc3 USING (qid, nid))
         |SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rank
         |      FROM tot)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // SemDeDup (Abbas et al. 2023): semantic near-dup pairs found ONLY
    // within coarse k-means cells. The 8-cell quantizer is the same
    // init-only kmeansFit contract as q76/q246 (canonical sorted picks,
    // 1e-6-rounded), so the whole cell-assign -> within-cell pair ->
    // cosine-verify pipeline re-derives exactly in SQL. Lloyd-refined
    // centroids are the deployment knob (spec'd in NorthStarSpec), not
    // a gate dependency.
    Gate("q251_semantic_dedup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = cells8(emb)
      Dedup.semanticDedup(emb, "vec_id", "embedding", 64, seeds, minCos = 0.2)
        .orderBy("doc_a", "doc_b")
    }, oracle =
      s"""WITH $cellAssignCtes,
        |p AS (SELECT a.cell, a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM cellof a JOIN cellof b ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |s AS (SELECT cell, doc_a, doc_b,
        |    list_sum(list_transform(range(64), i -> na.e[i+1] * nb.e[i+1]))
        |      / (na.nrm * nb.nrm) AS cos
        |  FROM p JOIN n na ON na.vec_id = doc_a JOIN n nb ON nb.vec_id = doc_b)
        |SELECT CAST(cell AS INTEGER) AS cell, doc_a, doc_b,
        |  least(doc_a, doc_b) AS keeper_id, CAST(round(cos, 6) AS REAL) AS cos
        |FROM s WHERE cos >= 0.2 ORDER BY doc_a, doc_b""".stripMargin),

    // Naive-Bayes quality/domain classifier (the CCNet/GPT-3-style
    // curation stage): train on the docs with doc_id % 5 != 0 (label =
    // lang), score the held-out fifth. Micro-nat quantized
    // log-probabilities -> exact integer scores, argmax ties to the
    // lexicographically greatest class in both engines.
    Gate("q252_nb_classify", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Classify.naiveBayes(
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          "text", "lang", "doc_id", buckets = 256)
        .orderBy("doc_id")
    }, oracle = nbOracleSql("lang")),

    // Priority-based duplicate-cluster survivor selection: real corpora
    // keep the HIGHEST-QUALITY copy (prefer curated sources), not the
    // minimum id — per component, the doc from the highest-ranked
    // source, ties to the smaller id. One keyed agg over the component
    // labels; max(struct(pri, -id)) == the SQL argmax tie-break.
    Gate("q256_cc_priority_survivors", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pri = docs.select(col("doc_id"),
        regexp_extract(col("source"), "([0-9]+)$", 1).cast("long").as("pri"))
      val pairs = Dedup.minhashPairs(docs, "text", "doc_id", NGRAM, K, BANDS)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .join(pri, "doc_id")
        .groupBy("component")
        .agg(max(struct(col("pri"), (-col("doc_id")).as("nid"))).as("t"))
        .select(col("component"), col("t.pri").as("keeper_pri"),
          (-col("t.nid")).as("keeper_id"))
        .orderBy("component")
    }, oracle =
      s"""WITH RECURSIVE ${sigCtes("documents")},
         |$candCtes,
         |${reachCtes("cand")},
         |$compCte,
         |p AS (SELECT comp.doc_id, component,
         |    CAST(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT) AS pri
         |  FROM comp JOIN documents USING(doc_id))
         |SELECT component, pri AS keeper_pri, doc_id AS keeper_id
         |FROM (SELECT *, row_number() OVER (PARTITION BY component
         |        ORDER BY pri DESC, doc_id) AS rn FROM p)
         |WHERE rn = 1 ORDER BY component""".stripMargin),

    // GPT-3-style classifier-based filtering: a binary target-vs-other
    // Naive-Bayes (trained on the doc_id%5!=0 slice labeled by source)
    // keeps every held-out doc predicted "target" PLUS a deterministic
    // 10% hash exception of the rest — the published pareto-noise keep
    // rule re-expressed as the reproducible hash rule every sampler in
    // this repo uses (no RNG, re-derivable at any partitioning).
    Gate("q257_classifier_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("y", when(col("source") === "src0", lit("target"))
          .otherwise(lit("other")))
      val test = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      graft.ops.Classify.naiveBayes(train, test, "text", "y", "doc_id", 256)
        .where(col("predicted") === "target" ||
          pmod(Dedup.h60(col("doc_id").cast("string")), lit(100L)) < 10)
        .orderBy("doc_id")
    }, oracle = nbOracleSql(
      "(CASE WHEN source = 'src0' THEN 'target' ELSE 'other' END)",
      s"AND (cls = 'target' OR (${Dedup.h60Sql("CAST(doc_id AS VARCHAR)")}) % 100 < 10)")),

    // Language-ID marker heuristic with deterministic tie-break.
    Gate("q31_lang_id", (s, dir) => {
      TextOps.langId(t(s, dir, "documents"), "text")
        .select("doc_id", "score_en", "score_de", "score_es", "score_fr", "lang_pred")
        .orderBy("doc_id")
    }, oracle =
      s"""SELECT doc_id,
         |  $markerSql,
         |  CASE WHEN score_en + score_de + score_es + score_fr = 0 THEN 'unknown'
         |       WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
         |       WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
         |       WHEN score_es >= score_en AND score_es >= score_de AND score_es >= score_fr THEN 'es'
         |       WHEN score_fr >= score_en AND score_fr >= score_de AND score_fr >= score_es THEN 'fr'
         |       ELSE 'unknown' END AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality features + composite score.
    Gate("q32_quality", (s, dir) => {
      TextOps.qualityScore(t(s, dir, "documents"), "text")
        .select("doc_id", "n_words", "n_distinct_words", "avg_word_len",
          "stop_ratio", "distinct_ratio", "quality_score")
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |  len(string_split(text,' ')) AS n_words,
        |  len(list_distinct(string_split(text,' '))) AS n_distinct_words,
        |  CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
        |    / len(string_split(text,' ')) AS avg_word_len,
        |  CAST(len(list_filter(string_split(text,' '),
        |    x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS stop_ratio,
        |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS distinct_ratio,
        |  least(len(string_split(text,' ')) / 100.0, 1.0) * 0.4
        |    + (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |       / len(string_split(text,' '))) * 0.3
        |    + (1.0 - CAST(len(list_filter(string_split(text,' '),
        |         x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
        |       / len(string_split(text,' '))) * 0.3 AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Token counting (whitespace + BPE-ish regex), aggregated per source.
    Gate("q33_tokens", (s, dir) => {
      TextOps.tokenCounts(t(s, dir, "documents"), "text")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("sum_ws_tokens"),
          sum(col("re_tokens")).as("sum_re_tokens"))
        .orderBy("source")
    }, oracle =
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS sum_ws_tokens,
         |  CAST(sum(len(regexp_extract_all(text, '${TextOps.tokenPattern}'))) AS BIGINT) AS sum_re_tokens
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // BPE tokenization with a fixed merge table: encode is a pure
    // codegen'd chain of marker-string replaces (no UDF); corpus-wide
    // token histogram = one explode + one keyed shuffle.
    Gate("q234_bpe_tokenize", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextOps.bpeTokens(col("text"), TextOps.fixtureMerges))
          .as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy("token")
    }, oracle =
      s"""WITH words AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
         |enc AS (SELECT ${TextOps.bpeEncodeSql("w", TextOps.fixtureMerges)} AS s FROM words),
         |toks AS (SELECT unnest(string_split(s,'|')) AS token FROM enc)
         |SELECT token, count(*) AS n FROM toks WHERE token <> ''
         |GROUP BY token ORDER BY token""".stripMargin),

    // The distributed stage of BPE TRAINING: word-frequency table (one
    // corpus shuffle) -> adjacent-pair counts weighted by word freq (the
    // argmax of this table is rank-1 merge). The driver-side greedy loop
    // over the bounded word table is spec-checked (BpeSpec).
    Gate("q235_bpe_pair_stats", (s, dir) => {
      val wc = TextOps.bpeWordCounts(t(s, dir, "documents"), "text")
      val pairs = when(length(col("w")) > lit(1),
          transform(sequence(lit(1), length(col("w")) - 1),
            i => concat(col("w").substr(i, lit(1)), lit(" "),
              col("w").substr(i + lit(1), lit(1)))))
        .otherwise(array().cast("array<string>"))
      wc.select(col("c"), explode(pairs).as("pair"))
        .groupBy("pair").agg(sum(col("c")).as("total"))
        .orderBy("pair")
    }, oracle =
      """WITH words AS (SELECT w, count(*) AS c FROM
        |    (SELECT unnest(string_split(text,' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |pairs AS (SELECT substr(w, CAST(i AS INT), 1) || ' ' ||
        |    substr(w, CAST(i AS INT) + 1, 1) AS pair, c
        |  FROM words, unnest(range(1, length(w))) AS t(i))
        |SELECT pair, CAST(sum(c) AS BIGINT) AS total FROM pairs
        |GROUP BY pair ORDER BY pair""".stripMargin),

    // C4-style duplicate-span stats: share of each doc made of 8-gram
    // spans that other docs also contain (the boilerplate signal).
    Gate("q236_dup_spans", (s, dir) =>
      Corpus.duplicateSpanStats(t(s, dir, "documents"), "text", "doc_id", 8)
        .orderBy("doc_id"), oracle =
      s"""WITH sp AS (SELECT doc_id, unnest(${Dedup.shinglesSql("text", 8)}) AS span
         |  FROM documents),
         |f AS (SELECT span, count(DISTINCT doc_id) AS dfreq FROM sp GROUP BY span)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  round(CAST(sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS dup_ratio
         |FROM sp JOIN f USING(span) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // The composed Gopher keep/drop rule (Rae et al. 2021 §A1.1): word-
    // count and mean-word-length bounds, repetition caps (top-2-gram
    // char share, duplicated 5-/10-gram instance shares — the repo's
    // word-instance adaptation of the published char fractions), and a
    // stop-word floor — the published DECISION RULE over the already-
    // gated q32/q241 signals, composed into one filter.
    Gate("q259_gopher_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
      val q = TextOps.qualityScore(docs, "text")
        .select("doc_id", "n_words", "avg_word_len", "stop_ratio")
      val r = Corpus.repetitionStats(docs, "text", "doc_id")
        .select("doc_id", "top2_char_ratio", "dup5_ratio", "dup10_ratio")
      q.join(r, "doc_id")
        .where(col("n_words").between(50, 100000) &&
          col("avg_word_len").between(3.0, 10.0) &&
          col("top2_char_ratio") < 0.18 &&
          col("dup5_ratio") < 0.15 && col("dup10_ratio") < 0.10 &&
          col("stop_ratio") > 0.02)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH $gopherShapeCte,
         |$repetitionCtes,
         |r AS (SELECT d.doc_id,
         |    round(t2.c * CAST(len(t2.g) AS DOUBLE) / len(d.text), 6) AS top2_char_ratio,
         |    dup5_ratio, dup10_ratio
         |  FROM documents d
         |  JOIN t2 ON t2.doc_id = d.doc_id AND t2.rn = 1
         |  JOIN d5 ON d5.doc_id = d.doc_id
         |  JOIN d10 ON d10.doc_id = d.doc_id)
         |SELECT q.doc_id, n_words, avg_word_len, stop_ratio,
         |  top2_char_ratio, dup5_ratio, dup10_ratio
         |FROM q JOIN r USING(doc_id)
         |WHERE n_words BETWEEN 50 AND 100000
         |  AND avg_word_len BETWEEN 3.0 AND 10.0
         |  AND top2_char_ratio < 0.18
         |  AND dup5_ratio < 0.15 AND dup10_ratio < 0.10
         |  AND stop_ratio > 0.02
         |ORDER BY doc_id""".stripMargin),

    // C4-style duplicate-span REMOVAL: the transform counterpart of
    // q236 — every word position covered by a cross-document 8-gram
    // span is cut, docs re-assembled in word order, all docs retained.
    Gate("q258_dup_span_removal", (s, dir) =>
      Corpus.removeDuplicateSpans(t(s, dir, "documents"), "text", "doc_id", 8)
        .orderBy("doc_id"), oracle = {
      val sh8 = Dedup.shinglesSql("text", 8)
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws, $sh8 AS sh
         |  FROM documents),
         |sp AS (SELECT doc_id, g.i - 1 AS pos, sh[g.i] AS span
         |  FROM d, unnest(range(1, len(sh) + 1)) g(i)),
         |freq AS (SELECT span, count(DISTINCT doc_id) AS dfreq FROM sp GROUP BY span),
         |cov AS (SELECT DISTINCT sp.doc_id, sp.pos + j.jj AS wi
         |  FROM sp JOIN freq USING(span), unnest(range(0, 8)) j(jj)
         |  WHERE dfreq >= 2),
         |$spanKeepTail""".stripMargin
    }),

    // Benchmark-contamination: distinct-8-gram overlap of each corpus
    // doc (source != src0) against the src0 "benchmark" slice.
    Gate("q237_contamination", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.contamination(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 8)
        .orderBy("doc_id")
    }, oracle = contaminationOracle),

    // Deterministic hash-stratified sample: 50% of even-numbered
    // sources, 10% of odd — reproducible in any engine from the same
    // md5 arithmetic, no RNG.
    Gate("q238_stratified_sample", (s, dir) => {
      val frac = when(
        pmod(regexp_extract(col("source"), "([0-9]+)$", 1).cast("long"),
          lit(2)) === 0, lit(0.5)).otherwise(lit(0.1))
      Corpus.stratifiedSample(t(s, dir, "documents"), "doc_id", frac)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    }, oracle =
      s"""SELECT doc_id, source, lang FROM documents
         |WHERE (${Dedup.h60Sql("CAST(doc_id AS VARCHAR)")}) % 10000 <
         |  CAST((CASE WHEN CAST(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT) % 2 = 0
         |        THEN 0.5 ELSE 0.1 END) * 10000 AS BIGINT)
         |ORDER BY doc_id""".stripMargin),

    // Contamination with the bloom prefilter: must equal q237 exactly
    // (bloom has no false negatives; the exact join runs after) — the
    // oracle IS q237's, proving the accelerated path changes nothing.
    Gate("q248_contamination_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.contaminationBloom(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 8)
        .orderBy("doc_id")
    }, oracle =
      // q248 is the bloom-accelerated path — same exact answer by
      // construction, so the SAME oracle gates it.
      contaminationOracle),

    // Temperature resampling (alpha=0.5 upweights rare languages — the
    // mT5 mixing rule) toward half the corpus; output is the per-lang
    // keep count plus the doc ids, all re-derived from the hash rule.
    Gate("q247_temperature_resample", (s, dir) => {
      Corpus.temperatureResample(t(s, dir, "documents"), "doc_id",
          "lang", alpha = 0.5, targetRows = 250L)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, oracle =
      s"""WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
         |  FROM documents GROUP BY lang),
         |w AS (SELECT lang, n, pow(n, 0.5) AS wt FROM c),
         |t AS (SELECT sum(wt) AS tot FROM w),
         |f AS (SELECT lang, least(1.0, 250.0 * wt / (tot * n)) AS fr FROM w, t)
         |SELECT d.doc_id, d.lang FROM documents d JOIN f USING (lang)
         |WHERE (${Dedup.h60Sql("CAST(doc_id AS VARCHAR)")}) % 10000 <
         |  CAST(floor(fr * 10000.0) AS BIGINT)
         |ORDER BY doc_id""".stripMargin),

    // DSIR importance weights (Xie et al., NeurIPS 2023): how
    // target-like each raw doc's hashed unigram+bigram profile is,
    // scored against the src0 "target domain" slice. Micro-nat
    // quantized log-ratios -> exact integer sums, engine-independent.
    Gate("q249_dsir_weights", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.dsirWeights(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 1024)
        .withColumn("log_weight", round(col("wq") / 1000000.0, 6))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH $dsirCtes
         |SELECT doc_id, n_grams, wq, round(wq / 1000000.0, 6) + 0.0 AS log_weight
         |FROM dw ORDER BY doc_id""".stripMargin),

    // DSIR selection: the 50 most target-like docs (ties to the smaller
    // id), planned as a distributed TakeOrdered — no global sort.
    Gate("q250_dsir_select", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.dsirSelect(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 50, 1024)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH $dsirCtes,
         |sel AS (SELECT doc_id, n_grams, wq FROM dw
         |        ORDER BY wq DESC, doc_id LIMIT 50)
         |SELECT doc_id, n_grams, round(wq / 1000000.0, 6) + 0.0 AS log_weight
         |FROM sel ORDER BY doc_id""".stripMargin),

    // CCNet-style bigram-LM fluency scores (the KenLM perplexity-filter
    // stage): model fit on the src0 "target domain" slice, every other
    // doc scored by mean per-bigram log-likelihood in micro-nats.
    Gate("q254_lm_fluency", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.lmScore(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 256)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH $lmCtes
         |SELECT doc_id, n_bigrams, lp_sum_q, avg_logp
         |FROM lm ORDER BY doc_id""".stripMargin),

    // The selection step: 50 most target-fluent docs (CCNet keeps the
    // low-perplexity head), ties to the smaller id, TakeOrdered plan.
    Gate("q255_lm_select", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.lmSelect(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 50, 256)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH $lmCtes,
         |sel AS (SELECT doc_id, n_bigrams, lp_sum_q, avg_logp FROM lm
         |        ORDER BY avg_logp DESC, doc_id LIMIT 50)
         |SELECT doc_id, n_bigrams, lp_sum_q, avg_logp
         |FROM sel ORDER BY doc_id""".stripMargin),

    // Embedding-space eval-set decontamination: max cosine of every
    // corpus vector against a broadcast eval matrix — zero shuffle over
    // the corpus (the 100 TB shape); semantic sibling of q237/q248.
    Gate("q261_embedding_contamination", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Corpus.embeddingContamination(
          emb.filter(col("vec_id") >= 16), emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", minCos = 0.2)
        .orderBy("vec_id")
    }, oracle =
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |ev AS (SELECT e, nrm FROM n WHERE vec_id < 16),
        |c AS (SELECT vec_id, e, nrm FROM n WHERE vec_id >= 16),
        |s AS (SELECT c.vec_id,
        |    max(list_sum(list_transform(range(64), i -> c.e[i+1] * ev.e[i+1]))
        |      / (c.nrm * ev.nrm)) AS mc
        |  FROM c CROSS JOIN ev GROUP BY c.vec_id)
        |SELECT vec_id, round(mc, 6) + 0.0 AS max_cos,
        |  round(mc, 6) >= 0.2 AS contaminated
        |FROM s ORDER BY vec_id""".stripMargin),

    // CCNet head/middle/tail: perplexity terciles by target-LM fluency,
    // exact ntile(3) semantics from a banded two-level prefix-sum rank
    // (no single-partition window).
    Gate("q262_lm_terciles", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.lmTerciles(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 256)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH $lmCtes,
         |rk AS (SELECT doc_id, avg_logp,
         |    CAST(row_number() OVER (ORDER BY avg_logp DESC, doc_id) AS BIGINT) AS rank,
         |    ntile(3) OVER (ORDER BY avg_logp DESC, doc_id) AS tl
         |  FROM lm)
         |SELECT doc_id, avg_logp, rank,
         |  CASE tl WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tercile
         |FROM rk ORDER BY doc_id""".stripMargin),

    // Cluster-balanced selection: nearest-cell assign under the q251
    // init-only quantizer, keep the 20 most-central docs per cell.
    Gate("q263_cluster_balanced_select", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = cells8(emb)
      Corpus.clusterBalancedSelect(emb, "vec_id", "embedding", seeds, 20)
        .orderBy("cell", "rank")
    }, oracle =
      s"""WITH $cellAssignCtes,
         |rk AS (SELECT cell, vec_id, c,
         |    CAST(row_number() OVER (PARTITION BY cell ORDER BY c DESC, vec_id)
         |      AS INTEGER) AS rank
         |  FROM cellof)
         |SELECT CAST(cell AS INTEGER) AS cell, vec_id,
         |  CAST(round(c, 6) + 0.0 AS REAL) AS cos, rank
         |FROM rk WHERE rank <= 20 ORDER BY cell, rank""".stripMargin),

    // Maximal duplicated-span runs (Lee et al. ExactSubstr reporting):
    // gaps-and-islands merge of duplicate-covered word positions.
    Gate("q268_dup_span_runs", (s, dir) =>
      Corpus.duplicateSpanRuns(t(s, dir, "documents"), "text", "doc_id", 8)
        .orderBy("doc_id", "span_start"), oracle = {
      val sh8 = Dedup.shinglesSql("text", 8)
      s"""WITH d AS (SELECT doc_id, $sh8 AS sh FROM documents),
         |sp AS (SELECT doc_id, g.i - 1 AS pos, sh[g.i] AS span
         |  FROM d, unnest(range(1, len(sh) + 1)) g(i)),
         |freq AS (SELECT span, count(DISTINCT doc_id) AS dfreq FROM sp GROUP BY span),
         |cov AS (SELECT DISTINCT sp.doc_id, sp.pos + j.jj AS wi
         |  FROM sp JOIN freq USING(span), unnest(range(0, 8)) j(jj)
         |  WHERE dfreq >= 2),
         |g AS (SELECT doc_id, wi,
         |    wi - row_number() OVER (PARTITION BY doc_id ORDER BY wi) AS grp
         |  FROM cov)
         |SELECT doc_id, CAST(min(wi) AS BIGINT) AS span_start,
         |  count(*) AS span_len
         |FROM g GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin
    }),

    // Deterministic shard layout + round-robin interleave: the
    // training-order shuffle with no global sort.
    Gate("q267_shard_assign", (s, dir) =>
      Corpus.shardAssign(t(s, dir, "documents"), "doc_id", 8)
        .orderBy("doc_id"), oracle =
      s"""WITH h AS (SELECT doc_id,
         |    (${Dedup.h60Sql("CAST(doc_id AS VARCHAR)")}) AS hh FROM documents),
         |p AS (SELECT doc_id, CAST(hh % 8 AS INTEGER) AS shard,
         |    CAST(row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) - 1
         |      AS BIGINT) AS pos
         |  FROM h)
         |SELECT doc_id, shard, pos, pos * 8 + shard AS global_pos
         |FROM p ORDER BY doc_id""".stripMargin),

    // Token-budget fill: the most target-fluent docs greedily fill a
    // 12k-token training budget (banded prefix sum, no global window).
    Gate("q266_token_budget_fill", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.tokenBudgetFill(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id",
          budget = 12000L, 256)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH $lmCtes,
         |tb AS (SELECT doc_id, avg_logp,
         |    CAST(n_bigrams + 1 AS BIGINT) AS n_tok,
         |    CAST(coalesce(sum(n_bigrams + 1) OVER (ORDER BY avg_logp DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS start_tok
         |  FROM lm)
         |SELECT doc_id, avg_logp, n_tok, start_tok
         |FROM tb WHERE start_tok < 12000 ORDER BY doc_id""".stripMargin),

    // kNN label propagation: the held-out fifth takes the majority
    // label of its 7 nearest labeled vectors — broadcast labeled
    // matrix, map-only top-k, k-row-per-doc vote.
    Gate("q264_knn_label_prop", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnClassify(
          emb.filter(pmod(col("vec_id"), lit(5)) === 0),
          emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
          "vec_id", "embedding", "label", k = 7)
        .orderBy("vec_id")
    }, oracle =
      s"""WITH $labelledVecCtes,
        |$knnCtes
        |SELECT id AS vec_id, lab AS label_pred, votes
        |FROM p WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // Rocchio nearest-centroid: micro-quantized per-class mean vectors,
    // map-only cosine argmax against the broadcast centroid matrix.
    Gate("q265_nearest_centroid", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Classify.nearestCentroid(
          emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
          emb.filter(pmod(col("vec_id"), lit(5)) === 0),
          "vec_id", "embedding", "label")
        .orderBy("vec_id")
    }, oracle =
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |q AS (SELECT vec_id, label, e,
        |    list_transform(e, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS eq
        |  FROM v),
        |l AS (SELECT * FROM q WHERE vec_id % 5 <> 0),
        |d AS (SELECT label AS lab, r.i AS i, sum(eq[r.i + 1]) AS sq, count(*) AS n
        |  FROM l, range(64) r(i) GROUP BY label, r.i),
        |c AS (SELECT lab, list(sq / 1000000.0 / n ORDER BY i) AS ce FROM d GROUP BY lab),
        |cn AS (SELECT lab, ce, sqrt(list_sum(list_transform(ce, x -> x * x))) AS cnrm
        |  FROM c),
        |t AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
        |  FROM q WHERE vec_id % 5 = 0),
        |s AS (SELECT t.vec_id, cn.lab,
        |    list_sum(list_transform(range(64), i -> t.e[i+1] * cn.ce[i+1]))
        |      / (t.nrm * cn.cnrm) AS cos
        |  FROM t CROSS JOIN cn),
        |p AS (SELECT vec_id, lab, cos, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY cos DESC, lab) AS rn FROM s)
        |SELECT vec_id, lab AS label_pred, round(cos, 6) + 0.0 AS cos
        |FROM p WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // Exact dedup ON THE STREAM: ingest-time duplicate collapse as a
    // streaming stateful aggregation (complete mode, AvailableNow
    // replay) — must produce exactly the batch q24 answer. The state
    // store is hash-partitioned by content hash, so at ingest scale the
    // dedup state distributes like the batch shuffle does.
    Gate("q245_streaming_dedup", (s, dir) => {
      val stream = graft.core.Tables.stream(s, dir, "documents")
      val agg = stream
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      drainMemory(s, agg, "complete")(_.orderBy("content_hash"))
    }, oracle =
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
        |count(*) AS n_copies FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin),

    // MinHash-LSH candidate pairs ON THE STREAM: ingest-time near-dup
    // detection as per-bucket state (map-only signatures, one stateful
    // op), AvailableNow replay distinct'd at read == the batch q26
    // candidate set exactly.
    Gate("q260_streaming_minhash_pairs", (s, dir) => {
      val stream = graft.core.Tables.stream(s, dir, "documents")
      val pairs = graft.streaming.Streaming
        .streamingBandPairs(stream, "text", "doc_id", NGRAM, K, BANDS)
      // at-least-once emission per colliding band -> distinct at read
      // (the downstream batch verify stage's first step)
      drainMemory(s, pairs, "append")(_.distinct().orderBy("doc_a", "doc_b"))
    }, oracle =
      // the streaming replay must equal the batch candidate set exactly
      s"""$sigCte, bands AS (${bandsSql()})
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
         |  AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin),

    // GPT-style sequence packing: concatenated token stream in
    // (source, doc_id) order cut into 512-token sequences; per doc its
    // offset and first/last sequence index. Two-level prefix sum.
    Gate("q244_pack_sequences", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      Corpus.packSequences(docs, "doc_id", "n_tok", "source", 512L)
        .select("doc_id", "source", "n_tok", "start_tok", "first_seq", "last_seq")
        .orderBy("doc_id")
    }, oracle =
      s"""WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |$packTail""".stripMargin),

    // Gopher repetition filters: top-2-gram char share + duplicated
    // 5-/10-gram instance share, per document.
    Gate("q241_repetition", (s, dir) =>
      Corpus.repetitionStats(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id"), oracle =
      s"""WITH $repetitionCtes
         |SELECT d.doc_id, t2.g AS top2_gram, t2.c AS top2_count,
         |  round(t2.c * CAST(len(t2.g) AS DOUBLE) / len(d.text), 6) AS top2_char_ratio,
         |  dup5_ratio, dup10_ratio
         |FROM documents d
         |JOIN t2 ON t2.doc_id = d.doc_id AND t2.rn = 1
         |JOIN d5 ON d5.doc_id = d.doc_id
         |JOIN d10 ON d10.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Connected components over the LSH candidate-pair graph: transitive
    // duplicate clusters (A~B, B~C => one cluster even when A,C never
    // collide), labeled by component-minimum id.
    Gate("q239_dup_components", (s, dir) => {
      val pairs = Dedup.minhashPairs(t(s, dir, "documents"), "text",
        "doc_id", NGRAM, K, BANDS)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b").orderBy("doc_id")
    }, oracle =
      s"""WITH RECURSIVE ${sigCtes("documents")},
         |$candCtes,
         |${reachCtes("cand")}
         |SELECT a AS doc_id, least(a, min(b)) AS component
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin),

    // q81's pipeline with component-based survivor selection: keep one
    // doc per transitive duplicate CLUSTER (the component minimum), not
    // merely per colliding pair — the principled large-corpus contract.
    Gate("q240_dedup_cc_survivors", (s, dir) => {
      // exchange-bound consumer: spread opt-out (r14 regression -17%)
      val docs = tp(s, dir, "documents")
      val keepers = Dedup.exact(docs, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      val kept = docs.join(keepers, "doc_id")
      val pairs = Dedup.ngramJaccard(kept, "text", "doc_id", NGRAM, K, BANDS, 0.8)
      val dropped = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .where(col("component") =!= col("doc_id")).select("doc_id")
      kept.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy("source").agg(
          count(lit(1)).as("n_survivors"),
          sum(col("n_chars")).as("chars_kept"))
        .orderBy("source")
    }, oracle =
      s"""WITH RECURSIVE keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |d2 AS (SELECT d.* FROM documents d JOIN keepers k ON d.doc_id = k.doc_id),
         |${sigCtes("d2")},
         |$candCtes,
         |${interCtes("d2")},
         |${pairsCte("pairs")},
         |${reachCtes("pairs")},
         |dropped AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) < a)
         |SELECT source, count(*) AS n_survivors,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
         |FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |GROUP BY source ORDER BY source""".stripMargin),

    // The staged dedup pipeline WITH the semantic stage composed in:
    // exact content-hash dedup -> MinHash-LSH candidates + exact-Jaccard
    // verify (lexical near-dups) -> SemDeDup cells on the kept
    // embeddings (semantic near-dups lexical hashing can't see) ->
    // union the pair lists -> connected components -> keep each
    // cluster's minimum -> per-source accounting. Every stage is keyed
    // shuffles; the quantizer follows q251's init-only contract so the
    // whole chain re-derives in SQL end-to-end.
    Gate("q253_dedup_semantic_pipeline", (s, dir) => {
      // exchange-bound consumer: spread opt-out (r14 regression ~9-18%)
      val docs = tp(s, dir, "documents")
      // Each stage's output feeds >1 downstream job (the kmeansFit
      // action + the final collect, which itself reads kept twice and
      // runs CC's iterative jobs) — lazy localCheckpoints materialize
      // every stage exactly once and truncate the growing lineage, the
      // standard stage-boundary move for a multi-job pipeline.
      val keepers = Dedup.exact(docs, "text", "doc_id")
        .select(col("keeper_id").as("doc_id")).localCheckpoint(false)
      val kept = docs.join(keepers, "doc_id").localCheckpoint(false)
      val lexPairs = Dedup
        .ngramJaccard(kept, "text", "doc_id", NGRAM, K, BANDS, 0.8)
        .select("doc_a", "doc_b")
      val keptEmb = tp(s, dir, "embeddings")
        .join(keepers.select(col("doc_id").as("vec_id")), "vec_id")
        .localCheckpoint(false)
      val seeds = cells8(keptEmb)
      val semPairs = Dedup
        .semanticDedup(keptEmb, "vec_id", "embedding", 64, seeds, minCos = 0.35)
        .select("doc_a", "doc_b")
      val dropped = Dedup.connectedComponents(
          lexPairs.unionByName(semPairs).distinct(), "doc_a", "doc_b")
        .where(col("component") =!= col("doc_id")).select("doc_id")
      kept.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy("source").agg(
          count(lit(1)).as("n_survivors"),
          sum(col("n_chars")).as("chars_kept"))
        .orderBy("source")
    }, oracle =
      s"""WITH RECURSIVE keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |d2 AS (SELECT d.* FROM documents d JOIN keepers k ON d.doc_id = k.doc_id),
         |${sigCtes("d2")},
         |$candCtes,
         |${interCtes("d2")},
         |${pairsCte("lex")},
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings JOIN keepers k2 ON vec_id = k2.doc_id),
         |$quantizerCtes,
         |cellof AS (SELECT vec_id, sid AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, sid) AS rn
         |   FROM cs) WHERE rn = 1),
         |sp AS (SELECT a.vec_id AS da, b.vec_id AS db
         |  FROM cellof a JOIN cellof b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |sem AS (SELECT da, db FROM sp
         |  JOIN n na ON na.vec_id = da JOIN n nb ON nb.vec_id = db
         |  WHERE list_sum(list_transform(range(64), i -> na.e[i+1] * nb.e[i+1]))
         |    / (na.nrm * nb.nrm) >= 0.35),
         |pairs AS (SELECT da, db FROM lex UNION SELECT da, db FROM sem),
         |ed AS (SELECT da AS u, db AS w FROM pairs UNION SELECT db, da FROM pairs),
         |reach AS (SELECT u AS a, w AS b FROM ed
         |  UNION SELECT r.a, ed.w FROM reach r JOIN ed ON r.b = ed.u),
         |dropped AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) < a)
         |SELECT source, count(*) AS n_survivors,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
         |FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |GROUP BY source ORDER BY source""".stripMargin),

    // Order-independent document set-fingerprint (XOR/sum of word hashes).
    Gate("q34_fingerprint", (s, dir) => {
      TextOps.fingerprint(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }, oracle =
      s"""WITH w AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
         |h AS (SELECT doc_id, (${h60Sql("w")}) % $P AS h FROM w)
         |SELECT doc_id, bit_xor(h) AS xor_fp, CAST(sum(h) AS BIGINT) AS sum_fp,
         |  count(*) AS n_distinct_words
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Multimodal binary plumbing: opaque payload + metadata + frame
    // sampling offsets (video-style row expansion).
    Gate("q35_media_frames", (s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.sampleFrames(media, everyK = 4, frameBytes = 16)
        .orderBy("media_id", "frame_no")
    }, oracle =
      """SELECT doc_id AS media_id,
        |  unnest(range((octet_length(CAST(text AS BLOB)) - 1) // 64 + 1)) AS frame_no,
        |  unnest(range((octet_length(CAST(text AS BLOB)) - 1) // 64 + 1)) * 64 AS frame_offset
        |FROM documents WHERE octet_length(CAST(text AS BLOB)) > 0
        |ORDER BY media_id, frame_no""".stripMargin),

    // The COMPLETE training-data dedup pipeline composed end-to-end:
    // exact content-hash dedup -> MinHash-LSH candidates on the kept set
    // -> exact-Jaccard verification at 0.8 -> greedy keeper selection
    // (drop the higher id of each confirmed pair) -> per-source corpus
    // accounting. The whole chain is shuffles keyed by hash/doc/band —
    // nothing quadratic, nothing driver-side.
    Gate("q81_dedup_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      val keepers = Dedup.exact(docs, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      val kept = docs.join(keepers, "doc_id")
      val pairs = Dedup.ngramJaccard(kept, "text", "doc_id", NGRAM, K, BANDS, 0.8)
      val dropped = pairs
        .select(greatest(col("doc_a"), col("doc_b")).as("doc_id")).distinct()
      kept.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy("source").agg(
          count(lit(1)).as("n_survivors"),
          sum(col("n_chars")).as("chars_kept"))
        .orderBy("source")
    }, oracle =
      s"""WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |d2 AS (SELECT d.* FROM documents d JOIN keepers k ON d.doc_id = k.doc_id),
         |${sigCtes("d2")},
         |$candCtes,
         |${interCtes("d2")},
         |${pairsCte("pairs")},
         |dropped AS (SELECT DISTINCT greatest(da, db) AS doc_id FROM pairs)
         |SELECT source, count(*) AS n_survivors,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
         |FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |GROUP BY source ORDER BY source""".stripMargin),

    // REAL image decode (javax.imageio) through the batched mapPartitions
    // stage: each doc_id becomes a deterministic synthetic grayscale PNG
    // (pixel = pure integer function of (id, x, y)), the decoder round-
    // trips it, and the oracle re-derives width/height/pixel statistics
    // from the generator formula — verifying the actual encode->decode
    // path, not a stub.
    Gate("q36_media_decode", (s, dir) => {
      val png = Multimodal.pngUdf
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"), png(col("doc_id")).as("payload"))
      Multimodal.decodeFeatures(s, media)
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_pixels"), col("pixel_sum"),
          (col("pixel_sum").cast("double") / col("n_pixels")).as("mean_pixel"))
        .orderBy("media_id")
    }, oracle =
      // Re-derives the synthetic image's decoded statistics from the
      // generator formula: pixel(x,y) = (id*31 + x*7 + y*13) mod 256 over
      // a (16 + id%8) x (16 + id%5) raster.
      """WITH xs AS (SELECT unnest(range(0, 24)) AS x),
        |     ys AS (SELECT unnest(range(0, 21)) AS y),
        |px AS (
        |  SELECT d.doc_id, (d.doc_id * 31 + xs.x * 7 + ys.y * 13) % 256 AS v
        |  FROM documents d, xs, ys
        |  WHERE xs.x < 16 + d.doc_id % 8 AND ys.y < 16 + d.doc_id % 5)
        |SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 8 AS BIGINT) AS width,
        |  CAST(16 + doc_id % 5 AS BIGINT) AS height,
        |  CAST(count(*) AS BIGINT) AS n_pixels,
        |  CAST(sum(v) AS BIGINT) AS pixel_sum,
        |  CAST(sum(v) AS DOUBLE) / count(*) AS mean_pixel
        |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin),

    // Perceptual dHash over the REAL decoded raster: synthetic PNGs with
    // id-dependent gradients round-trip through javax.imageio into a 9x8
    // block grid, and the 64-bit hash is integer-exact (cross-multiplied
    // mean comparisons) — the oracle re-derives every bit from the pixel
    // formula, verifying encode -> decode -> downsample -> hash.
    Gate("q285_image_phash", (s, dir) => {
      val png = Multimodal.pngVarUdf
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"), png(col("doc_id")).as("payload"))
      Multimodal.dHash(Multimodal.decodeCells(media))
        .select(Seq(col("media_id"), col("phash")) ++
          (0 until 8).map(i => col(s"r$i")): _*)
        .orderBy("media_id")
    }, oracle =
      // Re-derives every dHash bit from the variant generator formula:
      // pixel(x,y) = (id*53 + (3+id%9)*x + (5+id%7)*y + (2+id%4)*x^2
      // + (3+id%6)*y^2) mod 256 over a (16+id%8) x (16+id%5) raster, 9x8
      // block grid, bit = integer cross-multiplied mean comparison of
      // horizontal neighbors.
      s"""WITH $rasterPxCtes,
         |$dhashCtes
         |SELECT doc_id AS media_id,
         |  string_agg(printf('%02x', rb), '' ORDER BY cy) AS phash,
         |${(0 until 8).map(i =>
              s"  max(CASE WHEN cy = $i THEN rb END) AS r$i").mkString(",\n")}
         |FROM rowb GROUP BY doc_id ORDER BY media_id""".stripMargin),

    // Perceptual near-dup pairs: docs sharing a payload (id rounded down
    // to its group-of-3 base) hash identically and collide on every
    // band; unrelated images have id-dependent gradients and fall out at
    // the Hamming verify. Candidates-then-verify, like MinHash-LSH.
    Gate("q286_image_neardup", (s, dir) => {
      val png = Multimodal.pngVarUdf
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          png(col("doc_id") - pmod(col("doc_id"), lit(3L))).as("payload"))
      Multimodal.phashNearDup(
          Multimodal.dHash(Multimodal.decodeCells(media)), maxDist = 3)
        .orderBy("doc_a", "doc_b")
    }, oracle =
      // q285's hash pipeline applied to group-shared payloads (image id =
      // doc_id rounded down to its group-of-3 base), then 16-bit band
      // collisions -> exact-Hamming verify at <= 3.
      s"""WITH $groupPxCtes,
         |$dhashCtes,
         |${rowBandsCtes("bands")},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |ham AS (SELECT c.doc_a, c.doc_b,
         |    CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS BIGINT)
         |      AS hamming
         |  FROM cand c JOIN bits x ON x.doc_id = c.doc_a
         |    JOIN bits y ON y.doc_id = c.doc_b AND y.cy = x.cy AND y.cx = x.cx
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, hamming, least(doc_a, doc_b) AS keeper_id
         |FROM ham WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin),

    // Sliding context-window chunking (64-token windows, stride 32):
    // map-only fan-out, the long-doc prep for fixed-context training.
    Gate("q287_context_chunks", (s, dir) =>
      Corpus.contextChunks(t(s, dir, "documents"), "text", "doc_id", 64, 32)
        .orderBy("doc_id", "chunk_no"), oracle =
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, toks, n,
        |    unnest(range((n - 1) // 32 + 1)) AS chunk_no FROM t WHERE n > 0)
        |SELECT doc_id, chunk_no, chunk_no * 32 AS tok_start,
        |  least(chunk_no * 32 + 64, n) AS tok_end,
        |  array_to_string(list_slice(toks, chunk_no * 32 + 1,
        |    chunk_no * 32 + 64), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin),

    // Hard-negative mining: per anchor, top-5 most-similar vectors BELOW
    // the 0.95 positive threshold (exclude near-dups, keep look-alikes).
    Gate("q288_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegativesBelow(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", 5, 0.95)
        .withColumn("score", round(col("score"), 6).cast("float"))
        .orderBy("query_id", "rank")
    }, oracle =
      // q29's exact-cosine oracle shape with the positive-threshold cut
      // applied before ranking.
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id % 50 = 0),
        |s AS (SELECT qid, vec_id AS nid,
        |    list_sum(list_transform(range(64), i -> qe[i+1] * e[i+1])) / (qn * nrm) AS cos
        |  FROM q, n WHERE vec_id <> qid)
        |SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank,
        |  CAST(round(cos, 6) AS REAL) AS score
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
        |      FROM s WHERE cos < 0.95)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Duplicate-cluster size histogram over the CC labeling — the
    // per-snapshot redundancy report (O(max cluster size) output rows).
    Gate("q289_dup_cluster_histogram", (s, dir) => {
      val pairs = Dedup.minhashPairs(t(s, dir, "documents"), "text",
        "doc_id", NGRAM, K, BANDS)
      val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      Corpus.dupClusterHistogram(comp)
    }, oracle =
      s"""WITH RECURSIVE ${sigCtes("documents")},
         |$candCtes,
         |${reachCtes("cand")},
         |$compCte,
         |sizes AS (SELECT component, count(*) AS cluster_size
         |  FROM comp GROUP BY component)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(sum(cluster_size) AS BIGINT) AS n_docs,
         |  CAST(sum(cluster_size - 1) AS BIGINT) AS n_redundant
         |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),

    // Audio-modality frame-energy extraction: fixed 64-byte windows over
    // the raw payload, per-frame byte count + sum via the batched
    // per-partition extractor (the PCM-feature pipeline shape).
    Gate("q290_frame_energy", (s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.frameEnergy(media, 64).orderBy("media_id", "frame_no")
    }, oracle =
      // ASCII fixture text: ord(char) == byte value, len == octet_length.
      """WITH f AS (SELECT doc_id, len(text) AS n,
        |    unnest(range((len(text) + 63) // 64)) AS frame_no
        |  FROM documents WHERE len(text) > 0),
        |pos AS (SELECT doc_id, frame_no,
        |    unnest(range(frame_no * 64, least(frame_no * 64 + 64, n))) AS p
        |  FROM f)
        |SELECT pos.doc_id AS media_id, CAST(frame_no AS INTEGER) AS frame_no,
        |  CAST(count(*) AS INTEGER) AS frame_len,
        |  CAST(sum(ord(substr(text, CAST(p AS INTEGER) + 1, 1))) AS BIGINT) AS byte_sum
        |FROM pos JOIN documents d ON d.doc_id = pos.doc_id
        |GROUP BY pos.doc_id, frame_no ORDER BY media_id, frame_no""".stripMargin),

    // Tokenizer fertility report per source over the bundled fixture
    // BPE model — tokens-per-word and chars-per-token from group sums.
    Gate("q291_tokenizer_fertility", (s, dir) =>
      TextOps.tokenizerFertility(t(s, dir, "documents"), "text", "source",
        TextOps.fixtureMerges).orderBy("source"), oracle =
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
         |t AS (SELECT source,
         |    CASE WHEN w = '' THEN 0 ELSE 1 END AS nw,
         |    CASE WHEN w = '' THEN 0 ELSE len(list_filter(string_split(
         |      ${TextOps.bpeEncodeSql("w", TextOps.fixtureMerges)}, '|'),
         |      x -> x <> '')) END AS nt
         |  FROM w),
         |c AS (SELECT source, CAST(sum(len(text)) AS BIGINT) AS n_chars
         |  FROM documents GROUP BY source)
         |SELECT t.source, CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens, c.n_chars,
         |  round(CAST(sum(nt) AS DOUBLE) / sum(nw), 6) AS fertility,
         |  round(CAST(c.n_chars AS DOUBLE) / sum(nt), 6) AS chars_per_token
         |FROM t JOIN c USING (source)
         |GROUP BY t.source, c.n_chars ORDER BY source""".stripMargin),

    // Corpus-scale PII scrub: deterministic synthetic PII appended per
    // doc (the q42 pattern on the curation surface), the full redaction
    // chain applied, and the per-doc redaction count reported — the
    // pre-training privacy pass.
    Gate("q292_pii_scrub", (s, dir) => {
      val txt = concat(col("text"),
        lit(" contact u"), col("doc_id"),
        lit("@ex"), pmod(col("doc_id"), lit(7L)), lit(".org ip 10."),
        pmod(col("doc_id"), lit(200L)), lit(".0."),
        pmod(col("doc_id"), lit(250L)), lit(" ssn 123-45-6789"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.PiiOps.redactPii(txt).as("redacted"))
        .withColumn("n_redactions",
          (size(split(col("redacted"), "<REDACTED_")) - 1).cast("long"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH r AS (SELECT doc_id, ${graft.functions.PiiOps.redactPiiSql(
             "text || ' contact u' || doc_id || '@ex' || (doc_id % 7) " +
             "|| '.org ip 10.' || (doc_id % 200) || '.0.' || (doc_id % 250) " +
             "|| ' ssn 123-45-6789'")} AS redacted
         |  FROM documents)
         |SELECT doc_id, redacted,
         |  CAST(len(string_split(redacted, '<REDACTED_')) - 1 AS BIGINT)
         |    AS n_redactions
         |FROM r ORDER BY doc_id""".stripMargin),

    // The quality-filter STACK composed end-to-end: lang-ID gate (the
    // C4 keep-English step) + Gopher repetition/shape rules + CCNet-
    // style target-LM fluency threshold, one verdict row per doc — the
    // standard crawl -> training-set filter cascade as ONE plan. (The
    // trained-classifier variant of the third stage is gated standalone
    // at q252/q257; on this fixture text correlates with lang, so the
    // marker gate is the discriminative stage.)
    Gate("q293_filter_stack", (s, dir) => {
      val docs = t(s, dir, "documents")
      val q = TextOps.qualityScore(docs, "text")
        .select("doc_id", "n_words", "avg_word_len", "stop_ratio")
      val r = Corpus.repetitionStats(docs, "text", "doc_id")
        .select("doc_id", "top2_char_ratio", "dup5_ratio", "dup10_ratio")
      val gopher = q.join(r, "doc_id").join(
          docs.select("doc_id", "source"), "doc_id")
        .select(col("doc_id"), col("source"),
          (col("n_words").between(50, 100000) &&
            col("avg_word_len").between(3.0, 10.0) &&
            col("top2_char_ratio") < 0.18 &&
            col("dup5_ratio") < 0.15 && col("dup10_ratio") < 0.10 &&
            col("stop_ratio") > 0.02).as("gopher_pass"))
      val lm = Corpus.lmScore(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 256)
        .select("doc_id", "avg_logp")
      val lang = TextOps.langId(docs, "text")
        .select(col("doc_id"), (col("lang_pred") === "en").as("lang_pass"))
      val fluent = col("source") === "src0" ||
        coalesce(col("avg_logp") >= -4.95, lit(false))
      gopher.join(lm, Seq("doc_id"), "left").join(lang, "doc_id")
        .select(col("doc_id"), col("gopher_pass"),
          fluent.as("fluency_pass"), col("lang_pass"),
          (col("gopher_pass") && fluent && col("lang_pass")).as("keep"))
        .orderBy("doc_id")
    }, oracle =
      // The full filter cascade re-derived: Gopher shape/repetition rules
      // (q259's CTEs), the CCNet bigram-LM fluency threshold (lmCtes),
      // and the q31 marker lang-ID gate.
      {
        s"""WITH $gopherShapeCte,
           |$repetitionCtes,
           |gopher AS (SELECT d.doc_id, d.source,
           |    (q.n_words BETWEEN 50 AND 100000
           |     AND q.avg_word_len BETWEEN 3.0 AND 10.0
           |     AND round(t2.c * CAST(len(t2.g) AS DOUBLE) / len(d.text), 6) < 0.18
           |     AND d5.dup5_ratio < 0.15 AND d10.dup10_ratio < 0.10
           |     AND q.stop_ratio > 0.02) AS gopher_pass
           |  FROM documents d
           |  JOIN q ON q.doc_id = d.doc_id
           |  JOIN t2 ON t2.doc_id = d.doc_id AND t2.rn = 1
           |  JOIN d5 ON d5.doc_id = d.doc_id
           |  JOIN d10 ON d10.doc_id = d.doc_id),
           |$lmCtes,
           |langs AS (SELECT doc_id,
           |  $markerSql
           |  FROM documents),
           |lang AS (SELECT doc_id,
           |  CASE WHEN score_en + score_de + score_es + score_fr = 0 THEN 'unknown'
           |       WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
           |       WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
           |       WHEN score_es >= score_en AND score_es >= score_de AND score_es >= score_fr THEN 'es'
           |       WHEN score_fr >= score_en AND score_fr >= score_de AND score_fr >= score_es THEN 'fr'
           |       ELSE 'unknown' END AS lang_pred FROM langs)
           |SELECT gopher.doc_id, gopher.gopher_pass,
           |  (gopher.source = 'src0' OR coalesce(lm.avg_logp >= -4.95, false))
           |    AS fluency_pass,
           |  (lang.lang_pred = 'en') AS lang_pass,
           |  (gopher.gopher_pass
           |   AND (gopher.source = 'src0' OR coalesce(lm.avg_logp >= -4.95, false))
           |   AND lang.lang_pred = 'en') AS keep
           |FROM gopher
           |LEFT JOIN lm ON lm.doc_id = gopher.doc_id
           |JOIN lang ON lang.doc_id = gopher.doc_id
           |ORDER BY gopher.doc_id""".stripMargin
      }),

    // Mixture planning table: per-lang temperature share of a 1M-token
    // budget + effective epochs over each slice's token mass.
    Gate("q294_mixture_epochs", (s, dir) =>
      Corpus.mixtureEpochs(
          t(s, dir, "documents")
            .withColumn("n_tok", size(split(col("text"), " ")).cast("long")),
          "lang", "n_tok", alpha = 0.5, budgetTokens = 1000000L)
        .orderBy("lang"), oracle =
      """WITH g AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |w AS (SELECT *, CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.5)
        |    * 1000000.0 + 0.5) AS BIGINT) AS wq FROM g),
        |t AS (SELECT CAST(sum(wq) AS BIGINT) AS tot FROM w)
        |SELECT lang, n_docs, n_tokens,
        |  round(CAST(wq AS DOUBLE) / tot, 6) AS share,
        |  round(1000000.0 * wq / tot, 2) AS tokens_drawn,
        |  round(1000000.0 * wq / tot / n_tokens, 6) AS effective_epochs
        |FROM w, t ORDER BY lang""".stripMargin),

    // Per-doc 3-gram novelty: distinct grams appearing in no other doc.
    Gate("q295_gram_novelty", (s, dir) =>
      TextOps.gramNovelty(t(s, dir, "documents"), "text", "doc_id", NGRAM)
        .orderBy("doc_id"), oracle =
      s"""WITH gx AS (SELECT doc_id,
         |    unnest(list_distinct(${Dedup.shinglesSql("text", NGRAM)})) AS g
         |  FROM documents),
         |dfx AS (SELECT g, count(*) AS df FROM gx GROUP BY g)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS novelty
         |FROM gx JOIN dfx USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // BPE tokenize -> sequence-pack composed: REAL tokenizer counts (the
    // q234 replace-chain) feeding the q244 two-level prefix-sum layout —
    // the tokenize-then-pack step every training run executes, as one
    // plan.
    Gate("q296_tokenize_pack", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextOps.bpeTokens(col("text"), TextOps.fixtureMerges))
            .cast("long").as("n_tok"))
      Corpus.packSequences(docs, "doc_id", "n_tok", "source", 512L)
        .select("doc_id", "source", "n_tok", "start_tok", "first_seq", "last_seq")
        .orderBy("doc_id")
    }, oracle =
      s"""WITH words AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |wt AS (SELECT doc_id, source,
         |    CASE WHEN w = '' THEN 0 ELSE len(list_filter(string_split(
         |      ${TextOps.bpeEncodeSql("w", TextOps.fixtureMerges)}, '|'),
         |      x -> x <> '')) END AS nt
         |  FROM words),
         |t AS (SELECT doc_id, source, CAST(sum(nt) AS BIGINT) AS n_tok
         |  FROM wt GROUP BY doc_id, source),
         |$packTail""".stripMargin),

    // Streaming ingest-time perceptual near-dup candidates: AvailableNow
    // replay == the batch q286 band-collision set (the oracle derives
    // the batch candidates from the pixel formula).
    Gate("q298_streaming_phash", (s, dir) => {
      val png = Multimodal.pngVarUdf
      val media = graft.core.Tables.stream(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          png(col("doc_id") - pmod(col("doc_id"), lit(3L))).as("payload"))
      val pairs = graft.streaming.Streaming.streamingPhashPairs(media)
      drainMemory(s, pairs, "append")(_.distinct().orderBy("doc_a", "doc_b"))
    }, oracle =
      // The q286 band pipeline WITHOUT the Hamming verify: the streaming
      // replay must reproduce exactly the batch band-collision candidates.
      s"""WITH $groupPxCtes,
         |$dhashCtes,
         |${rowBandsCtes("bands")}
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Labeled retrieval quality: precision@{1,5,10} of cosine top-k
    // where relevant == same label (the standard labeled-ANN eval).
    Gate("q317_retrieval_quality", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.retrievalQuality(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", "label", Seq(1, 5, 10))
        .orderBy("k")
    }, oracle =
      s"""WITH $labelledVecCtes,
        |q AS (SELECT vec_id AS qid, label AS qlab, e AS qe, nrm AS qn
        |  FROM n WHERE vec_id < 20),
        |s AS (SELECT qid, qlab, vec_id AS nid, n.label AS nlab,
        |    list_sum(list_transform(range(64), i -> qe[i+1] * e[i+1])) / (qn * nrm) AS cos
        |  FROM q, n WHERE vec_id <> qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, nid) AS rank FROM s),
        |tk AS (SELECT * FROM r WHERE rank <= 10)
        |SELECT ks.k, CAST(count(*) AS BIGINT) AS n_retrieved,
        |  CAST(sum(CASE WHEN qlab = nlab THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_relevant,
        |  round(CAST(sum(CASE WHEN qlab = nlab THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS precision_at_k
        |FROM tk, (VALUES (1), (5), (10)) ks(k)
        |WHERE rank <= ks.k GROUP BY ks.k ORDER BY ks.k""".stripMargin),

    // Incremental CC maintenance: fold the delta docs' candidate pairs
    // into the prior labeling; result must equal a full recompute (the
    // oracle IS the full-corpus recursive CC).
    Gate("q318_incremental_cc", (s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      val assign = Dedup.connectedComponents(
        Dedup.minhashPairs(old, "text", "doc_id", NGRAM, K, BANDS),
        "doc_a", "doc_b")
      val delta = Dedup.minhashPairs(docs, "text", "doc_id", NGRAM, K, BANDS)
        .where(pmod(col("doc_a"), lit(5L)) === 0 ||
          pmod(col("doc_b"), lit(5L)) === 0)
      Dedup.incrementalComponents(assign, delta, "doc_a", "doc_b")
        .orderBy("doc_id")
    }, oracle =
      // full-recompute CC over ALL pairs — the incremental fold must
      // reproduce it exactly (same SQL as q239's oracle)
      s"""WITH RECURSIVE ${sigCtes("documents")},
         |$candCtes,
         |${reachCtes("cand")}
         |SELECT a AS doc_id, least(a, min(b)) AS component
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin),

    // Surgical span-level decontamination: excise eval-covered 8-gram
    // positions instead of dropping whole docs (src0 = the eval suite).
    Gate("q315_decontaminate_spans", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.decontaminateSpans(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "text", "doc_id", 8)
        .orderBy("doc_id")
    }, oracle = {
      val sh8 = Dedup.shinglesSql("text", 8)
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws, $sh8 AS sh
         |  FROM documents WHERE source <> 'src0'),
         |ev AS (SELECT DISTINCT unnest(list_distinct($sh8)) AS span
         |  FROM documents WHERE source = 'src0'),
         |sp AS (SELECT doc_id, g.i - 1 AS pos, sh[g.i] AS span
         |  FROM d, unnest(range(1, len(sh) + 1)) g(i)),
         |cov AS (SELECT DISTINCT sp.doc_id, sp.pos + j.jj AS wi
         |  FROM sp JOIN ev USING(span), unnest(range(0, 8)) j(jj)),
         |$spanKeepTail""".stripMargin
    }),

    // Per-source distribution drift (KL new||old over hashed word
    // buckets) between the q299 snapshot pair.
    Gate("q316_source_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.sourceDrift(
          docs.filter(pmod(col("doc_id"), lit(11L)) =!= 3),
          docs.filter(pmod(col("doc_id"), lit(13L)) =!= 5)
            .withColumn("text",
              when(pmod(col("doc_id"), lit(17L)) === 0,
                concat(col("text"), lit(" rev2"))).otherwise(col("text"))),
          "text", "source", 256)
        .orderBy("source")
    }, oracle =
      s"""WITH oldv AS (SELECT source, text FROM documents WHERE doc_id % 11 <> 3),
         |newv AS (SELECT source,
         |    CASE WHEN doc_id % 17 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 5),
         |ob AS (SELECT source AS src, (${Dedup.h60Sql("w")}) % 256 AS b,
         |    count(*) AS co FROM
         |  (SELECT source, unnest(string_split(text, ' ')) AS w FROM oldv)
         |  WHERE w <> '' GROUP BY 1, 2),
         |nb AS (SELECT source AS src, (${Dedup.h60Sql("w")}) % 256 AS b,
         |    count(*) AS cn FROM
         |  (SELECT source, unnest(string_split(text, ' ')) AS w FROM newv)
         |  WHERE w <> '' GROUP BY 1, 2),
         |tots AS (SELECT coalesce(n.src, o.src) AS src,
         |    coalesce(tn, 0) AS tn, coalesce(tox, 0) AS tox FROM
         |  (SELECT src, CAST(sum(cn) AS BIGINT) AS tn FROM nb GROUP BY src) n
         |  FULL OUTER JOIN
         |  (SELECT src, CAST(sum(co) AS BIGINT) AS tox FROM ob GROUP BY src) o
         |  ON n.src = o.src),
         |j AS (SELECT coalesce(nb.src, ob.src) AS src,
         |    coalesce(cn, 0) AS cn, coalesce(co, 0) AS co
         |  FROM nb FULL OUTER JOIN ob ON nb.src = ob.src AND nb.b = ob.b),
         |terms AS (SELECT j.src,
         |    CAST(floor(((cn + 1.0) / (tn + 256.0)) *
         |      ln(((cn + 1.0) / (tn + 256.0)) / ((co + 1.0) / (tox + 256.0)))
         |      * 1000000000.0 + 0.5) AS BIGINT) AS t
         |  FROM j JOIN tots ON tots.src = j.src),
         |agg AS (SELECT terms.src, CAST(sum(t) AS BIGINT) AS s,
         |    count(*) AS present, max(tn) AS tn, max(tox) AS tox
         |  FROM terms JOIN tots ON tots.src = terms.src
         |  GROUP BY terms.src)
         |SELECT src AS source,
         |  round(CAST(s + (256 - present) *
         |    CAST(floor((1.0 / (tn + 256.0)) *
         |      ln((tox + 256.0) / (tn + 256.0))
         |      * 1000000000.0 + 0.5) AS BIGINT) AS DOUBLE)
         |    / 1000000000.0, 6) AS kl_nats,
         |  tn AS n_tokens_new, tox AS n_tokens_old
         |FROM agg ORDER BY source""".stripMargin),

    // Streaming stitch detection: the stream-stream self-equijoin on
    // the phrase; AvailableNow replay == the batch q311 answer (shared
    // oracle). The corpus is the same original+continuation augment.
    Gate("q314_streaming_stitch", (s, dir) => {
      val stream = graft.core.Tables.stream(s, dir, "documents")
      val wr = split(col("text"), " ")
      val derived = stream
        .where(size(wr) >= 8)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat_ws(" ", concat(
            slice(wr, size(wr) - 7, lit(8)), slice(wr, 1, 12))).as("text"))
      val pairs = graft.streaming.Streaming.streamingStitchPairs(
        stream.select("doc_id", "text").union(derived), "text", "doc_id", 8)
      drainMemory(s, pairs, "append")(_.distinct().orderBy("doc_a", "doc_b"))
    }, oracle =
      // streaming replay must equal the batch stitch answer exactly
      stitchOracle),

    // Per-doc unigram entropy (micro-nat quantized terms — exact at any
    // partitioning): the keyword-stuffing / generated-spam signal.
    Gate("q313_token_entropy", (s, dir) =>
      TextOps.tokenEntropy(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id"), oracle =
      """WITH wc AS (SELECT doc_id, w, count(*) AS c FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY doc_id, w)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |  count(*) AS n_distinct,
        |  round(ln(CAST(sum(c) AS DOUBLE))
        |    - CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5)
        |        AS BIGINT)) AS DOUBLE) / 1000000.0 / sum(c), 6) AS entropy_nats
        |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Pagination-stitch pairs: A's last 8 words == B's first 8 words
    // (the split-page crawl artifact whole-doc dedup misses). The raw
    // fixture has no split pages, so the corpus is augmented with
    // derived continuation records (id + 100000, text = the original's
    // last 8 + first 12 words) — every (orig, derived) pair must
    // stitch, and the oracle re-derives the same construction.
    Gate("q311_stitch_pairs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val wr = split(col("text"), " ")
      val derived = docs
        .where(size(wr) >= 8)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat_ws(" ", concat(
            slice(wr, size(wr) - 7, lit(8)), slice(wr, 1, 12))).as("text"))
      TextOps.stitchPairs(docs.select("doc_id", "text").union(derived),
          "text", "doc_id", w = 8)
        .orderBy("doc_a", "doc_b")
    }, oracle = stitchOracle),

    // Per-source template report: modal opening phrase + share.
    Gate("q312_source_templates", (s, dir) =>
      TextOps.sourceTemplates(t(s, dir, "documents"), "text", "source", w = 8)
        .orderBy("source"), oracle =
      """WITH h AS (SELECT source,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
        |      AS phrase FROM documents),
        |c AS (SELECT source, phrase, count(*) AS c FROM h GROUP BY 1, 2),
        |t AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |m AS (SELECT source, phrase, c, row_number() OVER
        |    (PARTITION BY source ORDER BY c DESC, phrase DESC) AS rn FROM c)
        |SELECT m.source, t.n_docs, m.phrase AS template_phrase,
        |  CAST(m.c AS BIGINT) AS n_template,
        |  round(CAST(m.c AS DOUBLE) / t.n_docs, 6) AS template_share
        |FROM m JOIN t USING (source) WHERE rn = 1 ORDER BY source""".stripMargin),

    // Multi-suite contamination matrix: suites src0/src1 checked in ONE
    // corpus pass, dense (doc x suite) including proved-clean zeros.
    Gate("q310_contamination_matrix", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.contaminationMatrix(
          docs.filter(col("source") =!= "src0" && col("source") =!= "src1"),
          docs.filter(col("source") === "src0" || col("source") === "src1"),
          "text", "doc_id", "source", 8)
        .orderBy("doc_id", "suite")
    }, oracle =
      s"""WITH ev AS (SELECT DISTINCT source AS suite,
         |    unnest(list_distinct(${Dedup.shinglesSql("text", 8)})) AS g
         |  FROM documents WHERE source IN ('src0', 'src1')),
         |cg AS (SELECT doc_id, unnest(list_distinct(${Dedup.shinglesSql("text", 8)})) AS g
         |  FROM documents WHERE source NOT IN ('src0', 'src1')),
         |tot AS (SELECT doc_id, CAST(len(list_distinct(${Dedup.shinglesSql("text", 8)})) AS BIGINT) AS n_grams
         |  FROM documents WHERE source NOT IN ('src0', 'src1')),
         |su AS (SELECT DISTINCT suite FROM ev),
         |hit AS (SELECT doc_id, suite, count(*) AS n_contaminated
         |  FROM cg JOIN ev USING (g) GROUP BY doc_id, suite)
         |SELECT tot.doc_id, su.suite, n_grams,
         |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |  round(CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_grams, 6)
         |    AS contamination_ratio
         |FROM tot CROSS JOIN su
         |LEFT JOIN hit ON hit.doc_id = tot.doc_id AND hit.suite = su.suite
         |ORDER BY tot.doc_id, su.suite""".stripMargin),

    // IDF-weighted Jaccard dedup: boilerplate grams weigh ~0, rare
    // content counts fully — plain Jaccard's short-doc fix.
    Gate("q309_weighted_jaccard", (s, dir) =>
      Dedup.weightedJaccard(t(s, dir, "documents"), "text", "doc_id",
          NGRAM, K, BANDS, minWeightedJ = 0.2)
        .orderBy("doc_a", "doc_b"), oracle =
      s"""WITH ${sigCtes("documents")},
         |$candCtes,
         |g AS (SELECT DISTINCT doc_id, unnest($sh) AS g FROM documents),
         |nd AS (SELECT count(*) AS n FROM documents),
         |w AS (SELECT g.g, CAST(floor(ln(CAST(nd.n AS DOUBLE) / count(*))
         |    * 1000000.0 + 0.5) AS BIGINT) AS wq
         |  FROM g, nd GROUP BY g.g, nd.n),
         |sizes AS (SELECT doc_id, CAST(sum(wq) AS BIGINT) AS ws
         |  FROM g JOIN w USING (g) GROUP BY doc_id),
         |iw AS (SELECT cand.da, cand.db, CAST(sum(w.wq) AS BIGINT) AS inter_wq
         |  FROM cand JOIN g ga ON ga.doc_id = cand.da
         |    JOIN g gb ON gb.doc_id = cand.db AND gb.g = ga.g
         |    JOIN w ON w.g = ga.g
         |  GROUP BY 1, 2)
         |SELECT da AS doc_a, db AS doc_b, inter_wq,
         |  round(CAST(inter_wq AS DOUBLE) / (sa.ws + sb.ws - inter_wq), 6)
         |    AS weighted_jaccard
         |FROM iw JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
         |WHERE CAST(inter_wq AS DOUBLE) / (sa.ws + sb.ws - inter_wq) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Clustering-quality report against the labeled fixture: per
    // quantizer cell, the majority true label and purity — the eval a
    // SemDeDup/IVF deployment publishes per refit. Init-only quantizer
    // (q251 contract) => fully SQL-re-derivable.
    Gate("q307_cluster_purity", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = cells8(emb)
      val lab = Similarity.cellAssign(emb, "vec_id", "embedding", seeds)
        .select(col("id").as("vec_id"), col("cell"))
        .join(emb.select("vec_id", "label"), "vec_id")
      val counts = lab.groupBy("cell", "label").agg(count(lit(1)).as("c"))
      val tot = lab.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cell").orderBy(col("c").desc, col("label"))
      counts.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .join(tot, "cell")
        .select(col("cell"), col("n_vecs"),
          col("label").as("majority_label"), col("c").as("n_majority"),
          round(col("c").cast("double") / col("n_vecs"), 6).as("purity"))
        .orderBy("cell")
    }, oracle =
      s"""WITH $cellAssignCtes,
        |cl AS (SELECT cellof.vec_id, cell, emb.label
        |  FROM cellof JOIN embeddings emb USING (vec_id)),
        |cc AS (SELECT cell, label, count(*) AS c FROM cl GROUP BY 1, 2),
        |ct AS (SELECT cell, count(*) AS n_vecs FROM cl GROUP BY 1),
        |m AS (SELECT cell, label, c, row_number() OVER
        |    (PARTITION BY cell ORDER BY c DESC, label) AS rn FROM cc)
        |SELECT CAST(m.cell AS INTEGER) AS cell, ct.n_vecs,
        |  m.label AS majority_label, CAST(m.c AS BIGINT) AS n_majority,
        |  round(CAST(m.c AS DOUBLE) / ct.n_vecs, 6) AS purity
        |FROM m JOIN ct USING (cell) WHERE rn = 1 ORDER BY cell""".stripMargin),

    // Hold-out accuracy of kNN label propagation per true class — the
    // seed-set quality check before labeling a whole corpus.
    Gate("q308_knn_accuracy", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val preds = Similarity.knnClassify(
        emb.filter(pmod(col("vec_id"), lit(5)) === 0),
        emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
        "vec_id", "embedding", "label", 7)
      preds.join(emb.select(col("vec_id"), col("label").as("true_label")), "vec_id")
        .groupBy("true_label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("label_pred") === col("true_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n_vecs"), 6))
        .orderBy("true_label")
    }, oracle =
      // q308: the q264 kNN CTEs + a per-true-label accuracy rollup.
      s"""WITH $labelledVecCtes,
        |$knnCtes,
        |pred AS (SELECT id, lab AS label_pred FROM p WHERE rn = 1)
        |SELECT n.label AS true_label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN pred.label_pred = n.label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  round(CAST(sum(CASE WHEN pred.label_pred = n.label THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS accuracy
        |FROM pred JOIN n ON n.vec_id = pred.id
        |GROUP BY n.label ORDER BY true_label""".stripMargin),

    // Cell-keyed embedding decontamination (the big-eval-set scale
    // path: no broadcast matrix — both sides join by quantizer cell).
    // Same init-only 8-cell quantizer contract as q251.
    Gate("q306_contamination_cells", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = cells8(emb)
      Corpus.embeddingContaminationCells(
          emb.filter(col("vec_id") >= 16), emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", seeds, minCos = 0.2)
        .orderBy("doc_id")
    }, oracle =
      // q306: the q251 quantizer CTEs, then a cell-keyed corpus x eval
      // comparison (vec_id >= 16 vs < 16) with per-doc max/hit-count.
      s"""WITH $cellAssignCtes,
        |cv2 AS (SELECT cellof.vec_id, cell, n.e, n.nrm
        |  FROM cellof JOIN n USING (vec_id)),
        |c AS (SELECT vec_id AS doc_id, cell, e AS ce, nrm AS cn
        |  FROM cv2 WHERE vec_id >= 16),
        |ev AS (SELECT cell, e AS ee, nrm AS en FROM cv2 WHERE vec_id < 16),
        |s AS (SELECT doc_id,
        |    list_sum(list_transform(range(64), i -> ce[i+1] * ee[i+1]))
        |      / (cn * en) AS cos
        |  FROM c JOIN ev USING (cell))
        |SELECT doc_id, round(max(cos), 6) AS max_cos,
        |  CAST(sum(CASE WHEN cos >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_eval_hits
        |FROM s GROUP BY doc_id HAVING round(max(cos), 6) >= 0.2
        |ORDER BY doc_id""".stripMargin),

    // Blocklist filter (the C4 bad-words rule) against a fixture-word
    // blocklist: matched terms + keep verdict per doc, map-only.
    Gate("q305_blocklist", (s, dir) =>
      TextOps.blocklistFilter(t(s, dir, "documents"), "text", "doc_id",
          Seq("dup", "nonexistentword"))
        .orderBy("doc_id"), oracle =
      """SELECT doc_id,
        |  coalesce(array_to_string(list_sort(list_intersect(
        |    list_distinct(string_split(text, ' ')),
        |    ['dup', 'nonexistentword'])), ','), '') AS matched_words,
        |  CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |    ['dup', 'nonexistentword'])) AS BIGINT) AS n_matched,
        |  len(list_intersect(list_distinct(string_split(text, ' ')),
        |    ['dup', 'nonexistentword'])) = 0 AS keep
        |FROM documents ORDER BY doc_id""".stripMargin),

    // The multimodal pipeline end-to-end: decode -> 72-dim cell-mean
    // feature vector -> exact cosine kNN (image similarity search over
    // REAL decoded features; the oracle re-derives vectors from the
    // pixel formula and replays the q29 ranking).
    Gate("q304_image_feature_knn", (s, dir) => {
      val png = Multimodal.pngVarUdf
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"), png(col("doc_id")).as("payload"))
      val feats = Multimodal.decodeCells(media)
        .select(col("media_id").as("vec_id"),
          zip_with(col("cell_sum"), col("cell_cnt"),
            (su, c) => su.cast("double") / c).as("fv"))
      Similarity.cosineTopK(feats, feats.filter(col("vec_id") < 10),
          "vec_id", "fv", 3)
        .withColumn("score", round(col("score"), 6).cast("float"))
        .orderBy("query_id", "rank")
    }, oracle =
      s"""WITH $rasterPxCtes,
         |cells AS (SELECT doc_id, (y * 8) // h AS cy, (x * 9) // w AS cx,
         |    sum(v) AS s, count(*) AS c FROM px GROUP BY 1, 2, 3),
         |fv AS (SELECT doc_id, list(CAST(s AS DOUBLE) / c ORDER BY cy, cx) AS e
         |  FROM cells GROUP BY doc_id),
         |n AS (SELECT doc_id AS vec_id, e,
         |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM fv),
         |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 10),
         |sc AS (SELECT qid, vec_id AS nid,
         |    list_sum(list_transform(range(72), i -> qe[i+1] * e[i+1])) / (qn * nrm) AS cos
         |  FROM q, n WHERE vec_id <> qid)
         |SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank,
         |  CAST(round(cos, 6) AS REAL) AS score
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |      FROM sc)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // Winnowing fingerprints (MOSS): per-window minimum gram hashes,
    // distinct per doc — the positional-coverage fingerprint.
    Gate("q302_winnowing", (s, dir) =>
      TextOps.winnowing(t(s, dir, "documents"), "text", "doc_id", NGRAM, 4)
        .orderBy("doc_id", "fp"), oracle =
      s"""WITH hs AS (SELECT doc_id, list_transform(${Dedup.shinglesSql("text", NGRAM)},
         |    g -> (${Dedup.h60Sql("g")}) % $P) AS hs FROM documents),
         |hn AS (SELECT doc_id, hs, len(hs) AS n FROM hs WHERE len(hs) > 0),
         |wins AS (SELECT doc_id, list_transform(
         |    range(greatest(n - 4, 0) + 1),
         |    i -> list_aggregate(list_slice(hs, i + 1, i + 4), 'min')) AS ws
         |  FROM hn)
         |SELECT DISTINCT doc_id, unnest(ws) AS fp
         |FROM wins ORDER BY doc_id, fp""".stripMargin),

    // MOSS match report: pairs sharing >= 3 fingerprints after the
    // boilerplate doc-frequency kill, with containment ratios.
    Gate("q303_winnow_matches", (s, dir) =>
      TextOps.winnowMatches(
          TextOps.winnowing(t(s, dir, "documents"), "text", "doc_id", NGRAM, 4),
          minShared = 3, maxDocFreq = 50)
        .orderBy("doc_a", "doc_b"), oracle =
      s"""WITH hs AS (SELECT doc_id, list_transform(${Dedup.shinglesSql("text", NGRAM)},
         |    g -> (${Dedup.h60Sql("g")}) % $P) AS hs FROM documents),
         |hn AS (SELECT doc_id, hs, len(hs) AS n FROM hs WHERE len(hs) > 0),
         |wins AS (SELECT doc_id, list_transform(
         |    range(greatest(n - 4, 0) + 1),
         |    i -> list_aggregate(list_slice(hs, i + 1, i + 4), 'min')) AS ws
         |  FROM hn),
         |sel AS (SELECT DISTINCT doc_id, unnest(ws) AS fp FROM wins),
         |dfreq AS (SELECT fp, count(*) AS dfc FROM sel GROUP BY fp),
         |keep AS (SELECT s.doc_id, s.fp FROM sel s JOIN dfreq USING (fp)
         |  WHERE dfc <= 50),
         |sizes AS (SELECT doc_id, count(*) AS nfp FROM keep GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS shared_fps
         |  FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared_fps,
         |  round(CAST(shared_fps AS DOUBLE) / least(sa.nfp, sb.nfp), 6)
         |    AS containment
         |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE shared_fps >= 3 ORDER BY doc_a, doc_b""".stripMargin),

    // Materialized >1-epoch mixture: per-lang temperature rates over a
    // 1000-row target, floor+frac-hash copies per doc.
    Gate("q301_epoch_expand", (s, dir) =>
      Corpus.epochExpand(t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", "lang", alpha = 0.5, targetRows = 1000L)
        .orderBy("doc_id", "copy"), oracle =
      s"""WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
         |  FROM documents GROUP BY lang),
         |w AS (SELECT lang, n, CAST(floor(pow(n, 0.5) * 1000000.0 + 0.5)
         |    AS BIGINT) AS wq FROM c),
         |t AS (SELECT CAST(sum(wq) AS BIGINT) AS tot FROM w),
         |f AS (SELECT lang, 1000.0 * wq / tot / n AS rate FROM w, t),
         |r AS (SELECT d.doc_id, d.lang,
         |    CAST(floor(rate) AS BIGINT)
         |    + CASE WHEN (${Dedup.h60Sql("CAST(doc_id AS VARCHAR)")}) % 10000
         |        < CAST(floor((rate - floor(rate)) * 10000.0) AS BIGINT)
         |      THEN 1 ELSE 0 END AS copies
         |  FROM documents d JOIN f USING (lang))
         |SELECT doc_id, lang, unnest(range(copies)) AS copy
         |FROM r ORDER BY doc_id, copy""".stripMargin),

    // Snapshot diff: synthetic old/new corpus versions (deterministic
    // membership + revision rules over doc_id), churn rows only.
    Gate("q299_snapshot_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val oldV = docs.filter(pmod(col("doc_id"), lit(11L)) =!= 3)
      val newV = docs.filter(pmod(col("doc_id"), lit(13L)) =!= 5)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(17L)) === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      Corpus.snapshotDiff(oldV, newV, "text", "doc_id").orderBy("doc_id")
    }, oracle =
      """WITH o AS (SELECT doc_id, md5(text) AS ho
        |  FROM documents WHERE doc_id % 11 <> 3),
        |nw AS (SELECT doc_id, md5(
        |    CASE WHEN doc_id % 17 = 0 THEN text || ' rev2' ELSE text END) AS hn
        |  FROM documents WHERE doc_id % 13 <> 5)
        |SELECT coalesce(o.doc_id, nw.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN nw.doc_id IS NULL THEN 'removed'
        |       WHEN ho <> hn THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id
        |WHERE (CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN nw.doc_id IS NULL THEN 'removed'
        |       WHEN ho <> hn THEN 'changed'
        |       ELSE 'unchanged' END) <> 'unchanged'
        |ORDER BY doc_id""".stripMargin),

    // Per-domain cap: no source contributes more than 20 docs, keeping
    // the longest (n_chars desc, id asc) — the anti-domination rule.
    Gate("q300_domain_cap", (s, dir) =>
      Corpus.domainCap(t(s, dir, "documents"), "doc_id", "source",
          "n_chars", cap = 20)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"), oracle =
      """SELECT doc_id, source, n_chars
        |FROM (SELECT doc_id, source, n_chars, row_number() OVER (
        |        PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |      FROM documents)
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin),

    // Two-stage truncated-dim retrieval (matryoshka serving pattern):
    // 16-dim prefix shortlist of 200, exact full-dim rerank to top-5.
    Gate("q297_ann_truncated", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.truncatedRerankTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, dPrefix = 16, shortlist = 200)
        .withColumn("score", round(col("score"), 6).cast("float"))
        .orderBy("query_id", "rank")
    }, oracle =
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
        |    list_transform(e[1:16], x -> x) AS ep,
        |    sqrt(list_sum(list_transform(e[1:16], x -> x * x))) AS nrmp FROM v),
        |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn, ep AS qep, nrmp AS qnp
        |  FROM n WHERE vec_id < 10),
        |s AS (SELECT qid, vec_id AS nid,
        |    list_sum(list_transform(range(64), i -> qe[i+1] * e[i+1])) / (qn * nrm) AS cosf,
        |    list_sum(list_transform(range(16), i -> qep[i+1] * ep[i+1])) / (qnp * nrmp) AS cost
        |  FROM q, n WHERE vec_id <> qid),
        |rt AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cost DESC, nid) AS rkt FROM s)
        |SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank,
        |  CAST(round(cosf, 6) AS REAL) AS score
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosf DESC, nid) AS rank
        |      FROM rt WHERE rkt <= 200)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
  )

  // ---- generated oracle SQL ------------------------------------------

  private[queries] val sh = Dedup.shinglesSql("text", NGRAM)
  private val P = Dedup.P

  /** MinHash signature CTEs over `src`: sh$sfx, h$sfx and the signature
    * CTE `sig` (default sig$sfx), so two signature sets (corpus + batch)
    * can coexist in one oracle query.
    */
  private[queries] def sigCtes(src: String, sfx: String = "",
                               sig: String = ""): String =
    s"""sh$sfx AS (SELECT doc_id, unnest($sh) AS sh FROM $src),
       |h$sfx AS (SELECT doc_id, (${h60Sql("sh")}) % $P AS h FROM sh$sfx),
       |${if (sig.isEmpty) s"sig$sfx" else sig} AS (SELECT doc_id,
       |${Dedup.perms(K).zipWithIndex.map { case ((a, b), i) =>
             s"  min(($a * h + $b) % $P) AS s$i" }.mkString(",\n")}
       |FROM h$sfx GROUP BY doc_id)""".stripMargin

  private val sigCte = "WITH " + sigCtes("documents")

  private[queries] def bandsSql(sfx: String = ""): String =
    (0 until BANDS).map { b =>
      val cols = (b * (K / BANDS) until (b + 1) * (K / BANDS))
        .map(i => s"CAST(s$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS bh FROM sig$sfx"
    }.mkString("\nUNION ALL\n")

  /** LSH band collisions of the `sig` CTE: bands, cand(da, db), da < db. */
  private[queries] val candCtes: String =
    s"""bands AS (${bandsSql()}),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
       |    AND a.doc_id < b.doc_id)""".stripMargin

  /** Exact shingle overlap of every candidate over `src`'s texts: g,
    * sizes(doc_id, `n`) and inter(da, db, i).
    */
  private[queries] def interCtes(src: String, n: String = "n"): String =
    s"""g AS (SELECT DISTINCT doc_id, unnest($sh) AS g FROM $src),
       |sizes AS (SELECT doc_id, count(*) AS $n FROM g GROUP BY doc_id),
       |inter AS (SELECT cand.da, cand.db, count(*) AS i
       |  FROM cand JOIN g ga ON ga.doc_id = cand.da
       |            JOIN g gb ON gb.doc_id = cand.db AND gb.g = ga.g
       |  GROUP BY 1, 2)""".stripMargin

  /** The candidates whose exact Jaccard is at least 0.8, as `name`(da, db). */
  private[queries] def pairsCte(name: String): String =
    s"""$name AS (SELECT da, db FROM inter
       |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8)""".stripMargin

  /** Recursive reachability over the undirected pair CTE `edges`(da, db):
    * e(u, v) and reach(a, b); needs `WITH RECURSIVE`.
    */
  private[queries] def reachCtes(edges: String): String =
    s"""e AS (SELECT da AS u, db AS v FROM $edges UNION SELECT db, da FROM $edges),
       |reach AS (SELECT u AS a, v AS b FROM e
       |  UNION SELECT r.a, e.v FROM reach r JOIN e ON r.b = e.u)""".stripMargin

  /** Each reached doc's component: its least reachable id. */
  private[queries] val compCte: String =
    """comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
      |  FROM reach GROUP BY a)""".stripMargin

  /** dHash of the generated rasters in `px`(doc_id, w, h, x, y, v): 9x8
    * block sums, the horizontal-neighbour mean comparison bits, and the
    * row bytes rowb(doc_id, cy, rb).
    */
  private[queries] val dhashCtes: String =
    """cells AS (SELECT doc_id, (y * 8) // h AS cy, (x * 9) // w AS cx,
      |    sum(v) AS s, count(*) AS c FROM px GROUP BY 1, 2, 3),
      |bits AS (SELECT a.doc_id, a.cy, a.cx,
      |    CASE WHEN a.s * b.c > b.s * a.c THEN 1 ELSE 0 END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |rowb AS (SELECT doc_id, cy,
      |    CAST(sum(bit * (CAST(1 AS BIGINT) << cx)) AS BIGINT) AS rb
      |  FROM bits GROUP BY doc_id, cy)""".stripMargin

  /** The eight row bytes r0..r7 of `rowb` as rb2, and `name`(doc_id,
    * band, bv): four 16-bit Hamming bands.
    */
  private[queries] def rowBandsCtes(name: String): String =
    s"""rb2 AS (SELECT doc_id,
       |${(0 until 8).map(i =>
            s"  max(CASE WHEN cy = $i THEN rb END) AS r$i").mkString(",\n")}
       |  FROM rowb GROUP BY doc_id),
       |$name AS (
       |  SELECT doc_id, 0 AS band, r0 * 256 + r1 AS bv FROM rb2
       |  UNION ALL SELECT doc_id, 1, r2 * 256 + r3 FROM rb2
       |  UNION ALL SELECT doc_id, 2, r4 * 256 + r5 FROM rb2
       |  UNION ALL SELECT doc_id, 3, r6 * 256 + r7 FROM rb2)""".stripMargin

  /** q285's rasters generated from each doc's group-of-3 base id. */
  private val groupPxCtes: String =
    """xs AS (SELECT unnest(range(0, 24)) AS x),
      |     ys AS (SELECT unnest(range(0, 21)) AS y),
      |px AS (
      |  SELECT d.doc_id, 16 + (d.doc_id - d.doc_id % 3) % 8 AS w,
      |    16 + (d.doc_id - d.doc_id % 3) % 5 AS h, xs.x, ys.y,
      |    ((d.doc_id - d.doc_id % 3) * 53
      |       + (3 + (d.doc_id - d.doc_id % 3) % 9) * xs.x
      |       + (5 + (d.doc_id - d.doc_id % 3) % 7) * ys.y
      |       + (2 + (d.doc_id - d.doc_id % 3) % 4) * xs.x * xs.x
      |       + (3 + (d.doc_id - d.doc_id % 3) % 6) * ys.y * ys.y) % 256 AS v
      |  FROM documents d, xs, ys
      |  WHERE xs.x < 16 + (d.doc_id - d.doc_id % 3) % 8
      |    AND ys.y < 16 + (d.doc_id - d.doc_id % 3) % 5)""".stripMargin

  private val simhashBits = (0 until 32)
  private val markerSql = TextOps.langMarkers.map { case (lang, ms) =>
    s"len(list_filter(string_split(text,' '), x -> x IN (${ms.map("'" + _ + "'").mkString(",")}))) AS score_$lang"
  }.mkString(",\n  ")

  /** The init-only 8-cell quantizer over `v`(vec_id, e): norms n, the
    * canonical picks seeds/sn and every vector's cosines cs(vec_id, sid, c).
    */
  private[queries] val quantizerCtes: String =
    """n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
      |cv AS (SELECT e, row_number() OVER (ORDER BY e) AS rn
      |       FROM (SELECT DISTINCT e FROM v) ORDER BY e LIMIT 128),
      |ccount AS (SELECT count(*) AS c FROM cv),
      |seeds AS (SELECT r.i + 1 AS sid,
      |    list_transform(cv.e, x -> round_even(x * 1000000, 0) / 1000000) AS se
      |  FROM range(8) r(i), ccount, cv WHERE cv.rn = (r.i * ccount.c) // 8 + 1),
      |sn AS (SELECT sid, se, sqrt(list_sum(list_transform(se, x -> x * x))) AS snrm
      |       FROM seeds),
      |cs AS (SELECT n.vec_id, sid,
      |    list_sum(list_transform(range(64), i -> n.e[i+1] * se[i+1])) / (n.nrm * snrm) AS c
      |  FROM n, sn)""".stripMargin

  /** SemDeDup oracle: the q76 seeds/cell-assignment CTE prefix (the
    * init-only kmeansFit canonical-pick contract, identical IEEE
    * operation order) + within-cell pair generation + exact-cosine
    * verification — the whole SemDeDup pipeline re-derived in SQL.
    */
  /** Shared SQL re-derivation of the init-only 8-cell quantizer +
    * nearest-cell assignment (q251 SemDeDup, q263 cluster-balanced
    * selection): `cellof` ends with (vec_id, cell, c = winning cosine).
    */
  private val cellAssignCtes: String =
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |$quantizerCtes,
      |cellof AS (SELECT vec_id, sid AS cell, c FROM
      |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, sid) AS rn
      |   FROM cs) WHERE rn = 1)""".stripMargin

  /** Naive-Bayes oracle builder: re-derives the Laplace-smoothed
    * micro-nat (class × bucket) grid, per-doc class scores, and the
    * argmax with the row_number tie-break from the same md5 bucket
    * arithmetic as [[graft.ops.Classify.naiveBayes]]. `labelExpr` is
    * the class SQL expression over the train slice; `finalWhere` lets a
    * composition (q257) filter the argmax output.
    */
  /** The NB prediction pipeline as reusable CTEs ending in
    * pred(doc_id, cls, score_q) — shared by the q252/q257 oracles and
    * the q360 evaluation-report oracle (r8).
    */
  private[queries] def nbPredCtes(labelExpr: String): String = {
    val sh1 = Dedup.shinglesSql("text", 1)
    val B = 256
    s"""tr AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
       |te AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
       |tg AS (SELECT cls, (${Dedup.h60Sql("g")}) % $B AS b FROM
       |  (SELECT $labelExpr AS cls, unnest($sh1) AS g FROM tr)),
       |cnt AS (SELECT cls, b, count(*) AS c FROM tg GROUP BY cls, b),
       |totc AS (SELECT cls, count(*) AS tot FROM tg GROUP BY cls),
       |grid AS (SELECT totc.cls, r.i AS b,
       |    CAST(floor((ln(coalesce(c, 0) + 1.0) - ln(tot + ${B}.0))
       |      * 1000000.0 + 0.5) AS BIGINT) AS lp_q
       |  FROM totc CROSS JOIN range($B) r(i)
       |  LEFT JOIN cnt ON cnt.cls = totc.cls AND cnt.b = r.i),
       |ndoc AS (SELECT count(*) AS n FROM tr),
       |prior AS (SELECT $labelExpr AS cls,
       |    CAST(floor((ln(CAST(count(*) AS DOUBLE)) - ln(CAST(n AS DOUBLE)))
       |      * 1000000.0 + 0.5) AS BIGINT) AS prior_q
       |  FROM tr, ndoc GROUP BY 1, n),
       |sg AS (SELECT doc_id, (${Dedup.h60Sql("g")}) % $B AS b FROM
       |  (SELECT doc_id, unnest($sh1) AS g FROM te)),
       |ll AS (SELECT doc_id, cls, CAST(sum(lp_q) AS BIGINT) AS ll_q
       |  FROM sg JOIN grid USING(b) GROUP BY doc_id, cls),
       |sc AS (SELECT doc_id, ll.cls, ll_q + prior_q AS score_q
       |  FROM ll JOIN prior ON prior.cls = ll.cls),
       |pred AS (SELECT doc_id, cls, score_q
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |          ORDER BY score_q DESC, cls DESC) AS rn FROM sc)
       |  WHERE rn = 1)""".stripMargin
  }

  private def nbOracleSql(labelExpr: String, finalWhere: String = ""): String =
    s"""WITH ${nbPredCtes(labelExpr)}
       |SELECT doc_id, cls AS predicted,
       |  round(score_q / 1000000.0, 6) + 0.0 AS log_prob
       |FROM pred WHERE TRUE $finalWhere ORDER BY doc_id""".stripMargin

  /** DSIR oracle CTEs: re-derive the micro-nat log-ratio table from the
    * same md5 bucket arithmetic as [[Corpus.dsirWeights]] — unigram +
    * bigram grams, 1024 hash buckets, Laplace-smoothed ln-ratios
    * quantized to integer micro-nats before the per-doc sum (the sum is
    * then exact, so it hash-matches at any partitioning).
    */
  private val dsirCtes: String = {
    val sh1 = Dedup.shinglesSql("text", 1)
    val sh2 = Dedup.shinglesSql("text", 2)
    val B = 1024
    s"""rg AS (SELECT doc_id, unnest(list_concat($sh1, $sh2)) AS g
       |  FROM documents WHERE source <> 'src0'),
       |rb AS (SELECT doc_id, (${Dedup.h60Sql("g")}) % $B AS b FROM rg),
       |tb AS (SELECT (${Dedup.h60Sql("g")}) % $B AS b FROM
       |  (SELECT unnest(list_concat($sh1, $sh2)) AS g
       |   FROM documents WHERE source = 'src0')),
       |rcnt AS (SELECT b, count(*) AS rc FROM rb GROUP BY b),
       |tcnt AS (SELECT b, count(*) AS tc FROM tb GROUP BY b),
       |tot AS (SELECT (SELECT sum(rc) FROM rcnt) AS rt,
       |               (SELECT sum(tc) FROM tcnt) AS tt),
       |lr AS (SELECT rcnt.b,
       |    CAST(floor((ln(coalesce(tc, 0) + 1.0) - ln(tt + ${B}.0)
       |      - ln(rc + 1.0) + ln(rt + ${B}.0)) * 1000000.0 + 0.5) AS BIGINT)
       |      AS lr_q
       |  FROM rcnt LEFT JOIN tcnt USING(b), tot),
       |dw AS (SELECT doc_id, count(*) AS n_grams, CAST(sum(lr_q) AS BIGINT) AS wq
       |  FROM rb JOIN lr USING(b) GROUP BY doc_id)""".stripMargin
  }

  /** Bigram-LM oracle CTEs: the same md5 word-bucket arithmetic as
    * [[Corpus.lmScore]] — target bigram/context counts, Laplace-smoothed
    * conditional ln-probs quantized to integer micro-nats before the
    * per-doc sum.
    */
  private val lmCtes: String = {
    val sh2 = Dedup.shinglesSql("text", 2)
    val B = 256
    def b(part: Int) = s"(${Dedup.h60Sql(s"split_part(g, ' ', $part)")}) % $B"
    s"""tg AS (SELECT unnest($sh2) AS g FROM documents WHERE source = 'src0'),
       |tb2 AS (SELECT ${b(1)} AS b1, ${b(2)} AS b2 FROM tg
       |  WHERE len(string_split(g, ' ')) = 2),
       |big AS (SELECT b1, b2, count(*) AS c12 FROM tb2 GROUP BY b1, b2),
       |ctx AS (SELECT b1, count(*) AS c1 FROM tb2 GROUP BY b1),
       |rg2 AS (SELECT doc_id, unnest($sh2) AS g
       |  FROM documents WHERE source <> 'src0'),
       |rb2 AS (SELECT doc_id, ${b(1)} AS b1, ${b(2)} AS b2 FROM rg2
       |  WHERE len(string_split(g, ' ')) = 2),
       |sc2 AS (SELECT doc_id,
       |    CAST(floor((ln(coalesce(c12, 0) + 1.0) - ln(coalesce(c1, 0) + ${B}.0))
       |      * 1000000.0 + 0.5) AS BIGINT) AS lp_q
       |  FROM rb2 LEFT JOIN big USING(b1, b2) LEFT JOIN ctx USING(b1)),
       |lm AS (SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(sum(lp_q) AS BIGINT) AS lp_sum_q,
       |    round(CAST(sum(lp_q) AS BIGINT) / 1000000.0 / count(*), 6) + 0.0
       |      AS avg_logp
       |  FROM sc2 GROUP BY doc_id)""".stripMargin
  }

  /** Shared by q311 (batch stitch) and q314 (stream-stream replay):
    * the augmented original+continuation corpus and the tail==head
    * phrase join.
    */
  private val stitchOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |    array_to_string(
      |      list_slice(string_split(text, ' '),
      |        len(string_split(text, ' ')) - 7, len(string_split(text, ' ')))
      |      || list_slice(string_split(text, ' '), 1, 12), ' ')
      |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |b AS (SELECT doc_id, string_split(text, ' ') AS w,
      |    len(string_split(text, ' ')) AS n FROM corpus),
      |e AS (SELECT * FROM b WHERE n >= 8),
      |tails AS (SELECT doc_id AS doc_a,
      |    array_to_string(list_slice(w, n - 7, n), ' ') AS phrase FROM e),
      |heads AS (SELECT doc_id AS doc_b,
      |    array_to_string(list_slice(w, 1, 8), ' ') AS phrase FROM e)
      |SELECT doc_a, doc_b, phrase
      |FROM tails JOIN heads USING (phrase)
      |WHERE doc_a <> doc_b ORDER BY doc_a, doc_b""".stripMargin

  private[queries] val contaminationOracle: String =
    s"""WITH ev AS (SELECT DISTINCT unnest(list_distinct(${Dedup.shinglesSql("text", 8)})) AS g
       |  FROM documents WHERE source = 'src0'),
       |cg AS (SELECT doc_id, unnest(list_distinct(${Dedup.shinglesSql("text", 8)})) AS g
       |  FROM documents WHERE source <> 'src0'),
       |tot AS (SELECT doc_id, CAST(len(list_distinct(${Dedup.shinglesSql("text", 8)})) AS BIGINT) AS n_grams
       |  FROM documents WHERE source <> 'src0'),
       |hit AS (SELECT doc_id, count(*) AS n_contaminated
       |  FROM cg JOIN ev USING(g) GROUP BY doc_id)
       |SELECT tot.doc_id, n_grams,
       |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       |  round(CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_grams, 6)
       |    AS contamination_ratio
       |FROM tot LEFT JOIN hit USING(doc_id) ORDER BY doc_id""".stripMargin

  /** `v` and `n`: every embedding as doubles with its label and L2 norm. */
  private[queries] val labelledVecCtes: String =
    """v AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, label, e,
      |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v)""".stripMargin

  /** q264's 7-NN label vote: hold-out u, labelled l, cosines s, the
    * top-7 votes and their ranking p.
    */
  private[queries] val knnCtes: String =
    """u AS (SELECT * FROM n WHERE vec_id % 5 = 0),
      |l AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
      |s AS (SELECT u.vec_id AS id, l.label AS lab,
      |    list_sum(list_transform(range(64), i -> u.e[i+1] * l.e[i+1]))
      |      / (u.nrm * l.nrm) AS cos
      |  FROM u CROSS JOIN l),
      |tk AS (SELECT id, lab FROM
      |  (SELECT id, lab, row_number() OVER
      |     (PARTITION BY id ORDER BY cos DESC, lab) AS rn FROM s)
      |  WHERE rn <= 7),
      |vt AS (SELECT id, lab, count(*) AS votes FROM tk GROUP BY id, lab),
      |p AS (SELECT id, lab, votes, row_number() OVER
      |    (PARTITION BY id ORDER BY votes DESC, lab) AS rn FROM vt)""".stripMargin

  /** Gopher shape stats per doc: words, mean word length, stop-word ratio. */
  private[queries] val gopherShapeCte: String =
    """q AS (SELECT doc_id,
      |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
      |    CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
      |      / len(string_split(text,' ')) AS avg_word_len,
      |    CAST(len(list_filter(string_split(text,' '),
      |      x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
      |      / len(string_split(text,' ')) AS stop_ratio
      |  FROM documents)""".stripMargin

  /** Gopher repetition stats: top-2-gram counts t2 and the duplicate
    * 5-/10-gram ratios d5, d10.
    */
  private[queries] val repetitionCtes: String =
    s"""g2 AS (SELECT doc_id, unnest(${Dedup.shinglesSql("text", 2)}) AS g FROM documents),
       |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
       |t2 AS (SELECT doc_id, g, c,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
       |  FROM c2),
       |g5 AS (SELECT doc_id, unnest(${Dedup.shinglesSql("text", 5)}) AS g FROM documents),
       |d5 AS (SELECT doc_id, round(CAST(count(*) - count(DISTINCT g) AS DOUBLE)
       |    / count(*), 6) AS dup5_ratio FROM g5 GROUP BY doc_id),
       |g10 AS (SELECT doc_id, unnest(${Dedup.shinglesSql("text", 10)}) AS g FROM documents),
       |d10 AS (SELECT doc_id, round(CAST(count(*) - count(DISTINCT g) AS DOUBLE)
       |    / count(*), 6) AS dup10_ratio FROM g10 GROUP BY doc_id)""".stripMargin

  /** Greedy 512-token packing of t(doc_id, source, n_tok) in (source,
    * doc_id) order.
    */
  private[queries] val packTail: String =
    """c AS (SELECT doc_id, source, n_tok,
      |    CAST(coalesce(sum(n_tok) OVER (ORDER BY source, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_tok FROM t)
      |SELECT doc_id, source, n_tok, start_tok,
      |  start_tok // 512 AS first_seq,
      |  (start_tok + n_tok - 1) // 512 AS last_seq
      |FROM c ORDER BY doc_id""".stripMargin

  /** Drops the words covered by `cov`(doc_id, wi) from each doc in `d`. */
  private[queries] val spanKeepTail: String =
    """w AS (SELECT doc_id, t.i - 1 AS wi, ws[t.i] AS w
      |  FROM d, unnest(range(1, len(ws) + 1)) t(i)),
      |kept AS (SELECT w.doc_id,
      |    array_to_string(list(w.w ORDER BY w.wi), ' ') AS clean_text,
      |    count(*) AS n_kept
      |  FROM w LEFT JOIN cov ON cov.doc_id = w.doc_id AND cov.wi = w.wi
      |  WHERE cov.wi IS NULL GROUP BY w.doc_id)
      |SELECT d.doc_id, coalesce(clean_text, '') AS clean_text,
      |  CAST(len(ws) - coalesce(n_kept, 0) AS BIGINT) AS n_removed
      |FROM d LEFT JOIN kept USING(doc_id) ORDER BY doc_id""".stripMargin

  /** q285's generated rasters px(doc_id, w, h, x, y, v), one per doc. */
  private[queries] val rasterPxCtes: String =
    """xs AS (SELECT unnest(range(0, 24)) AS x),
      |     ys AS (SELECT unnest(range(0, 21)) AS y),
      |px AS (
      |  SELECT d.doc_id, 16 + d.doc_id % 8 AS w, 16 + d.doc_id % 5 AS h,
      |    xs.x, ys.y,
      |    (d.doc_id * 53 + (3 + d.doc_id % 9) * xs.x
      |       + (5 + d.doc_id % 7) * ys.y
      |       + (2 + d.doc_id % 4) * xs.x * xs.x
      |       + (3 + d.doc_id % 6) * ys.y * ys.y) % 256 AS v
      |  FROM documents d, xs, ys
      |  WHERE xs.x < 16 + d.doc_id % 8 AND ys.y < 16 + d.doc_id % 5)""".stripMargin
}
