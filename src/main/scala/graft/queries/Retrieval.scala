package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.MlAggregators
import graft.functions.PixieFunctions.idiv
import graft.ops.{Dedup, Similarity, TextOps, Multimodal, SemIndex, PhashIndex}
import Indexes.{refitCtes, refitLife, sq8OracleSql}
import MediaLifecycle.{semCtes, semLife}
import NorthStar.{K, BANDS, NGRAM}
import Q._
import TextCuration.sigBandCtes

/** Retrieval gates: BM25, phrase search and RRF hybrid fusion; ANN over
  * IVF-PQ, SQ8 and binary quantization; embedding analytics (PCA,
  * outliers, silhouette); mined pairs and triplets; semantic IVF search
  * and recall curves off the lifecycle indexes; perceptual and audio
  * search with its banding design curves, measured and probed.
  */
object Retrieval extends Gates {

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

  /** Cosines of the first ten vectors (the queries) against every other
    * vector: v, n, q and `name`(qid, nid, cos).
    */
  private def queryCos(name: String): String =
    s"""v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n AS (SELECT vec_id, e,
      |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
      |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n
      |  WHERE vec_id < 10),
      |$name AS (SELECT qid, vec_id AS nid,
      |    list_sum(list_transform(range(64), i -> qe[i+1] * e[i+1]))
      |      / (qn * nrm) AS cos
      |  FROM q, n WHERE vec_id <> qid)""".stripMargin

  /** The exact-cosine + SQ8 ranking CTEs shared by q332 (fusion) and
    * q341 (rank agreement).
    */
  private val hybridCtes: String =
    s"""${queryCos("cs")},
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

  private val queryCosCtes: String = queryCos("s")

  /** The q525 IVF probe over the grown index idx3: queries qs (vec_id % 8
      * = 6), their two nearest cells qc, and the cosines sc in those cells.
      */
  private val semProbeCtes: String =
    """qs AS (SELECT vec_id AS qid, e,
      |    sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
      |  FROM v WHERE vec_id % 8 = 6),
      |qc AS (SELECT qid, CAST(sid AS INT) AS cell FROM (
      |  SELECT qs.qid, sn.sid, row_number() OVER (PARTITION BY qs.qid
      |      ORDER BY list_sum(list_transform(range(64),
      |        i -> qs.e[i+1] * se[i+1])) / (qs.qn * snrm) DESC, sid)
      |      AS rn
      |  FROM qs, sn) WHERE rn <= 2),
      |sc AS (SELECT q.qid, x.vec_id,
      |    list_sum(list_transform(range(64), i -> q.e[i+1] * x.e[i+1]))
      |      / (q.qn * x.nrm) AS cos
      |  FROM qc JOIN qs q USING (qid) JOIN idx3 x ON x.cell = qc.cell)""".stripMargin

  /** Two persisted perceptual indexes (image dHash over PAIR-grouped
    * synthetic payloads, audio energy fingerprints over the text
    * bytes — the q542-family conventions) built from the %4 ∈ {0,1,2}
    * corpus, with the %4 == 3 docs as the held-out query set: an
    * image query's pair partner (doc_id − 1, %4 == 2) is IN the index
    * with an IDENTICAL payload, so every query carries a planted
    * distance-0 neighbor the banded search MUST surface (the
    * pigeonhole witness the recall card certifies at 1e6 ppm).
    */
  private[graft] val searchLife = Fixture.rooted("graft_ph_search_") { (s, d, root) =>
    val pImg = PhashIndex.Paths(s"$root/img")
    val pAud = PhashIndex.Paths(s"$root/aud")
    val docs = t(s, d, "documents").select("doc_id", "text")
    val pngUdf = Multimodal.pngVarUdf
    def imgHash(src: org.apache.spark.sql.DataFrame) =
      Multimodal.dHash(Multimodal.decodeCells(
        src.select(col("doc_id").as("media_id"),
          pngUdf(col("doc_id") - pmod(col("doc_id"), lit(2L)))
            .as("payload"))))
    def audHash(src: org.apache.spark.sql.DataFrame) =
      Multimodal.audioFingerprint(
        src.select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload")))
    val idx = docs.where(pmod(col("doc_id"), lit(4L)).isin(0L, 1L, 2L))
    val qs = docs.where(pmod(col("doc_id"), lit(4L)) === 3L)
    PhashIndex.write(s, imgHash(idx), pImg)
    PhashIndex.write(s, audHash(idx), pAud)
    (pImg, pAud, imgHash(qs).localCheckpoint(true),
      audHash(qs).localCheckpoint(true))
  }

  /** The image candidates' bit match: the same cell of both hashes. */
  private val imgKey = "y.cy = x.cy\n      AND y.cx = x.cx"

  /** Exact Hamming distance of every candidate in cS over `bits`, bits
    * matched on `key`: dS(qid, cid, dist).
    */
  private def distCte(bits: String, key: String): String =
    s"""dS AS (SELECT c.qid, c.cid,
       |    CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |      AS BIGINT) AS dist
       |  FROM cS c JOIN $bits x ON x.doc_id = c.qid
       |    JOIN $bits y ON y.doc_id = c.cid AND $key
       |  GROUP BY 1, 2)""".stripMargin

  /** Query/index split and the probed candidates cS: SOME band of
    * `bands` within Hamming 1 (the engine's 1-bit bucket variants).
    */
  private def probedCands(bands: String): String =
    s"""qsS AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 3),
       |ixS AS (SELECT doc_id FROM documents
       |  WHERE doc_id % 4 IN (0, 1, 2)),
       |cS AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS cid
       |  FROM $bands a JOIN $bands b ON a.band = b.band
       |    AND bit_count(xor(CAST(a.bv AS BIGINT),
       |      CAST(b.bv AS BIGINT))) <= 1
       |  WHERE a.doc_id IN (SELECT doc_id FROM qsS)
       |    AND b.doc_id IN (SELECT doc_id FROM ixS))""".stripMargin

  /** Measured banding curve: every (query, index) pair's exact distance
    * over the bit self-join `join`, candidacy = membership in `cand`.
    */
  private def curveSql(join: String, cand: String): String =
    s"""bfS AS (SELECT x.doc_id AS qid, y.doc_id AS cid,
       |    CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |      AS BIGINT) AS dist
       |  FROM $join
       |  WHERE x.doc_id IN (SELECT doc_id FROM qsS)
       |    AND y.doc_id IN (SELECT doc_id FROM ixS)
       |  GROUP BY 1, 2)
       |SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN c.cid IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_cand,
       |  (CAST(sum(CASE WHEN c.cid IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
       |    AS cand_ppm
       |FROM bfS b LEFT JOIN $cand c ON c.qid = b.qid AND c.cid = b.cid
       |GROUP BY dist ORDER BY dist""".stripMargin

  /** Query/index split + banded candidates + exact Hamming distances
    * for the image signatures ([[MediaLifecycle.phashCtes]] raw
    * re-derivation, pair grouping).
    */
  private def imgSearchCtes: String =
    s"""${MediaLifecycle.phashCtes("(d.doc_id - d.doc_id % 2)")},
       |qsS AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 3),
       |ixS AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (0, 1, 2)),
       |cS AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS cid
       |  FROM pbands a JOIN pbands b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id IN (SELECT doc_id FROM qsS)
       |    AND b.doc_id IN (SELECT doc_id FROM ixS)),
       |${distCte("bits", imgKey)}""".stripMargin

  /** The audio analog over [[MediaLifecycle.audioCtes]]' abands/abits. */
  private def audSearchCtes: String =
    s"""${MediaLifecycle.audioCtes()},
       |qsS AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 3),
       |ixS AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (0, 1, 2)),
       |cS AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS cid
       |  FROM abands a JOIN abands b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id IN (SELECT doc_id FROM qsS)
       |    AND b.doc_id IN (SELECT doc_id FROM ixS)),
       |${distCte("abits", "y.i = x.i")}""".stripMargin

  private def searchSql(ctes: String): String =
    s"""WITH $ctes
       |SELECT qid, CAST(rn AS INT) AS rank, cid AS media_id, dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY dist, cid) AS rn FROM dS)
       |WHERE rn <= 5 ORDER BY qid, rank""".stripMargin

  /** Brute-force top-5 over the full query × index signature cross
    * (the exact baseline), recall = surfaced fraction in exact ppm.
    */
  private def recallSql(ctes: String, bits: String,
                        bitJoin: String): String =
    s"""WITH $ctes,
       |bfS AS (SELECT x.doc_id AS qid, y.doc_id AS cid,
       |    CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |      AS BIGINT) AS dist
       |  FROM $bits x JOIN $bits y ON $bitJoin
       |  WHERE x.doc_id IN (SELECT doc_id FROM qsS)
       |    AND y.doc_id IN (SELECT doc_id FROM ixS)
       |  GROUP BY 1, 2),
       |exS AS (SELECT qid, cid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY dist, cid) AS rn FROM bfS) WHERE rn <= 5),
       |apS AS (SELECT qid, cid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY dist, cid) AS rn FROM dS) WHERE rn <= 5)
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS k_exact,
       |  CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  (CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
       |    AS recall_ppm
       |FROM exS e LEFT JOIN apS a ON a.qid = e.qid AND a.cid = e.cid
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin

  lazy val gates: Seq[Gate] = Seq(
    // IVFADC (q246's PQ composed with coarse cells): cell quantizer and
    // per-subspace RESIDUAL codebooks both follow the init-only
    // kmeansFit contract (iters=0, canonical sorted picks) so the
    // entire index — cells, residuals, codes, probes, ADC — re-derives
    // in SQL. nProbe=2 of 8 cells; parity config, no rerank (the spec
    // exercises the Lloyd-refined + rerank deployment config).
    Gate("q275_ann_ivfpq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (m, sd, ksub, ncell) = (4, 16, 8, 8)
      val cells = MlAggregators.fitCentroids(emb,
        col("embedding").cast("array<double>"), ncell)
      val resid = Similarity.l2Residuals(emb, "vec_id", "embedding", cells)
      val cbRow = resid.agg(
        MlAggregators.kmeansFit(
          slice(col("residual"), 1, sd), ksub, iters = 0).as("m0"),
        (1 until m).map(j => MlAggregators.kmeansFit(
          slice(col("residual"), j * sd + 1, sd), ksub,
          iters = 0).as(s"m$j")): _*).head()
      val cbs = (0 until m).map(j => MlAggregators.kmeansCentroids(cbRow.getString(j)))
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
          "embedding", 5, 64, cells, 2, cbs)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    }, oracle = {
      // IVFADC oracle: the q246 per-subspace canonical-pick re-derivation,
      // extended with the L2 cell quantizer and residual stage. Every tie
      // break (first-min encode, probe order, rank) and every IEEE sum
      // order (index-ascending within a subspace, subspace-ascending
      // across) mirrors the Spark expressions exactly.
      val m = 4; val sd = 16; val ksub = 8; val ncell = 8; val nprobe = 2
      val subCtes = (0 until m).map { j =>
        s"""rsub$j AS (SELECT vec_id, re[${j * sd + 1}:${(j + 1) * sd}] AS se FROM resid),
           |rcv$j AS (SELECT se, row_number() OVER (ORDER BY se) AS rn
           |  FROM (SELECT DISTINCT se FROM rsub$j) ORDER BY se LIMIT 128),
           |rcc$j AS (SELECT count(*) AS c FROM rcv$j),
           |seed$j AS (SELECT r.i + 1 AS sid,
           |    list_transform(rcv$j.se, x -> round_even(x * 1000000, 0) / 1000000) AS ce
           |  FROM range($ksub) r(i), rcc$j, rcv$j
           |  WHERE rcv$j.rn = (r.i * rcc$j.c) // $ksub + 1),
           |rcd$j AS (SELECT s.vec_id, d.sid,
           |    list_sum(list_transform(range($sd),
           |      i -> (s.se[i+1] - d.ce[i+1]) * (s.se[i+1] - d.ce[i+1]))) AS dist
           |  FROM rsub$j s, seed$j d),
           |code$j AS (SELECT vec_id, sid AS code FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
           |   FROM rcd$j) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val adcJ = (0 until m).map { j =>
        s"""list_sum(list_transform(range($sd),
           |      i -> (cand.re[${j * sd} + i + 1] - s$j.ce[i+1])
           |         * (cand.re[${j * sd} + i + 1] - s$j.ce[i+1])))""".stripMargin
      }.mkString("\n    + ")
      val adcJoins = (0 until m)
        .map(j => s"JOIN seed$j s$j ON s$j.sid = cand.k$j").mkString("\n  ")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cv AS (SELECT e, row_number() OVER (ORDER BY e) AS rn
         |  FROM (SELECT DISTINCT e FROM v) ORDER BY e LIMIT 128),
         |cc AS (SELECT count(*) AS c FROM cv),
         |cseed AS (SELECT r.i + 1 AS sid,
         |    list_transform(cv.e, x -> round_even(x * 1000000, 0) / 1000000) AS ce
         |  FROM range($ncell) r(i), cc, cv WHERE cv.rn = (r.i * cc.c) // $ncell + 1),
         |cd AS (SELECT v.vec_id, s.sid,
         |    list_sum(list_transform(range(64),
         |      i -> (v.e[i+1] - s.ce[i+1]) * (v.e[i+1] - s.ce[i+1]))) AS dist
         |  FROM v, cseed s),
         |cellof AS (SELECT vec_id, sid AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
         |   FROM cd) WHERE rn = 1),
         |resid AS (SELECT v.vec_id, c.cell,
         |    list_transform(range(64), i -> v.e[i+1] - s.ce[i+1]) AS re
         |  FROM v JOIN cellof c USING (vec_id) JOIN cseed s ON s.sid = c.cell),
         |$subCtes,
         |codesall AS (SELECT c.vec_id, c.cell,
         |    ${(0 until m).map(j => s"c$j.code AS k$j").mkString(", ")}
         |  FROM cellof c ${(0 until m)
               .map(j => s"JOIN code$j c$j ON c$j.vec_id = c.vec_id")
               .mkString(" ")}),
         |probe AS (SELECT vec_id AS qid, sid AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
         |   FROM cd WHERE vec_id < 10) WHERE rn <= $nprobe),
         |qre AS (SELECT p.qid, p.cell,
         |    list_transform(range(64), i -> v.e[i+1] - s.ce[i+1]) AS re
         |  FROM probe p JOIN v ON v.vec_id = p.qid JOIN cseed s ON s.sid = p.cell),
         |cand AS (SELECT q.qid, q.re, ca.vec_id AS nid,
         |    ${(0 until m).map(j => s"ca.k$j").mkString(", ")}
         |  FROM qre q JOIN codesall ca ON ca.cell = q.cell AND ca.vec_id <> q.qid),
         |adc AS (SELECT cand.qid, cand.nid,
         |    $adcJ AS adist
         |  FROM cand
         |  $adcJoins)
         |SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank
         |      FROM adc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
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

    // SQ8 scalar-quantized ANN: uint8 codes vs per-dim bounds,
    // asymmetric distance scan, top-5 (queries = vec_id < 10).
    Gate("q326_ann_sq8", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    }, oracle = sq8OracleSql("TRUE")),

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

    // IVF top-k retrieval served off the grown semantic index (the
    // admission artifact doubling as the search structure): queries =
    // vec_id%8==6, k=5, nprobe=2 — probed-cell-exact answers vs the
    // oracle's re-derivation of seeds, cells, and ranking.
    Gate("q525_sem_search", (s, dir) =>
      graft.ops.SemIndex.search(s, semLife(s, dir)._1,
          t(s, dir, "embeddings")
            .where(pmod(col("vec_id"), lit(8L)) === 6L)
            .select("vec_id", "embedding"),
          k = 5, nprobe = 2)
        .orderBy("qid", "rank"), oracle =
      s"""WITH $semCtes,
         |$semProbeCtes
         |SELECT qid, CAST(rank AS INT) AS rank, vec_id,
         |  round(cos, 6) + 0.0 AS cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rank FROM sc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // Recall@5 of the nprobe=2 IVF search vs exact brute force over
    // the same grown index — the ANN operating-point evidence, exact
    // per-query ppm.
    Gate("q529_sem_search_recall", (s, dir) =>
      graft.ops.SemIndex.searchRecall(s, semLife(s, dir)._1,
          t(s, dir, "embeddings")
            .where(pmod(col("vec_id"), lit(8L)) === 6L)
            .select("vec_id", "embedding"),
          k = 5, nprobe = 2)
        .orderBy("qid"), oracle =
      s"""WITH $semCtes,
         |$semProbeCtes,
         |approx AS (SELECT qid, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rank FROM sc) WHERE rank <= 5),
         |scb AS (SELECT q.qid, x.vec_id,
         |    list_sum(list_transform(range(64), i -> q.e[i+1] * x.e[i+1]))
         |      / (q.qn * x.nrm) AS cos
         |  FROM qs q, idx3 x),
         |exact AS (SELECT qid, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rank FROM scb) WHERE rank <= 5)
         |SELECT e.qid, count(*) AS k_exact,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000 // count(*) AS recall_ppm
         |FROM exact e LEFT JOIN approx a USING (qid, vec_id)
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin),

    // The MinHash-LSH banding design curve at the family's k=16: every
    // divisor banding's collision probability across the similarity
    // grid + its effective threshold — the numbers behind the gate's
    // (4 bands × 4 rows) choice and the grow-bits-with-log(n) rule.
    Gate("q536_lsh_design_curve", (s, dir) =>
      graft.ops.Dedup.lshDesignCurve(s, 16,
          (1L to 19L).map(_ * 50000L))
        .orderBy("bands", "s_ppm"), oracle =
      """WITH cfg AS (SELECT CAST(b AS INT) AS bands,
        |    CAST(16 // b AS INT) AS rows_per_band
        |  FROM range(1, 17) r(b) WHERE 16 % b = 0),
        |grid AS (SELECT CAST(s AS BIGINT) AS s_ppm
        |  FROM range(50000, 950001, 50000) g(s))
        |SELECT bands, rows_per_band, s_ppm,
        |  round(1.0 - power(1.0 - power(s_ppm / 1000000.0,
        |    rows_per_band), bands), 6) + 0.0 AS p_collision,
        |  CAST(floor(power(1.0 / bands, 1.0 / rows_per_band)
        |    * 1000000.0 + 0.5) AS BIGINT) AS threshold_ppm
        |FROM cfg, grid ORDER BY bands, s_ppm""".stripMargin),

    // The recall-vs-nprobe tuning curve over the grown semantic
    // index (endpoint nprobe=NCells is exact: recall_ppm = 1e6).
    Gate("q532_sem_recall_curve", (s, dir) =>
      graft.ops.SemIndex.recallCurve(s, semLife(s, dir)._1,
          t(s, dir, "embeddings")
            .where(pmod(col("vec_id"), lit(8L)) === 6L)
            .select("vec_id", "embedding"),
          k = 5)
        .orderBy("nprobe"), oracle =
      s"""WITH $semCtes,
         |qs AS (SELECT vec_id AS qid, e,
         |    sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
         |  FROM v WHERE vec_id % 8 = 6),
         |qr AS (SELECT qid, CAST(sid AS INT) AS cell,
         |    CAST(rn AS INT) AS crank FROM (
         |  SELECT qs.qid, sn.sid, row_number() OVER (PARTITION BY qs.qid
         |      ORDER BY list_sum(list_transform(range(64),
         |        i -> qs.e[i+1] * se[i+1])) / (qs.qn * snrm) DESC, sid)
         |      AS rn
         |  FROM qs, sn)),
         |pairs AS (SELECT q.qid, x.vec_id,
         |    list_sum(list_transform(range(64), i -> q.e[i+1] * x.e[i+1]))
         |      / (q.qn * x.nrm) AS cos, qr.crank
         |  FROM qs q JOIN qr ON qr.qid = q.qid
         |    JOIN idx3 x ON x.cell = qr.cell),
         |nps AS (SELECT CAST(unnest(range(1, ${SemIndex.NCells + 1}))
         |    AS INT) AS np),
         |vis AS (SELECT np, qid, vec_id, cos FROM pairs
         |  JOIN nps ON crank <= np),
         |topk AS (SELECT np, qid, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY np, qid
         |    ORDER BY cos DESC, vec_id) AS r FROM vis) WHERE r <= 5),
         |ex AS (SELECT qid, vec_id FROM topk
         |  WHERE np = ${SemIndex.NCells}),
         |kt AS (SELECT CAST(count(*) AS BIGINT) AS k_total FROM ex),
         |h AS (SELECT np, CAST(count(*) AS BIGINT) AS hits
         |  FROM topk JOIN ex USING (qid, vec_id) GROUP BY np)
         |SELECT np AS nprobe, hits, k_total,
         |  hits * 1000000 // k_total AS recall_ppm
         |FROM h, kt ORDER BY nprobe""".stripMargin),

    // IVF search served off the occupancy-refit index — the cutover
    // leaves a serving artifact (same queries/k/nprobe as q525).
    Gate("q556_refit_search", (s, dir) =>
      SemIndex.search(s, refitLife(s, dir)._1,
          t(s, dir, "embeddings")
            .where(pmod(col("vec_id"), lit(8L)) === 6L)
            .select("vec_id", "embedding"),
          k = 5, nprobe = 2)
        .orderBy("qid", "rank"), oracle =
      // IVF retrieval SERVED off the refit index (the same queries as
      // q525, nprobe = 2, against the ⌈n/16⌉-cell re-bin): the
      // maintenance cutover leaves a fully serving search artifact.
      s"""WITH ${MediaLifecycle.semCtes},
         |$refitCtes,
         |qs AS (SELECT vec_id AS qid, e,
         |    sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
         |  FROM v WHERE vec_id % 8 = 6),
         |qc AS (SELECT qid, cell FROM (
         |  SELECT qs.qid, snr.sid AS cell,
         |      row_number() OVER (PARTITION BY qs.qid
         |      ORDER BY list_sum(list_transform(range(64),
         |        i -> qs.e[i+1] * se[i+1])) / (qs.qn * snrm) DESC, sid)
         |      AS rn
         |  FROM qs, snr) WHERE rn <= 2),
         |sc AS (SELECT q.qid, x.vec_id,
         |    list_sum(list_transform(range(64), i -> q.e[i+1] * x.e[i+1]))
         |      / (q.qn * x.nrm) AS cos
         |  FROM qc JOIN qs q USING (qid)
         |    JOIN cellr x ON x.cell = qc.cell)
         |SELECT qid, CAST(rank AS INT) AS rank, vec_id,
         |  round(cos, 6) + 0.0 AS cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rank FROM sc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // Image top-5: banded candidates, exact-Hamming rank off the
    // stored signatures.
    Gate("q563_phash_search", (s, dir) => {
      val (pi, _, qi, _) = searchLife(s, dir)
      PhashIndex.search(s, pi, qi, 5).orderBy("qid", "rank")
    }, oracle = searchSql(imgSearchCtes)),

    // Recall@5 of the banded image search vs exact brute force over
    // the same index — the planted distance-0 pair partners must all
    // be surfaced.
    Gate("q564_phash_search_recall", (s, dir) => {
      val (pi, _, qi, _) = searchLife(s, dir)
      PhashIndex.searchRecall(s, pi, qi, 5).orderBy("qid")
    }, oracle =
      recallSql(imgSearchCtes, "bits", "y.cy = x.cy AND y.cx = x.cx")),

    // The SAME search machinery over the audio index.
    Gate("q565_audio_search", (s, dir) => {
      val (_, pa, _, qa) = searchLife(s, dir)
      PhashIndex.search(s, pa, qa, 5).orderBy("qid", "rank")
    }, oracle = searchSql(audSearchCtes)),

    Gate("q566_audio_search_recall", (s, dir) => {
      val (_, pa, _, qa) = searchLife(s, dir)
      PhashIndex.searchRecall(s, pa, qa, 5).orderBy("qid")
    }, oracle =
      recallSql(audSearchCtes, "abits", "y.i = x.i")),

    // The banding design curve — pure closed-form arithmetic, no
    // table input (the disclosure the PhashIndex docstring cites).
    Gate("q567_banding_curve", (s, dir) =>
      PhashIndex.designCurve(s).orderBy("dist"), oracle =
      // Exact binomials by the C(n,d+1) = C(n,d)(n−d)/(d+1) integer
      // recurrence in HUGEINT; inclusion–exclusion over clean bands.
      s"""WITH RECURSIVE binom(n, d, v) AS (
         |  SELECT n, 0, CAST(1 AS HUGEINT)
         |    FROM (VALUES (64), (48), (32), (16), (0)) t(n)
         |  UNION ALL
         |  SELECT n, d + 1, v * (n - d) // (d + 1) FROM binom
         |    WHERE d < n),
         |ds AS (SELECT unnest(range(0, 65)) AS d)
         |SELECT CAST(ds.d AS BIGINT) AS dist,
         |  CAST(((4 * coalesce(b48.v, 0) - 6 * coalesce(b32.v, 0)
         |    + 4 * coalesce(b16.v, 0) - coalesce(b0.v, 0)) * 1000000)
         |    // b64.v AS BIGINT) AS collide_ppm
         |FROM ds
         |JOIN binom b64 ON b64.n = 64 AND b64.d = ds.d
         |LEFT JOIN binom b48 ON b48.n = 48 AND b48.d = ds.d
         |LEFT JOIN binom b32 ON b32.n = 32 AND b32.d = ds.d
         |LEFT JOIN binom b16 ON b16.n = 16 AND b16.d = ds.d
         |LEFT JOIN binom b0 ON b0.n = 0 AND b0.d = ds.d
         |ORDER BY dist""".stripMargin),

    // The MEASURED candidate rate per true Hamming distance over the
    // fixture's image signatures — the empirical curve published next
    // to q567's theory (d <= 3 must read 1e6 ppm in both).
    Gate("q579_banding_measured", (s, dir) => {
      val (pi, _, qi, _) = searchLife(s, dir)
      PhashIndex.bandingMeasured(s, pi, qi).orderBy("dist")
    }, oracle =
      // Measured banding curve: all (query, index) pairs' exact
      // distances, candidacy = membership in the banded cS pair set.
      s"""WITH $imgSearchCtes,
         |${curveSql("bits x JOIN bits y ON y.cy = x.cy AND y.cx = x.cx",
            "cS")}""".stripMargin),

    // The audio modality's measured curve — energy fingerprints are
    // MORE structured than dHashes, so its empirical decay differs
    // from both the theory and the image curve; publishing all three
    // is the complete banding disclosure.
    Gate("q583_banding_measured_audio", (s, dir) => {
      val (_, pa, _, qa) = searchLife(s, dir)
      PhashIndex.bandingMeasured(s, pa, qa).orderBy("dist")
    }, oracle =
      s"""WITH $audSearchCtes,
         |${curveSql("abits x JOIN abits y ON y.i = x.i", "cS")}""".stripMargin),

    // The ALTERNATIVE banding config's closed-form curve (8 bands ×
    // 8 bits over the same 64 signature bits) — the comparison a
    // deployment reads before picking 4×16: 8×8 is exact to d ≤ 7
    // but admits far more candidates at every larger distance (the
    // recall/cost trade the two curves quantify together).
    Gate("q586_banding_curve_8x8", (s, dir) =>
      PhashIndex.designCurve(s, bands = 8, bitsPerBand = 8)
        .orderBy("dist"), oracle =
      // The 8×8 config: same inclusion–exclusion machinery with C(8,j)
      // coefficients and C(64−8j, d) clean-band terms, all from one
      // recursive binomial CTE.
      s"""WITH RECURSIVE binom(n, d, v) AS (
         |  SELECT n, 0, CAST(1 AS HUGEINT)
         |    FROM (VALUES (64), (56), (48), (40), (32), (24), (16),
         |      (8), (0)) t(n)
         |  UNION ALL
         |  SELECT n, d + 1, v * (n - d) // (d + 1) FROM binom
         |    WHERE d < n),
         |ds AS (SELECT unnest(range(0, 65)) AS d),
         |terms AS (SELECT ds.d,
         |    CAST(CASE WHEN j.j % 2 = 1 THEN 1 ELSE -1 END AS HUGEINT)
         |      * cb.v * coalesce(bn.v, 0) AS t
         |  FROM ds
         |  CROSS JOIN (SELECT unnest(range(1, 9)) AS j) j
         |  JOIN binom cb ON cb.n = 8 AND cb.d = j.j
         |  LEFT JOIN binom bn ON bn.n = 64 - 8 * j.j AND bn.d = ds.d),
         |num AS (SELECT d, sum(t) AS nm FROM terms GROUP BY d)
         |SELECT CAST(num.d AS BIGINT) AS dist,
         |  CAST((num.nm * 1000000) // b64.v AS BIGINT) AS collide_ppm
         |FROM num JOIN binom b64 ON b64.n = 64 AND b64.d = num.d
         |ORDER BY dist""".stripMargin),

    // MULTI-PROBE top-5 (probe radius 1): per band also the 16 1-bit
    // bucket variants — candidates now certain for true distance ≤ 7
    // (vs 3), the q567 curve's prescribed expansion.
    Gate("q595_phash_search_probes", (s, dir) => {
      val (pi, _, qi, _) = searchLife(s, dir)
      PhashIndex.search(s, pi, qi, 5, probes = 1)
        .orderBy("qid", "rank")
    }, oracle =
      // Probed candidates: a pair is a candidate when SOME band's
      // 16-bit values are within Hamming 1 (bit_count(xor) ≤ 1 — the
      // engine's explicit 1-bit bucket variants, closed-form).
      {
        val probed =
          s"""${MediaLifecycle.phashCtes("(d.doc_id - d.doc_id % 2)")},
             |${probedCands("pbands")},
             |${distCte("bits", imgKey)}""".stripMargin
        searchSql(probed)
      }),

    // Recall@5 at probe radius 1 vs the same exact brute force —
    // read next to q564 (radius 0) for the recall delta the probe
    // expansion buys at 17× bucket probes.
    Gate("q596_phash_probe_recall", (s, dir) => {
      val (pi, _, qi, _) = searchLife(s, dir)
      PhashIndex.searchRecall(s, pi, qi, 5, probes = 1).orderBy("qid")
    }, oracle = {
      val probed =
        s"""${MediaLifecycle.phashCtes("(d.doc_id - d.doc_id % 2)")},
           |${probedCands("pbands")},
           |${distCte("bits", imgKey)}""".stripMargin
      recallSql(probed, "bits", "y.cy = x.cy AND y.cx = x.cx")
    }),

    // The PROBED banding design curve (radius 1, 4×16) — the
    // closed-form disclosure behind q595/q596: P[candidate] = 1 until
    // d = 7 (pigeonhole at radius 1), then the complementary
    // inclusion–exclusion decay; published next to q567 so the
    // radius trade is quantified end to end.
    Gate("q597_banding_curve_probed", (s, dir) =>
      PhashIndex.designCurveProbed(s).orderBy("dist"), oracle =
      // A(d) = Σ_j (−1)^j C(4,j) Σ_t C(j,t) 16^t C(64−16j, d−t) counts
      // the NON-candidate placements (every band ≥ 2 dirty bits);
      // collide_ppm = ⌊(C(64,d) − A) · 1e6 / C(64,d)⌋ — exact HUGEINT
      // binomials by the same integer recurrence as q567.
      s"""WITH RECURSIVE binom(n, d, v) AS (
         |  SELECT n, 0, CAST(1 AS HUGEINT)
         |    FROM (VALUES (64), (48), (32), (16), (4), (3), (2), (1),
         |      (0)) t(n)
         |  UNION ALL
         |  SELECT n, d + 1, v * (n - d) // (d + 1) FROM binom
         |    WHERE d < n),
         |p16(t, pv) AS (SELECT * FROM (VALUES (0, CAST(1 AS HUGEINT)),
         |  (1, CAST(16 AS HUGEINT)), (2, CAST(256 AS HUGEINT)),
         |  (3, CAST(4096 AS HUGEINT)), (4, CAST(65536 AS HUGEINT))) x),
         |ds AS (SELECT unnest(range(0, 65)) AS d),
         |jt AS (SELECT jj.j, tt.t
         |  FROM (SELECT unnest(range(0, 5)) AS j) jj
         |  CROSS JOIN (SELECT unnest(range(0, 5)) AS t) tt
         |  WHERE tt.t <= jj.j),
         |terms AS (SELECT ds.d,
         |    CAST(CASE WHEN jt.j % 2 = 0 THEN 1 ELSE -1 END AS HUGEINT)
         |      * cbj.v * cjt.v * p16.pv * coalesce(rest.v, 0) AS tm
         |  FROM ds CROSS JOIN jt
         |  JOIN binom cbj ON cbj.n = 4 AND cbj.d = jt.j
         |  JOIN binom cjt ON cjt.n = jt.j AND cjt.d = jt.t
         |  JOIN p16 ON p16.t = jt.t
         |  LEFT JOIN binom rest ON rest.n = 64 - 16 * jt.j
         |    AND rest.d = ds.d - jt.t),
         |aa AS (SELECT d, sum(tm) AS a FROM terms GROUP BY d)
         |SELECT CAST(aa.d AS BIGINT) AS dist,
         |  CAST(((b64.v - aa.a) * 1000000) // b64.v AS BIGINT)
         |    AS collide_ppm
         |FROM aa JOIN binom b64 ON b64.n = 64 AND b64.d = aa.d
         |ORDER BY dist""".stripMargin),

    // Its MEASURED companion over the real image signatures (the
    // q579 pattern at radius 1): realized candidate rate per true
    // distance, d ≤ 7 must read 1e6 ppm in both theory and practice.
    Gate("q598_banding_measured_probed", (s, dir) => {
      val (pi, _, qi, _) = searchLife(s, dir)
      PhashIndex.bandingMeasured(s, pi, qi, probes = 1).orderBy("dist")
    }, oracle =
      // Measured probed curve: candidacy = SOME band's 16-bit values
      // within Hamming 1 (the engine's explicit variant probes).
      s"""WITH ${imgSearchCtes},
         |cS1 AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS cid
         |  FROM pbands a JOIN pbands b ON a.band = b.band
         |    AND bit_count(xor(CAST(a.bv AS BIGINT),
         |      CAST(b.bv AS BIGINT))) <= 1
         |  WHERE a.doc_id IN (SELECT doc_id FROM qsS)
         |    AND b.doc_id IN (SELECT doc_id FROM ixS)),
         |${curveSql(
            "bits x JOIN bits y ON y.cy = x.cy AND y.cx = x.cx", "cS1")}""".stripMargin),

    // Audio probed recall — one implementation, two modalities (the
    // q564/q566 symmetry at radius 1).
    Gate("q599_audio_probe_recall", (s, dir) => {
      val (_, pa, _, qa) = searchLife(s, dir)
      PhashIndex.searchRecall(s, pa, qa, 5, probes = 1).orderBy("qid")
    }, oracle = {
      val audProbed =
        s"""${MediaLifecycle.audioCtes()},
           |${probedCands("abands")},
           |${distCte("abits", "y.i = x.i")}""".stripMargin
      recallSql(audProbed, "abits", "y.i = x.i")
    })
  )
}
