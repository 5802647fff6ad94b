package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Exact.zround
import graft.functions.PixieFunctions

/** Embedding similarity search (SURVEY §7.9 north star). Baseline:
  * brute-force cosine top-k (exact, broadcast the query side). Scale path:
  * sign-random-projection LSH buckets so each query only scores its
  * bucket's candidates — the 100 TB shape is a broadcast of the (small)
  * query set against a bucket-partitioned corpus, never corpus × corpus.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns (codegen'd
    * higher-order functions — no UDF).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Nearest-centroid cell assignment shared by SemDeDup and
    * cluster-balanced selection: (id, vec, norm, 1-based cell, winning
    * cosine). Ties go to the lowest cell index (array_position returns
    * the first maximum — `ORDER BY score DESC, cell ASC` in SQL).
    * Map-only: the centroid matrix is a literal, broadcast by
    * construction.
    */
  def cellAssign(df: DataFrame, idCol: String, vecCol: String,
                 centroids: Seq[Seq[Double]]): DataFrame = {
    val v = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("e"))
      .withColumn("n", norm(col("e")))
    val cellScores = array(centroids.map { s =>
      val sNorm = math.sqrt(s.map(x => x * x).sum)
      aggregate(zip_with(col("e"), typedLit(s), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x) / (col("n") * sNorm)
    }: _*)
    v.withColumn("scores", cellScores)
      .withColumn("cell",
        array_position(col("scores"), array_max(col("scores"))).cast("int"))
      .withColumn("cell_cos", array_max(col("scores")))
      .drop("scores")
  }

  /** kNN label propagation (the embedding-space label-transfer stage: a
    * small hand-labeled seed set labels the whole corpus): each
    * unlabeled vector takes the majority label of its k nearest labeled
    * vectors by cosine; vote ties break to the smaller label, neighbor
    * ties at equal cosine to the smaller label (label-id-free — the
    * seed set needs no stable ids).
    *
    * Scale shape: the labeled matrix aggregates to ONE broadcast row
    * (it is the model, like [[graft.ops.Corpus.embeddingContamination]]'s
    * eval matrix), the per-vector top-k is a map-only higher-order
    * sort over that array, and only k vote rows per vector reach the
    * keyed count — nothing pairwise ever materializes.
    */
  def knnClassify(unlabeled: DataFrame, labeled: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame, keep: Seq[Column]) =
      df.select(keep :+ col(vecCol).cast("array<double>").as("e"): _*)
        .withColumn("nrm", norm(col("e")))
    val lab = prep(labeled, Seq(col(labelCol).cast("int").as("lab")))
      .agg(collect_list(struct(col("e"), col("nrm"), col("lab"))).as("L"))
    val topk = prep(unlabeled, Seq(col(idCol).as("id")))
      .crossJoin(broadcast(lab))
      .select(col("id"), explode(slice(array_sort(transform(col("L"), v =>
        struct((-dot(col("e"), v.getField("e")) /
            (col("nrm") * v.getField("nrm"))).as("neg_cos"),
          v.getField("lab").as("lab")))), 1, k)).as("t"))
    val w = Window.partitionBy("id").orderBy(col("votes").desc, col("pred"))
    topk.groupBy(col("id"), col("t.lab").as("pred"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("id").as(idCol), col("pred").as("label_pred"), col("votes"))
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself). Query side is broadcast; norms are
    * precomputed once per side.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame =
    cosineRankBand(corpus, queries, idCol, vecCol, 0, k)

  /** Hard-negative mining for contrastive/retriever training: per
    * query, the cosine band ranks (skip, skip+k] — close enough to be
    * informative, far enough to (probably) not be unlabeled positives;
    * the in-between band every dual-encoder training pipeline mines
    * (DPR-style). Same broadcast-query scan + one per-query rank as
    * [[cosineTopK]]; at scale the candidate band comes from the ANN
    * ladder (SQ8/IVF shortlist) instead of the exact scan — identical
    * shape, the rank filter is the only difference.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, skip: Int, k: Int): DataFrame =
    cosineRankBand(corpus, queries, idCol, vecCol, skip, skip + k)

  /** DPR triplet builder: per query, the rank-1 positive plus the
    * [[hardNegatives]] band collected IN RANK ORDER as one training
    * row — the (q, d+, d-...) unit a dual-encoder trainer consumes.
    * Negative ids are emitted as a comma-joined string (the repo's
    * array-output convention). Composes two rank-band scans; the
    * per-query collect is bounded by negK.
    */
  def contrastiveTriplets(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, negSkip: Int,
                          negK: Int): DataFrame = {
    // ONE scoring scan covers both roles (rank 1 = positive, ranks
    // (negSkip, negSkip+negK] = negatives) — two separate rank-band
    // calls would score the whole corpus against the broadcast
    // queries twice, doubling the dominant cost at scale
    val band = cosineRankBand(corpus, queries, idCol, vecCol, 0,
      negSkip + negK)
    val pos = band.where(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("pos_id"))
    val negs = band.where(col("rank") > negSkip)
      .groupBy("query_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rank"), col("neighbor_id")))),
        s => s.getField("neighbor_id").cast("string")), ",").as("neg_ids"))
    pos.join(negs, Seq("query_id"), "left")
      .na.fill("", Seq("neg_ids"))
  }

  private def cosineRankBand(corpus: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String,
                             lo: Int, hi: Int): DataFrame =
    rankPerQuery(exactScan(corpusVecs(corpus, idCol, vecCol),
        queryVecs(queries, idCol, vecCol)),
      col("score").desc, r => r > lo && r <= hi)

  /** The corpus side of a vector scan: (neighbor_id, ce). */
  private def corpusVecs(df: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    df.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("ce"))

  /** The query side of a vector scan: (query_id, qe). */
  private def queryVecs(df: DataFrame, idCol: String,
                        vecCol: String): DataFrame =
    df.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qe"))

  /** Cosine of the query and corpus vectors on one row, from the norms
    * `qn` and `cn` computed once per side.
    */
  private def cosine: Column =
    dot(col("qe"), col("ce")) / (col("qn") * col("cn"))

  /** The exact scan: every corpus vector scored (`score`) against the
    * broadcast query set, each query excluding itself.
    */
  private def exactScan(c: DataFrame, q: DataFrame): DataFrame =
    c.withColumn("cn", norm(col("ce")))
      .join(broadcast(q.withColumn("qn", norm(col("qe")))),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosine)

  /** Exact cosine top-k over the distinct (query_id, neighbor_id)
    * candidate pairs of `pairs`, each query excluding itself: the
    * candidates fetch both vectors by id, the query side broadcast.
    */
  private def candidateTopK(pairs: DataFrame, c0: DataFrame,
                            q0: DataFrame, k: Int): DataFrame = {
    val candidates = pairs
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val cn = c0.withColumn("cn", norm(col("ce")))
    val qn = q0.withColumn("qn", norm(col("qe")))
    rankPerQuery(candidates
        .join(cn, "neighbor_id").join(broadcast(qn), "query_id")
        .withColumn("score", cosine),
      col("score").desc, _ <= k)
  }

  /** The per-query rank every top-k here ends in: `rank` is the
    * row_number per query over `order`, then `neighbor_id` ascending
    * (ties go to the lower id); the rows whose rank passes `keep` are
    * projected to `out`.
    */
  private[graft] def rankPerQuery(scored: DataFrame, order: Column,
                                  keep: Column => Column,
                                  out: Seq[Column] = Seq(col("query_id"),
                                    col("neighbor_id"), col("rank"),
                                    col("score"))): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(order, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(keep(col("rank")))
      .select(out: _*)
  }

  /** Deterministic pseudo-random projection component r_{j,i} in
    * [-1, 1): derived from md5 so every engine/run agrees.
    */
  def proj(j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft-proj-$j-$i".getBytes("UTF-8"))
    val v = java.lang.Long.parseLong(
      md.take(7).map("%02x".format(_)).mkString, 16)
    (v % 2000001L - 1000000L) / 1000000.0
  }

  /** Sign-LSH bucket id for one hash table: bitsPerTable sign bits of
    * deterministic random projections (table-distinct projection seeds).
    * Projection rows are array literals folded with zip_with/aggregate —
    * compact expression trees instead of dim-wide element_at chains.
    */
  def lshBucket(vec: Column, dim: Int, table: Int, bitsPerTable: Int): Column =
    (0 until bitsPerTable).map { j =>
      val row = typedLit(Array.tabulate(dim)(i => proj(table * bitsPerTable + j, i)))
      val d = aggregate(zip_with(vec, row, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
      when(d >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All nTables bucket ids as one array column (single pass per row). */
  def lshBuckets(vec: Column, dim: Int, bitsPerTable: Int, nTables: Int): Column =
    array((0 until nTables).map(t => lshBucket(vec, dim, t, bitsPerTable)): _*)

  /** IVF (inverted-file) approximate top-k: a coarse quantizer of
    * `seeds.length` cells (deterministic seed vectors as centroids —
    * swap in a kmeans fit at scale), the corpus partitioned by nearest
    * cell, queries probing only their `nProbe` closest cells.
    *
    * 100 TB shape: cell assignment is one map pass; the corpus is
    * stored/partitioned BY CELL (partition pruning at read time), and a
    * query touches nProbe/nCells of the data — the classic IVF
    * trade-off. Candidate generation is one join on the (small) cell
    * key with the probe side broadcast; scoring touches only probed
    * cells' members. Ties break toward the lower cell index in both
    * engines (argmax-first == ORDER BY score DESC, cell ASC).
    */
  def ivfCosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, seeds: Array[Array[Double]],
                    nProbe: Int): DataFrame = {
    def cellScores(vec: Column): Column = array(seeds.map { s =>
      val sNorm = math.sqrt(s.map(x => x * x).sum)
      aggregate(zip_with(vec, typedLit(s), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x) / (norm(vec) * sNorm)
    }: _*)
    val c0 = corpusVecs(corpus, idCol, vecCol)
    val q0 = queryVecs(queries, idCol, vecCol)
    val cc = c0.withColumn("scores", cellScores(col("ce")))
      .withColumn("cell",
        array_position(col("scores"), array_max(col("scores"))).cast("int"))
      .drop("scores")
    // top-nProbe cell indices per query: sort (−score, idx) ascending
    val qp = q0.withColumn("scores", cellScores(col("qe")))
      .withColumn("probe_cells", slice(transform(
        sort_array(transform(col("scores"),
          (s, i) => struct((-s).as("ns"), (i + 1).as("idx")))),
        st => st.getField("idx")), 1, nProbe))
      .select(col("query_id"), col("qe"),
        explode(col("probe_cells")).as("cell"))
    candidateTopK(
      cc.join(broadcast(qp.select("query_id", "cell")), Seq("cell")), c0, q0, k)
  }

  /** Product-quantization ADC top-k (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", PAMI 2011): the vector
    * is split into m subspaces, each quantized against its own ksub
    * codebook; a corpus vector is stored as m small codes and scored
    * against a query by summing per-subspace L2² distances from the
    * query's subvectors to the ASSIGNED centroids (asymmetric distance
    * computation).
    *
    * 100 TB shape: after the one-pass encode the scan touches only the
    * m-byte codes + the broadcast codebooks — a 256-byte float vector
    * becomes m log2(ksub) bits — so the exhaustive ADC scan is memory-
    * bound on compressed data; compose with [[ivfCosineTopK]]'s cell
    * partitioning for IVFADC. Encode and ADC are pure codegen
    * higher-order functions (no UDF); a deployment kernel would
    * precompute the m×ksub lookup table per query, which changes
    * constant factors, not the result.
    *
    * Determinism: codebooks come from the init-only [[graft.functions
    * .MlAggregators.kmeansFit]] contract (canonical sorted picks,
    * 1e-6-rounded), encode ties break to the SMALLEST centroid index
    * (array_position finds the first minimum), rank ties to the lower
    * neighbor id — every engine reproduces the exact result.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, dim: Int,
             codebooks: Seq[Seq[Seq[Double]]], rerank: Int = 0): DataFrame = {
    val sd = subWidth(dim, codebooks)
    val c0 = corpusVecs(corpus, idCol, vecCol)
    val q0 = queryVecs(queries, idCol, vecCol)
    val codes = pqEncode(c0, "ce", codebooks, sd).drop("ce")
    adcTopK(codes.join(broadcast(q0), col("query_id") =!= col("neighbor_id")),
      adcDist("qe", codebooks, sd), k, rerank, c0, q0)
  }

  /** Squared L2 distance of two array<double> columns. */
  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Subspace width: `dim` split over the codebooks' m subspaces. */
  private def subWidth(dim: Int, codebooks: Seq[Seq[Seq[Double]]]): Int = {
    val m = codebooks.length
    val sd = dim / m
    require(m * sd == dim, s"dim $dim must divide into $m subspaces")
    sd
  }

  /** Subvector `j` of width `sd`. */
  private def sub(vec: Column, j: Int, sd: Int): Column =
    slice(vec, j * sd + 1, sd)

  /** PQ encode of vector column `src`: one `code_j` per subspace, the
    * 1-based index of the nearest codebook centroid (first minimum).
    */
  private def pqEncode(df: DataFrame, src: String,
                       codebooks: Seq[Seq[Seq[Double]]], sd: Int): DataFrame =
    codebooks.indices.foldLeft(df) { (df, j) =>
      val dists = transform(typedLit(codebooks(j)),
        cent => l2(sub(col(src), j, sd), cent))
      df.withColumn(s"code_$j",
        array_position(dists, array_min(dists)).cast("int"))
    }

  /** The ADC distance of query vector `q` to the `code_j` centroids. */
  private def adcDist(q: String, codebooks: Seq[Seq[Seq[Double]]],
                      sd: Int): Column =
    codebooks.indices.map { j =>
      l2(sub(col(q), j, sd),
        element_at(typedLit(codebooks(j)), col(s"code_$j")))
    }.reduce(_ + _)

  /** The PQ rank over scanned (query, code) rows: the ADC top-k, or
    * with `rerank` > 0 an ADC shortlist of `rerank` per query reranked
    * by exact L2 distance.
    */
  private def adcTopK(scanned: DataFrame, adc: Column, k: Int, rerank: Int,
                      c0: DataFrame, q0: DataFrame): DataFrame = {
    val ranked = rankPerQuery(scanned.withColumn("adc", adc),
      col("adc").asc, _ <= (if (rerank > 0) rerank else k),
      Seq(col("query_id"), col("neighbor_id"), col("rank"), col("adc")))
    if (rerank == 0) ranked
    else
      // Deployment path: the ADC scan only SHORTLISTS `rerank`
      // candidates; exact distances are computed for those alone (an
      // id-keyed fetch of raw vectors — candidates-then-verify, like
      // every other approximate operator here). Quantization error then
      // only costs recall when a true neighbor misses the shortlist.
      rankPerQuery(ranked.select("query_id", "neighbor_id")
          .join(c0, "neighbor_id")
          .join(broadcast(q0), "query_id")
          .withColumn("dist", l2(col("qe"), col("ce"))),
        col("dist").asc, _ <= k, Seq(col("query_id"), col("neighbor_id"),
          col("rank"), col("dist")))
  }

  /** L2 residuals against a coarse quantizer: assigns each vector to
    * its nearest `cellSeeds` centroid (first-min tie-break) and emits
    * (idCol, vec, cell, residual = vec − centroid). The shared encode
    * prefix of [[ivfPqTopK]], exposed so callers can train per-subspace
    * codebooks ON the residuals (the IVFADC contract) with the same
    * init-only kmeansFit used everywhere else. Map-only — no shuffle.
    */
  def l2Residuals(df: DataFrame, idCol: String, vecCol: String,
                  cellSeeds: Seq[Seq[Double]]): DataFrame = {
    val dists = array(cellSeeds.map(s => l2(col("ve"), typedLit(s))): _*)
    df.select(col(idCol), col(vecCol).cast("array<double>").as("ve"))
      .withColumn("cell",
        array_position(dists, array_min(dists)).cast("int"))
      .withColumn("residual",
        zip_with(col("ve"),
          element_at(typedLit(cellSeeds), col("cell")), (x, y) => x - y))
  }

  /** IVFADC (Jégou et al., PAMI 2011 §IV): the full composition a
    * billion-vector index actually runs — a coarse inverted-file
    * quantizer of `cellSeeds` cells, product quantization of the
    * RESIDUAL (vector − cell centroid) with per-subspace `codebooks`,
    * an ADC scan restricted to each query's `nProbe` closest cells,
    * and an optional exact rerank of the shortlist.
    *
    * 100 TB shape: corpus storage is (cell, m codes) — partition BY
    * CELL and the probe join prunes to nProbe/nCells of the data at
    * read time; within a probed cell the scan touches only compressed
    * codes + the broadcast codebooks. The probe side (queries ×
    * nProbe rows) broadcasts; the residual/encode pass is map-only.
    * Combining the [[ivfCosineTopK]] pruning with [[pqTopK]]
    * compression multiplies their savings — the standard memory/recall
    * trade curve is tuned by (nCells, nProbe, m, ksub, rerank).
    *
    * Determinism contract (same as pqTopK): cell seeds and codebooks
    * from the init-only kmeansFit canonical picks, first-min encode
    * and probe ties, (adc, neighbor_id) rank ties — every engine
    * reproduces the exact result.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, dim: Int,
                cellSeeds: Seq[Seq[Double]], nProbe: Int,
                codebooks: Seq[Seq[Seq[Double]]], rerank: Int = 0): DataFrame = {
    val sd = subWidth(dim, codebooks)
    // corpus: cell + residual codes (one map pass; stored form at scale)
    val enc = l2Residuals(corpus, idCol, vecCol, cellSeeds)
      .withColumnRenamed(idCol, "neighbor_id")
    val codes = pqEncode(enc, "residual", codebooks, sd)
      .drop("ve", "residual")
    // queries: nProbe closest cells by L2 (dist asc, cell asc on ties)
    val q0 = queryVecs(queries, idCol, vecCol)
    val qDists = array(cellSeeds.map(s => l2(col("qe"), typedLit(s))): _*)
    val probes = q0.withColumn("probe_cells", slice(transform(
        sort_array(transform(qDists,
          (d, i) => struct(d.as("d"), (i + 1).as("idx")))),
        st => st.getField("idx")), 1, nProbe))
      .select(col("query_id"), col("qe"),
        explode(col("probe_cells")).as("cell"))
      .withColumn("cell", col("cell").cast("int"))
      // the query residual is against the PROBED cell's centroid
      .withColumn("qre", zip_with(col("qe"),
        element_at(typedLit(cellSeeds), col("cell")), (x, y) => x - y))
    adcTopK(codes.join(broadcast(probes), Seq("cell"))
        .where(col("query_id") =!= col("neighbor_id")),
      adcDist("qre", codebooks, sd), k, rerank,
      corpusVecs(corpus, idCol, vecCol), q0)
  }

  /** DuckDB SQL for one table's sign-LSH bucket id over list column
    * `vecExpr` — generated from the same [[proj]] constants as
    * [[lshBucket]], so both engines compute the identical bucket.
    */
  def lshBucketSql(vecExpr: String, dim: Int, table: Int, bits: Int): String =
    (0 until bits).map { j =>
      val row = (0 until dim).map(i => proj(table * bits + j, i))
      s"(CASE WHEN list_sum(list_transform(range($dim), i -> $vecExpr[i+1] * " +
        s"(list_value(${row.mkString(",")}))[i+1])) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Approximate cosine top-k through multi-table sign LSH: L independent
    * hash tables of r bits; a corpus vector is a candidate if it collides
    * with the query in ANY table (standard OR-construction — one table's
    * sign bits are far too selective for weakly-correlated neighbors).
    * Candidates are deduped before scoring. Recall < 1 by construction;
    * asserted against the exact baseline in NorthStarSpec.
    *
    * Scale shape: corpus is hashed once per table (map-only), candidate
    * generation is L broadcast joins on bucket id, scoring touches only
    * candidates — never corpus × corpus.
    */
  def lshCosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, dim: Int,
                    bitsPerTable: Int = 4, nTables: Int = 8): DataFrame = {
    val c0 = corpusVecs(corpus, idCol, vecCol)
    val q0 = queryVecs(queries, idCol, vecCol)
    // One hash pass + ONE join on (table, bucket) — not nTables separate
    // joins, which would rescan and rehash the corpus per table.
    val cb = c0.select(col("neighbor_id"),
      posexplode(lshBuckets(col("ce"), dim, bitsPerTable, nTables))
        .as(Seq("tbl", "bucket")))
    val qb = q0.select(col("query_id"),
      posexplode(lshBuckets(col("qe"), dim, bitsPerTable, nTables))
        .as(Seq("tbl", "bucket")))
    candidateTopK(cb.join(broadcast(qb), Seq("tbl", "bucket")), c0, q0, k)
  }

  /** Two-stage truncated-dimension retrieval (the matryoshka serving
    * pattern): rank by cosine over the first `dPrefix` dims, keep a
    * `shortlist`, then rerank the shortlist by FULL-dimension cosine —
    * prefix scoring costs dPrefix/dim of the arithmetic and the exact
    * rerank touches only shortlist rows. On embeddings trained with
    * matryoshka losses the prefix carries most of the signal and small
    * shortlists suffice; the fixture's dims are i.i.d. (worst case), so
    * the gate pins shortlist=200 and the spec MEASURES the recall knob
    * (0.9 vs exact at 200/500 — shortlist size is the only tuning
    * dimension, the plan never changes).
    *
    * Scale shape: identical to [[cosineTopK]] — queries broadcast, one
    * rank shuffle — but the full-width dot products run on shortlist
    * rows only; both vectors ride the candidate row, so the rerank adds
    * no join.
    */
  def truncatedRerankTopK(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          dPrefix: Int, shortlist: Int): DataFrame = {
    def prep(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(v))
        .withColumn(v + "n", norm(col(v)))
        .withColumn(v + "p", slice(col(v), 1, dPrefix))
        .withColumn(v + "pn", norm(col(v + "p")))
    val c = prep(corpus, "neighbor_id", "ce")
    val q = prep(queries, "query_id", "qe")
    val s1 = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cost",
        dot(col("qep"), col("cep")) / (col("qepn") * col("cepn")))
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("cost").desc, col("neighbor_id").asc)
    rankPerQuery(
      s1.withColumn("rkt", row_number().over(w1)).where(col("rkt") <= shortlist)
        .withColumn("score",
          dot(col("qe"), col("ce")) / (col("qen") * col("cen"))),
      col("score").desc, _ <= k)
  }

  /** Retrieval quality against TRUE labels — precision@k of cosine
    * retrieval where a neighbor is relevant iff it shares the query's
    * label (the standard labeled-ANN eval, reported per cutoff). One
    * exact top-k pass + a label join + an O(#cutoffs) rollup.
    */
  def retrievalQuality(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, labelCol: String,
                       ks: Seq[Int]): DataFrame = {
    val kmax = ks.max
    val topk = cosineTopK(corpus, queries, idCol, vecCol, kmax)
    val lab = corpus.select(col(idCol), col(labelCol))
    val joined = topk
      .join(lab.toDF("query_id", "q_label"), "query_id")
      .join(lab.toDF("neighbor_id", "n_label"), "neighbor_id")
      .withColumn("rel", (col("q_label") === col("n_label")).cast("long"))
    val frames = ks.map { k =>
      joined.where(col("rank") <= k)
        .agg(lit(k).as("k"),
          count(lit(1)).as("n_retrieved"),
          sum(col("rel")).as("n_relevant"))
        .withColumn("precision_at_k",
          round(col("n_relevant").cast("double") / col("n_retrieved"), 6))
    }
    frames.reduce(_ unionByName _)
  }

  /** Nano-quantized DCG term table 1e9/log2(r+1), r = 1..k — shared by
    * the Spark plan and the generated oracle SQL.
    */
  def dcgTerms(k: Int): Seq[Long] = (1 to k).map(r =>
    math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Per-query labeled-retrieval metric battery — reciprocal rank and
    * nDCG@k beside [[retrievalQuality]]'s precision@k (the three
    * numbers every retrieval eval reports). Relevance = same label;
    * per-rank DCG terms 1/log2(rank+1) are nano-quantized BEFORE the
    * sum and the ideal DCG derives from the exact per-label corpus
    * count, so rr/ndcg are ratios of exact integers — engine-identical
    * at any partitioning. One top-k pass + label joins + a per-query
    * rollup.
    */
  def retrievalMetrics(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, labelCol: String, k: Int): DataFrame = {
    val lab = corpus.select(col(idCol), col(labelCol))
    val rel = cosineTopK(corpus, queries, idCol, vecCol, k)
      .join(lab.toDF("query_id", "q_label"), "query_id")
      .join(lab.toDF("neighbor_id", "n_label"), "neighbor_id")
      .withColumn("rel", (col("q_label") === col("n_label")).cast("long"))
    // the k DCG terms 1e9/log2(rank+1) are PRECOMPUTED driver-side and
    // travel as literals on BOTH engines (the oracle interpolates the
    // same longs), so no runtime libm call can drift a quantization
    val terms = dcgTerms(k)
    val termLit = typedLit(terms)
    val perQ = rel.groupBy("query_id", "q_label").agg(
      min(when(col("rel") === 1, col("rank"))).as("first_rel_rank"),
      sum(when(col("rel") === 1, element_at(termLit, col("rank")))
        .otherwise(0L)).as("dcg_q"))
    // ideal DCG: the top min(k, R) slots all relevant, R = same-label
    // corpus size minus the query itself (one keyed agg, broadcast)
    val labCounts = lab.groupBy(col(labelCol).as("q_label"))
      .agg(count(lit(1)).as("n_label"))
    val idealCum = terms.scanLeft(0L)(_ + _).tail // cum sums 1..k
    val idealLit = typedLit(idealCum)
    perQ.join(broadcast(labCounts), "q_label")
      .withColumn("__r", least(lit(k.toLong), col("n_label") - 1))
      .withColumn("idcg_q",
        when(col("__r") > 0, element_at(idealLit, col("__r").cast("int")))
          .otherwise(lit(0L)))
      .select(col("query_id"), col("first_rel_rank"),
        round(when(col("first_rel_rank").isNotNull,
          lit(1.0) / col("first_rel_rank")).otherwise(lit(0.0)), 6)
          .as("reciprocal_rank"),
        round(when(col("idcg_q") > 0,
          col("dcg_q").cast("double") / col("idcg_q")).otherwise(lit(0.0)), 6)
          .as("ndcg"))
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * vector, the k most similar corpus vectors BELOW the positive
    * threshold — "looks close but is not a duplicate", the negatives a
    * retrieval/embedding trainer wants. Neighbors with cosine >=
    * `posThreshold` are positives (near-dups) and excluded, as is the
    * anchor itself.
    *
    * Scale shape: identical to [[cosineTopK]] — anchors broadcast
    * against the corpus, one map-side score + threshold filter, per-
    * anchor top-k via window rank over only the surviving rows. The
    * threshold prunes BEFORE the rank shuffle, so the exchange carries
    * candidates, not the corpus.
    */
  def hardNegativesBelow(corpus: DataFrame, anchors: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         posThreshold: Double): DataFrame =
    rankPerQuery(exactScan(corpusVecs(corpus, idCol, vecCol),
        queryVecs(anchors, idCol, vecCol))
        .where(col("score") < posThreshold),
      col("score").desc, _ <= k)

  /** Diversity-quota retrieval: exact cosine top-k with AT MOST
    * `perLabel` results per label group — the result-diversification
    * rule (per-source / per-domain quotas) a retrieval API enforces so
    * one dominant cluster can't fill the page. Two window ranks: the
    * per-(query, label) quota cut prunes BEFORE the global rank, so the
    * final exchange carries only quota survivors. Ties to the lower
    * neighbor id at both stages.
    */
  def quotaCosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, labelCol: String, k: Int,
                      perLabel: Int): DataFrame = {
    val scored = exactScan(
      corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("ce")),
      queryVecs(queries, idCol, vecCol))
    val wL = Window.partitionBy("query_id", "label")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    rankPerQuery(scored.withColumn("lrank", row_number().over(wL))
        .where(col("lrank") <= perLabel),
      col("score").desc, _ <= k,
      Seq(col("query_id"), col("neighbor_id"), col("label"),
        col("rank"), round(col("score"), 6).as("score")))
  }

  /** Embedding-health outlier report: each vector's best-centroid
    * cosine against fixed cells, flagged when below the corpus's `pct`
    * quantile — the "broken/garbage embedding" detector run before an
    * index build (zero vectors, wrong-model rows, truncation artifacts
    * all land in the far tail). One map-only cell assign + one
    * quantile agg (broadcast 1-row threshold); the comparison uses the
    * unrounded score on both engines.
    *
    * The DEFAULT threshold is `percentile_approx` (a sketch — bounded
    * memory at any corpus size, the q19/q22 quantile convention);
    * `exact = true` switches to the exact percentile, which buffers
    * every value in one aggregation and is only for oracle-checkable
    * runs and small data — the same exact-for-the-gate / sketch-for-
    * the-library split the t-digest surface uses.
    */
  def embeddingOutliers(df: DataFrame, idCol: String, vecCol: String,
                        centroids: Seq[Seq[Double]],
                        pct: Double = 0.05,
                        exact: Boolean = false): DataFrame = {
    val assigned = cellAssign(df, idCol, vecCol, centroids)
      .select(col("id").as(idCol), col("cell"), col("cell_cos"))
    val fn = if (exact) "percentile" else "percentile_approx"
    val thr = assigned.agg(
      expr(s"$fn(cell_cos, $pct)").as("thr"))
    assigned.crossJoin(broadcast(thr))
      .select(col(idCol), col("cell"),
        zround(col("cell_cos"), 6).as("cell_cos"),
        zround(col("thr"), 6).as("threshold"),
        (col("cell_cos") < col("thr")).as("is_outlier"))
  }

  /** Rank-agreement diagnostic between two retrieval lists (e.g. the
    * lexical and the dense ranking): per query, Kendall tau-a over the
    * SHARED top-k candidates — the "do my retrievers even agree"
    * number read next to the [[rrfFuse]] output. The pair enumeration
    * is per-query over shared candidates only (≤ k², documented), and
    * tau is a ratio of exact integer counts. Every query id appearing
    * in EITHER input gets a row — a query whose two lists are fully
    * disjoint (the worst disagreement case) reports n_shared=0 with a
    * null tau instead of vanishing from the diagnostic.
    */
  def rankAgreement(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val sa = a.where(col("rank") <= k).select(col("query_id"),
      col("neighbor_id"), col("rank").as("ra"))
    val sb = b.where(col("rank") <= k).select(col("query_id"),
      col("neighbor_id"), col("rank").as("rb"))
    val allQueries = sa.select(col("query_id"))
      .unionByName(sb.select(col("query_id"))).distinct()
    val shared = sa.join(sb, Seq("query_id", "neighbor_id"))
    val x = shared.toDF("query_id", "n1", "ra1", "rb1")
    val y = shared.toDF("query_id", "n2", "ra2", "rb2")
    val pairs = x.join(y, Seq("query_id"))
      .where(col("n1") < col("n2"))
      .withColumn("conc",
        ((col("ra1") - col("ra2")) * (col("rb1") - col("rb2")) > 0)
          .cast("long"))
    val counts = pairs.groupBy("query_id")
      .agg(count(lit(1)).as("n_pairs"), sum(col("conc")).as("n_concordant"))
    allQueries
      .join(shared.groupBy("query_id").agg(count(lit(1)).as("n_shared")),
        Seq("query_id"), "left")
      .join(counts, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_shared", "n_pairs", "n_concordant"))
      .withColumn("kendall_tau", when(col("n_pairs") > 0,
        zround((col("n_concordant") * 2L - col("n_pairs")).cast("double") /
          col("n_pairs"), 6)))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) — the standard
    * hybrid-retrieval combiner: each input ranking contributes
    * 1/(rrfK + rank) per (query, neighbor), summed across lists. Takes
    * any rankings with (query_id, neighbor_id, rank) columns (lexical
    * BM25, dense ANN, SQ8/PQ scans — any mix). Contributions are
    * nano-quantized BEFORE the sum (exact at any partitioning and list
    * order); ties break to the lower neighbor id. One union + one
    * keyed agg + a per-query rank over only the fused candidates.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    val u = rankings
      .map(_.select(col("query_id"), col("neighbor_id"), col("rank")))
      .reduce(_ unionByName _)
    val fused = u
      .withColumn("contrib",
        floor(lit(1e9) / (lit(rrfK) + col("rank")) + 0.5).cast("long"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("contrib")).as("rrf_q"), count(lit(1)).as("n_lists"))
    rankPerQuery(fused, col("rrf_q").desc, _ <= k,
      Seq(col("query_id"), col("neighbor_id"), col("rank"),
        col("n_lists"), col("rrf_q")))
  }

  /** Binary-quantized (1-bit) ANN: each vector compresses to sign bits
    * vs the per-dim corpus mean — 32× memory cut at float32, the
    * cheapest tier of the quantization family (BQ < PQ < SQ8 <
    * truncation < full) — and queries scan with Hamming distance
    * (`bit_count(xor)`), shortlist, then exact-cosine rerank over only
    * the shortlisted rows (candidates-then-verify). Codes are packed as
    * two 32-bit halves in BIGINTs so every engine's integer arithmetic
    * is exact (a 64-bit pack would put dim 63 in the sign bit). Scale
    * shape: one mean pass (driver fetches d doubles), map-only encode,
    * broadcast-query Hamming scan, keyed join-back for the rerank
    * fetch. Ties: Hamming then id; final rank by exact score then id.
    */
  def bqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, dim: Int,
             shortlist: Int = 50): DataFrame = {
    require(dim <= 64, s"bqTopK packs 2x32 bits; dim $dim > 64")
    // Quantized mean (exact integer sum / n, one fixed formula) so the
    // sign threshold is the bit-identical double on every engine — a
    // last-ulp avg() difference could flip a borderline sign bit.
    val mean = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy("d").agg(
        sum(floor(col("x") * 1e6 + 0.5).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .orderBy("d")
      .collect().map(r => r.getLong(1).toDouble / 1e6 / r.getLong(2)).toSeq
    val mL = typedLit(mean)
    def code(vec: Column, lo: Int, hi: Int) =
      (lo until hi).map { j =>
        when(element_at(vec, j + 1) > element_at(mL, j + 1),
          lit(1L << (j - lo))).otherwise(lit(0L))
      }.reduce(_ + _)
    def coded(df: DataFrame, id: String) = {
      val v = col(vecCol).cast("array<double>")
      df.select(col(idCol).as(id), v.as(s"__e_$id"),
        code(v, 0, math.min(32, dim)).as(s"c0_$id"),
        (if (dim > 32) code(v, 32, dim) else lit(0L)).as(s"c1_$id"))
    }
    val c = coded(corpus, "neighbor_id")
    val q = coded(queries, "query_id")
    val ham = bit_count(col("c0_neighbor_id").bitwiseXOR(col("c0_query_id"))) +
      bit_count(col("c1_neighbor_id").bitwiseXOR(col("c1_query_id")))
    val wH = Window.partitionBy("query_id")
      .orderBy(col("ham").asc, col("neighbor_id").asc)
    val short = c.drop(s"__e_neighbor_id")
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("ham", ham)
      .withColumn("hrank", row_number().over(wH))
      .where(col("hrank") <= shortlist)
    val full = corpusVecs(corpus, idCol, vecCol)
      .withColumn("cn", norm(col("ce")))
    rankPerQuery(short.join(full, "neighbor_id")
        .withColumn("score", dot(col("__e_query_id"), col("ce")) /
          (norm(col("__e_query_id")) * col("cn"))),
      col("score").desc, _ <= k,
      Seq(col("query_id"), col("neighbor_id"), col("rank"),
        col("ham").cast("long").as("hamming"),
        round(col("score"), 6).as("score")))
  }

  /** Per-dimension (min, max) quantization bounds for [[sq8TopK]] — one
    * explode + agg pass; the driver fetches 2·d doubles (the
    * model-fetch pattern).
    */
  def sq8Params(corpus: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    val mm = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("d").collect()
    (mm.map(_.getDouble(1)).toSeq, mm.map(_.getDouble(2)).toSeq)
  }

  /** Scalar-quantized (SQ8) ANN: each corpus vector compresses to d
    * uint8 codes against per-dim (min, max) bounds — 8× memory cut at
    * float32 — and queries scan the CODES with asymmetric distance
    * (full-precision query vs dequantized midpoint), the standard SQ8
    * serving layout next to PQ (q246/q275: codebooks) and truncation
    * (q297: matryoshka). Scale shape: one bounds pass, one map-only
    * encode, then the [[cosineTopK]] broadcast-query scan — the corpus
    * never shuffles. Encode/decode arithmetic is a fixed formula over
    * exact inputs, so both engines rank identically; ties break to the
    * lower neighbor id.
    */
  /** SQ8 code column for one vector against (lo, hi) bounds. */
  private def sq8Encode(vec: Column, lo: Seq[Double], hi: Seq[Double]): Column = {
    val loL = typedLit(lo); val hiL = typedLit(hi)
    transform(vec, (x, j) => {
      val l = element_at(loL, j + 1); val h = element_at(hiL, j + 1)
      when(h === l, lit(0L)).otherwise(
        least(lit(255L), floor((x - l) / (h - l) * 256.0)))
    })
  }

  /** The SQ8 asymmetric-distance scan over a codes frame
    * (neighbor_id, cd) — shared by the inline and the index-backed
    * paths.
    */
  private def sq8Scan(codes: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int,
                      lo: Seq[Double], hi: Seq[Double]): DataFrame = {
    val loL = typedLit(lo); val hiL = typedLit(hi)
    def loAt(j: Column) = element_at(loL, j + 1)
    def hiAt(j: Column) = element_at(hiL, j + 1)
    val q = queryVecs(queries, idCol, vecCol)
    val dist = aggregate(
      transform(col("cd"), (cdj, j) => {
        val recon = loAt(j) + (cdj + 0.5) * (hiAt(j) - loAt(j)) / 256.0
        val d = element_at(col("qe"), j + 1) - recon
        d * d
      }), lit(0.0), (acc, x) => acc + x)
    rankPerQuery(codes.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("adc_dist", dist),
      col("adc_dist").asc, _ <= k,
      Seq(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("adc_dist"), 6).as("adc_dist")))
  }

  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    val (lo, hi) = sq8Params(corpus, vecCol)
    val codes = corpus.select(col(idCol).as("neighbor_id"),
      sq8Encode(col(vecCol).cast("array<double>"), lo, hi).as("cd"))
    sq8Scan(codes, queries, idCol, vecCol, k, lo, hi)
  }

  /** PERSISTED SQ8 index: the codes and per-dim bounds written once as
    * parquet (the q283 persisted-dedup-index pattern applied to ANN
    * serving) — encode cost is paid at build time, and the query path
    * reads ONLY the 8×-smaller code table, never the embedding column.
    */
  def writeSq8Index(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (lo, hi) = sq8Params(corpus, vecCol)
    corpus.select(col(idCol).as("neighbor_id"),
        sq8Encode(col(vecCol).cast("array<double>"), lo, hi).as("cd"))
      .write.mode("overwrite").parquet(s"$path/codes")
    lo.indices.map(d => (d, lo(d), hi(d))).toDF("d", "lo", "hi")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/bounds")
  }

  /** Query the persisted SQ8 index: identical results to [[sq8TopK]]
    * by construction (the gate shares its oracle); the corpus vector
    * column is never scanned — only the code table and the O(d)
    * bounds.
    */
  def sq8TopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    val b = spark.read.parquet(s"$path/bounds").orderBy("d").collect()
    val lo = b.map(_.getDouble(1)).toSeq
    val hi = b.map(_.getDouble(2)).toSeq
    sq8Scan(spark.read.parquet(s"$path/codes"), queries, idCol, vecCol,
      k, lo, hi)
  }

  /** Incremental SQ8 index maintenance: fold a delta of new embeddings
    * into a persisted index WITHOUT re-encoding the corpus. The only
    * corpus statistic SQ8 carries is the per-dim (lo, hi) bounds, so:
    *
    *  - if every delta value lies INSIDE the stored bounds, the
    *    union's min/max equal the old min/max exactly — the delta is
    *    encoded against the EXISTING bounds and its codes appended;
    *    the resulting index is bit-identical to a full rebuild over
    *    corpus + delta, and the corpus is never read (returns true);
    *  - if any dim drifts outside, old codes would be re-scaled by a
    *    rebuild anyway, so the whole index is rebuilt from
    *    `corpus` (the PRIOR snapshot, delta excluded — only scanned on
    *    this path) unioned with the delta (returns false).
    *
    * The drift check itself is one O(d)-row aggregate over the delta
    * vs the O(d) stored bounds — at 100 TB the append path touches
    * only the (typically tiny) delta. Same contract as
    * [[graft.ops.Dedup.incrementalDedupIndexed]]: indexed-delta
    * answers == full-rebuild answers, gate-proved.
    */
  def appendSq8Index(spark: org.apache.spark.sql.SparkSession, path: String,
                     delta: DataFrame, idCol: String, vecCol: String,
                     corpus: => DataFrame): Boolean = {
    val b = spark.read.parquet(s"$path/bounds").orderBy("d").collect()
    val lo = b.map(_.getDouble(1)).toSeq
    val hi = b.map(_.getDouble(2)).toSeq
    val dmm = delta
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("dlo"), max("x").as("dhi"))
      .orderBy("d").collect()
    val inBounds = dmm.forall { r =>
      val d = r.getInt(0)
      r.getDouble(1) >= lo(d) && r.getDouble(2) <= hi(d)
    }
    if (inBounds) {
      delta.select(col(idCol).as("neighbor_id"),
          sq8Encode(col(vecCol).cast("array<double>"), lo, hi).as("cd"))
        .write.mode("append").parquet(s"$path/codes")
      true
    } else {
      writeSq8Index(corpus.unionByName(delta), idCol, vecCol, path)
      false
    }
  }

  /** Delete vectors from a persisted SQ8 index ([[writeSq8Index]]) —
    * the tombstone path that completes the ANN index lifecycle (build
    * -> append -> compact -> delete). Codes of deleted ids are
    * anti-joined out and the table rewritten; the (lo, hi) BOUNDS ARE
    * RETAINED: they stay a valid (superset) quantization range for
    * every surviving vector, so served distances are exactly the
    * build-time codes' distances — which is what production
    * tombstoning does (bounds re-tighten at the next full rebuild /
    * compaction, not per delete). The gate contract is therefore
    * "serve-after-delete == scan of surviving codes under build-time
    * bounds" (q385 parameterizes q326's oracle accordingly), NOT
    * "== a from-scratch rebuild", whose tighter bounds would re-scale
    * every surviving code. O(index) work; the corpus is never read.
    */
  def deleteFromSq8Index(spark: org.apache.spark.sql.SparkSession,
                         path: String, deleted: DataFrame,
                         idCol: String): Unit = {
    spark.read.parquet(s"$path/codes")
      .join(broadcast(deleted.select(col(idCol).as("neighbor_id")).distinct()),
        Seq("neighbor_id"), "left_anti")
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** SQ8 index health report: one row of the operational stats an
    * index owner watches — code count, dimensionality, and the bounds
    * geometry (global lo/hi plus the micro-quantized mean per-dim
    * width; a width collapsing toward 0 means dead dimensions, a width
    * exploding after appends means drift-triggered rebuilds ahead).
    * Reads ONLY the index (codes count + O(d) bounds).
    */
  def sq8IndexStats(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    val codes = spark.read.parquet(s"$path/codes")
      .agg(count(lit(1)).as("n_codes"))
    val bounds = spark.read.parquet(s"$path/bounds")
      .agg(count(lit(1)).as("dim"),
        min(col("lo")).as("min_lo"), max(col("hi")).as("max_hi"),
        sum(floor((col("hi") - col("lo")) * 1e6 + 0.5).cast("long"))
          .as("__w"))
    codes.crossJoin(bounds)
      .select(col("n_codes"), col("dim"),
        zround(col("min_lo"), 6).as("min_lo"),
        zround(col("max_hi"), 6).as("max_hi"),
        round(col("__w").cast("double") / 1e6 / col("dim"), 6)
          .as("mean_width"))
  }

  /** Compact a persisted SQ8 index after many delta appends: each
    * [[appendSq8Index]] leaves its own parquet files, and a serving
    * scan over thousands of tiny files pays per-file open cost. The
    * codes are materialized (lineage-truncating checkpoint, so the
    * rewrite never reads its own output path) and rewritten into
    * `partitions` right-sized files. Answers are untouched — the gate
    * proves a post-compaction query still matches the exact oracle.
    * On a real cluster swap localCheckpoint for checkpoint (same
    * caveat as the Dedup postings sites).
    */
  def compactSq8Index(spark: org.apache.spark.sql.SparkSession,
                      path: String, partitions: Int): Unit =
    spark.read.parquet(s"$path/codes")
      .repartition(partitions)
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$path/codes")

  /** One-pass distributed covariance of an embedding column, upper
    * triangle (i <= j) — the corpus-side half of PCA. Per row, the
    * d(d+1)/2 products are emitted as integer micro-units (quantized
    * BEFORE the sum, the engine-exactness contract: long sums are
    * order-exact at any partitioning) and hash-aggregated by (i, j) —
    * partial aggregation combines map-side, so the shuffle carries
    * O(partitions · d²) partials, never O(rows · d²). The covariance
    * itself is derived per entry from the exact integer sums with one
    * fixed formula, so both engines produce bit-identical doubles.
    */
  def covarianceUT(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val pairs = typedLit(
      for (i <- 0 until dim; j <- i until dim) yield Seq(i, j))
    val v = df.select(col(vecCol).cast("array<double>").as("e"))
    val prods = v.select(explode(transform(pairs, p => struct(
        p.getItem(0).as("i"), p.getItem(1).as("j"),
        floor(element_at(col("e"), p.getItem(0) + 1) *
          element_at(col("e"), p.getItem(1) + 1) * 1e6 + 0.5)
          .cast("long").as("q")))).as("t"))
      .select(col("t.i"), col("t.j"), col("t.q"))
      .groupBy("i", "j")
      .agg(sum(col("q")).as("sxy"), count(lit(1)).as("n"))
    val means = v.select(posexplode(col("e")).as(Seq("d", "x")))
      .groupBy("d").agg(sum(floor(col("x") * 1e6 + 0.5).cast("long")).as("sx"))
    prods
      .join(means.select(col("d").as("i"), col("sx").as("sxi")), "i")
      .join(means.select(col("d").as("j"), col("sx").as("sxj")), "j")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n"),
        zround(col("sxy").cast("double") / 1e6 / col("n")
          - (col("sxi").cast("double") / 1e6 / col("n"))
          * (col("sxj").cast("double") / 1e6 / col("n")), 6).as("cov"))
  }

  /** Deterministic cyclic Jacobi eigendecomposition of a symmetric
    * matrix (the driver-side model fit over the model-sized d×d
    * [[covarianceUT]] table — the same corpus-pass/driver-fit split as
    * the kmeans and BPE fits). Returns the top-`k` eigenpairs sorted by
    * eigenvalue descending (index ascending on ties), each eigenvector
    * sign-canonicalized so its largest-magnitude component is positive —
    * every run and every engine picks the same basis.
    */
  def jacobiEigen(sym: Array[Array[Double]], k: Int,
                  sweeps: Int = 50): Seq[(Double, Array[Double])] = {
    val n = sym.length
    val a = Array.tabulate(n, n)((i, j) => sym(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offDiag: Double = {
      var s = 0.0
      for (i <- 0 until n; j <- i + 1 until n) s += a(i)(j) * a(i)(j)
      s
    }
    var sweep = 0
    while (sweep < sweeps && offDiag > 1e-18) {
      for (p <- 0 until n - 1; q <- p + 1 until n
           if math.abs(a(p)(q)) > 1e-15) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(theta match { case 0.0 => 1.0; case th => th }) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (i <- 0 until n) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (j <- 0 until n) {
          val apj = a(p)(j); val aqj = a(q)(j)
          a(p)(j) = c * apj - s * aqj
          a(q)(j) = s * apj + c * aqj
        }
        for (i <- 0 until n) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
      sweep += 1
    }
    val pairs = (0 until n).map { j =>
      val vec = Array.tabulate(n)(i => v(i)(j))
      val m = vec.indices.maxBy(i => (math.abs(vec(i)), -i))
      if (vec(m) < 0) vec.indices.foreach(i => vec(i) = -vec(i))
      (a(j)(j), vec)
    }
    pairs.zipWithIndex
      .sortBy { case ((ev, _), idx) => (-ev, idx) }
      .take(k).map(_._1)
  }

  /** PCA fit: [[covarianceUT]] over the corpus (the only data-sized
    * pass), then [[jacobiEigen]] on the collected d×d table — the
    * driver receives O(d²) covariance entries, never rows (the
    * model-fetch pattern). Returns the top-k principal components.
    */
  def pcaFit(df: DataFrame, vecCol: String, dim: Int, k: Int): Seq[Array[Double]] = {
    val cov = Array.ofDim[Double](dim, dim)
    covarianceUT(df, vecCol, dim)
      .select("i", "j", "cov").collect().foreach { r =>
        val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
        val c = r.getDouble(2)
        cov(i)(j) = c; cov(j)(i) = c
      }
    jacobiEigen(cov, k).map(_._2)
  }

  /** Project vectors onto principal components — map-only (the
    * components travel as literals, the broadcast-model pattern), zero
    * shuffle at any corpus size.
    */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
                 components: Seq[Array[Double]]): DataFrame = {
    val comps = components.map(_.toSeq)
    df.select(col(idCol),
      array(comps.map(c =>
        dot(col(vecCol).cast("array<double>"), typedLit(c))): _*)
        .as("projected"))
  }

  /** Embedding-space snapshot drift: per label (or source), the
    * squared L2 distance between the centroids of two halves of the
    * corpus — the "did the embedding distribution move between
    * snapshots" health check next to [[embeddingOutliers]]. Per-dim
    * sums are e6-quantized longs, so the per-dim centroid difference
    * numerator `sA*nB - sB*nA` is EXACT; dist2 folds the per-dim
    * terms in ascending-dim order (the q29 list_sum contract) with
    * ONE final double formula rounded at 1e-6. Also reports the most
    * drifted dimension (|numerator| max, lowest dim on ties) with its
    * nano-unit magnitude — integer division on the ABSOLUTE value
    * only (negative integer division rounds differently across
    * engines).
    *
    * Scale: one (group, half, dim)-keyed aggregate over the exploded
    * vectors — shuffle rows = n x d partial sums with map-side
    * combine; output is O(#groups). No pairwise anything.
    */
  def centroidDrift(df: DataFrame, idCol: String, vecCol: String,
                    groupCol: String): DataFrame = {
    val q = df.select(col(groupCol).as("grp"),
        pmod(col(idCol), lit(2L)).as("half"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy("grp", "half", "d")
      .agg(sum(floor(col("x") * 1e6 + 0.5).cast("long")).as("s"),
        count(lit(1)).as("n"))
    val p = q.where(col("half") === 0)
      .select(col("grp"), col("d"), col("s").as("sa"), col("n").as("na"))
      .join(q.where(col("half") === 1)
        .select(col("grp"), col("d"), col("s").as("sb"), col("n").as("nb")),
        Seq("grp", "d"))
      .withColumn("num", col("sa") * col("nb") - col("sb") * col("na"))
    val top = p.withColumn("__r", row_number().over(
        Window.partitionBy("grp").orderBy(abs(col("num")).desc, col("d"))))
      .where(col("__r") === 1)
      .select(col("grp"), col("d").as("top_dim"),
        signum(col("num")).cast("long").as("top_sign"),
        PixieFunctions.idiv(abs(col("num")) * 1000L, col("na") * col("nb"))
          .as("top_absdiff_e9"))
    val denom = col("na").cast("double") * col("nb").cast("double")
    p.groupBy("grp", "na", "nb")
      .agg(sort_array(collect_list(struct(col("d"), col("num")))).as("__t"))
      .select(col("grp"), col("na").as("n_a"), col("nb").as("n_b"),
        round(aggregate(col("__t"), lit(0.0d),
          (acc, t) => acc + (t.getField("num").cast("double") / denom)
            * (t.getField("num").cast("double") / denom)) / 1e12, 6)
          .as("dist2"))
      .join(top, "grp")
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    * CCMatrix/LASER bitext-mining criterion): across two sides (e.g.
    * two languages' embeddings), keep pairs that are MUTUAL nearest
    * neighbors and score them with the ratio margin
    * `2k.dot(a,b) / (sum_k dots(a) + sum_k dots(b))` — a pair is only
    * trusted when its similarity stands out from both sides' k-NN
    * background. Dots are exact e6-quantized integer folds (ties
    * impossible to mis-order across engines); the margin is ONE final
    * double formula over exact longs, rounded at 1e-6, null when the
    * k-NN background sum is non-positive.
    *
    * The input is the CANDIDATE pair universe: the gate feeds the
    * exact cross of a sampled slice (the labeled brute-force baseline,
    * the q29 contract); at 100 TB the same mutual+margin logic runs
    * unchanged over an ANN shortlist (SQ8/IVF, q326/q275) because it
    * only ever sees (a, b, dot) rows — the scorer is pluggable.
    */
  def marginMining(df: DataFrame, idCol: String, vecCol: String,
                   sideCol: String, k: Int = 4): DataFrame = {
    require(k >= 1, "marginMining: k >= 1")
    val qv = df.select(col(idCol).as("id"), col(sideCol).as("side"),
      transform(col(vecCol).cast("array<double>"),
        x => floor(x * 1e6 + 0.5).cast("long")).as("qe"))
    val a = qv.where(col("side") === 0)
      .select(col("id").as("id_a"), col("qe").as("__qa"))
    val b = qv.where(col("side") === 1)
      .select(col("id").as("id_b"), col("qe").as("__qb"))
    val pairs = a.crossJoin(b)
      .select(col("id_a"), col("id_b"),
        aggregate(zip_with(col("__qa"), col("__qb"), (x, y) => x * y),
          lit(0L), (acc, x) => acc + x).as("dot_e12"))
    val wa = Window.partitionBy("id_a")
      .orderBy(col("dot_e12").desc, col("id_b"))
    val wb = Window.partitionBy("id_b")
      .orderBy(col("dot_e12").desc, col("id_a"))
    val ranked = pairs
      .withColumn("__ra", row_number().over(wa))
      .withColumn("__rb", row_number().over(wb))
      .withColumn("__ka", sum(when(col("__ra") <= k, col("dot_e12")))
        .over(Window.partitionBy("id_a")))
      .withColumn("__kb", sum(when(col("__rb") <= k, col("dot_e12")))
        .over(Window.partitionBy("id_b")))
    ranked.where(col("__ra") === 1 && col("__rb") === 1)
      .select(col("id_a"), col("id_b"), col("dot_e12"),
        when(col("__ka") + col("__kb") > 0L,
          zround(lit(2.0d * k) * col("dot_e12").cast("double")
            / (col("__ka") + col("__kb")).cast("double"), 6))
          .as("margin"))
  }

  /** Simplified silhouette (centroid-based, Rousseeuw 1987 §4's cheap
    * variant): per point, a = distance to own centroid, b = min
    * distance to any OTHER centroid, s = (b−a)/max(a,b); reported as
    * the per-cluster mean — the cluster-quality audit that costs
    * O(n·k) instead of the all-pairs O(n²) of the full silhouette.
    *
    * Exactness: centroids come from exact micro-quantized dimension
    * sums (the [[centroidDrift]] contract) with ONE fixed double form
    * s/1e6/n per coordinate; each point's distances fold squared
    * diffs in INDEX ORDER (the q29 list_sum contract — identical
    * IEEE sequence on both engines), s is micro-quantized PER POINT
    * before the cross-row mean. Points in singleton-dimension corner
    * cases (a == b == 0) report s = 0.
    *
    * Scale: one (label, dim)-keyed aggregate builds the k·d centroid
    * table (model-sized, broadcast); the point×centroid fan-out is k
    * per point, map-side against the broadcast — the corpus never
    * reshuffles. Output is one row per cluster.
    */
  def simplifiedSilhouette(df: DataFrame, idCol: String, vecCol: String,
                           labelCol: String): DataFrame = {
    // null vectors are excluded up front on BOTH engine sides: the
    // oracle's fixed-range explode would count a null row's dims in
    // the centroid divisor while posexplode emits nothing for it
    val v = df.where(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), col(labelCol).as("__lbl"),
        col(vecCol).cast("array<double>").as("__e"))
    val cent = v
      .select(col("__lbl"), posexplode(col("__e")).as(Seq("__d", "__x")))
      .groupBy("__lbl", "__d")
      .agg(sum(floor(col("__x") * 1e6 + 0.5).cast("long")).as("__s"),
        count(lit(1)).as("__n"))
      .groupBy(col("__lbl").as("__clbl"))
      .agg(transform(
        sort_array(collect_list(struct(col("__d"),
          (col("__s").cast("double") / 1e6 / col("__n")).as("__c")))),
        t => t.getField("__c")).as("__carr"))
    val dists = v.crossJoin(broadcast(cent))
      .withColumn("__dist", sqrt(aggregate(
        zip_with(col("__e"), col("__carr"), (x, c) => (x - c) * (x - c)),
        lit(0.0d), (acc, x) => acc + x)))
    val ab = dists.groupBy(col("__id"), col("__lbl"))
      .agg(max(when(col("__clbl") === col("__lbl"), col("__dist"))).as("__a"),
        min(when(col("__clbl") =!= col("__lbl"), col("__dist"))).as("__b"))
    ab.select(col("__lbl"),
        when(greatest(col("__a"), col("__b")) > 0,
          floor((col("__b") - col("__a"))
            / greatest(col("__a"), col("__b")) * 1e6 + 0.5).cast("long"))
          .otherwise(lit(0L)).as("__sm"))
      .groupBy(col("__lbl").as("label"))
      .agg(count(lit(1)).as("n_points"),
        zround(sum(col("__sm")).cast("double") / 1e6 / count(lit(1)), 6)
          .as("mean_silhouette"))
  }
}
