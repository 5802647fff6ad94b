package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators (SURVEY §7.9 north
  * star). All hashing is built from md5 + integer arithmetic so results
  * are engine-independent (reproducible in any SQL dialect) and
  * partitioning-independent — at 100 TB these run as: shingle explode
  * (map-side), partial-agg min-signatures (one shuffle keyed by doc),
  * band-bucket self-join (one shuffle keyed by band hash — never the
  * O(n²) all-pairs join).
  */
object Dedup {

  /** Prime modulus for all permutation arithmetic (2^31-1, Mersenne). */
  val P: Long = 2147483647L

  /** k universal-hash permutations (a_i, b_i): a*h+b stays < 2^62 so the
    * identical expression evaluates exactly in any engine.
    */
  def perms(k: Int): Seq[(Long, Long)] =
    (1 to k).map(i => (2L * 976369L * i + 1L, (1013904223L * i) % P))

  /** 60-bit integer hash of a string via md5 (cross-engine exact).
    * Native codegen expression — no hex-string round-trip per shingle.
    */
  def h60(c: Column): Column =
    graft.expressions.Md5Long60.column(c.cast("binary"))

  def h60Sql(x: String): String =
    s"CAST(('0x' || substr(md5($x), 1, 15)) AS BIGINT)"

  /** Word n-gram shingles of a text column (array<string>). */
  def shingles(text: Column, n: Int): Column = {
    val w = split(text, " ")
    transform(
      sequence(lit(0), greatest(size(w) - n, lit(0))),
      i => concat_ws(" ", slice(w, i + 1, lit(n))))
  }

  def shinglesSql(x: String, n: Int): String =
    s"list_transform(range(greatest(len(string_split($x,' ')) - ${n - 1}, 1)), " +
      s"i -> array_to_string(string_split($x,' ')[i+1:i+$n], ' '))"

  /** Exact dedup: content-hash groups with the surviving (minimum) id —
    * one shuffle keyed by the hash.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures: k permutation-minima over word-n-gram shingles.
    * Returns (id, s0..s{k-1}).
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, k: Int = 16): DataFrame = {
    val ex = df
      .select(col(idCol), explode(shingles(col(textCol), n)).as("sh"))
      .withColumn("h", pmod(h60(col("sh")), lit(P)))
    val aggs = perms(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"s$i")
    }
    ex.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: (id, band, band_hash) — b bands of r signature rows.
    * Candidate generation is a self-join on (band, band_hash): documents
    * only meet if some band collides, which is what keeps this sub-O(n²)
    * at scale.
    */
  /** The banding DESIGN CURVE behind every (bands, rows) choice in
    * this family: for each way to split k signature hashes into b
    * bands of r rows, the candidate-collision probability at Jaccard
    * similarity s is 1 − (1 − s^r)^b (the classic MinHash-LSH
    * S-curve), and the curve's inflection — the effective similarity
    * threshold the banding enforces — is ≈ (1/b)^(1/r). One
    * model-sized table per planning call: the tool that turns "grow
    * bits with log₂(n)" from prose into numbers an operator reads
    * before picking the banding for a new corpus size.
    */
  def lshDesignCurve(spark: org.apache.spark.sql.SparkSession, k: Int,
                     sPpms: Seq[Long]): DataFrame = {
    import spark.implicits._
    import graft.core.Exact.zround
    val configs = (1 to k).filter(k % _ == 0).map(b => (b, k / b))
    configs.toDF("bands", "rows_per_band")
      .crossJoin(sPpms.toDF("s_ppm"))
      .withColumn("p_collision", zround(
        lit(1.0) - pow(lit(1.0) - pow(col("s_ppm") / 1000000.0,
          col("rows_per_band")), col("bands")), 6))
      .withColumn("threshold_ppm",
        floor(pow(lit(1.0) / col("bands"),
          lit(1.0) / col("rows_per_band")) * 1000000.0 + 0.5)
          .cast("long"))
  }

  def lshBands(sigs: DataFrame, idCol: String, bands: Int, rows: Int): DataFrame = {
    // One posexplode pass, NOT a b-way union of selects — a union would
    // recompute the signature aggregate once per band.
    val bandHashes = (0 until bands).map { bIdx =>
      val cols = (bIdx * rows until (bIdx + 1) * rows)
        .map(i => col(s"s$i").cast("string"))
      md5(concat_ws(",", cols: _*).cast("binary"))
    }
    sigs.select(col(idCol),
      posexplode(array(bandHashes: _*)).as(Seq("band", "band_hash")))
  }

  /** Near-dup candidate pairs via MinHash + LSH. The band self-join
    * shares ONE lineage: both sides read the same shuffle output
    * (ReusedExchange — pinned in PlanSpec), so signatures are computed
    * once, not once per join side.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    val b = lshBands(minhashSignatures(df, textCol, idCol, n, k), idCol, bands, rows)
    val l = b.toDF("doc_a", "band", "band_hash")
    val r = b.toDF("doc_b", "band", "band_hash")
    l.join(r, Seq("band", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** SimHash: 32-bit signature from per-bit majority vote over the
    * distinct-word hash set. Near-dups differ in few bits (compare by
    * hamming distance downstream).
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val words = df.select(col(idCol),
        explode(array_distinct(split(col(textCol), " "))).as("w"))
      .withColumn("h", pmod(h60(col("w")), lit(4294967296L)))
    val bitSums = (0 until 32).map { b =>
      val bit = pmod(call_function("div", col("h"), lit(1L << b)), lit(2L))
      sum(bit * 2 - 1).as(s"b$b")
    }
    val summed = words.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 32).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    summed.select(col(idCol), sig.as("simhash"))
  }

  /** Embedding-cosine near-duplicate pairs: sign-LSH bucket collisions
    * ([[graft.ops.Similarity.lshBuckets]] — same deterministic
    * projections as the ANN path) generate candidates, exact cosine
    * scores them, keeper = lower id. A pair is emitted iff it collides
    * in ANY of the `nTables` hash tables AND cos >= `minCos`.
    *
    * 100 TB shape: one map-only hash pass, one self-join keyed on
    * (tbl, bucket) — never an all-pairs or blocked-all-pairs join
    * (bucket population ~ n / 2^bitsPerTable per table bounds the pair
    * fan-out). Recall per true pair is 1-(1-p^bits)^tables with
    * p = 1 - acos(cos)/π — tune both knobs to the similarity band being
    * hunted.
    *
    * SCALING CONTRACT: for a fixed `bitsPerTable` the candidate count
    * grows ~n²/2^bits — callers MUST grow bits with log2(n) (keep
    * n/2^bits, the mean bucket occupancy, roughly constant) for linear
    * behavior. Independently, true duplicate CLUSTERS of size k emit
    * ~k²/2 verified pairs by definition of pairwise output — the sf1
    * scale probe (BENCH_NOTES.md) measured exactly this blowup when
    * every vector had 10 exact replicas, and the op survived the 100x
    * pair volume (spill-backed shuffles, no driver state); on real
    * corpora with heavy duplication, dedupe in stages (exact-hash
    * collapse first, as q81's pipeline does) so k stays small here.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, minCos: Double,
                       bitsPerTable: Int = 4, nTables: Int = 8): DataFrame = {
    import graft.ops.Similarity.{dot, norm, lshBuckets}
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("e"))
    val b = v.select(col("id"),
      posexplode(lshBuckets(col("e"), dim, bitsPerTable, nTables))
        .as(Seq("tbl", "bucket")))
    val cand = b.toDF("doc_a", "tbl", "bucket")
      .join(b.toDF("doc_b", "tbl", "bucket"), Seq("tbl", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val n = v.withColumn("n", norm(col("e")))
    cand
      .join(n.toDF("doc_a", "ea", "na"), "doc_a")
      .join(n.toDF("doc_b", "eb", "nb"), "doc_b")
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .where(col("cos") >= minCos)
      .select(col("doc_a"), col("doc_b"),
        least(col("doc_a"), col("doc_b")).as("keeper_id"),
        round(col("cos"), 6).cast("float").as("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space with a coarse k-means quantizer, then look for
    * near-duplicate pairs ONLY within each cluster — the cluster
    * partition bounds the pairwise work the way LSH buckets do in
    * [[embeddingNearDup]], but with data-adaptive cells, which is what
    * makes it catch *semantic* duplicates that hash to different LSH
    * buckets. `centroids` comes from one distributed
    * [[graft.functions.MlAggregators.kmeansFit]] pass (the driver
    * fetches only the model, same as the IVF/PQ fits).
    *
    * 100 TB shape: cell assignment is one map pass against broadcast
    * centroids; the self-join is keyed by cell, so pair fan-out per
    * cell is (cell population)² — grow k with corpus size to keep cell
    * occupancy constant, exactly the [[embeddingNearDup]] bits-vs-n
    * contract. Assignment ties break to the first (lowest-index)
    * maximal-cosine centroid in every engine.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, centroids: Seq[Seq[Double]],
                    minCos: Double): DataFrame = {
    import graft.ops.Similarity.dot
    val assigned = Similarity
      .cellAssign(df, idCol, vecCol, centroids).drop("cell_cos")
    assigned.toDF("doc_a", "ea", "na", "cell")
      .join(assigned.toDF("doc_b", "eb", "nb", "cell"), Seq("cell"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .where(col("cos") >= minCos)
      .select(col("cell"), col("doc_a"), col("doc_b"),
        least(col("doc_a"), col("doc_b")).as("keeper_id"),
        round(col("cos"), 6).cast("float").as("cos"))
  }

  /** Exact n-gram Jaccard scored over MinHash-LSH candidate pairs
    * ([[minhashPairs]]): |A∩B| / |A∪B| on distinct shingle sets, but
    * only for pairs that collide in some signature band — the shingle
    * work per pair is bounded by document length, and the pair count by
    * the banding, so no step is quadratic in a block or corpus. (A pair
    * below every band's collision is not scored: candidates-then-verify
    * semantics, the standard large-corpus dedup contract.)
    */
  /** Incremental connected-components maintenance: fold a DELTA edge
    * batch into an existing (doc, component) labeling without
    * re-clustering history — the component half of the incremental
    * dedup story ([[incrementalDedup]] generates delta candidate pairs;
    * this keeps the cluster labels current). The prior labeling IS a
    * star edge set that preserves its connectivity, so CC over
    * (labeling-as-edges ∪ delta pairs) equals CC over (all old edges ∪
    * delta pairs) — the input to the O(log n) star rounds shrinks from
    * every edge ever seen to one edge per previously-clustered doc.
    */
  def incrementalComponents(assignment: DataFrame, deltaPairs: DataFrame,
                            aCol: String, bCol: String): DataFrame = {
    val oldEdges = assignment.select(col("doc_id").as("u"),
      col("component").as("v"))
    val newEdges = deltaPairs.select(col(aCol).as("u"), col(bCol).as("v"))
    connectedComponents(oldEdges.unionByName(newEdges), "u", "v")
  }

  /** Best-copy dedup keeper policy: cluster near-duplicates (MinHash-LSH
    * candidates → connected components) and keep the HIGHEST-`scoreCol`
    * copy per cluster instead of the arbitrary min-id — the keep rule a
    * production pipeline actually wants (keep the longest / highest-
    * quality / most-recent copy). Ties break to the smaller doc id.
    * Singleton docs (no candidate pair) keep themselves. One window
    * rank per component on top of the CC labeling; nothing new is
    * pairwise. The score is compared as a double (struct-ordering
    * handles fractional scores like a [0,1] quality signal exactly);
    * integral columns are exact in double up to 2^53.
    */
  def keepBestQuality(df: DataFrame, textCol: String, idCol: String,
                      scoreCol: String, n: Int = 3, k: Int = 16,
                      bands: Int = 4): DataFrame = {
    val cc = connectedComponents(
      minhashPairs(df, textCol, idCol, n, k, bands), "doc_a", "doc_b")
    val base = df.select(col(idCol).cast("long").as("doc_id"),
        col(scoreCol).cast("double").as("score"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
    base
      .withColumn("__best", max(struct(col("score").as("s"),
        (-col("doc_id")).as("negid"))).over(w))
      .withColumn("keeper_id", -col("__best").getField("negid"))
      .select(col("doc_id"), col("component"), col("score"),
        col("keeper_id"), (col("doc_id") === col("keeper_id")).as("keep"))
  }

  /** Related-pair mining: LSH candidates whose exact Jaccard lands in
    * a MID band [lo, hi) — related enough to be paraphrase/revision
    * pairs, not so close they are dedup fodder. The positive-pair
    * source for contrastive training and augmentation-consistency
    * checks, mined with the same candidates-then-verify machinery as
    * [[ngramJaccard]] (one band filter is the entire difference).
    * Candidate recall caveat: pairs below the LSH collision curve for
    * `lo` are structurally under-sampled — size bands/k for the lo
    * you care about (the q335 threshold-sweep question).
    */
  def relatedPairs(df: DataFrame, textCol: String, idCol: String,
                   lo: Double, hi: Double, n: Int = 3, k: Int = 16,
                   bands: Int = 4): DataFrame =
    ngramJaccard(df, textCol, idCol, n, k, bands, lo)
      .where(col("jaccard") < hi)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("jaccard"), 6).as("jaccard"))

  /** Asymmetric n-gram containment over MinHash-LSH candidates:
    * C(A→B) = |A∩B| / |A| — the sub-document-duplication signal
    * symmetric Jaccard hides (a short doc fully embedded in a long one
    * scores C≈1 but Jaccard≈|A|/|B|). Reports both directions plus the
    * contained side (higher containment; ties to doc_a). Same
    * candidates-then-verify shape and postings joins as
    * [[ngramJaccard]]; the filter compares exact integer ratios, so
    * every engine keeps the same pairs.
    *
    * Candidate recall caveat (documented contract): candidates still
    * come from SYMMETRIC MinHash bands, whose collision odds fall as
    * the size ratio grows (a tiny doc inside a huge one rarely
    * collides). For aggressive containment recall at extreme ratios
    * use the df-capped inverted fingerprint index
    * ([[graft.ops.TextOps.winnowMatches]] reports containment too);
    * this op is the cheap within-candidate-set direction check.
    */
  def containment(df: DataFrame, textCol: String, idCol: String,
                  n: Int = 3, k: Int = 16, bands: Int = 4,
                  minContainment: Double = 0.5): DataFrame = {
    val cand = minhashPairs(df, textCol, idCol, n, k, bands)
    val g = df.select(col(idCol).as("did"),
      explode(shingles(col(textCol), n)).as("g")).distinct()
    val sizes = g.groupBy(col("did")).agg(count(lit(1)).as("ng"))
    val inter = cand
      .join(g.toDF("doc_a", "g"), "doc_a")
      .join(g.toDF("doc_b", "g"), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_grams"))
    val ca = col("inter_grams").cast("double") / col("na")
    val cb = col("inter_grams").cast("double") / col("nb")
    inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .where(greatest(ca, cb) >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("inter_grams"),
        round(ca, 6).as("containment_a"), round(cb, 6).as("containment_b"),
        when(ca >= cb, col("doc_a")).otherwise(col("doc_b"))
          .as("contained_doc"))
  }

  /** IDF-weighted Jaccard over MinHash-LSH candidates: gram g weighs
    * ln(N/df_g) — shared BOILERPLATE grams (high df) contribute ~0, so
    * two docs agreeing only on common phrases no longer look like
    * duplicates, while agreement on rare content counts fully (the
    * standard fix for plain Jaccard's short-doc/boilerplate failure
    * mode). Weights are micro-nat quantized BEFORE every sum (the
    * engine-exactness contract), so the ratio
    * interW / (wA + wB − interW) is a ratio of exact integers at any
    * partitioning. Same candidates-then-verify shape as
    * [[ngramJaccard]] plus one gram-DF aggregate.
    */
  def weightedJaccard(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, k: Int = 16, bands: Int = 4,
                      minWeightedJ: Double = 0.2): DataFrame = {
    val cand = minhashPairs(df, textCol, idCol, n, k, bands)
    val g = df.select(col(idCol).as("did"),
      explode(array_distinct(shingles(col(textCol), n))).as("g"))
    val nd = df.agg(count(lit(1)).as("__N"))
    val w = g.groupBy(col("g")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nd))
      .select(col("g"), floor(log(col("__N").cast("double") / col("__df"))
        * 1e6 + 0.5).cast("long").as("wq"))
    // `gw` (the weighted postings list) feeds three consumers (sizes +
    // both intersection join sides) — materialize once instead of
    // re-running the shingle explode + DF aggregate per consumer (the
    // winnowMatches pattern; this IS an index build, so persisting it
    // is the standard shape — swap for checkpoint() on a cluster).
    val gw = g.join(w, "g").localCheckpoint(false)
    val sizes = gw.groupBy(col("did")).agg(sum(col("wq")).as("ws"))
    val inter = cand
      .join(gw.select(col("did").as("doc_a"), col("g"), col("wq")), "doc_a")
      .join(gw.select(col("did").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(sum(col("wq")).as("inter_wq"))
    inter
      .join(sizes.toDF("doc_a", "wa"), "doc_a")
      .join(sizes.toDF("doc_b", "wb"), "doc_b")
      .withColumn("wj", col("inter_wq").cast("double") /
        (col("wa") + col("wb") - col("inter_wq")))
      .where(col("wj") >= minWeightedJ)
      .select(col("doc_a"), col("doc_b"), col("inter_wq"),
        round(col("wj"), 6).as("weighted_jaccard"))
  }

  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, k: Int = 16, bands: Int = 4,
                   minJaccard: Double = 0.2): DataFrame = {
    val cand = minhashPairs(df, textCol, idCol, n, k, bands)
    val g = df.select(col(idCol).as("did"),
      explode(shingles(col(textCol), n)).as("g")).distinct()
    val sizes = g.groupBy(col("did")).agg(count(lit(1)).as("n_grams"))
    val inter = cand
      .join(g.toDF("doc_a", "g"), "doc_a")
      .join(g.toDF("doc_b", "g"), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "inter", "jaccard")
  }

  /** Dedup threshold operating-point sweep: for each candidate Jaccard
    * threshold, how many verified pairs survive and how many docs they
    * touch — the table a team reads BEFORE committing a dedup
    * threshold (next to [[minhashCalibration]], which sizes the
    * signature; this sizes the cut). One scored-candidate pass
    * ([[ngramJaccard]] at threshold 0) crossed with the O(#thresholds)
    * literal list; the Jaccard is an exact integer ratio, so every
    * engine keeps identical pairs at every cut.
    */
  def dedupThresholdSweep(df: DataFrame, textCol: String, idCol: String,
                          n: Int = 3, k: Int = 16, bands: Int = 4,
                          thresholds: Seq[Double] =
                            Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
                         ): DataFrame = {
    val scored = ngramJaccard(df, textCol, idCol, n, k, bands, 0.0)
      .localCheckpoint(false) // feeds two consumers (pair + doc counts)
    val th = scored.sparkSession.createDataFrame(
      thresholds.map(Tuple1(_))).toDF("threshold")
    val pj = scored.crossJoin(broadcast(th))
      .where(col("jaccard") >= col("threshold"))
    val pairs = pj.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val docs = pj.select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("threshold").agg(countDistinct(col("d")).as("n_docs"))
    th.join(pairs, Seq("threshold"), "left")
      .join(docs, Seq("threshold"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs"))
  }

  /** The dedup decision ledger — per DROPPED doc, WHY it was dropped
    * and which doc it lost to: 'exact' (same content hash, keeper =
    * min id) or 'near' (verified-Jaccard connected component, keeper =
    * component min among exact survivors), with the evidence (1.0 for
    * exact; the doc's strongest verified link for near — duplication is
    * transitive, so the keeper itself may not be a direct pair). The
    * auditability artifact a production dedup run ships with its drop
    * list. Output scales with dropped docs, never corpus.
    */
  def dedupExplain(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, k: Int = 16, bands: Int = 4,
                   minJaccard: Double = 0.8): DataFrame = {
    val hashed = df.select(col(idCol).cast("long").as("doc_id"),
      md5(col(textCol).cast("binary")).as("h"))
    val grp = hashed.groupBy("h").agg(min(col("doc_id")).as("keeper_id"))
    val exactDrops = hashed.join(grp, "h")
      .where(col("doc_id") =!= col("keeper_id"))
      .select(col("doc_id"), lit("exact").as("reason"), col("keeper_id"),
        lit(1.0).as("evidence"))
    val survivors = df.join(
      exactDrops.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
    val pairs = ngramJaccard(survivors, textCol, idCol, n, k, bands, minJaccard)
      .localCheckpoint(false) // feeds CC + the per-doc evidence agg
    val cc = connectedComponents(pairs, "doc_a", "doc_b")
    val strongest = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"),
        col("jaccard"))
      .groupBy("doc_id").agg(max(col("jaccard")).as("evidence"))
    val nearDrops = cc.where(col("doc_id") =!= col("component"))
      .join(strongest, "doc_id")
      .select(col("doc_id"), lit("near").as("reason"),
        col("component").as("keeper_id"), col("evidence"))
    exactDrops.unionByName(nearDrops)
      .withColumn("evidence", round(col("evidence"), 6))
  }

  /** Connected components over a duplicate-pair edge list: the stage
    * between LSH candidate pairs and survivor selection that collapses
    * transitive duplicate chains (A~B, B~C => one cluster even when A,C
    * never collide) — per-pair drop heuristics over-keep local minima.
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): both steps need only
    * a per-node MIN — groupBy(node).min(neighbor) then a join back, two
    * keyed shuffles per step, no neighbor-list materialization, no
    * driver-side graph. Converges in O(log n) rounds on any graph (and
    * 1–2 rounds on dedup graphs, which are near-cliques). Each round's
    * edge set is localCheckpoint'ed to truncate lineage — on a real
    * cluster swap for `checkpoint()` on durable storage.
    *
    * Returns (doc_id, component) for every node of `pairs`, where
    * component is the minimum id in the node's component.
    */
  /** One large-/small-star step of [[connectedComponents]] (Kiveris et
    * al.). Exposed package-private so PlanSpec can pin the per-round
    * plan contract: only keyed exchanges (groupBy(u) min + join-back +
    * distinct), never a cartesian or data-sized nested-loop join.
    * Large-star: every node links its LARGER neighbors to its minimum
    * (keeps big stars shallow); small-star: links its smaller-or-self
    * chain to the minimum. Emitted edges are (child, candidate-root).
    */
  private[graft] def ccStar(e: DataFrame, large: Boolean): DataFrame = {
    val nbrs =
      if (large)
        e.select(col("u"), col("v"))
          .union(e.select(col("v").as("u"), col("u").as("v")))
      else
        e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
    val m = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    val emitted =
      if (large)
        nbrs.where(col("v") > col("u"))
          .join(m, "u").select(col("v").as("u"), col("m").as("v"))
      else
        nbrs.join(m, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .union(m.select(col("u"), col("m").as("v")))
    emitted.where(col("u") =!= col("v")).distinct()
  }

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    def star(e: DataFrame, large: Boolean): DataFrame = ccStar(e, large)
    var e = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    e = graft.core.Ckpt(e) // per-round lineage cut; reliable-ckpt swappable
    var converged = false
    var i = 0
    // Carried across iterations: this round's next.count() IS the next
    // round's e.count() (e is checkpointed, so the value cannot drift) —
    // recomputing it was one redundant count job per iteration.
    var eCount = e.count()
    while (!converged && i < maxIter) {
      val next = graft.core.Ckpt(star(star(e, large = true), large = false))
      // Star steps only ever lower the larger endpoint's target, so an
      // unchanged edge set IS the fixpoint (paper Thm 1). Cheap count
      // gate first (non-converged rounds almost always shrink the edge
      // set); equal cardinality + empty multiset-difference one way
      // implies set equality, so one exceptAll suffices.
      val nextCount = next.count()
      converged = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
      i += 1
    }
    // Converged state is a forest of stars: every edge is (member, root).
    e.select(greatest(col("u"), col("v")).as("doc_id"),
        least(col("u"), col("v")).as("component"))
      .union(e.select(least(col("u"), col("v")).as("doc_id"),
        least(col("u"), col("v")).as("component")))
      .distinct()
  }

  /** Compact a persisted dedup index after many [[appendDedupIndex]]
    * folds — the [[graft.ops.Similarity.compactSq8Index]] pattern for
    * the hash/band tables: each append leaves its own small parquet
    * files; both tables are rewritten into `partitions` right-sized
    * files via the staging + rename-swap cutover
    * ([[graft.core.Layout.swapInto]] — the rewrite never touches the
    * directory it reads, and no reader ever sees half-written data).
    * Decisions are untouched — the gate proves a post-compaction
    * delta run still matches the grown-corpus oracle.
    */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, partitions: Int): Unit = {
    // a replayed compaction resumes its own torn swaps before reading
    graft.core.Layout.healTorn(spark, s"$path/hashes.parquet")
    graft.core.Layout.healTorn(spark, s"$path/bands.parquet")
    spark.read.parquet(s"$path/hashes.parquet")
      .repartition(partitions)
      .write.mode("overwrite").parquet(s"$path/hashes.parquet__staging")
    graft.core.Layout.swapInto(spark, s"$path/hashes.parquet__staging",
      s"$path/hashes.parquet")
    spark.read.parquet(s"$path/bands.parquet")
      .repartition(partitions)
      .write.mode("overwrite").parquet(s"$path/bands.parquet__staging")
    graft.core.Layout.swapInto(spark, s"$path/bands.parquet__staging",
      s"$path/bands.parquet")
  }

  /** Incremental (snapshot + delta) dedup: admit only the `batch` docs
    * that are new w.r.t. an existing `corpus` — the production shape for
    * a continuously-curated corpus, where re-deduplicating 100 TB for a
    * sub-percent daily delta is not an option. Stages, all
    * candidates-then-verify (never a corpus×batch product):
    *
    *  1. intra-batch exact — only the first (min-id) copy per content
    *     hash can be admitted;
    *  2. cross exact — drop batch docs whose content hash already exists
    *     in the corpus (one shuffle keyed by the hash; at scale the
    *     corpus hash set is a persisted index, re-derived here so the
    *     whole op stays SQL-re-derivable);
    *  3. cross near-dup — LSH bands of the surviving batch docs,
    *     BROADCAST (the delta is small by definition) against the corpus
    *     band stream, so the 100 TB side never shuffles for candidate
    *     generation; candidates are then exact-n-gram-Jaccard verified at
    *     `threshold`, with the corpus gram explode semi-join-pruned to
    *     candidate ids first.
    *
    * Returns one row per batch doc: (idCol, decision), decision ∈
    * {dup_exact_corpus, dup_exact_batch, near_dup_corpus, admitted},
    * checked in that order. Batch-internal NEAR-dups are deliberately
    * both admitted — the standing corpus pipeline (q81/q253) owns
    * intra-corpus near-dedup; this op's contract is delta-vs-snapshot.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
                       textCol: String, idCol: String,
                       n: Int = 3, k: Int = 16, bands: Int = 4,
                       threshold: Double = 0.8): DataFrame = {
    val corpusHash = corpus.select(contentHash(textCol).as("content_hash"))
      .distinct().withColumn("in_corpus", lit(true))
    val bandC =
      lshBands(minhashSignatures(corpus, textCol, idCol, n, k),
        idCol, bands, k / bands).toDF("corpus_id", "band", "band_hash")
    deltaDecisions(corpus, batch, corpusHash, bandC, textCol, idCol, n, k,
      bands, threshold)._1
  }

  private def contentHash(textCol: String): Column =
    md5(col(textCol).cast("binary"))

  /** The delta-vs-snapshot decision core of [[incrementalDedup]] and
    * [[incrementalDedupIndexed]], which differ only in where the corpus
    * hash set `corpusHash` (content_hash, in_corpus) and the corpus band
    * stream `bandC` (corpus_id, band, band_hash) come from; `corpus`
    * serves the candidate verify's text fetch. Returns the decisions
    * and the broadcast batch bands.
    */
  private def deltaDecisions(corpus: DataFrame, batch: DataFrame,
                             corpusHash: DataFrame, bandC: DataFrame,
                             textCol: String, idCol: String, n: Int,
                             k: Int, bands: Int,
                             threshold: Double): (DataFrame, DataFrame) = {
    val b = batch.select(col(idCol), col(textCol),
      contentHash(textCol).as("content_hash"))
    val firstPerHash = b.groupBy("content_hash")
      .agg(min(col(idCol)).as("first_id"))
    val flagged = b.join(firstPerHash, "content_hash")
      .join(corpusHash, Seq("content_hash"), "left")
    val survivors = flagged
      .where(col("in_corpus").isNull && col(idCol) === col("first_id"))
      .select(col(idCol), col(textCol))
    val bandB = broadcast(
      lshBands(minhashSignatures(survivors, textCol, idCol, n, k),
        idCol, bands, k / bands).toDF("batch_id", "band", "band_hash"))
    val cand = bandC.join(bandB, Seq("band", "band_hash"))
      .select("batch_id", "corpus_id").distinct()
    val gB = survivors.select(col(idCol).as("batch_id"),
      explode(shingles(col(textCol), n)).as("g")).distinct()
    val gC = corpus
      .join(cand.select(col("corpus_id").as(idCol)).distinct(), Seq(idCol))
      .select(col(idCol).as("corpus_id"),
        explode(shingles(col(textCol), n)).as("g")).distinct()
    val szB = gB.groupBy("batch_id").agg(count(lit(1)).as("nb"))
    val szC = gC.groupBy("corpus_id").agg(count(lit(1)).as("nc"))
    val near = cand
      .join(gB, "batch_id").join(gC, Seq("corpus_id", "g"))
      .groupBy("batch_id", "corpus_id").agg(count(lit(1)).as("i"))
      .join(szB, "batch_id").join(szC, "corpus_id")
      .where(col("i").cast("double") /
        (col("nb") + col("nc") - col("i")) >= threshold)
      .select(col("batch_id").as(idCol)).distinct()
      .withColumn("near_corpus", lit(true))
    (flagged.join(near, Seq(idCol), "left")
      .select(col(idCol),
        when(col("in_corpus").isNotNull, lit("dup_exact_corpus"))
          .when(col(idCol) =!= col("first_id"), lit("dup_exact_batch"))
          .when(col("near_corpus").isNotNull, lit("near_dup_corpus"))
          .otherwise(lit("admitted")).as("decision")), bandB)
  }

  /** Persist a corpus snapshot's dedup index: the content-hash set and
    * the MinHash-LSH band stream, written once at snapshot-build time.
    * [[incrementalDedupIndexed]] then serves every delta WITHOUT
    * rescanning or re-hashing the snapshot — the index is the only
    * corpus-derived input to candidate generation, and it is a tiny
    * fraction of corpus bytes (a hash and `bands` band rows per doc vs
    * the full text).
    */
  def writeDedupIndex(corpus: DataFrame, textCol: String, idCol: String,
                      path: String, n: Int = 3, k: Int = 16,
                      bands: Int = 4): Unit = {
    corpus.select(contentHash(textCol).as("content_hash"))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/hashes.parquet")
    lshBands(minhashSignatures(corpus, textCol, idCol, n, k), idCol,
        bands, k / bands)
      .toDF("corpus_id", "band", "band_hash")
      .write.mode("overwrite").parquet(s"$path/bands.parquet")
  }

  /** Fold newly-ingested docs into a persisted dedup index WITHOUT
    * touching the snapshot: MinHash signatures depend only on the
    * fixed permutation constants (no corpus statistic to drift —
    * unlike SQ8's bounds), so an append is ALWAYS exact. BOTH tables
    * append anti-joined: content hashes against the stored hash set
    * (preserving its set semantics — the [[incrementalDedupIndexed]]
    * reader left-joins it, so a duplicate hash row would fan out
    * decisions), and band rows against the stored (corpus_id, band)
    * PAIRS — not the id alone (same `corpus_id` ⇒ same text ⇒
    * identical band rows, so a REPLAYED append of an already-indexed
    * doc adds nothing — the [[SemIndex.append]]/[[PhashIndex.append]]
    * idempotence contract; without it a replay would silently drift
    * `dedupIndexStats`' bands_per_doc and false-flag a torn append;
    * and keying the anti-join per BAND means a torn append that
    * committed only some of a doc's band rows — committer v2 /
    * object-store semantics — is BACKFILLED by the replay instead of
    * frozen as permanently reduced recall). The index after
    * append is row-identical to [[writeDedupIndex]] over the grown
    * corpus — gate-proved by a second delta's decisions (q352). At
    * 100 TB only the delta is scanned; both anti-joins are
    * delta-sized against column-pruned index reads.
    */
  def appendDedupIndex(delta: DataFrame, textCol: String, idCol: String,
                       path: String, n: Int = 3, k: Int = 16,
                       bands: Int = 4): Unit = {
    val spark = delta.sparkSession
    val existing = spark.read.parquet(s"$path/hashes.parquet")
    delta.select(md5(col(textCol).cast("binary")).as("content_hash"))
      .distinct()
      .join(existing, Seq("content_hash"), "left_anti")
      .write.mode("append").parquet(s"$path/hashes.parquet")
    val indexed = spark.read.parquet(s"$path/bands.parquet")
      .select("corpus_id", "band")
    lshBands(minhashSignatures(delta, textCol, idCol, n, k), idCol,
        bands, k / bands)
      .toDF("corpus_id", "band", "band_hash")
      .join(indexed, Seq("corpus_id", "band"), "left_anti")
      .localCheckpoint(true) // the anti-join reads the table appended to
      .write.mode("append").parquet(s"$path/bands.parquet")
  }

  /** Dedup-index health card (the [[Similarity.sq8IndexStats]]
    * pattern for the hash/band tables): hash-set size, band-row
    * count, indexed docs, bands per doc (must equal the build's
    * `bands` — a drifted ratio means a torn append), LSH bucket
    * count and the LARGEST bucket — the skew signal that predicts a
    * delta day's candidate explosion before it happens. Aggregates
    * over the index only; the corpus is never touched.
    */
  def dedupIndexStats(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    import graft.functions.PixieFunctions.idiv
    val h = spark.read.parquet(s"$path/hashes.parquet")
    val b = spark.read.parquet(s"$path/bands.parquet")
    val buckets = b.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__c"))
      .agg(count(lit(1)).as("n_buckets"), max(col("__c")).as("max_bucket"))
    h.agg(count(lit(1)).as("n_hashes"))
      .crossJoin(broadcast(b.agg(count(lit(1)).as("n_band_rows"),
        countDistinct(col("corpus_id")).as("n_docs"))))
      .crossJoin(broadcast(buckets))
      .withColumn("bands_per_doc",
        idiv(col("n_band_rows"), greatest(col("n_docs"), lit(1L))))
  }

  /** SymSpell-style edit-distance-1 pair mining over a word/title
    * frame (Garbe's symmetric-delete trick): two strings within one
    * edit (insert / delete / substitute) ALWAYS share an entry of
    * their deletion neighborhoods `{w} ∪ del1(w)`, so candidates come
    * from ONE equi-join keyed by the variant string — never an
    * all-pairs product — and are then exactly verified with
    * `levenshtein <= 1`. The typo-clustering primitive for vocab /
    * title / entity dedup.
    *
    * Scale: fan-out is `length(w) + 1` variants per word (bounded by
    * word length); the join is variant-keyed; verify touches only
    * collisions. Output: (wa, wb, dist) with wa < wb.
    */
  def fuzzyPairs(words: DataFrame, wordCol: String): DataFrame = {
    val w = words.select(col(wordCol).as("w"))
      .where(col("w").isNotNull && col("w") =!= "").distinct()
    val vars = w.select(col("w"), explode(concat(array(col("w")),
      transform(sequence(lit(1), length(col("w"))),
        i => concat(col("w").substr(lit(1), i - 1),
          col("w").substr(i + 1, length(col("w"))))))).as("v"))
    vars.select(col("w").as("wa"), col("v"))
      .join(vars.select(col("w").as("wb"), col("v")), "v")
      .where(col("wa") < col("wb"))
      .select("wa", "wb").distinct()
      // verify BYTE-wise (DuckDB's levenshtein domain) — Spark's
      // builtin is code-point based and would keep a pair the oracle
      // rejects on non-ASCII vocab ('cafe' vs 'café': 1 code point
      // but 2 bytes). Candidate generation via substr is code-point
      // based on both engines, so only the verify needs the native
      // expression.
      .withColumn("dist", graft.expressions.ByteLevenshtein.column(
        col("wa"), col("wb")).cast("long"))
      .where(col("dist") <= 1)
  }

  /** Delete docs from a persisted dedup index ([[writeDedupIndex]])
    * WITHOUT rebuilding it — the takedown/right-to-erasure path that
    * completes the index lifecycle (build -> append -> compact ->
    * delete). Band rows of deleted ids are dropped outright; a content
    * hash is dropped ONLY if no surviving doc still carries it (the
    * stored set has no per-doc attribution, so the surviving holders
    * are found by one MAP-ONLY corpus scan filtered through the
    * broadcast deleted-hash set — no shuffle of the corpus, and the
    * only path that touches it). The index after delete is
    * row-identical to [[writeDedupIndex]] over corpus-minus-deleted,
    * except hash-set ordering — gate-proved by the next delta's
    * decisions matching the shrunk-corpus oracle (q384).
    */
  def deleteFromDedupIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, corpus: DataFrame,
                           deleted: DataFrame, textCol: String,
                           idCol: String): Unit = {
    val hash = md5(col(textCol).cast("binary"))
    val delIds = deleted.select(col(idCol)).distinct()
    val delHash = deleted.select(hash.as("content_hash")).distinct()
    val stillHeld = corpus.join(delIds, Seq(idCol), "left_anti")
      .select(hash.as("content_hash"))
      .join(broadcast(delHash), Seq("content_hash"), "left_semi")
      .distinct()
    val toRemove = delHash.join(stillHeld, Seq("content_hash"), "left_anti")
    spark.read.parquet(s"$path/hashes.parquet")
      .join(broadcast(toRemove), Seq("content_hash"), "left_anti")
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$path/hashes.parquet")
    spark.read.parquet(s"$path/bands.parquet")
      .join(broadcast(delIds.select(col(idCol).as("corpus_id"))),
        Seq("corpus_id"), "left_anti")
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$path/bands.parquet")
  }

  /** LEXICAL REJECT EVIDENCE — the steward's "which stored doc
    * blocked me" query, served off the persisted dedup index (the
    * [[graft.ops.PhashIndex.search]]-based perceptual evidence and
    * the SemIndex-based semantic evidence's missing sibling, closing
    * the r13 verdict's task 2): for every corpus-rejected delta doc,
    * the nearest stored partner —
    *
    *  - `exact` (the doc's content hash is IN the stored hash set —
    *    the same membership test that produced `dup_exact_corpus`):
    *    partner = the SMALLEST-id indexed doc carrying that hash,
    *    jaccard_ppm = 1,000,000 by definition;
    *  - `near` (everything else): band-collide the doc's MinHash
    *    bands against the stored band table (the exact candidate
    *    policy [[incrementalDedupIndexed]] used to reject it), verify
    *    exact n-gram Jaccard against the id-pruned candidate texts,
    *    partner = rank 1 by (jaccard_ppm DESC, id ASC) among
    *    candidates at/over the admission `threshold` — reported in
    *    exact integer ppm (⌊i·1e6 / (nb+nc−i)⌋), so rank and value
    *    are engine-independent.
    *
    * A doc rejected as `near_dup_corpus` always has a partner (its
    * rejection WAS such a candidate); an exact clone reads back its
    * source at ppm 1e6 — the q584/q585 sentinel contract. `corpus` is
    * the indexed membership's text frame (e.g.
    * [[MultiDay.indexedDocs]]); `rejected` the rejected docs with
    * text. 100 TB shape: rejection-sized band probes + id-pruned text
    * fetches — never rejected × corpus.
    */
  def rejectEvidence(spark: org.apache.spark.sql.SparkSession,
                     path: String, corpus: DataFrame,
                     rejected: DataFrame, textCol: String, idCol: String,
                     n: Int = 3, k: Int = 16, bands: Int = 4,
                     threshold: Double = 0.8): DataFrame = {
    import graft.functions.PixieFunctions.idiv
    val hash = md5(col(textCol).cast("binary"))
    val rej = rejected.select(col(idCol), col(textCol))
      .localCheckpoint(true)
    // exact: membership via the stored hash SET, partner named via
    // the id-pruned corpus text frame
    val blocked = rej.withColumn("content_hash", hash)
      .join(spark.read.parquet(s"$path/hashes.parquet"),
        Seq("content_hash"), "left_semi")
    // rejection-sized hash probe broadcast against the corpus scan
    val exact = corpus
      .select(hash.as("content_hash"), col(idCol).as("__pid"))
      .join(broadcast(blocked), "content_hash")
      .groupBy(col(idCol)).agg(min(col("__pid")).as("partner_id"))
      .select(col(idCol), lit("exact").as("kind"), col("partner_id"),
        lit(1000000L).as("jaccard_ppm"))
      .localCheckpoint(true)
    val nr = rej.join(exact.select(col(idCol)), Seq(idCol), "left_anti")
    // rejection-sized band probe BROADCAST against the stored band
    // stream (the incrementalDedup candidate-generation discipline:
    // the 100 TB side never shuffles for candidates)
    val bandQ = broadcast(
      lshBands(minhashSignatures(nr, textCol, idCol, n, k),
          idCol, bands, k / bands)
        .toDF("__qid", "band", "band_hash"))
    val cand = spark.read.parquet(s"$path/bands.parquet") // stored bands
      .join(bandQ, Seq("band", "band_hash"))
      .select("__qid", "corpus_id").distinct()
    val gQ = nr.select(col(idCol).as("__qid"),
      explode(shingles(col(textCol), n)).as("g")).distinct()
    val gC = corpus
      .join(broadcast(cand.select(col("corpus_id").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("corpus_id"),
        explode(shingles(col(textCol), n)).as("g")).distinct()
    val szQ = gQ.groupBy("__qid").agg(count(lit(1)).as("nb"))
    val szC = gC.groupBy("corpus_id").agg(count(lit(1)).as("nc"))
    val scored = cand
      .join(gQ, "__qid").join(gC, Seq("corpus_id", "g"))
      .groupBy("__qid", "corpus_id").agg(count(lit(1)).as("i"))
      .join(szQ, "__qid").join(szC, "corpus_id")
      .where(col("i").cast("double") /
        (col("nb") + col("nc") - col("i")) >= threshold)
      .withColumn("jaccard_ppm",
        idiv(col("i") * 1000000L, col("nb") + col("nc") - col("i")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid")
      .orderBy(col("jaccard_ppm").desc, col("corpus_id"))
    val near = scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("__qid").as(idCol), lit("near").as("kind"),
        col("corpus_id").as("partner_id"), col("jaccard_ppm"))
    exact.unionByName(near)
  }

  /** [[incrementalDedup]] against a PERSISTED index
    * ([[writeDedupIndex]]): identical decisions by construction — the
    * gate reuses q269's oracle, the q248/q237 sharing pattern — but the
    * snapshot text is touched ONLY for the exact-Jaccard verify of
    * band-collision candidates (an id-keyed fetch of candidate rows),
    * never for hashing or banding. This is the shape a daily 100 TB
    * delta job actually runs: index scan + broadcast delta + candidate
    * fetch, all O(delta + collisions).
    */
  def incrementalDedupIndexed(indexPath: String, corpus: DataFrame,
                              batch: DataFrame, textCol: String,
                              idCol: String, n: Int = 3, k: Int = 16,
                              bands: Int = 4,
                              threshold: Double = 0.8): DataFrame =
    indexedDecisions(indexPath, corpus, batch, textCol, idCol, n, k,
      bands, threshold, bucketCap = 0)

  /** [[incrementalDedupIndexed]] with a BUCKET CAP — the degenerate-
    * bucket guard the q502 health card's `max_bucket` column watches
    * for: one boilerplate-heavy LSH bucket holding B corpus docs turns
    * a delta day's candidate join into O(B · colliding-delta-docs)
    * verify work, quadratic in the hot content at 100 TB. Policy
    * (deterministic, SQL-re-derivable — q515's oracle encodes it
    * verbatim): each (band, band_hash) bucket contributes at most
    * `bucketCap` corpus members to candidate generation, the KEEPERS
    * being the lowest-id members (rank by corpus_id). DISCLOSURE: the
    * decision ledger grows a `hit_capped_bucket` column — true for a
    * batch doc whose band lookup landed in a bucket larger than the
    * cap, i.e. exactly the docs whose near-dup verdict may have been
    * truncated; an operator routes those to a slow-path recheck or
    * accepts the bounded miss. The rank window shuffles only the
    * index band table (model-sized next to the corpus), never the
    * corpus or the delta.
    */
  def incrementalDedupCapped(indexPath: String, corpus: DataFrame,
                             batch: DataFrame, textCol: String,
                             idCol: String, n: Int = 3, k: Int = 16,
                             bands: Int = 4, threshold: Double = 0.8,
                             bucketCap: Int = 8): DataFrame = {
    require(bucketCap > 0, "incrementalDedupCapped: bucketCap > 0")
    indexedDecisions(indexPath, corpus, batch, textCol, idCol, n, k,
      bands, threshold, bucketCap)
  }

  private def indexedDecisions(indexPath: String, corpus: DataFrame,
                               batch: DataFrame, textCol: String,
                               idCol: String, n: Int, k: Int,
                               bands: Int, threshold: Double,
                               bucketCap: Int): DataFrame = {
    val spark = batch.sparkSession
    val corpusHash = spark.read.parquet(s"$indexPath/hashes.parquet")
      .withColumn("in_corpus", lit(true))
    val bandC0 = spark.read.parquet(s"$indexPath/bands.parquet")
    val bandC =
      if (bucketCap <= 0) bandC0
      else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("band", "band_hash").orderBy("corpus_id")
        bandC0.withColumn("__rk", row_number().over(w))
          .where(col("__rk") <= bucketCap).drop("__rk")
      }
    val (decisions, bandB) = deltaDecisions(corpus, batch, corpusHash,
      bandC, textCol, idCol, n, k, bands, threshold)
    if (bucketCap <= 0) decisions
    else {
      // disclosure column: which batch docs looked up a bucket larger
      // than the cap (their near-dup verdict may be truncated). Sizes
      // come from the UNCAPPED index aggregate — model-sized.
      val sizes = bandC0.groupBy("band", "band_hash")
        .agg(count(lit(1)).as("__bsz"))
      val hot = bandB.join(sizes, Seq("band", "band_hash"))
        .where(col("__bsz") > bucketCap)
        .select(col("batch_id").as(idCol)).distinct()
        .withColumn("__hot", lit(true))
      decisions.join(hot, Seq(idCol), "left")
        .select(col(idCol), col("decision"),
          coalesce(col("__hot"), lit(false)).as("hit_capped_bucket"))
    }
  }

  /** SoftDeDup: duplicate REWEIGHTING instead of removal (He et al.,
    * "SoftDedup: an Efficient Data Reweighting Method for Speeding Up
    * Language Model Pre-training", ACL 2024). Every doc stays in the
    * corpus, but its sampling weight is divided by its duplicate-cluster
    * size, so a 50-copy boilerplate cluster contributes ~one doc of
    * expected training mass while hard removal's information loss is
    * avoided. Clusters are the transitive closure of near-duplicate
    * pairs ([[ngramJaccard]] → [[connectedComponents]]; exact copies
    * have Jaccard 1, so they need no separate stage); docs in no pair
    * are singletons with weight 1.
    *
    * The weight is the exact integer `1_000_000 / cluster_size`
    * (micro-units, floor), so results are partitioning- and
    * engine-exact. Shape: the dedup pipeline's own shuffles + one
    * groupBy(component) count + a keyed join-back — nothing new at scale
    * beyond what q240 already measures.
    */
  def softDedupWeights(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, k: Int = 16, bands: Int = 4,
                       threshold: Double = 0.8): DataFrame = {
    val withComp = dupComponents(df, textCol, idCol, n, k, bands, threshold)
    val sizes = withComp.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    withComp.join(sizes, "component")
      .select(col(idCol), col("component"), col("cluster_size"),
        call_function("div", lit(1000000L), col("cluster_size"))
          .as("weight_micro"))
  }

  /** (idCol, component): each doc's near-duplicate cluster
    * ([[ngramJaccard]] pairs → [[connectedComponents]]); a doc in no
    * pair is its own component.
    */
  private def dupComponents(df: DataFrame, textCol: String, idCol: String,
                            n: Int, k: Int, bands: Int,
                            threshold: Double): DataFrame = {
    val pairs = ngramJaccard(df, textCol, idCol, n, k, bands, threshold)
      .select("doc_a", "doc_b")
    val comp = connectedComponents(pairs, "doc_a", "doc_b")
      .withColumnRenamed("doc_id", idCol)
    df.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
  }

  /** Leakage-safe train/val/test split: the split key is the
    * duplicate-CLUSTER component ([[ngramJaccard]] →
    * [[connectedComponents]]; singletons key by their own id), so every
    * exact or near copy of a document lands in the SAME split by
    * construction — the well-known eval-leakage failure of id- or
    * row-keyed random splits (train/test contamination through
    * duplicates) is structurally impossible. Assignment is the
    * deterministic md5 rule shared with [[graft.ops.Corpus
    * .stratifiedSample]]: reproducible across runs, engines and
    * partitionings. `valPct`/`testPct` are percentages of the hash
    * space (clusters, and therefore approximately docs, split
    * accordingly; heavy clusters move in blocks — by design).
    */
  def leakageSafeSplit(df: DataFrame, textCol: String, idCol: String,
                       valPct: Int = 10, testPct: Int = 10,
                       n: Int = 3, k: Int = 16, bands: Int = 4,
                       threshold: Double = 0.8): DataFrame = {
    val h = pmod(h60(col("component").cast("string")), lit(100L))
    dupComponents(df, textCol, idCol, n, k, bands, threshold)
      .withColumn("split",
        when(h < testPct, lit("test"))
          .when(h < testPct + valPct, lit("val"))
          .otherwise(lit("train")))
  }

  /** MinHash estimator calibration: for every LSH candidate pair, the
    * signature-agreement estimate ĵ = |{i : sa_i = sb_i}| / k next to
    * the exact n-gram Jaccard — the measurement that tells an operator
    * how many signature rows a target similarity band actually needs
    * (E[ĵ] = J, σ = sqrt(J(1−J)/k)), instead of guessing k. "Measure,
    * don't guess" applied to the dedup index itself; run it on a sample
    * before committing a 100 TB signature layout.
    *
    * All similarity numbers are exact integer micro-units (integer
    * division), so the report is engine- and partitioning-exact. Shape:
    * the signature aggregate is computed ONCE and feeds both the band
    * self-join and the per-side signature lookup (ReusedExchange); the
    * exact-Jaccard stage is the candidates-then-verify skeleton of
    * [[ngramJaccard]].
    */
  def minhashCalibration(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val sigs = minhashSignatures(df, textCol, idCol, n, k)
    val b = lshBands(sigs, idCol, bands, k / bands)
    val cand = b.toDF("doc_a", "band", "band_hash")
      .join(b.toDF("doc_b", "band", "band_hash"), Seq("band", "band_hash"))
      .where(col("doc_a") < col("doc_b")).select("doc_a", "doc_b").distinct()
    val sa = sigs.toDF("doc_a" +: (0 until k).map(i => s"a$i"): _*)
    val sb = sigs.toDF("doc_b" +: (0 until k).map(i => s"b$i"): _*)
    val matches = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val g = df.select(col(idCol).as("did"),
      explode(shingles(col(textCol), n)).as("g")).distinct()
    val sizes = g.groupBy("did").agg(count(lit(1)).as("ng"))
    val inter = cand.join(g.toDF("doc_a", "g"), "doc_a")
      .join(g.toDF("doc_b", "g"), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("sig_matches", matches)
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("i", coalesce(col("i"), lit(0L)))
      .select(col("doc_a"), col("doc_b"), col("sig_matches"),
        call_function("div", col("sig_matches") * lit(1000000L),
          lit(k.toLong)).as("est_micro"),
        call_function("div", col("i") * lit(1000000L),
          col("na") + col("nb") - col("i")).as("jac_micro"))
      .withColumn("err_micro", abs(col("est_micro") - col("jac_micro")))
  }

  /** Multi-field record linkage (entity resolution over STRUCTURED
    * rows, the record-level sibling of [[fuzzyPairs]]): candidate
    * pairs come from equality BLOCKING on `blockCols` (the Fellegi-
    * Sunter blocking pass — only same-block records ever meet), then
    * each candidate is verified with an exact edit-distance bound on
    * the fuzzy field. Emits (id_a, id_b, name_a, name_b, dist) for
    * verified candidates; downstream evidence (equal balances,
    * matching phones) joins on the ids — the scorer composes, the
    * blocking never changes.
    *
    * Scale: ONE block-keyed self-join; pair fan-out is bounded by the
    * largest block squared, which is the knob `blockCols` controls
    * (coarse blocks = more recall, more verify work). No all-pairs
    * anywhere.
    */
  /** Shared blocking scaffold for the linkage family: the ordered
    * candidate-pair frame (id_a < id_b) of a block-keyed self-join,
    * carrying name_a/name_b for the verify scorer. One definition —
    * [[recordLinkage]]/[[jaroLinkage]]/[[typoLinkage]] differ only in
    * the scorer applied on top.
    */
  private def blockedPairs(df: DataFrame, idCol: String, nameCol: String,
                           blockCols: Seq[String]): DataFrame = {
    require(blockCols.nonEmpty, "linkage: block columns required")
    val base = df.select((Seq(col(idCol).as("__id"),
      col(nameCol).as("__name")) ++ blockCols.map(col)): _*)
    val a = base.toDF("id_a" +: "name_a" +: blockCols: _*)
    val b = base.toDF("id_b" +: "name_b" +: blockCols: _*)
    a.join(b, blockCols).where(col("id_a") < col("id_b"))
  }

  def recordLinkage(df: DataFrame, idCol: String, nameCol: String,
                    blockCols: Seq[String], maxDist: Int): DataFrame = {
    require(maxDist >= 0, "recordLinkage: maxDist >= 0")
    blockedPairs(df, idCol, nameCol, blockCols)
      // BYTE-wise levenshtein: DuckDB's levenshtein counts bytes while
      // Spark's builtin counts code points — parity breaks on
      // non-ASCII names otherwise
      .withColumn("dist", graft.expressions.ByteLevenshtein.column(
        col("name_a"), col("name_b")))
      .where(col("dist") <= maxDist.toLong)
      .select("id_a", "id_b", "name_a", "name_b", "dist")
  }

  /** Jaro-Winkler blocked linkage — [[recordLinkage]]'s fuzzy sibling
    * for the verify stage where Levenshtein's O(|a|·|b|) DP per pair
    * is too heavy: the [[graft.expressions.JaroWinkler]] codegen
    * expression is O(|a|·window) with no DP table, and the Winkler
    * prefix boost matches how real-world names diverge (suffix edits).
    * The threshold compares the ROUNDED score on both engine sides,
    * so the raw-double bit-parity the expression guarantees makes the
    * cut boundary-safe. Same shape: block-keyed self-join (fan-out
    * bounded by block size — pick blocks like [[recordLinkage]]).
    */
  def jaroLinkage(df: DataFrame, idCol: String, nameCol: String,
                  blockCols: Seq[String], minJw: Double): DataFrame = {
    blockedPairs(df, idCol, nameCol, blockCols)
      .withColumn("jw", round(graft.expressions.JaroWinkler.column(
        col("name_a"), col("name_b")), 6))
      .where(col("jw") >= minJw)
      .select((blockCols.map(col) ++
        Seq(col("id_a"), col("id_b"), col("jw"))): _*)
  }

  /** Typo-tolerant blocked linkage on the FULL Damerau-Levenshtein
    * metric ([[graft.expressions.DamerauLevenshtein]] — adjacent
    * transpositions cost 1): pairs within `maxDl`, reporting plain
    * Levenshtein alongside so the transposition gain (lev − dl) is
    * visible per pair — the swap-typo evidence [[recordLinkage]]'s
    * plain-edit verify misses. Integer distances end-to-end: parity
    * with the oracle is definitional. Same block-keyed self-join
    * shape; fan-out bounded by block size.
    */
  def typoLinkage(df: DataFrame, idCol: String, nameCol: String,
                  blockCols: Seq[String], maxDl: Long): DataFrame = {
    require(maxDl >= 0, "typoLinkage: maxDl >= 0")
    blockedPairs(df, idCol, nameCol, blockCols)
      .withColumn("dl", graft.expressions.DamerauLevenshtein.column(
        col("name_a"), col("name_b")))
      .where(col("dl") <= maxDl)
      .withColumn("lev", graft.expressions.ByteLevenshtein.column(
        col("name_a"), col("name_b")))
      .select((blockCols.map(col) ++
        Seq(col("id_a"), col("id_b"), col("dl"), col("lev"))): _*)
  }
}
