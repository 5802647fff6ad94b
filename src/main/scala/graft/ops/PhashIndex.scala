package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted PERCEPTUAL dedup index — the image-modality sibling
  * of the lexical ([[Dedup.writeDedupIndex]]) and semantic
  * ([[SemIndex]]) index lifecycles, completing incremental
  * near-duplicate admission across all three modalities. Stores the
  * corpus dHashes ([[Multimodal.dHash]] row-bytes) plus their four
  * 16-bit Hamming bands (the Manku et al. WWW'07 SimHash-search
  * layout [[Multimodal.phashNearDup]] uses batch-side): a delta day's
  * images band-join ONLY colliding buckets, verify exact Hamming
  * against the id-pruned candidate hash fetch, and admitted hashes
  * append anti-joined. Recall is exact for maxDist < 4 (pigeonhole
  * over 4 bands).
  *
  * Same replay contract as the other two indexes: decisions PIN
  * before any mutation, appends are anti-joined, so a replayed day
  * converges. 100 TB shape: the index is hash-sized (9 longs per
  * image + 4 band rows), a day touches delta bands + colliding
  * buckets + candidate hash rows — never corpus × delta.
  */
object PhashIndex {

  val MaxDist = 3

  case class Paths(root: String) {
    def hashes: String = s"$root/phash_hashes.parquet"
    def bands: String = s"$root/phash_bands.parquet"
    def decisionsDay(k: Int): String =
      s"$root/phash_decisions_day$k.parquet"
  }

  private def rcols = (0 until 8).map(i => col(s"r$i"))

  private def hashRows(hashed: DataFrame): DataFrame =
    hashed.select(col("media_id") +: rcols: _*)

  private def bandRows(h: DataFrame): DataFrame =
    h.select(col("media_id"),
      posexplode(array((0 until 4).map(b =>
        col(s"r${2 * b}") * 256L + col(s"r${2 * b + 1}")): _*))
        .as(Seq("band", "bv")))

  /** Hash rows with the id renamed to `n` and each row byte to `n_r<i>`. */
  private def side(src: DataFrame, n: String): DataFrame = src.select(
    col("media_id").as(n) +:
      (0 until 8).map(i => col(s"r$i").as(s"${n}_r$i")): _*)

  /** Hamming distance between the row bytes of sides `a` and `b`. */
  private def hamming(a: String, b: String): Column = (0 until 8).map(i =>
    bit_count(col(s"${a}_r$i").bitwiseXOR(col(s"${b}_r$i"))))
    .reduce(_ + _)

  /** The stored ids (`__cid`) sharing a band bucket with the probe band
    * rows `qb` (`id`, band, bv), one row per (id, stored id) pair.
    */
  private def collisions(spark: SparkSession, p: Paths, qb: DataFrame,
                         id: String): DataFrame =
    qb.join(spark.read.parquet(p.bands)
        .select(col("media_id").as("__cid"), col("band"), col("bv")),
        Seq("band", "bv"))
      .select(id, "__cid").distinct()

  /** Each query's `k` nearest of the scored (`__qid`, `__cid`) pairs:
    * distance ascending, ties to the smaller stored id.
    */
  private def nearest(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__qid")
      .orderBy(col("dist"), col("__cid"))
    pairs.withColumn("dist", hamming("__qid", "__cid").cast("long"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("__qid").as("qid"), col("rank"),
        col("__cid").as("media_id"), col("dist"))
  }

  /** Persist the snapshot corpus's hashes + band rows. */
  def write(spark: SparkSession, hashed: DataFrame, p: Paths): Unit = {
    val h = hashRows(hashed).localCheckpoint(true)
    h.write.mode("overwrite").parquet(p.hashes)
    bandRows(h).write.mode("overwrite").parquet(p.bands)
  }

  /** Delta-day verdicts: `dup_<label>_corpus` when any stored hash
    * within [[MaxDist]] Hamming shares a band, else `admitted`.
    *
    * WITHIN-DAY contract (the [[SemIndex.decisions]] one, verbatim):
    * by default the delta checks only the STORED index — two
    * near-identical images in the same day's drop are both admitted.
    * `withinBatch = true` adds the day-internal pass: band-collide
    * against SMALLER-id same-day hashes, exact-Hamming verify, the
    * larger id flagged `dup_<label>_batch` (corpus hits win). `label`
    * names the modality in the verdict string ("phash" here; the
    * AUDIO index reuses this whole object with label = "audio" — the
    * machinery is modality-blind over 8 row-bytes).
    */
  def decisions(spark: SparkSession, p: Paths, delta: DataFrame,
                withinBatch: Boolean = false,
                label: String = "phash"): DataFrame = {
    val d = hashRows(delta).localCheckpoint(true)
    val cand = collisions(spark, p, bandRows(d)
      .select(col("media_id").as("__did"), col("band"), col("bv")), "__did")
    val hits = cand
      .join(side(d, "__did"), "__did")
      .join(side(spark.read.parquet(p.hashes), "__cid"), "__cid")
      .where(hamming("__did", "__cid") <= MaxDist)
      .select(col("__did").as("media_id")).distinct()
      .withColumn("__hit", lit(true))
    val base = d.select("media_id").join(hits, Seq("media_id"), "left")
    if (!withinBatch)
      base.select(col("media_id"),
        when(col("__hit"), lit(s"dup_${label}_corpus"))
          .otherwise(lit("admitted")).as("decision"))
    else {
      val db = bandRows(d)
      val bcand = db.select(col("media_id").as("__did"), col("band"),
          col("bv"))
        .join(db.select(col("media_id").as("__bid"), col("band"),
          col("bv")), Seq("band", "bv"))
        .where(col("__bid") < col("__did"))
        .select("__did", "__bid").distinct()
      val bhits = bcand
        .join(side(d, "__did"), "__did")
        .join(side(d, "__bid"), "__bid")
        .where(hamming("__did", "__bid") <= MaxDist)
        .select(col("__did").as("media_id")).distinct()
        .withColumn("__bhit", lit(true))
      base.join(bhits, Seq("media_id"), "left")
        .select(col("media_id"),
          when(col("__hit"), lit(s"dup_${label}_corpus"))
            .when(col("__bhit"), lit(s"dup_${label}_batch"))
            .otherwise(lit("admitted")).as("decision"))
    }
  }

  /** One perceptual day: decisions pinned before the append (the
    * [[SemIndex.processDay]] replay contract verbatim), admitted
    * hashes + band rows appended anti-joined.
    */
  def processDay(spark: SparkSession, p: Paths, k: Int,
                 delta: DataFrame, withinBatch: Boolean = false,
                 label: String = "phash"): DataFrame = {
    val dec = graft.core.Ledger.pin(spark, p.decisionsDay(k))(
      decisions(spark, p, delta, withinBatch, label))
    append(spark, p,
      hashRows(delta).join(
        dec.where(col("decision") === "admitted").select("media_id"),
        "media_id"))
    dec
  }

  /** Append hash rows + band rows idempotently — public so composed
    * days ([[MultiDay]]) can admit by their OWN combined verdict.
    * BOTH tables anti-join INDEPENDENTLY (hashes on media_id, band
    * rows on the (media_id, band) PAIR — the
    * [[Dedup.appendDedupIndex]] contract): signatures are pure
    * payload functions, so a re-derived band row is always identical,
    * and pair-keyed backfill means a crash BETWEEN the two appends
    * (id in hashes, bands missing — silent recall loss under an
    * id-only anti-join) is repaired by the replay instead of frozen.
    */
  def append(spark: SparkSession, p: Paths, admHashed: DataFrame): Unit = {
    val all = hashRows(admHashed).localCheckpoint(true)
    all.join(spark.read.parquet(p.hashes).select("media_id"),
        Seq("media_id"), "left_anti")
      .localCheckpoint(true) // reads the table being appended to
      .write.mode("append").parquet(p.hashes)
    bandRows(all)
      .join(spark.read.parquet(p.bands).select("media_id", "band"),
        Seq("media_id", "band"), "left_anti")
      .localCheckpoint(true)
      .write.mode("append").parquet(p.bands)
  }

  /** Rewrite both index tables into `partitions` right-sized files —
    * the small-files settlement the per-day appends accrue (one file
    * batch per day per table), via the staging + rename-swap cutover
    * ([[graft.core.Layout.swapInto]]) like every compaction-class
    * rewrite here: content invariant, no reader ever sees half-written
    * data, a torn swap resumes. Completes the maintained chain's
    * symmetry — all FOUR modality indexes (lexical, semantic, image,
    * audio) plus the media artifact now have compactors (q558).
    */
  def compact(spark: SparkSession, p: Paths,
              partitions: Int = 1): Unit = {
    Seq(p.hashes, p.bands).foreach { t =>
      // a replayed compaction resumes its own torn swap before reading
      graft.core.Layout.healTorn(spark, t)
      spark.read.parquet(t).repartition(partitions)
        .write.mode("overwrite").parquet(t + "__staging")
      graft.core.Layout.swapInto(spark, t + "__staging", t)
    }
  }

  /** Delete assets from the index by id — the retention/takedown
    * path: both tables rewritten anti-joined against the victim set.
    * The tables are HASH-sized (9 longs + 4 band rows per asset), so
    * the rewrite is index-sized, not corpus-sized — compaction-class,
    * amortized against retention cadence exactly like
    * [[Dedup.deleteFromDedupIndex]]'s hash rewrite.
    */
  def delete(spark: SparkSession, p: Paths, ids: DataFrame): Unit = {
    val victims = ids.select(col(ids.columns.head).as("media_id"))
    spark.read.parquet(p.hashes)
      .join(victims, Seq("media_id"), "left_anti")
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(p.hashes)
    spark.read.parquet(p.bands)
      .join(victims, Seq("media_id"), "left_anti")
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(p.bands)
  }

  /** Banded-Hamming TOP-K SEARCH served off the persisted index — the
    * "find media like this" query path, completing the index's second
    * duty (the [[SemIndex.search]] contract for the perceptual
    * modalities; one implementation serves image AND audio, like the
    * admission side): each query's band rows collide against the
    * stored band table (the same candidate policy admission uses),
    * candidates verify EXACT Hamming against the id-pruned hash
    * fetch, and each query keeps its `k` nearest (distance asc, ties
    * to the smaller media_id — a total order, so the top-k SET is
    * well-defined in any engine). A query colliding with no stored
    * band returns no rows — banded search serves banded candidates by
    * design; the [[designCurve]] discloses exactly how candidate
    * probability decays with true distance (certain for dist ≤ 3,
    * the pigeonhole bound).
    *
    * 100 TB shape: per-query work = its 4 buckets' occupancy +
    * candidate hash rows (9 longs each); the scan never touches
    * query × corpus. Output: (qid, rank, media_id, dist).
    *
    * MULTI-PROBE (`probes` = the Hamming probe radius per band, 0 or
    * 1 — the [[graft.ops.SemIndex]] `nprobe` regime for Hamming
    * space, guided by the [[designCurve]] recall cliff past
    * d = [[MaxDist]]): radius 1 additionally probes every 1-bit
    * variant of each query band value (16 extra buckets per band —
    * 17× bucket probes, disclosed), which surfaces any stored
    * signature within band-wise distance 1 of a clean band; the exact
    * Hamming verify is unchanged, so the expansion only ever ADDS
    * recall. Pigeonhole: radius-1 probing is exact for true distance
    * ≤ 2·bands − 1 = 7 (every d ≤ 7 leaves some band with ≤ 1
    * differing bit), vs 3 for radius 0.
    */
  def search(spark: SparkSession, p: Paths, queries: DataFrame,
             k: Int, probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= 1,
      "search: probe radius 0 (exact buckets) or 1 (1-bit variants)")
    val q = hashRows(queries).localCheckpoint(true)
    val qb = bandRows(q)
      .select(col("media_id").as("__qid"), col("band"), col("bv"))
    val probed =
      if (probes == 0) qb
      else qb.select(col("__qid"), col("band"),
        explode(array(col("bv") +: (0 until 16).map(i =>
          col("bv").bitwiseXOR(lit(1L << i))): _*)).as("bv"))
    nearest(collisions(spark, p, probed, "__qid")
        .join(side(q, "__qid"), "__qid")
        .join(side(spark.read.parquet(p.hashes), "__cid"), "__cid"), k)
  }

  /** Recall@k of the banded [[search]] against EXACT brute force over
    * the same stored signatures — the [[SemIndex.searchRecall]]
    * contract for the perceptual indexes: per query, how much of the
    * true top-k the band prefilter surfaced, as exact integer ppm
    * (both top-k sets are total-ordered by (dist, media_id), so
    * recall is well-defined). The brute-force side is a broadcast
    * nested loop of the QUERY SAMPLE against the index — the honest
    * cost anchor; at 100 TB this is a tuning-time operation run on a
    * sample, exactly like [[SemIndex.recallCurve]], never a serving
    * path. Planted near-dups (the fixture's payload pair groups)
    * land at distance 0 and must always be recalled (the pigeonhole
    * guarantee the gate witnesses).
    */
  def searchRecall(spark: SparkSession, p: Paths, queries: DataFrame,
                   k: Int, probes: Int = 0): DataFrame = {
    import graft.functions.PixieFunctions.idiv
    val q = hashRows(queries).localCheckpoint(true)
    // spread the stream side: the brute-force scoring is CPU per
    // (index row x query), and the hashes artifact scans as one split at
    // fixture scale (Tables.spread is a size-gated no-op at production
    // index sizes, where the scan is already parallel)
    val exact = nearest(side(graft.core.Tables.spread(spark,
        spark.read.parquet(p.hashes), p.hashes), "__cid")
      .crossJoin(broadcast(side(q, "__qid"))), k) // sample × index
      .select(col("qid"), col("media_id"))
    val approx = search(spark, p, q, k, probes)
      .select(col("qid"), col("media_id"), lit(1L).as("__hit"))
    exact.join(approx, Seq("qid", "media_id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("k_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_ppm",
        idiv(col("n_hit") * 1000000L, col("k_exact")))
  }

  /** The MEASURED companion of [[designCurve]]: over a query sample ×
    * the stored index, the realized candidate rate at each true
    * Hamming distance — pair mass, pairs sharing ≥ 1 band, exact ppm.
    * The closed-form curve assumes uniformly-placed differing bits;
    * real signatures are structured, so publishing the measured curve
    * next to the theoretical one is the honest banding disclosure
    * (and the pigeonhole rows d ≤ 3 must read 1e6 in BOTH). Brute
    * force over (sample × index) — a tuning-time operation like
    * [[searchRecall]], never a serving path.
    */
  def bandingMeasured(spark: SparkSession, p: Paths,
                      queries: DataFrame, probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= 1,
      "bandingMeasured: probe radius 0 or 1 (the search contract)")
    import graft.functions.PixieFunctions.idiv
    val q = hashRows(queries).localCheckpoint(true)
    val dist = hamming("__qid", "__cid").cast("long")
    // band collision straight off the row bytes (a band bucket is its
    // two bytes, so bucket equality == byte-pair equality); at probe
    // radius 1 a band collides when its two byte pairs differ by at
    // most ONE bit in total — exactly the [[search]] 1-bit-variant set
    val collide = (0 until 4).map { b =>
      val bd = bit_count(col(s"__qid_r${2 * b}")
          .bitwiseXOR(col(s"__cid_r${2 * b}"))) +
        bit_count(col(s"__qid_r${2 * b + 1}")
          .bitwiseXOR(col(s"__cid_r${2 * b + 1}")))
      bd <= probes
    }.reduce(_ || _)
    side(graft.core.Tables.spread(spark, // parallel brute-force side
        spark.read.parquet(p.hashes), p.hashes), "__cid")
      .crossJoin(broadcast(side(q, "__qid"))) // sample × index
      .select(dist.as("dist"),
        when(collide, 1L).otherwise(0L).as("__c"))
      .groupBy("dist")
      .agg(count(lit(1)).as("n_pairs"), sum(col("__c")).as("n_cand"))
      .withColumn("cand_ppm",
        idiv(col("n_cand") * 1000000L, col("n_pairs")))
  }

  /** The BANDING DESIGN CURVE — the closed-form disclosure behind the
    * (4 bands × 16 bits) choice (the q536 bands×rows collision curve's
    * analog for Hamming banding): the probability that two signatures
    * at TRUE Hamming distance d become search/admission candidates,
    * i.e. share at least one clean band, with the d differing bit
    * positions uniform over the n = bands·width positions. Exact
    * inclusion–exclusion over clean bands:
    *
    *   P(d) = Σ_{j=1..b} (−1)^{j+1} · C(b,j) · C(n−j·w, d) / C(n, d)
    *
    * computed in exact BigInt and floored to ppm — model-sized
    * arithmetic (n+1 rows), any engine re-derives it from the same
    * binomials. Anchors: P = 1 for d ≤ b−1 (pigeonhole — the
    * [[MaxDist]] = 3 exact-recall guarantee), P = 0 for d > n−w
    * (every band dirty).
    */
  def designCurve(spark: SparkSession, bands: Int = 4,
                  bitsPerBand: Int = 16): DataFrame = {
    import spark.implicits._
    val n = bands * bitsPerBand
    (0 to n).map { d =>
      val num = (1 to bands).map { j =>
        val t = binom(bands, j) * binom(n - j * bitsPerBand, d)
        if (j % 2 == 1) t else -t
      }.sum
      (d.toLong, (num * 1000000 / binom(n, d)).toLong)
    }.toDF("dist", "collide_ppm")
  }

  /** The binomial C(nn, d), 0 outside 0 <= d <= nn. */
  private def binom(nn: Int, d: Int): BigInt =
    if (d < 0 || d > nn) BigInt(0)
    else (1 to d).foldLeft(BigInt(1))((acc, i) => acc * (nn - i + 1) / i)

  /** The [[designCurve]] at PROBE RADIUS 1 ([[search]]'s multi-probe
    * regime): the probability that two signatures at true Hamming
    * distance d become candidates when every 1-bit band-bucket
    * variant is also probed — i.e. SOME band carries at most one of
    * the d differing bits. Complementary inclusion–exclusion over
    * bands forced to ≤ 1 dirty bit:
    *
    *   A(d) = Σ_{j=0..b} (−1)^j C(b,j) Σ_{t=0..j} C(j,t) w^t C(n−jw, d−t)
    *   P(d) = 1 − A(d) / C(n,d)
    *
    * (A counts placements where EVERY band has ≥ 2 dirty bits — the
    * only non-candidates). Anchors: P = 1 for d ≤ 2b−1 (pigeonhole —
    * radius-1 recall is exact to d = 7 at 4×16, vs 3 at radius 0),
    * P = 0 at d = n. Exact BigInt, floored to ppm; model-sized.
    */
  def designCurveProbed(spark: SparkSession, bands: Int = 4,
                        bitsPerBand: Int = 16): DataFrame = {
    import spark.implicits._
    val n = bands * bitsPerBand
    (0 to n).map { d =>
      val a = (0 to bands).map { j =>
        val nj = (0 to j).map(t =>
          binom(j, t) * BigInt(bitsPerBand).pow(t) *
            binom(n - j * bitsPerBand, d - t)).sum
        val term = binom(bands, j) * nj
        if (j % 2 == 0) term else -term
      }.sum
      val tot = binom(n, d)
      (d.toLong, ((tot - a) * 1000000 / tot).toLong)
    }.toDF("dist", "collide_ppm")
  }

  /** Band-level health card off the index tables alone — the
    * candidate-explosion early warning ([[Dedup.dedupIndexStats]]'s
    * shape for the perceptual bands): per band, row mass, distinct
    * buckets, and the hottest bucket.
    */
  def indexCard(spark: SparkSession, p: Paths): DataFrame = {
    val b = spark.read.parquet(p.bands)
    b.groupBy("band", "bv").agg(count(lit(1)).as("__n"))
      .groupBy("band")
      .agg(sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_buckets"),
        max(col("__n")).as("max_bucket"))
  }
}
