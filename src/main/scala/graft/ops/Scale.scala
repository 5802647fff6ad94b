package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Exact.zround
import graft.functions.PixieFunctions.idiv

/** Scale-engineering diagnostics — operators whose OUTPUT is advice
  * about how a dataset will behave on a large cluster. At 100 TB the
  * difference between a 20-minute and a 20-hour job is usually one
  * skewed key; this profiler is the measurement that decision needs,
  * run as a cheap keyed aggregate ahead of the expensive join/agg.
  */
object Scale {

  /** Hot-key profile for a prospective shuffle key: the top-k heaviest
    * keys with their corpus share, the hash bucket each lands in under
    * `partitions`-way hash partitioning (the engine-independent
    * [[Dedup.h60]] hash, so the report is reproducible anywhere), and
    * the salt factor that would level each key — `ceil(n_key *
    * partitions / total)`, i.e. how many sub-partitions this key needs
    * so no split exceeds the average partition's row budget. A key
    * with salt 1 is harmless; salt 40 means "this key alone overflows
    * 40 average partitions — salt it or AQE-skew-split it".
    *
    * Shape: ONE key-keyed count aggregate (map-side combinable), a
    * broadcast 1-row total, and a top-k (TakeOrdered — no global
    * sort). Output is O(k) at any input size.
    */
  def skewProfile(df: DataFrame, keyCol: String, topK: Int,
                  partitions: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    counts.crossJoin(broadcast(total))
      .select(col("key"), col("n"),
        idiv(col("n") * 1000000L, col("__total")).as("share_ppm"),
        pmod(Dedup.h60(col("key")), lit(partitions.toLong)).as("bucket"),
        idiv(col("n") * partitions + col("__total") - 1L, col("__total"))
          .as("salt_factor"))
      .orderBy(col("n").desc, col("key"))
      .limit(topK)
  }

  /** Skew-leveled equi-join: the salting pattern [[skewProfile]]'s
    * `salt_factor` column prescribes, made executable. The fact side
    * gains a deterministic salt in [0, salt) (hash of `saltCol`, so
    * replays salt identically); the (small) dim side is exploded
    * `salt`-fold; the join runs on `(key, salt)` — a single hot key
    * now spreads over `salt` shuffle partitions instead of melting
    * one. Results are EXACTLY the plain `fact join dim on key` (every
    * fact row meets precisely its one dim copy — the gate shares the
    * plain join's oracle); cost is `salt x |dim|` duplication, the
    * standard trade. For dims that fit in memory prefer `broadcast()`;
    * salting is the lever when the dim is too big to broadcast AND a
    * fact key is hot.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keyCol: String,
                 saltCol: String, salt: Int): DataFrame = {
    require(salt >= 1, "saltedJoin: salt >= 1")
    // the whole input schema passes through, so a pre-existing __salt
    // would be silently clobbered and then dropped — refuse instead
    require(!fact.columns.contains("__salt") &&
      !dim.columns.contains("__salt"),
      "saltedJoin: inputs must not carry a __salt column")
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(col(saltCol)), lit(salt.toLong)))
    val dimX = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(salt.toLong - 1))))
    salted.join(dimX, Seq(keyCol, "__salt")).drop("__salt")
  }

  /** Morton/Z-order interleave of two `bits`-bit bucket ids: bit k of
    * `bx` lands at position 2k, bit k of `by` at 2k+1 — the standard
    * multi-dimensional clustering key (Bayer/Markl UB-tree lineage;
    * Delta/Iceberg `OPTIMIZE ZORDER BY`). Pure integer bit arithmetic,
    * identical in any engine.
    */
  private[graft] def interleaveBits(bx: Column, by: Column, bits: Int): Column =
    (0 until bits).map { k =>
      shiftleft(shiftrightunsigned(bx, k).bitwiseAND(lit(1L)), 2 * k) +
        shiftleft(shiftrightunsigned(by, k).bitwiseAND(lit(1L)), 2 * k + 1)
    }.reduce(_ + _)

  /** `bits`-bit equi-width bucket of `x` over the CLOSED range
    * [x0, x1]: `(x-x0) // w` with bucket width
    * `w = ceil((x1-x0+1) / 2^bits)`, always in [0, 2^bits-1] — exact
    * in integers, and DIVISION-FIRST so an epoch-ns-scale dimension
    * (the engine's own TIME64NS columns, ~2^60 range) cannot overflow
    * the multiply-first form `(x-x0)*2^bits`, which wraps for ranges
    * wider than 2^(63-bits).
    */
  private def bucket(x: Column, x0: Column, x1: Column, bits: Int): Column =
    idiv(x - x0, idiv(x1 - x0 + (1L << bits), lit(1L << bits)))

  /** Deterministic balanced file assignment by global rank over
    * `ord` (ties by id): `file = (rank-1) * nFiles // n`. The global
    * rank is the banded two-level prefix sum ([[graft.ops.Corpus]]
    * shard pattern) — 256 ord-range bands, per-band windows, an
    * O(#bands) offsets frame broadcast back; never a corpus-wide
    * single-partition window. A degenerate ord distribution collapses
    * bands toward serial — the documented trade of every banded rank.
    */
  private def fileAssign(g: DataFrame, nFiles: Int): DataFrame = {
    val om = g.agg(min(col("ord")).as("__o0"), max(col("ord")).as("__o1"))
    // DIVISION-FIRST banding (same contract as bucket()): the linear
    // layout routes a RAW dimension through ord — an epoch-ns-scale
    // column (~2^60 range) overflows the multiply-first form
    // (ord-o0)*256 past a 2^55 range, silently wrapping bands and
    // breaking band monotonicity. (x-x0) // ceil(range/256) is exact
    // at any range and stays in [0, 255].
    val banded = g.crossJoin(broadcast(om))
      .withColumn("__band",
        idiv(col("ord") - col("__o0"),
          idiv(col("__o1") - col("__o0") + 256L, lit(256L))))
      .drop("__o0", "__o1")
    val (ranked, r) = Corpus.bandedRank(banded, col("ord"), col("id"))
    ranked.withColumn("file", idiv((r - 1) * nFiles, col("__n")))
      .select(col("id"), col("x"), col("y"), col("file"))
  }

  /** (id, x, y, z-order key) projection with `bits`-bit equi-width
    * buckets per dimension over each dim's observed [min, max].
    */
  private def zProject(df: DataFrame, xCol: String, yCol: String,
                       idCol: String, bits: Int): DataFrame = {
    val mm = df.agg(min(col(xCol)).cast("long").as("__x0"),
      max(col(xCol)).cast("long").as("__x1"),
      min(col(yCol)).cast("long").as("__y0"),
      max(col(yCol)).cast("long").as("__y1"))
    df.select(col(idCol).cast("long").as("id"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .crossJoin(broadcast(mm))
      .withColumn("ord", interleaveBits(
        bucket(col("x"), col("__x0"), col("__x1"), bits),
        bucket(col("y"), col("__y0"), col("__y1"), bits), bits))
      .drop("__x0", "__x1", "__y0", "__y1")
  }

  /** Z-order data layout + its zone maps: cluster rows by the Morton
    * interleave of two dimensions, cut into `nFiles` balanced files by
    * global z-rank, and emit each file's zone map (row count + per-dim
    * min/max) — the min/max statistics a parquet/Delta/Iceberg reader
    * prunes with. At 100 TB the layout decision IS the query-latency
    * decision: a 2-dim z-sort keeps BOTH dims' per-file ranges narrow,
    * so predicates on either dim skip most files ([[zonemapSkipReport]]
    * measures exactly that).
    *
    * Output: one row per file — O(nFiles) at any input size.
    */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String,
                   idCol: String, bits: Int, nFiles: Int): DataFrame =
    fileAssign(zProject(df, xCol, yCol, idCol, bits), nFiles)
      .groupBy("file").agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))

  /** Zone-map skipping report: for each rectangular predicate
    * `(xlo, xhi, ylo, yhi)`, how many of `nFiles` files must be
    * scanned (zone map overlaps the rectangle) under the z-order
    * layout vs a LINEAR layout sorted by x alone — the measured
    * answer to "is z-ordering this table worth it". One row per
    * (predicate, layout): files scanned/total, the skip ratio in ppm,
    * and the predicate's actual row count (its selectivity).
    *
    * Shape: both layouts' zone maps are O(nFiles) frames; the overlap
    * test is zone-maps x predicates (tiny cross of two broadcast
    * frames), and selectivities come from ONE data scan against the
    * broadcast predicate list. Nothing here grows with corpus size
    * except the two rank passes that build the layouts.
    */
  def zonemapSkipReport(df: DataFrame, xCol: String, yCol: String,
                        idCol: String, bits: Int, nFiles: Int,
                        preds: Seq[(Long, Long, Long, Long)]): DataFrame = {
    val z = zProject(df, xCol, yCol, idCol, bits)
    val lin = z.withColumn("ord", col("x"))
    def zones(a: DataFrame, layout: String) =
      fileAssign(a, nFiles).groupBy("file")
        .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .withColumn("layout", lit(layout))
    val zm = zones(z, "zorder").unionByName(zones(lin, "linear"))
    val predDf = df.sparkSession.range(1)
      .select(explode(typedLit(preds.zipWithIndex.map { case ((a, b, c, d), i)
        => (i.toLong, a, b, c, d) })).as("p"))
      .select(col("p._1").as("pred_id"), col("p._2").as("xlo"),
        col("p._3").as("xhi"), col("p._4").as("ylo"), col("p._5").as("yhi"))
    val hit = !(col("max_x") < col("xlo") || col("min_x") > col("xhi") ||
      col("max_y") < col("ylo") || col("min_y") > col("yhi"))
    val scans = zm.crossJoin(broadcast(predDf))
      .groupBy("pred_id", "layout")
      .agg(sum(when(hit, 1L).otherwise(0L)).as("files_scanned"),
        count(lit(1)).as("files_total"))
    val rows = df.select(col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .crossJoin(broadcast(predDf))
      .where(col("x") >= col("xlo") && col("x") <= col("xhi") &&
        col("y") >= col("ylo") && col("y") <= col("yhi"))
      .groupBy("pred_id").agg(count(lit(1)).as("rows_matched"))
    scans.join(broadcast(rows), Seq("pred_id"), "left")
      .na.fill(0L, Seq("rows_matched"))
      .select(col("pred_id"), col("layout"), col("files_scanned"),
        col("files_total"),
        idiv((col("files_total") - col("files_scanned")) * 1000000L,
          col("files_total")).as("skip_ppm"),
        col("rows_matched"))
  }

  /** Distinct counting via KEY-SPACE SHARDING: keys hash into
    * `nShards` disjoint shards, each shard deduplicates locally, and
    * the per-group cardinality is the SUM of per-shard cardinalities
    * (exact — the shards partition the key space, so no key is counted
    * twice and none straddles shards). This is the shape that survives
    * 100 TB where a plain `count(DISTINCT)` concentrates each group's
    * entire key set in one aggregation state: here state splits
    * `nShards` ways, every stage is a keyed aggregate on
    * (group, shard), and the final rollup carries one row per
    * (group, shard). The same sharding is the persistence unit of an
    * incremental pipeline — per-shard key sets fold a delta without
    * rescanning the corpus, and the sketch twin (per-shard HLL
    * sketches merged with `hll_union_agg`, pinned within tolerance in
    * Round8dSpec) answers at 1/1000 the state when exactness is not
    * required. Null keys are excluded up front on both engine sides
    * (count(DISTINCT) drops them — the null-parity contract).
    */
  def shardedDistinct(df: DataFrame, groupCol: String, keyCol: String,
                      nShards: Int = 64): DataFrame = {
    require(nShards > 0, "shardedDistinct: nShards > 0")
    shardTriples(df, groupCol, keyCol, nShards)
      .groupBy(col(groupCol), col("__shard"))
      .agg(count(lit(1)).as("__card"))
      .groupBy(col(groupCol))
      .agg(sum(col("__card")).as("n_unique"),
        count(lit(1)).as("n_shards_hit"))
  }

  /** Per-key aggregate STATE for incremental view maintenance: the
    * (count, cent-quantized sum) partials that fold associatively —
    * persist this (partitioned by the group key at scale) instead of
    * re-scanning the corpus every snapshot. The IVM member of the
    * persisted-index family ([[graft.ops.Dedup.writeDedupIndex]],
    * [[Similarity.writeSq8Index]]) for plain aggregates.
    */
  def aggState(df: DataFrame, groupCol: String, valueCol: Column): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(valueCol * 100.0 + 0.5).cast("long")).as("sum_cents"))

  /** Fold a delta's partials into persisted [[aggState]] WITHOUT
    * touching the historical fact rows: the delta aggregates on its
    * own (the only scan), then one keyed merge with the state table
    * — at 100 TB the state is per-key-sized and the work scales with
    * the DELTA, exactly the [[graft.ops.Dedup.incrementalDedupIndexed]]
    * contract. Result == [[aggState]] over the full union (q446's
    * oracle proves it). The final mean is ONE fixed double formula
    * over the exact integer partials.
    */
  def foldAggState(state: DataFrame, delta: DataFrame, groupCol: String,
                   valueCol: Column): DataFrame =
    state.unionByName(aggState(delta, groupCol, valueCol))
      .groupBy(col(groupCol))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_cents")).as("sum_cents"))
      .withColumn("mean", zround(
        col("sum_cents").cast("double") / 100.0 / col("n_rows"), 6))

  /** Persisted exact VALUE-HISTOGRAM state — the QUANTILE member of
    * the persisted-state family ([[aggState]] covers moments,
    * [[writeDistinctState]] cardinality; exact quantiles need the
    * value distribution itself): the state is (group, cent, n) over
    * the CENT-QUANTIZED value domain — value-domain-bound (distinct
    * cents, never raw rows) and ADDITIVE, so a delta fold is a plain
    * union + keyed sum and fold == rebuild exactly. Any exact order
    * statistic re-derives from the folded state via
    * [[histQuantiles]]: q_p = min cent whose cumulative count covers
    * ceil(p·n) (the q457/q467 rank rule).
    */
  def centHist(df: DataFrame, groupCol: String, valueCol: Column): DataFrame =
    df.select(col(groupCol),
        floor(valueCol * 100.0 + 0.5).cast("long").as("__cent"))
      .where(col("__cent").isNotNull)
      .groupBy(col(groupCol), col("__cent"))
      .agg(count(lit(1)).as("__n"))

  def writeCentHist(df: DataFrame, groupCol: String, valueCol: Column,
                    path: String): Unit =
    centHist(df, groupCol, valueCol).write.parquet(path)

  /** Fold a delta into a persisted [[writeCentHist]] state: the delta
    * aggregates on its own (the only data scan), then one keyed sum
    * with the state — work scales with the delta plus the value
    * domain, never the historical rows.
    */
  def foldCentHist(spark: org.apache.spark.sql.SparkSession, path: String,
                   delta: DataFrame, groupCol: String,
                   valueCol: Column): DataFrame =
    spark.read.parquet(path)
      .unionByName(centHist(delta, groupCol, valueCol))
      .groupBy(col(groupCol), col("__cent"))
      .agg(sum(col("__n")).as("__n"))

  /** Exact order statistics from a cent-histogram state: per group,
    * the row count and for each requested ppm the smallest cent whose
    * cumulative count reaches ceil(ppm·n/1e6) — integer comparisons
    * only (`cum·1e6 >= ppm·n` ⇔ `cum >= ceil(ppm·n/1e6)` for integer
    * cum). Windows run over the distinct-cents state, never raw rows.
    */
  def histQuantiles(hist: DataFrame, groupCol: String,
                    quantiles: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quantiles.nonEmpty, "histQuantiles: at least one quantile")
    val w = Window.partitionBy(groupCol).orderBy("__cent")
    val cum = hist
      .withColumn("__cum", sum(col("__n")).over(w))
      .withColumn("__tot", sum(col("__n")).over(
        Window.partitionBy(groupCol)))
    cum.groupBy(col(groupCol))
      .agg(max(col("__tot")).as("n_rows"),
        quantiles.map { case (nm, ppm) =>
          min(when(col("__cum") * 1000000L >= lit(ppm) * col("__tot"),
            col("__cent"))).as(nm)
        }: _*)
  }

  private def shardTriples(df: DataFrame, groupCol: String, keyCol: String,
                           nShards: Int): DataFrame =
    df.where(col(keyCol).isNotNull)
      .select(col(groupCol),
        pmod(xxhash64(col(keyCol)), lit(nShards.toLong)).as("__shard"),
        col(keyCol).as("__k"))
      .distinct()

  /** Persisted DISTINCT-count state — the hard IVM case [[aggState]]'s
    * additive partials can't cover (cardinality isn't a sum of row
    * partials): the state is the [[shardedDistinct]] key space itself,
    * laid out as `path/keys` (distinct (group, shard, key) triples,
    * PARTITIONED BY shard so a delta fold prunes to its shards) plus
    * `path/summary` (per-(group, shard) cardinalities, the rollup for
    * untouched shards).
    */
  def writeDistinctState(df: DataFrame, groupCol: String, keyCol: String,
                         nShards: Int, path: String): Unit = {
    require(nShards > 0, "writeDistinctState: nShards > 0")
    val triples = shardTriples(df, groupCol, keyCol, nShards)
    triples.write.partitionBy("__shard").parquet(s"$path/keys")
    // the summary rolls up the JUST-WRITTEN keys table — one cheap
    // columnar re-read instead of a second corpus-wide distinct
    // shuffle, and summary == keys consistency by construction. The
    // shard count travels WITH the state so a fold can refuse a
    // mismatched nShards instead of silently double-counting.
    df.sparkSession.read.schema(triples.schema).parquet(s"$path/keys")
      .groupBy(col(groupCol), col("__shard"))
      .agg(count(lit(1)).as("__card"))
      .withColumn("__nshards", lit(nShards.toLong))
      .write.parquet(s"$path/summary")
  }

  /** Fold a delta into persisted [[writeDistinctState]] WITHOUT
    * rescanning the full key space: the delta's keys hash to at most
    * `nShards` shards (a bounded model-fetch enumerates them), the
    * keys table is read with a PARTITION-PRUNED scan of exactly those
    * shards, and every untouched shard contributes through the
    * summary rollup alone — so the fold's key-scan volume is
    * (touched shards + delta), never the corpus
    * ([[graft.ops.Dedup.incrementalDedupIndexed]] contract, distinct
    * edition). Returns per-group n_unique == a full
    * count(DISTINCT) recompute (q454's oracle proves it).
    */
  def foldDistinctState(spark: org.apache.spark.sql.SparkSession,
                        path: String, delta: DataFrame, groupCol: String,
                        keyCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, "foldDistinctState: nShards > 0")
    val (d, touched, summary, keys) =
      deltaShards(spark, path, delta, groupCol, keyCol, nShards)
    val recounted = keys.select(col(groupCol), col("__shard"), col("__k"))
      .unionByName(d).distinct()
      .groupBy(col(groupCol), col("__shard"))
      .agg(count(lit(1)).as("__card"))
    val untouched = summary.drop("__nshards")
      .where(!col("__shard").isin(touched: _*))
    recounted.unionByName(untouched)
      .groupBy(col(groupCol))
      .agg(sum(col("__card")).as("n_unique"))
  }

  /** The prologue of a delta against a persisted distinct state: the
    * delta's (group, shard, key) triples `d`, materialized once (they
    * feed two consumers; checkpoint() on a real cluster, the documented
    * swap), the shards they touch, the state's summary, and its keys
    * read pruned to the touched shards.
    */
  private def deltaShards(spark: org.apache.spark.sql.SparkSession,
                          path: String, delta: DataFrame, groupCol: String,
                          keyCol: String, nShards: Int) = {
    val d = shardTriples(delta, groupCol, keyCol, nShards)
      .localCheckpoint(true)
    // bounded by nShards (<= a few hundred) — a model fetch, not data
    val touched = d.select("__shard").distinct()
      .collect().map(_.getLong(0)).sorted
    val summary = spark.read.parquet(s"$path/summary")
    // a delta with a DIFFERENT shard count than the write would hash
    // the same key into different shards and silently double-count —
    // the stored count is the contract (empty state = bootstrap, any
    // nShards is fine)
    summary.select("__nshards").take(1).foreach { r =>
      require(r.getLong(0) == nShards.toLong,
        s"distinct state written with nShards=${r.getLong(0)}, " +
          s"delta sharded with $nShards")
    }
    // explicit schema: a bootstrap-empty partitioned keys table has no
    // files to infer from
    val keys = spark.read.schema(d.schema).parquet(s"$path/keys")
      .where(col("__shard").isin(touched: _*))
    (d, touched, summary, keys)
  }

  /** Per-group cardinality read straight off the persisted
    * [[writeDistinctState]] SUMMARY — the zero-delta read path (the
    * state after N [[appendDistinctState]] days answers without
    * touching the keys table at all). Model-sized scan: one row per
    * (group, shard).
    */
  def distinctStateCard(spark: org.apache.spark.sql.SparkSession,
                        path: String, groupCol: String): DataFrame =
    spark.read.parquet(s"$path/summary")
      .groupBy(col(groupCol))
      .agg(sum(col("__card")).as("n_unique"))

  /** Fold a delta INTO the persisted [[writeDistinctState]] — the
    * write-side sibling of [[foldDistinctState]] that completes the
    * distinct-state lifecycle (build -> fold-read -> APPEND ->
    * fold-read), so day N+1 folds against a state that already
    * contains day N. Work is delta-proportional: new triples are
    * anti-joined against a PARTITION-PRUNED read of only the touched
    * shards and appended; the model-sized summary is updated
    * incrementally (touched shards recounted, untouched carried).
    * After append, `path` is semantically identical to a
    * [[writeDistinctState]] over the grown input (set semantics
    * preserved by the anti-join; q493 gate-proves the chained state
    * against a full recompute).
    *
    * CRASH WINDOW (documented contract, the [[ingestBatch]]
    * treatment): a failure between the keys append and the summary
    * overwrite leaves the summary stale for the touched shards.
    * Recovery is RE-RUNNING the append with the same delta — the
    * anti-join makes the keys append idempotent and the summary
    * recount is derived from keys, so the retry converges; the
    * belt-and-braces audit is [[verifyDistinctState]] — run it before
    * trusting a fold after an unclean shutdown, and re-append to
    * repair (q511 gates the torn-detect → retry → converge story).
    */
  def appendDistinctState(spark: org.apache.spark.sql.SparkSession,
                          path: String, delta: DataFrame, groupCol: String,
                          keyCol: String, nShards: Int): Unit = {
    val (schema, touched) =
      appendDistinctKeys(spark, path, delta, groupCol, keyCol, nShards)
    recountSummary(spark, path, schema, groupCol, touched, nShards)
  }

  /** The FIRST HALF of [[appendDistinctState]] — anti-joined keys
    * append only, ending exactly at the documented crash window (keys
    * written, summary stale). Exposed so the audit gate (q511) and
    * CurationStreamSpec can place a state INSIDE the window
    * deterministically; production callers use the composed
    * [[appendDistinctState]].
    */
  private[graft] def appendDistinctKeys(
      spark: org.apache.spark.sql.SparkSession, path: String,
      delta: DataFrame, groupCol: String, keyCol: String,
      nShards: Int): (org.apache.spark.sql.types.StructType, Array[Long]) = {
    require(nShards > 0, "appendDistinctState: nShards > 0")
    val (d, touched, _, keys) =
      deltaShards(spark, path, delta, groupCol, keyCol, nShards)
    // materialize BEFORE the append: the anti-join reads the very
    // table being appended to
    val fresh = d.join(keys, Seq(groupCol, "__shard", "__k"), "left_anti")
      .localCheckpoint(true)
    fresh.write.partitionBy("__shard").mode("append").parquet(s"$path/keys")
    (d.schema, touched)
  }

  private def recountSummary(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             keySchema: org.apache.spark.sql.types.StructType,
                             groupCol: String, touched: Array[Long],
                             nShards: Int): Unit = {
    val summary = spark.read.parquet(s"$path/summary")
    val recounted = spark.read.schema(keySchema).parquet(s"$path/keys")
      .where(col("__shard").isin(touched: _*))
      .groupBy(col(groupCol), col("__shard"))
      .agg(count(lit(1)).as("__card"))
    // materialize BEFORE the overwrite: the new summary reads the old
    val newSummary = summary.drop("__nshards")
      .where(!col("__shard").isin(touched: _*))
      .unionByName(recounted)
      .withColumn("__nshards", lit(nShards.toLong))
      .localCheckpoint(true)
    newSummary.write.mode("overwrite").parquet(s"$path/summary")
  }

  /** The distinct-state AUDIT (the crash-window detector the r10
    * verdict asked to turn from prose into a function): per shard,
    * compare the persisted summary against a recount of the keys
    * table — (group, shard) cells missing from either side or
    * disagreeing on cardinality are mismatches. A torn
    * [[appendDistinctState]] (keys appended, summary not overwritten)
    * shows up as `ok = false` on exactly the touched shards; recovery
    * is re-running the SAME append (idempotent — q511 gates the full
    * story). Cost: one keys-table aggregate + a model-sized join;
    * run it before trusting a fold after an unclean shutdown.
    */
  def verifyDistinctState(spark: org.apache.spark.sql.SparkSession,
                          path: String, groupCol: String): DataFrame = {
    // schema-less read infers the __shard partition dirs as INT;
    // align with the summary's LONG before the join
    val recount = spark.read.parquet(s"$path/keys")
      .withColumn("__shard", col("__shard").cast("long"))
      .groupBy(col(groupCol), col("__shard"))
      .agg(count(lit(1)).as("__k_card"))
    val cells = spark.read.parquet(s"$path/summary").drop("__nshards")
      .join(recount, Seq(groupCol, "__shard"), "full_outer")
      .withColumn("__bad",
        when(col("__card").isNull || col("__k_card").isNull ||
          col("__card") =!= col("__k_card"), 1L).otherwise(0L))
    cells.groupBy("__shard")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("__bad")).as("n_mismatched"))
      .withColumn("ok", col("n_mismatched") === 0L)
      .withColumnRenamed("__shard", "shard")
  }

  /** Compact the distinct-state keys table after many daily
    * [[appendDistinctState]] folds (each append leaves one small file
    * batch per touched shard — the small-files debt the r10 verdict
    * flagged): rewrite every shard partition into one right-sized
    * file. Key SET and summary are untouched — counts invariant, so
    * folds/audits answer identically before and after (q513 gates
    * it). The [[graft.ops.Dedup.compactDedupIndex]] maintenance
    * contract: run offline; the rewrite materializes (lineage cut)
    * before overwriting the directory it read.
    */
  def compactDistinctState(spark: org.apache.spark.sql.SparkSession,
                           path: String): Unit = {
    // staging + rename-swap (Layout.swapInto): the rewrite never
    // overwrites the directory it is reading, so no lineage cut is
    // needed and no reader ever sees half-written data
    spark.read.parquet(s"$path/keys")
      .withColumn("__shard", col("__shard").cast("long"))
      .repartition(col("__shard")) // all of a shard's rows -> one task -> one file
      .write.partitionBy("__shard").mode("overwrite")
      .parquet(s"$path/keys__staging")
    graft.core.Layout.swapInto(spark, s"$path/keys__staging",
      s"$path/keys")
  }

  /** Append a delta's cent partials to a persisted [[writeCentHist]]
    * state WITHOUT reading it (the in-place sibling of
    * [[foldCentHist]]'s read-fold): duplicate (group, cent) rows are
    * READ-CORRECT because the state is additive and
    * [[histQuantiles]]'s cumulative window is RANGE-framed (tied
    * cents share one cumulative value), while [[foldCentHist]]
    * re-aggregates on read. The debt is files and rows, not
    * correctness — [[compactCentHist]] settles it.
    */
  def appendCentHist(delta: DataFrame, groupCol: String, valueCol: Column,
                     path: String): Unit =
    centHist(delta, groupCol, valueCol).write.mode("append").parquet(path)

  /** Compact a cent-histogram state: merge duplicate (group, cent)
    * rows left by [[appendCentHist]] and rewrite as one file. The
    * state is value-domain-bound (distinct cents), so one file is the
    * right size at any corpus scale. Counts invariant (q512 gates
    * quantiles before == after == full recompute).
    */
  def compactCentHist(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    val df = spark.read.parquet(path)
    val groupCols = df.columns.filterNot(Set("__cent", "__n")).toSeq
    df.groupBy((groupCols :+ "__cent").map(col): _*)
      .agg(sum(col("__n")).as("__n"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path + "__staging")
    graft.core.Layout.swapInto(spark, path + "__staging", path)
  }

  /** Recursive parquet-file count under a state/index root — the
    * small-files audit number an ops dashboard tracks to schedule
    * compaction (q512/q513 pin it shrinking across a compact).
    */
  def parquetFileCount(spark: org.apache.spark.sql.SparkSession,
                       path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Exactly-once batch ingest behind a persisted [[graft.core.Ledger]]:
    * a batch id that is already in the ledger is a NO-OP (returns false), so
    * retried/replayed drops never double-ingest — the file-batch-
    * level dedup every at-least-once delivery pipeline needs in
    * front of a lake table. The ledger is model-sized (one row per
    * batch ever ingested) and is consulted with a driver-side
    * bounded read; ingested rows carry their batch id for audit and
    * selective reprocessing. Append-only parquet — no table format
    * required (the [[graft.ops.Dedup.appendDedupIndex]] storage
    * contract).
    *
    * SINGLE-WRITER contract (alongside the crash-window note below):
    * the ledger check is check-then-write, so two ingest processes
    * racing the SAME batchId can both pass the read and double-append.
    * Run one ingest writer per table (the daily-drop topology this
    * models — one scheduler owns the landing zone); the recoverable
    * direction is the same as the crash window, since duplicated rows
    * carry the same `__batch` id and are removable by id.
    */
  def ingestBatch(spark: org.apache.spark.sql.SparkSession,
                  tablePath: String, ledgerPath: String,
                  batchId: String, batch: DataFrame): Boolean = {
    require(batchId.nonEmpty, "ingestBatch: non-empty batchId")
    // ledger row LAST (Ledger.once): a crash between the two writes
    // re-ingests the batch on retry (at-least-once below, exactly-once
    // above — duplicated rows carry the same __batch id and are
    // removable by id, which is the recoverable direction)
    graft.core.Ledger.once(spark, ledgerPath, batchId) {
      batch.withColumn("__batch", lit(batchId))
        .write.mode("append").parquet(tablePath)
    }.isDefined
  }

  /** Per-(group, shard) HLL sketch state — the APPROXIMATE twin of
    * [[writeDistinctState]] at a fraction of the state size: instead
    * of the distinct key triples themselves (data-bound), the state is
    * one DataSketches HLL sketch per (group, key-space shard) —
    * O(groups · nShards · 2^lgK) bytes, a MODEL-sized table at any
    * corpus size. The same key-space sharding as the exact twin keeps
    * the two states drop-in interchangeable, and summing disjoint
    * per-shard estimates both avoids a cross-shard union and shrinks
    * the relative error (errors of independent shards add in
    * quadrature while the cardinalities add linearly).
    *
    * ESTIMATOR CONTRACT (the q440 caveat): register-wise max (what
    * `hll_union` computes) is associative, commutative, and
    * batch-invariant, so folding deltas in ANY order yields the same
    * registers and the same estimate. What is NOT invariant is the
    * HIP estimator a directly-fed sketch serves — a union drops it —
    * so a folded estimate may legitimately differ by a few counts from
    * a one-pass `hll_sketch_agg` over the same rows. The gate (q455)
    * therefore pins (a) exactness of the calibration column, (b) a 5%
    * tolerance vs exact, and (c) fold-order invariance — never
    * folded == one-pass.
    */
  def writeHllState(df: DataFrame, groupCol: String, keyCol: String,
                    nShards: Int, path: String, lgK: Int = 12): Unit = {
    require(nShards > 0, "writeHllState: nShards > 0")
    hllSketches(df, groupCol, keyCol, nShards, lgK)
      .withColumn("__nshards", lit(nShards.toLong))
      .write.parquet(s"$path/sketches")
  }

  private def hllSketches(df: DataFrame, groupCol: String, keyCol: String,
                          nShards: Int, lgK: Int): DataFrame =
    // null GROUPS excluded explicitly: the fold merges state and delta
    // with a full-outer equi-join, where a null group key matches
    // nothing — a null-group sketch would survive as TWO rows and
    // double its estimate (the tCloseness join-vs-groupBy lesson)
    df.where(col(keyCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol),
        pmod(xxhash64(col(keyCol)), lit(nShards.toLong)).as("__shard"),
        col(keyCol).as("__k"))
      .groupBy(col(groupCol), col("__shard"))
      .agg(hll_sketch_agg(col("__k"), lit(lgK)).as("__sketch"))

  /** Fold a delta into persisted [[writeHllState]] sketches WITHOUT
    * rescanning anything data-bound: the delta aggregates to its own
    * per-(group, shard) sketches (one keyed aggregate over the delta),
    * which merge register-wise (`hll_union`) with the stored state —
    * a full-outer join of two model-sized frames. Returns the merged
    * state frame (still carrying `__nshards`), which the caller
    * persists as the next snapshot's `sketches` table. The stored
    * shard count is the contract (same as [[foldDistinctState]]):
    * a mismatched fold would break the disjoint-shard-sum identity,
    * so it is refused. An empty/fileless state (day-0 bootstrap) folds
    * to exactly the delta's own sketches.
    */
  def foldHllState(spark: org.apache.spark.sql.SparkSession, path: String,
                   delta: DataFrame, groupCol: String, keyCol: String,
                   nShards: Int, lgK: Int = 12): DataFrame = {
    require(nShards > 0, "foldHllState: nShards > 0")
    val d = hllSketches(delta, groupCol, keyCol, nShards, lgK)
      .withColumnRenamed("__sketch", "__dsk")
    // explicit schema: a bootstrap-empty state has no files to infer from
    val stSchema = org.apache.spark.sql.types.StructType(
      d.schema.fields.map(f =>
        if (f.name == "__dsk") f.copy(name = "__sketch") else f) :+
        org.apache.spark.sql.types.StructField("__nshards",
          org.apache.spark.sql.types.LongType))
    val st = spark.read.schema(stSchema).parquet(s"$path/sketches")
    st.select("__nshards").take(1).foreach { r =>
      require(r.getLong(0) == nShards.toLong,
        s"foldHllState: state written with nShards=${r.getLong(0)}, " +
          s"folded with $nShards")
    }
    st.withColumnRenamed("__sketch", "__ssk").drop("__nshards")
      .join(d, Seq(groupCol, "__shard"), "full_outer")
      .select(col(groupCol), col("__shard"),
        when(col("__ssk").isNull, col("__dsk"))
          .when(col("__dsk").isNull, col("__ssk"))
          .otherwise(hll_union(col("__ssk"), col("__dsk"))).as("__sketch"))
      .withColumn("__nshards", lit(nShards.toLong))
  }

  /** Per-group cardinality estimate from a sketch-state frame: each
    * shard's estimate is already a long (DataSketches rounds), shards
    * are disjoint by construction, so the group total is an exact
    * integer sum — order-independent at any partitioning.
    */
  def hllEstimate(state: DataFrame, groupCol: String): DataFrame =
    state
      .select(col(groupCol),
        hll_sketch_estimate(col("__sketch")).as("__e"))
      .groupBy(col(groupCol))
      .agg(sum(col("__e")).as("n_unique_est"),
        count(lit(1)).as("n_shards_hit"))

  /** Count-min sketch state per group: `depth` hash rows x `width`
    * buckets of EXACT integer counts, stored sparsely (only non-zero
    * cells; absent cell = 0) — the frequency twin of the distinct
    * states: O(groups · depth · width) rows at any corpus size, and
    * because the cells are plain sums the fold is EXACT (fold ==
    * rebuild row-identical, no estimator caveat — the property HLL's
    * HIP estimator cannot give). Per-depth hashing is
    * `xxhash64(d, key) % width`, deterministic in any engine and
    * partitioning.
    */
  def cmsSketch(df: DataFrame, groupCol: String, keyCol: String,
                depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2, "cmsSketch: depth >= 1, width >= 2")
    df.where(col(keyCol).isNotNull)
      .select(col(groupCol), col(keyCol).as("__k"),
        explode(typedLit((0 until depth).map(_.toLong))).as("__d"))
      .groupBy(col(groupCol), col("__d"),
        pmod(xxhash64(col("__d"), col("__k")), lit(width.toLong)).as("__b"))
      .agg(count(lit(1)).as("__c"))
  }

  /** Fold a delta's CMS cells into the state: cells are additive exact
    * counts, so this is one keyed sum — associative, commutative, and
    * row-identical to a rebuild over state ∪ delta.
    */
  def foldCms(state: DataFrame, deltaCells: DataFrame,
              groupCol: String): DataFrame =
    state.unionByName(deltaCells)
      .groupBy(col(groupCol), col("__d"), col("__b"))
      .agg(sum(col("__c")).as("__c"))

  /** Point-frequency estimates for `probes` (a (group, key) frame)
    * against a CMS state: est = min over depths of the hashed cell
    * (absent cell = 0). The classic guarantee is deterministic on one
    * side — est >= true count always (collisions only ADD) — and
    * probabilistic on the other (est <= true + N/width per depth in
    * expectation); the gate pins the deterministic side plus exact
    * calibration counts.
    *
    * Shape: probes explode x depth, one broadcast-sized join per probe
    * set against the O(depth·width) state — never a corpus scan.
    */
  def cmsEstimate(state: DataFrame, probes: DataFrame, groupCol: String,
                  keyCol: String, depth: Int = 4,
                  width: Int = 1024): DataFrame =
    probes.where(col(keyCol).isNotNull).distinct()
      .select(col(groupCol), col(keyCol),
        explode(typedLit((0 until depth).map(_.toLong))).as("__d"))
      .withColumn("__b",
        pmod(xxhash64(col("__d"), col(keyCol)), lit(width.toLong)))
      .join(state, Seq(groupCol, "__d", "__b"), "left")
      .groupBy(col(groupCol), col(keyCol))
      .agg(min(coalesce(col("__c"), lit(0L))).as("cms_est"))

  /** Sliding-window count state: per-(group, time-bucket) counts for
    * the trailing `windowBuckets` buckets — the windowed member of the
    * persisted-state family ([[aggState]] is all-time, this one
    * FORGETS). The state is O(groups · window) rows at any corpus
    * size; a fold adds the delta's bucket counts and EXPIRES buckets
    * that fall off the horizon (horizon = the max bucket seen across
    * state + delta), so the fold's input is state + delta, never the
    * corpus. Folded state == a fresh rebuild over the same rows as
    * long as deltas arrive watermark-ordered (a late event for an
    * ALREADY-EXPIRED bucket re-adds only its own partial count — the
    * standard watermark contract; q462 splits by time so the gate
    * exercises the ordered path). `binUs` travels with the state and
    * a mismatched fold is refused (the nShards-contract pattern — a
    * different bin width would silently merge misaligned buckets).
    */
  def writeWindowState(df: DataFrame, groupCol: String, tsCol: String,
                       binUs: Long, windowBuckets: Int,
                       path: String): Unit = {
    require(binUs > 0 && windowBuckets > 0,
      "writeWindowState: binUs > 0, windowBuckets > 0")
    val c = bucketCounts(df, groupCol, tsCol, binUs)
    expire(c, windowBuckets)
      .withColumn("__binus", lit(binUs))
      .write.parquet(s"$path/buckets")
  }

  private def bucketCounts(df: DataFrame, groupCol: String, tsCol: String,
                           binUs: Long): DataFrame =
    df.select(col(groupCol),
        idiv(graft.functions.PixieFunctions.nsToUs(col(tsCol)),
          lit(binUs)).as("__b"))
      .groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__c"))

  private def expire(counts: DataFrame, windowBuckets: Int): DataFrame =
    counts
      .crossJoin(broadcast(counts.agg(max(col("__b")).as("__hi"))))
      .where(col("__b") > col("__hi") - windowBuckets.toLong)
      .drop("__hi")

  /** Fold a delta into persisted [[writeWindowState]] counts: sum the
    * overlapping buckets, advance the horizon, expire what fell off.
    * Returns the new state frame (with `__binus`), which the caller
    * persists as the next snapshot.
    */
  def foldWindowState(spark: org.apache.spark.sql.SparkSession,
                      path: String, delta: DataFrame, groupCol: String,
                      tsCol: String, binUs: Long,
                      windowBuckets: Int): DataFrame = {
    require(binUs > 0 && windowBuckets > 0,
      "foldWindowState: binUs > 0, windowBuckets > 0")
    val d = bucketCounts(delta, groupCol, tsCol, binUs)
    val stSchema = org.apache.spark.sql.types.StructType(
      d.schema.fields :+ org.apache.spark.sql.types.StructField("__binus",
        org.apache.spark.sql.types.LongType))
    val st = spark.read.schema(stSchema).parquet(s"$path/buckets")
    st.select("__binus").take(1).foreach { r =>
      require(r.getLong(0) == binUs,
        s"foldWindowState: state written with binUs=${r.getLong(0)}, " +
          s"folded with $binUs")
    }
    expire(
      st.drop("__binus").unionByName(d)
        .groupBy(col(groupCol), col("__b"))
        .agg(sum(col("__c")).as("__c")),
      windowBuckets)
      .withColumn("__binus", lit(binUs))
  }

  /** Per-group trailing-window rollup of a window state frame: event
    * total, live bucket count, and peak bucket within the horizon.
    */
  def windowTotals(state: DataFrame, groupCol: String): DataFrame =
    state.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("window_events"),
        count(lit(1)).as("buckets_live"),
        max(col("__c")).as("peak_bucket_events"))

  /** Shard-resize migration report: when a key-space sharding grows
    * from `oldShards` to `newShards` under mod-hashing, which keys
    * move and how far they scatter — the capacity-planning read before
    * resharding a persisted state ([[writeDistinctState]],
    * [[writeHllState]]) or a partitioned layout. Per old shard: key
    * count, moved count/share, and the number of DISTINCT destination
    * shards (a power-of-two doubling scatters each shard into exactly
    * 2; a 16 -> 24 resize scatters into 3 = lcm/old — the report makes
    * the divisor-resize advantage measurable). Hashing is the
    * engine-independent [[Dedup.h60]], so the report reproduces
    * anywhere.
    *
    * Shape: one distinct over keys + one shard-keyed aggregate;
    * output is O(oldShards).
    */
  def shardSplitReport(df: DataFrame, keyCol: String, oldShards: Int,
                       newShards: Int): DataFrame = {
    require(oldShards > 0 && newShards > oldShards,
      "shardSplitReport: 0 < oldShards < newShards")
    df.where(col(keyCol).isNotNull)
      .select(Dedup.h60(col(keyCol).cast("string")).as("__h"))
      .distinct()
      .select(pmod(col("__h"), lit(oldShards.toLong)).as("old_shard"),
        pmod(col("__h"), lit(newShards.toLong)).as("__new"))
      .groupBy("old_shard")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("__new") =!= col("old_shard"), 1L).otherwise(0L))
          .as("n_moved"),
        countDistinct(col("__new")).as("n_dest_shards"))
      .withColumn("moved_ppm",
        idiv(col("n_moved") * 1000000L, col("n_keys")))
  }

  /** Pre-join explosion audit: for a prospective equi-join
    * `a JOIN b ON key`, the exact output cardinality per key
    * (`n_a · n_b`) and in total, with the top-`topK` contributing keys
    * — the measurement that decides salting/broadcast/pre-aggregation
    * BEFORE a 100 TB shuffle melts (the join-side companion of
    * [[skewProfile]]). One count aggregate per side + a key-keyed join
    * of the two COUNT tables (never the data), output O(topK).
    * Products and the total accumulate in DECIMAL(38,0) — two hot
    * sides overflow a long product at ~3e9 x 3e9.
    */
  def joinExplosionAudit(a: DataFrame, b: DataFrame, keyCol: String,
                         topK: Int): DataFrame = {
    require(topK >= 1, "joinExplosionAudit: topK >= 1")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val ca = a.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n_a"))
    val cb = b.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n_b"))
    val per = ca.join(cb, "key")
      .withColumn("rows_out", (col("n_a").cast(dec) * col("n_b").cast(dec)))
    val total = per.agg(sum(col("rows_out")).as("__total"))
    per.crossJoin(broadcast(total))
      .select(col("key"), col("n_a"), col("n_b"),
        // clamp before the long cast: past Long.MaxValue a non-ANSI
        // cast yields null silently — exactly the regime the decimal
        // staging exists for. least() keeps the overflow regime
        // engine-exact (the oracle clamps with the same LEAST).
        least(col("rows_out"), lit(Long.MaxValue).cast(dec))
          .cast("long").as("rows_out"),
        // integral `div` on the DECIMALS: decimal `/` rounds HALF_UP at
        // its result scale while DuckDB's HUGEINT `//` truncates — an
        // off-by-one ppm class at adversarial ratios
        idiv(col("rows_out") * 1000000L, col("__total")).as("share_ppm"))
      .orderBy(col("rows_out").desc, col("key"))
      .limit(topK)
  }
}
