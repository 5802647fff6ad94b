package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The fully INCREMENTAL curation day (round-10 flagship): one
  * orchestrated delta-day run in which a new day's documents and
  * events flow through index-backed dedup -> benchmark
  * decontamination -> quality gate -> persisted-state folds -> shard
  * layout + manifest fold, touching only DELTA-sized and MODEL-sized
  * data — the end-to-end composition of the persisted-index family
  * ([[Dedup.writeDedupIndex]], [[Scale.aggState]],
  * [[Scale.writeDistinctState]], [[graft.core.Layout.shardManifest]]).
  *
  * Day-0 ([[bootstrap]]) builds the snapshot artifacts ONCE — exactly
  * what a production pipeline amortizes across days. The delta run
  * ([[decisions]], [[grownManifest]], [[foldedStates]]) reads ONLY
  * those artifacts plus the day's drop; the single place the snapshot
  * corpus file appears in any delta plan is the dedup candidate
  * verify fetch, which is id-pruned to LSH candidates
  * ([[Dedup.incrementalDedupIndexed]]'s documented contract).
  * CurationDaySpec asserts that scan claim on the executed plans;
  * q488–q491 gate every output against a full-recompute DuckDB
  * re-derivation on the grown corpus.
  *
  * Threshold contracts are INTEGER comparisons (ppm / tenths) so the
  * engine and the oracle agree on every boundary document at any
  * scale.
  */
object CurationDay {

  /** Keep a doc iff n_contaminated * 1e6 <= ContamPpm * n_grams. */
  val ContamPpm = 100000L
  /** Keep a doc iff (n_2grams - n_distinct_2grams) * 10 <= 3 * n_2grams. */
  val RepTenths = 3L
  val NShards = 4
  val NGram = 3; val K = 16; val Bands = 4
  /** Event-time day boundary: 2024-01-28T00:00:00Z in epoch ns. */
  val CutNs = 1706400000000000000L

  /** The calendar roots every ledgered lifecycle keeps under `root`:
    * its day ledger, landing directory, stream checkpoint and pinned
    * cap horizons.
    */
  trait CalendarRoots {
    def root: String
    def ledger: String = s"$root/day_ledger"
    def landing: String = s"$root/landing"
    def streamCp: String = s"$root/stream_cp"
    /** The pinned horizon of a size-capped retention day — written by
      * [[CurationNDay.capDayPinned]] BEFORE any mutation (the decision-pin
      * rule applied to retention), so a replayed calendar slot knows
      * whether the committed cap expired anything (rebuild the tape)
      * or was an under-cap no-op (touch nothing).
      */
    def capHorizon(dayId: String): String =
      s"$root/cap_horizon_$dayId.parquet"
  }

  case class Artifacts(root: String) extends CalendarRoots {
    def index: String = s"$root/dedup_index"
    def manifest0: String = s"$root/manifest0.parquet"
    def manifest1: String = s"$root/manifest1.parquet"
    def manifest2: String = s"$root/manifest2.parquet"
    def aggState: String = s"$root/agg_state.parquet"
    def aggState1: String = s"$root/agg_state1.parquet"
    def distinctState: String = s"$root/distinct_state"
    def bench: String = s"$root/bench.parquet"
    def deltaDocs: String = s"$root/delta_docs.parquet"
    def day2Docs: String = s"$root/day2_docs.parquet"
    def deltaEvents: String = s"$root/delta_events.parquet"
    def day2Events: String = s"$root/day2_events.parquet"
    // ---- day-indexed artifact chain (the N-day lifecycle /
    //      [[CurationNDay]]): day 0 = the bootstrap snapshot, day k's
    //      run reads k-1's artifact and overwrites its own — which is
    //      what makes a replayed day idempotent. ----------------------
    def manifestDay(k: Int): String =
      if (k == 0) manifest0 else s"$root/manifest_day$k.parquet"
    def aggStateDay(k: Int): String =
      if (k == 0) aggState else s"$root/agg_state_day$k.parquet"
    def centStateDay(k: Int): String = s"$root/cent_state_day$k.parquet"
    def decisionsDay(k: Int): String = s"$root/decisions_day$k.parquet"
    def dropDay(k: Int): String = s"$root/drop_day$k.parquet"
    def eventsDay(k: Int): String = s"$root/events_day$k.parquet"
    /** The pipeline's PRODUCT: the curated corpus, materialized
      * shard-partitioned (what a trainer's loader actually reads;
      * [[graft.core.Layout.writeShardPartitioned]] layout). Bootstrap
      * writes the snapshot; each admitted day appends its survivors;
      * a retraction day rewrites only the touched shards.
      */
    def corpusDir: String = s"$root/corpus"
    def manifestRetract(k: Int): String =
      s"$root/manifest_retract$k.parquet"
    /** The trainer-facing PACK tape ([[Pack]]): day k's sequence
      * layout + the one-row stream offset persisted after day k.
      */
    def packDay(k: Int): String = s"$root/pack_day$k.parquet"
    def packStateDay(k: Int): String =
      s"$root/pack_state_day$k.parquet"
  }

  /** NaN/null-guarded event value (the ADVICE house rule): a NaN would
    * cast to null in Spark but raise in the DuckDB oracle.
    */
  def guardedValue: Column =
    when(col("value").isNull || isnan(col("value")), lit(null))
      .otherwise(col("value"))

  private def nTok(text: Column): Column =
    size(split(text, " ")).cast("long")

  private def repOk(text: Column): Column = {
    val g = Dedup.shingles(text, 2)
    (size(g) - size(array_distinct(g))).cast("long") * 10L <=
      lit(RepTenths) * size(g).cast("long")
  }

  private def contamOk(docs: DataFrame, bench: DataFrame): DataFrame =
    Corpus.contamination(docs, bench, "text", "doc_id", 8)
      .where(col("n_contaminated") * 1000000L <=
        lit(ContamPpm) * col("n_grams"))
      .select("doc_id")

  /** Day-0 batch curation of the snapshot: exact-dedup keepers ->
    * decontamination vs the benchmark -> repetition gate. (Near-dup
    * admission control is the INGEST path's job — every doc that ever
    * entered went through [[decisions]]' near-dup stage on its own
    * ingest day.)
    */
  def curateBatch(docs: DataFrame, bench: DataFrame): DataFrame = {
    val keep = docs.groupBy(md5(col("text").cast("binary")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s1 = docs.join(keep, "doc_id")
    s1.join(contamOk(s1, bench), "doc_id").where(repOk(col("text")))
  }

  /** Shared snapshot-artifact build: curate, index, manifest. The
    * curated frame is returned checkpointed (it also feeds the
    * callers' sentinel derivations).
    */
  private[ops] def buildSnapshotArtifacts(pool: DataFrame, bench: DataFrame,
                                          snapPred: Column,
                                          a: Artifacts): DataFrame = {
    val curated = curateBatch(pool.where(snapPred), bench)
      .localCheckpoint(true) // feeds index + manifest builds + sentinel
    graft.core.Par.run( // disjoint artifacts off the pinned snapshot
      () => Dedup.writeDedupIndex(curated, "text", "doc_id", a.index,
        NGram, K, Bands),
      () => graft.core.Layout.shardManifest(
          Corpus.shardAssign(curated, "doc_id", NShards)
            .select("doc_id", "shard")
            .join(curated.select(col("doc_id"), col("text"),
              nTok(col("text")).as("n_tok")), "doc_id"),
          "shard", "doc_id", "n_tok", "text")
        .write.mode("overwrite").parquet(a.manifest0))
    curated
  }

  /** Event projection for the state builds. NULL-PARITY contract
    * (the q446 lesson, applied proactively): a null ts would fall
    * into NEITHER time split and a null event_type group would be
    * dropped by the inner agg⋈distinct join while the full-recompute
    * oracle kept both — so both are excluded explicitly HERE and in
    * the shared oracle's WHERE, keeping engine and oracle equal by
    * construction on any future fixture.
    */
  private[ops] def curationEvents(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables.plain(spark, dir, "events")
      .where(col("ts").isNotNull && col("event_type").isNotNull)
      .select("event_id", "user_id", "event_type", "ts", "value")

  private[ops] def poolBench(spark: SparkSession,
                             dir: String): (DataFrame, DataFrame) = {
    val docs = graft.core.Tables.plain(spark, dir, "documents")
    (docs.where(col("source") =!= "src0").select("doc_id", "text"),
      docs.where(col("source") === "src0").select("doc_id", "text"))
  }

  /** Build every snapshot artifact + the day's drop files. The ONE
    * full-corpus pass of the lifecycle — amortized across all
    * subsequent delta days.
    */
  def bootstrap(spark: SparkSession, dir: String, a: Artifacts): Unit = {
    val (pool, bench) = poolBench(spark, dir)
    bench.write.parquet(a.bench)
    val curated = buildSnapshotArtifacts(pool, bench,
      pmod(col("doc_id"), lit(5L)) =!= 0, a)
    // The day's drop = the organic delta PLUS five deterministic
    // branch-coverage sentinels (the q365 planted-ground-truth
    // pattern): the organic fixture delta only exercises the
    // admitted/near-dup branches, so every other decision branch
    // would pass its gate vacuously. 9000001 = exact copy of the
    // smallest curated-corpus doc (dup_exact_corpus); 9000002/3 =
    // two copies of the smallest organic delta doc (dup_exact_batch
    // behind its original); 9000004 = copy of the smallest benchmark
    // doc (admitted by dedup, then contaminated); 9000005 = a
    // 40-word one-token doc (repetition gate -> low_quality). The
    // oracle re-derives the identical sentinels in SQL.
    val deltaBase = pool.where(pmod(col("doc_id"), lit(5L)) === 0)
    val minDelta = deltaBase.orderBy("doc_id").limit(1)
    val planted = curated.orderBy("doc_id").limit(1)
      .select(lit(9000001L).as("doc_id"), col("text"))
      .unionByName(minDelta.select(lit(9000002L).as("doc_id"), col("text")))
      .unionByName(minDelta.select(lit(9000003L).as("doc_id"), col("text")))
      .unionByName(bench.orderBy("doc_id").limit(1)
        .select(lit(9000004L).as("doc_id"), col("text")))
      .unionByName(spark.range(1)
        .select(lit(9000005L).as("doc_id"),
          lit(Seq.fill(40)("spam").mkString(" ")).as("text")))
    deltaBase.unionByName(planted).write.parquet(a.deltaDocs)
    val ev = curationEvents(spark, dir)
    val snapEv = ev.where(col("ts") < CutNs)
    ev.where(col("ts") >= CutNs).write.parquet(a.deltaEvents)
    Scale.aggState(snapEv, "event_type", guardedValue)
      .write.parquet(a.aggState)
    Scale.writeDistinctState(snapEv, "event_type", "user_id", 16,
      a.distinctState)
  }

  /** The delta day's per-document verdict: the incremental dedup
    * decision, then (for dedup survivors) the contamination and
    * repetition gates, plus the shard an admitted doc lands in
    * (shard = hash(doc_id) mod NShards — a pure per-doc function, so
    * delta placement needs no corpus state). `corpusFetch` is the
    * snapshot text SERVICE used only for the id-pruned candidate
    * verify fetch.
    */
  def decisions(spark: SparkSession, a: Artifacts,
                corpusFetch: DataFrame,
                dropPath: Option[String] = None): DataFrame =
    decisionsOf(spark, a, corpusFetch,
      spark.read.parquet(dropPath.getOrElse(a.deltaDocs)))

  /** [[decisions]] over an in-memory drop frame — the core the
    * streaming path ([[graft.streaming.CurationStream]]) feeds each
    * micro-batch's day slice into directly.
    */
  def decisionsOf(spark: SparkSession, a: Artifacts,
                  corpusFetch: DataFrame, drop: DataFrame): DataFrame = {
    val delta = drop.select("doc_id", "text")
    val bench = spark.read.parquet(a.bench)
    val dec = Dedup.incrementalDedupIndexed(a.index, corpusFetch, delta,
      "text", "doc_id", NGram, K, Bands, 0.8)
    val surv = dec.where(col("decision") === "admitted")
      .select("doc_id").join(delta, "doc_id")
    val cleanIds = surv.join(contamOk(surv, bench), "doc_id")
      .select(col("doc_id"), repOk(col("text")).as("__rep_ok"))
      .withColumn("__clean", lit(true))
    dec.join(cleanIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("decision") =!= "admitted", col("decision"))
          .when(col("__clean").isNull, lit("contaminated"))
          .when(!col("__rep_ok"), lit("low_quality"))
          .otherwise(lit("admitted")).as("decision"))
      .withColumn("shard",
        when(col("decision") === "admitted",
          pmod(Dedup.h60(col("doc_id").cast("string")),
            lit(NShards.toLong)).cast("int")))
  }

  /** Admitted delta docs with text + token counts (for the manifest). */
  def admittedDelta(spark: SparkSession, a: Artifacts,
                    dec: DataFrame,
                    dropPath: Option[String] = None): DataFrame =
    admittedOf(dec,
      spark.read.parquet(dropPath.getOrElse(a.deltaDocs)))

  def admittedOf(dec: DataFrame, drop: DataFrame): DataFrame =
    dec.where(col("decision") === "admitted")
      .select("doc_id", "shard")
      .join(drop, "doc_id")
      .select(col("doc_id"), col("shard"), col("text"),
        nTok(col("text")).as("n_tok"))

  /** Fold the day's manifest into the snapshot manifest — pure
    * model-sized arithmetic (counts add, extrema combine, xor
    * checksums xor), never a corpus scan. Result == shardManifest
    * over the grown curated corpus (q489's oracle proves it).
    */
  def foldManifest(m0: DataFrame, mDelta: DataFrame): DataFrame =
    m0.unionByName(mDelta).groupBy("shard")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("min_id")).as("min_id"), max(col("max_id")).as("max_id"),
        expr("bit_xor(checksum)").as("checksum"))

  /** The grown corpus manifest after the delta day. */
  def grownManifest(spark: SparkSession, a: Artifacts,
                    dec: DataFrame): DataFrame =
    foldManifest(spark.read.parquet(a.manifest0),
      graft.core.Layout.shardManifest(admittedDelta(spark, a, dec),
        "shard", "doc_id", "n_tok", "text"))

  /** Fold the day's events into both persisted states and join them
    * into the per-type panel: (n_rows, sum_cents, mean) from the
    * additive agg state + n_unique from the sharded distinct state.
    */
  def foldedStates(spark: SparkSession, a: Artifacts): DataFrame = {
    val deltaEv = spark.read.parquet(a.deltaEvents)
    val agg = Scale.foldAggState(spark.read.parquet(a.aggState), deltaEv,
      "event_type", guardedValue)
    val uniq = Scale.foldDistinctState(spark, a.distinctState, deltaEv,
      "event_type", "user_id", 16)
    agg.join(uniq, "event_type")
  }

  // ---- Two-day lifecycle (q492-q494): day-1 run -> ADMIT (index
  //      append + manifest fold persisted + state append) -> day-2
  //      run against the grown artifacts. Proves the write side of
  //      the day cycle: day N+1 is incremental against a state that
  //      already absorbed day N, gated against a from-scratch
  //      re-derivation of the twice-grown corpus. --------------------

  /** Event-time day-1 boundary for the two-day story:
    * 2024-01-15T00:00:00Z in epoch ns (day-1 events are [Cut1Ns,
    * CutNs), day-2 events are [CutNs, ...)).
    */
  val Cut1Ns = 1705276800000000000L

  /** Two-day bootstrap: snapshot = doc_id%5 in {2,3,4}, day-1 drop =
    * %5==0 (organic — branch sentinels are q488's job), day-2 drop
    * written later by [[writeDay2Drop]] (its sentinels derive from
    * day-1 admissions). Events split three ways at Cut1Ns/CutNs.
    */
  def bootstrapTwoDay(spark: SparkSession, dir: String,
                      a: Artifacts): Unit = {
    val (pool, bench) = poolBench(spark, dir)
    bench.write.mode("overwrite").parquet(a.bench)
    pool.where(pmod(col("doc_id"), lit(5L)) === 0)
      .write.mode("overwrite").parquet(a.deltaDocs)
    buildSnapshotArtifacts(pool, bench,
      pmod(col("doc_id"), lit(5L)).isin(2L, 3L, 4L), a): Unit
    val ev = curationEvents(spark, dir)
    Scale.aggState(ev.where(col("ts") < Cut1Ns), "event_type",
        guardedValue)
      .write.mode("overwrite").parquet(a.aggState)
    Scale.writeDistinctState(ev.where(col("ts") < Cut1Ns),
      "event_type", "user_id", 16, a.distinctState)
    ev.where(col("ts") >= Cut1Ns && col("ts") < CutNs)
      .write.mode("overwrite").parquet(a.deltaEvents)
    ev.where(col("ts") >= CutNs)
      .write.mode("overwrite").parquet(a.day2Events)
  }

  /** ADMIT a day's survivors: append them to the persisted dedup
    * index ([[Dedup.appendDedupIndex]] — delta-scan only) and fold
    * the manifest forward to `manifestOut`. The index after append
    * serves day N+1's candidate generation with day N's docs in it —
    * the lifecycle claim q492's exact-dup/near-dup sentinels witness.
    */
  def admitDay(spark: SparkSession, a: Artifacts, dec: DataFrame,
               dropPath: String, manifestIn: String,
               manifestOut: String): Unit =
    admitDayOf(spark, a, dec, spark.read.parquet(dropPath),
      manifestIn, manifestOut)

  /** [[admitDay]] over an in-memory drop frame (the streaming core).
    * REPLAY-IDEMPOTENT by construction — the property the streaming
    * path's crash recovery rests on: the manifest fold reads
    * `manifestIn` (the PREVIOUS day's artifact, never its own output)
    * and overwrites `manifestOut`; the index hash append anti-joins
    * against the stored set; a re-appended band row only duplicates a
    * candidate the reader `.distinct()`s away
    * ([[Dedup.incrementalDedupIndexed]]), so decisions are invariant
    * under replay (index STATS move — semantics don't; compaction
    * owns the cleanup).
    */
  def admitDayOf(spark: SparkSession, a: Artifacts, dec: DataFrame,
                 drop: DataFrame, manifestIn: String,
                 manifestOut: String): Unit = {
    val adm = admittedOf(dec, drop)
      .localCheckpoint(true) // feeds index append + manifest fold
    Dedup.appendDedupIndex(adm.select("doc_id", "text"), "text",
      "doc_id", a.index, NGram, K, Bands)
    foldManifest(spark.read.parquet(manifestIn),
        graft.core.Layout.shardManifest(adm, "shard", "doc_id", "n_tok",
          "text"))
      .write.mode("overwrite").parquet(manifestOut)
  }

  /** The day-2 drop: the organic %5==1 docs plus two sentinels that
    * witness the APPENDED index serving day-2 (9100001 = verbatim
    * copy of the smallest day-1 admitted doc -> dup_exact_corpus via
    * the appended hash set; 9100002 = the longest day-1 admitted doc
    * with one word appended -> near_dup_corpus via the appended band
    * rows: J = (w-2)/(w-1) >= 0.8 for any doc of >= 6 words).
    */
  def writeDay2Drop(spark: SparkSession, dir: String, a: Artifacts,
                    dec1: DataFrame): Unit = {
    val pool = graft.core.Tables.plain(spark, dir, "documents")
      .where(col("source") =!= "src0")
      .select("doc_id", "text")
    val admf1 = dec1.where(col("decision") === "admitted")
      .select("doc_id")
      .join(spark.read.parquet(a.deltaDocs), "doc_id")
    val planted = admf1.orderBy("doc_id").limit(1)
      .select(lit(9100001L).as("doc_id"), col("text"))
      .unionByName(admf1
        .orderBy(nTok(col("text")).desc, col("doc_id")).limit(1)
        .select(lit(9100002L).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text")))
    pool.where(pmod(col("doc_id"), lit(5L)) === 1)
      .unionByName(planted)
      .write.mode("overwrite").parquet(a.day2Docs)
  }
}
