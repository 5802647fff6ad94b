package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Ledger

/** The N-DAY curation lifecycle (round-11 flagship, N = 4): the
  * [[CurationDay]] delta-day machinery generalized from the two-day
  * chain to a parameterized day loop, with every day's admission
  * running behind a persisted DAY LEDGER — the [[Scale.ingestBatch]]
  * exactly-once contract lifted from one table write to the whole
  * multi-artifact day transaction. The same per-day step
  * ([[processDay]]) serves two engine paths against one oracle (the
  * q483 pattern): [[graft.streaming.CurationStream]]'s calendars run
  * either through the BATCH interpreter (days applied in a driver
  * loop) or the STREAMED one (daily drop files land in a directory,
  * Structured Streaming delivers them through `foreachBatch`), and
  * both invoke the identical [[processDay]].
  *
  * Day-k state bugs that two days cannot surface (fold
  * non-associativity, summary staleness after repeated appends,
  * band-row duplication across many index appends) are exactly what
  * the N-day gate rows (q505–q510) hunt: the day-4 artifacts are
  * compared against a from-scratch DuckDB re-derivation of the
  * four-times-grown corpus and the full event history.
  *
  * CRASH/REPLAY CONTRACT (what makes streaming recovery correct):
  * [[processDay]] is (a) a NO-OP when the day is already in the
  * ledger — a replay of a fully-committed micro-batch does nothing —
  * and (b) IDEMPOTENT when re-run after a crash anywhere before the
  * ledger row, because the day's decisions are PINNED before any
  * mutation (a replay reuses the pin — see [[processDayBody]]; naive
  * recomputation would self-collide with the day's own index
  * contributions) and every mutation is: an overwrite of a day-k
  * artifact derived from the day-(k−1) artifact
  * ([[CurationDay.admitDayOf]] manifest fold, agg/cent state folds),
  * an anti-joined append ([[Scale.appendDistinctState]], index hash
  * append), or a decision-invariant band append
  * ([[Dedup.incrementalDedupIndexed]] distincts candidates).
  * CurationStreamSpec witnesses both directions (kill/restart and a
  * simulated torn day re-run).
  */
object CurationNDay {

  val NDays = 4

  /** Event-time day boundaries (epoch ns): bootstrap state covers
    * [−∞, c(0)); day k covers [c(k−1), c(k)), with day N open-ended.
    * 2024-01-08 / 01-15 / 01-22 / 01-28, all 00:00:00Z — the fixture's
    * events span Jan 1–30.
    */
  val Cuts: Seq[Long] = Seq(1704672000000000000L, 1705276800000000000L,
    1705881600000000000L, 1706400000000000000L)

  private def dayEventPred(k: Int) = {
    val lo = col("ts") >= Cuts(k - 1)
    if (k == NDays) lo else lo && col("ts") < Cuts(k)
  }

  /** Build the snapshot artifacts and the ORGANIC day inputs: snapshot
    * corpus = doc_id%8 ∈ {4..7}; day k's drop = doc_id%8 == k−1 for
    * k = 1..3 (day 4's drop is written later by [[writeDay4Drop]] —
    * its sentinels derive from day-1/-2 ADMISSIONS); events split at
    * [[Cuts]] into bootstrap + four day files. States bootstrapped:
    * additive agg partials, sharded distinct keys, cent histogram.
    */
  def bootstrapNDay(spark: SparkSession, dir: String,
                    a: CurationDay.Artifacts): Unit = {
    val (pool, bench) = CurationDay.poolBench(spark, dir)
    val curated = CurationDay.buildSnapshotArtifacts(pool, bench,
      pmod(col("doc_id"), lit(8L)) >= 4, a)
    val ev = CurationDay.curationEvents(spark, dir)
    val boot = ev.where(col("ts") < Cuts.head)
    // every remaining artifact reads only the pinned snapshot / base
    // tables and writes its own path — overlap them all (guide §2.6)
    graft.core.Par.run(
      (Seq(
        () => bench.write.mode("overwrite").parquet(a.bench),
        () => { // corpus product, then day 0 of the pack tape off it
          // materialize the PRODUCT: the curated snapshot, shard-
          // partitioned (same shard rule the decisions assign with)
          Corpus.shardAssign(curated, "doc_id", CurationDay.NShards)
            .select("doc_id", "shard").join(curated, "doc_id")
            .select(col("doc_id"), col("text"), col("shard"))
            .write.partitionBy("shard").mode("overwrite")
            .parquet(a.corpusDir)
          Pack.packDayStep(spark, a, 0,
            spark.read.parquet(a.corpusDir).select(col("doc_id"),
              col("shard"),
              size(split(col("text"), " ")).cast("long").as("n_tok")))
        },
        () => Scale.aggState(boot, "event_type", CurationDay.guardedValue)
          .write.mode("overwrite").parquet(a.aggStateDay(0)),
        () => Scale.writeDistinctState(boot, "event_type", "user_id", 16,
          a.distinctState),
        () => Scale.writeCentHist(boot, "event_type",
          CurationDay.guardedValue, a.centStateDay(0))) ++
      (1 to 3).map(k => () =>
        pool.where(pmod(col("doc_id"), lit(8L)) === (k - 1).toLong)
          .write.mode("overwrite").parquet(a.dropDay(k))) ++
      (1 to NDays).map(k => () =>
        ev.where(dayEventPred(k))
          .write.mode("overwrite").parquet(a.eventsDay(k)))): _*)
  }

  /** The day-4 drop: organic doc_id%8 == 3 plus two sentinels that
    * witness the MULTI-DAY index growth serving a later day (the q492
    * planting pattern, stretched across the chain): 9200001 = verbatim
    * copy of the smallest DAY-1 admitted doc → dup_exact_corpus via
    * the hash set appended on day 1; 9200002 = the longest DAY-2
    * admitted doc with one word appended → near_dup_corpus via the
    * band rows appended on day 2 (J = (w−2)/(w−1) ≥ 0.8 for w ≥ 6).
    * Derived from the pipeline's OWN persisted decisions/drops — no
    * side channel.
    */
  def writeDay4Drop(spark: SparkSession, dir: String,
                    a: CurationDay.Artifacts): Unit = {
    val (pool, _) = CurationDay.poolBench(spark, dir)
    def admitted(k: Int): DataFrame =
      Ledger.pinnedIds(spark, a.decisionsDay, Seq(k))
        .join(spark.read.parquet(a.dropDay(k)), "doc_id")
    val nTok = size(split(col("text"), " ")).cast("long")
    val planted = admitted(1).orderBy("doc_id").limit(1)
      .select(lit(9200001L).as("doc_id"), col("text"))
      .unionByName(admitted(2)
        .orderBy(nTok.desc, col("doc_id")).limit(1)
        .select(lit(9200002L).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text")))
    pool.where(pmod(col("doc_id"), lit(8L)) === 3L)
      .unionByName(planted)
      .write.mode("overwrite").parquet(a.dropDay(4))
  }

  /** One day's full admission transaction, ledger-gated: returns false
    * (a pure no-op) when the day is already committed; otherwise runs
    * [[processDayBody]] and commits the ledger row LAST — a crash
    * anywhere inside the body re-runs the whole day on replay, which
    * the body's construction makes convergent (see object Scaladoc).
    */
  def processDay(spark: SparkSession, a: CurationDay.Artifacts, k: Int,
                 drop: DataFrame, corpusFetch: DataFrame): Boolean =
    Ledger.once(spark, a.ledger, s"day$k")(
      processDayBody(spark, a, k, drop, corpusFetch)).isDefined

  /** Everything except the ledger commit — the crash window, exposed
    * so CurationStreamSpec can SIMULATE a day that died before its
    * ledger row and witness that the replayed day converges. Days must
    * arrive in order: day k requires day k−1's manifest (loud fail on
    * an out-of-order drop).
    *
    * DECISION PIN (the bug CurationStreamSpec's torn-day test caught
    * in the first cut): the day's decisions are computed BEFORE any
    * index mutation and pinned to `decisionsDay(k)`; a replayed day
    * whose pin completed ([[graft.core.Ledger.pin]]) REUSES it instead of
    * recomputing — recomputation against an index that already
    * absorbed this day's own docs would see every admitted doc as its
    * own exact dup. A crash mid-pin recomputes cleanly (the index is
    * untouched until the pin exists), and once pinned nothing rewrites
    * it, so no replay can ever recompute against a self-dirty index.
    */
  private[graft] def processDayBody(spark: SparkSession,
                                    a: CurationDay.Artifacts, k: Int,
                                    drop: DataFrame,
                                    corpusFetch: DataFrame): Unit = {
    val fs = new org.apache.hadoop.fs.Path(a.manifestDay(k - 1))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(a.manifestDay(k - 1))),
      s"processDay: day $k arrived before day ${k - 1} was admitted")
    val dec = Ledger.pin(spark, a.decisionsDay(k))(
      CurationDay.decisionsOf(spark, a, corpusFetch, drop))
    // ONE admitted-frame derivation feeds every artifact update below
    // (previously admitDayOf re-derived + re-checkpointed its own copy)
    val adm = CurationDay.admittedOf(dec, drop)
      .select("doc_id", "text", "shard", "n_tok").localCheckpoint(true)
    val ev = spark.read.parquet(a.eventsDay(k))
    // the seven artifact updates read only pinned frames / day-(k−1)
    // files and write disjoint outputs — overlap them (guide §2.6)
    graft.core.Par.run(
      // dedup-index append + manifest fold (admitDayOf inlined over the
      // shared adm)
      () => Dedup.appendDedupIndex(adm.select("doc_id", "text"), "text",
        "doc_id", a.index, CurationDay.NGram, CurationDay.K,
        CurationDay.Bands),
      () => CurationDay.foldManifest(
          spark.read.parquet(a.manifestDay(k - 1)),
          graft.core.Layout.shardManifest(adm, "shard", "doc_id",
            "n_tok", "text"))
        .write.mode("overwrite").parquet(a.manifestDay(k)),
      // corpus append, replay-safe the appendDistinctState way: the
      // day's admitted docs anti-join a PARTITION-PRUNED read of only
      // their own shards before appending
      () => {
        val touched = adm.select("shard").distinct()
          .collect().map(_.getInt(0)).sorted // bounded by NShards
        val existing = spark.read.parquet(a.corpusDir)
          .where(col("shard").isin(touched.map(Integer.valueOf): _*))
          .select("doc_id", "shard")
        adm.select("doc_id", "text", "shard")
          .join(existing, Seq("doc_id", "shard"), "left_anti")
          .localCheckpoint(true) // anti-join reads the appended table
          .write.partitionBy("shard").mode("append").parquet(a.corpusDir)
      },
      // extend the pack tape by the day's admissions (overwrite of the
      // day's own layout + state file: replay-idempotent like the rest)
      () => Pack.packDayStep(spark, a, k, adm),
      () => Scale.foldAggState(spark.read.parquet(a.aggStateDay(k - 1)),
          ev, "event_type", CurationDay.guardedValue)
        .select("event_type", "n_rows", "sum_cents")
        .write.mode("overwrite").parquet(a.aggStateDay(k)),
      () => Scale.appendDistinctState(spark, a.distinctState, ev,
        "event_type", "user_id", 16),
      () => Scale.foldCentHist(spark, a.centStateDay(k - 1), ev,
          "event_type", CurationDay.guardedValue)
        .localCheckpoint(true) // reads day k-1's file; pin before write
        .write.mode("overwrite").parquet(a.centStateDay(k)))
  }

  /** All N days' decisions as one frame (day, doc_id, decision,
    * shard) — the lifecycle's decision ledger, read back from the
    * per-day artifacts.
    */
  def allDecisions(spark: SparkSession,
                   a: CurationDay.Artifacts): DataFrame =
    Ledger.pinned(spark, a.decisionsDay, 1 to NDays)(k =>
      Seq(lit(k).as("day"), col("doc_id"), col("decision"), col("shard")))

  /** A RETRACTION day (takedown / right-to-erasure through the same
    * ledgered day mechanism as admission — the lifecycle's inverse
    * path): remove `retract` doc ids from every artifact the pipeline
    * owns, touching only retraction-proportional data:
    *
    *  1. dedup index — [[Dedup.deleteFromDedupIndex]] (band rows of
    *     the victims dropped; a content hash dropped only when no
    *     surviving doc still carries it — found via ONE map-only
    *     corpus scan against the broadcast victim-hash set), run
    *     FIRST, while the corpus files are intact;
    *  2. corpus — only the victims' shard partitions are rewritten
    *     (partition-pruned read, anti-join, per-shard rewrite);
    *  3. manifest — untouched shards carry their old rows; touched
    *     shards RECOMPUTE from their (pruned) post-delete partitions.
    *     (n_docs/n_tokens/checksum could fold DOWN exactly — xor is
    *     self-inverse — but min/max don't invert, so the touched-shard
    *     recompute is the honest primitive; Round11Spec pins that the
    *     fold-down agrees with the recompute on the foldable columns.)
    *
    * Ledger-gated like [[processDay]] and re-run-convergent: after a
    * crash at any step, the victims are re-derived from the CURRENT
    * corpus (already-deleted docs simply vanish from the victim set)
    * and every step is an overwrite or an anti-join.
    *
    * The PACK TAPE is deliberately NOT patched here: removing a doc
    * shifts every later stream position, so the tape is invalid from
    * the first victim onward — run [[Pack.rebuild]] after retraction
    * (the compaction-class repair; q528 gates it).
    */
  def retractDay(spark: SparkSession, a: CurationDay.Artifacts,
                 dayId: String, retract: DataFrame, manifestIn: String,
                 manifestOut: String): Boolean =
    Ledger.once(spark, a.ledger, dayId)(
      retractAll(spark, a, retract, manifestIn, manifestOut)).isDefined

  /** [[retractDay]] without its ledger row — the body every ledgered
    * deletion (retraction, TTL, cap) runs under its own one row.
    */
  private def retractAll(spark: SparkSession, a: CurationDay.Artifacts,
                         retract: DataFrame, manifestIn: String,
                         manifestOut: String): Unit = {
    val ids = retract.select("doc_id").distinct().localCheckpoint(true)
    val corpusPre = spark.read.parquet(a.corpusDir)
    // victims WITH text + shard: retraction-proportional
    val victims = corpusPre.join(ids, "doc_id").localCheckpoint(true)
    val shards = victims.select("shard").distinct()
      .collect().map(_.getInt(0)).sorted
    // 1. index delete while corpus files are intact (its stillHeld
    //    pass is the one map-only corpus scan of the op)
    Dedup.deleteFromDedupIndex(spark, a.index,
      corpusPre.select("doc_id", "text"),
      victims.select("doc_id", "text"), "text", "doc_id")
    // 2. per-shard corpus rewrite (pruned to the victims' shards)
    val kept = corpusPre
      .where(col("shard").isin(shards.map(Integer.valueOf): _*))
      .join(ids, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val fs = new org.apache.hadoop.fs.Path(a.corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    shards.foreach { sh =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${a.corpusDir}/shard=$sh"), true): Unit
    }
    kept.write.partitionBy("shard").mode("append").parquet(a.corpusDir)
    // 3. manifest: carry untouched shards, recompute touched ones
    //    from their post-delete partitions
    val nTok = size(split(col("text"), " ")).cast("long")
    val touchedNew = graft.core.Layout.shardManifest(
      spark.read.parquet(a.corpusDir)
        .where(col("shard").isin(shards.map(Integer.valueOf): _*))
        .withColumn("n_tok", nTok),
      "shard", "doc_id", "n_tok", "text")
    spark.read.parquet(manifestIn)
      .where(!col("shard").isin(shards.map(Integer.valueOf): _*))
      .unionByName(touchedNew)
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(manifestOut)
  }

  /** RETENTION (TTL) day — time-based age-out for the corpus + index +
    * manifest, the reference's ring-buffer expiry
    * (src/table_store/table/table.h:335 `ExpireRowBatches`,
    * table.cc:44 size cap) as a ledgered lifecycle operation: every
    * corpus doc whose ADMISSION DAY is older than `keepFromDay` leaves
    * (snapshot docs are day 0, so `keepFromDay = 2` expires the
    * snapshot AND day 1 — the ring buffer dropping its oldest
    * segments). The day ledger is the age record — no per-row
    * timestamp column needed, and the victim derivation touches only
    * the decision pins + the corpus id column. Deletion itself is the
    * proven [[retractDay]] machinery (index delete with stillHeld
    * semantics, per-shard corpus rewrite, manifest recompute on
    * touched shards), so TTL inherits its crash-convergence. The PACK
    * TAPE is invalidated from the first victim onward — run
    * [[Pack.rebuild]] after, exactly like retraction (q528's
    * contract). Returns false when `dayId` already committed (a
    * replay reads only the ledger).
    */
  def ttlDay(spark: SparkSession, a: CurationDay.Artifacts,
             dayId: String, keepFromDay: Int, manifestIn: String,
             manifestOut: String): Boolean = {
    require(keepFromDay >= 1 && keepFromDay <= NDays,
      s"ttlDay: keepFromDay in [1, $NDays]")
    Ledger.once(spark, a.ledger, dayId)(
      expire(spark, a, keepFromDay, manifestIn, manifestOut)).isDefined
  }

  /** [[ttlDay]] without its ledger row: the corpus docs
    * [[graft.core.Ledger.agedOut]] of `keepFromDay` leave through the
    * retraction body.
    */
  private def expire(spark: SparkSession, a: CurationDay.Artifacts,
                     keepFromDay: Int, manifestIn: String,
                     manifestOut: String): Unit =
    retractAll(spark, a, Ledger.agedOut(spark,
        spark.read.parquet(a.corpusDir), a.decisionsDay, keepFromDay, NDays),
      manifestIn, manifestOut)

  /** Day k's token mass from its persisted pack layout (one sum over
    * one day file — model-sized, no corpus scan): the fixture caps'
    * input, read before any slot rewrites the tape.
    */
  def packMass(spark: SparkSession, a: CurationDay.Artifacts, k: Int): Long =
    spark.read.parquet(a.packDay(k))
      .agg(coalesce(sum(col("n_tok")), lit(0L)).as("m"))
      .head().getLong(0)

  /** ORDER-INDEPENDENT retained token mass per admission day:
    * [[graft.core.Ledger.massTable]] over the curated corpus, a doc's
    * mass its token count. Costs one curated-corpus scan.
    */
  def pinnedMasses(spark: SparkSession,
                   a: CurationDay.Artifacts): Map[Int, Long] =
    Ledger.massTable(spark, spark.read.parquet(a.corpusDir).select(
        col("doc_id"), size(split(col("text"), " ")).cast("long").as("m")),
      a.decisionsDay, NDays)

  /** SIZE-CAPPED retention on the day lifecycle: the
    * [[graft.core.Ledger.capSlot]] over the [[pinnedMasses]] (token
    * mass per admission day), expiring to the chosen horizon through
    * the [[ttlDay]] machinery — all under ONE `dayId` ledger row. The
    * pinned horizon tells a replayed calendar slot whether the cap
    * expired anything (the fact the tape-rebuild step needs). An
    * UNDER-CAP corpus commits a ledgered no-op (keepFrom = 0,
    * `manifestOut` not written). The masses survive a prior ttl slot's
    * tape rebuild, so a calendar may schedule its slots in any order
    * (the q606/q607 capstone). Returns the chosen `keepFromDay`, or 0
    * for the no-op / already-committed cases.
    */
  def capDayPinned(spark: SparkSession, a: CurationDay.Artifacts,
                   dayId: String, maxTokens: Long, manifestIn: String,
                   manifestOut: String): Int =
    Ledger.capSlot(spark, a.ledger, dayId, a.capHorizon(dayId), maxTokens)(
      pinnedMasses(spark, a))(expire(spark, a, _, manifestIn, manifestOut))

  /** The lifecycle DATASHEET (the "data card" every curated training
    * corpus ships with — Gebru et al. 2021, "Datasheets for
    * Datasets"): one long-format (section, metric, value) frame
    * summarizing the admission funnel, the curated corpus, the pack
    * tape, the dedup index, and the event states — derived from the
    * persisted artifacts alone (decision files, manifest, pack state,
    * index tables, state folds), NEVER a corpus rescan, so producing
    * the card at 100 TB costs index-and-model-sized reads. q524 gates
    * every number against a from-scratch DuckDB re-derivation.
    */
  def dataCard(spark: SparkSession, a: CurationDay.Artifacts): DataFrame = {
    def row(sec: String, met: String, src: DataFrame,
            v: org.apache.spark.sql.Column): DataFrame =
      src.agg(v.cast("long").as("value"))
        .select(lit(sec).as("section"), lit(met).as("metric"),
          col("value"))
    val dec = allDecisions(spark, a).groupBy("decision")
      .agg(count(lit(1)).as("value"))
      .select(lit("decisions").as("section"),
        col("decision").as("metric"), col("value"))
    val man = spark.read.parquet(a.manifestDay(NDays))
    val tape = Pack.fullLayout(spark, a, NDays)
    val st = spark.read.parquet(a.packStateDay(NDays))
    val L = Pack.SeqLen
    val next = col("next_tok")
    val aggSt = spark.read.parquet(a.aggStateDay(NDays))
    dec
      .unionByName(row("corpus", "n_docs", man, sum(col("n_docs"))))
      .unionByName(row("corpus", "n_tokens", man, sum(col("n_tokens"))))
      .unionByName(row("pack", "n_tokens", st, max(next)))
      .unionByName(row("pack", "n_seqs", st,
        graft.functions.PixieFunctions.idiv(max(next) + (L - 1), L)))
      .unionByName(row("pack", "tail_pad", st,
        pmod(lit(L) - pmod(max(next), lit(L)), lit(L))))
      .unionByName(row("pack", "n_straddle", tape,
        sum(when(col("first_seq") =!= col("last_seq"), 1L)
          .otherwise(0L))))
      .unionByName(row("index", "n_hashes",
        spark.read.parquet(s"${a.index}/hashes.parquet"), count(lit(1))))
      .unionByName(row("index", "n_band_rows",
        spark.read.parquet(s"${a.index}/bands.parquet").distinct(),
        count(lit(1))))
      .unionByName(row("states", "n_event_types", aggSt, count(lit(1))))
      .unionByName(row("states", "n_events", aggSt, sum(col("n_rows"))))
      .unionByName(row("states", "n_type_user_pairs",
        Scale.distinctStateCard(spark, a.distinctState, "event_type"),
        sum(col("n_unique"))))
  }

  /** The post-day-N state panel, read from the PERSISTED states alone
    * (no event scan): additive agg partials → n_rows/sum_cents/mean,
    * distinct-state summary rollup → n_unique, cent histogram → exact
    * p50/p90/p99 + the non-null value count. Gate row q507 proves the
    * panel equals a full recompute over the entire event history.
    */
  def statesPanel(spark: SparkSession,
                  a: CurationDay.Artifacts): DataFrame = {
    import graft.core.Exact.zround
    val agg = spark.read.parquet(a.aggStateDay(NDays))
      .withColumn("mean", zround(
        col("sum_cents").cast("double") / 100.0 / col("n_rows"), 6))
    val uniq = Scale.distinctStateCard(spark, a.distinctState, "event_type")
    val quant = Scale.histQuantiles(
        spark.read.parquet(a.centStateDay(NDays)), "event_type",
        Seq("p50_cents" -> 500000L, "p90_cents" -> 900000L,
          "p99_cents" -> 990000L))
      .withColumnRenamed("n_rows", "n_values")
    // left join: a group with zero valid values has no histogram rows
    agg.join(uniq, "event_type")
      .join(quant, Seq("event_type"), "left")
  }
}
