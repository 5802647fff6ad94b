package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Ledger, Tables}

/** The MULTIMODAL admission day — the three persisted near-dup
  * indexes ([[Dedup.writeDedupIndex]] lexical, [[SemIndex]] semantic,
  * [[PhashIndex]] perceptual) composed into ONE incremental day: a
  * delta document is admitted only when ALL THREE stages clear it,
  * and only overall-admitted documents append to ANY index, so the
  * three artifacts stay consistent views of one admitted corpus. The
  * verdict priority is fixed and re-derivable: a lexical verdict
  * (exact/batch/near) wins over a semantic one, semantic over
  * perceptual — the cheap-to-explain "first failing stage" rule.
  *
  * Replay contract: the COMBINED decisions pin before any index
  * mutation (the [[CurationNDay.processDayBody]] rule — naive
  * recomputation would self-collide with the day's own appends in
  * all three indexes at once), every append is anti-joined. 100 TB
  * shape: each stage keeps its own documented delta-proportional
  * cost; the composition adds only model-per-doc joins of the three
  * verdict frames.
  */
object MultiDay {

  /** The lexical, semantic and perceptual index roots under `root`. */
  trait IndexRoots {
    def root: String
    def lex: String = s"$root/lex_index"
    def sem: SemIndex.Paths = SemIndex.Paths(s"$root/sem")
    def ph: PhashIndex.Paths = PhashIndex.Paths(s"$root/ph")
  }

  case class Paths(root: String) extends IndexRoots {
    def decisionsDay(k: Int): String = s"$root/multi_decisions_day$k.parquet"
  }

  val NGram = 3; val K = 16; val Bands = 4; val Threshold = 0.8

  /** Build all three snapshot indexes from the same id space. */
  def bootstrap(spark: SparkSession, docs: DataFrame, vecs: DataFrame,
                hashed: DataFrame, p: Paths): Unit = {
    Dedup.writeDedupIndex(docs, "text", "doc_id", p.lex, NGram, K, Bands)
    SemIndex.bootstrap(spark, vecs, p.sem)
    PhashIndex.write(spark, hashed, p.ph)
  }

  /** One composed day: three stage verdicts joined on the shared id,
    * combined by stage priority, pinned, then the overall-admitted
    * set appended to all three indexes. `corpusFetch` is the lexical
    * candidate-verify text service (id-pruned read).
    */
  def processDay(spark: SparkSession, p: Paths, k: Int,
                 docs: DataFrame, vecs: DataFrame, hashed: DataFrame,
                 corpusFetch: DataFrame): DataFrame = {
    val dec = Ledger.pin(spark, p.decisionsDay(k)) {
      val lex = Dedup.incrementalDedupIndexed(p.lex, corpusFetch,
          docs, "text", "doc_id", NGram, K, Bands, Threshold)
        .withColumnRenamed("decision", "__lex")
      val sem = SemIndex.decisions(spark, p.sem, vecs)
        .select(col("vec_id").as("doc_id"),
          col("decision").as("__sem"))
      val ph = PhashIndex.decisions(spark, p.ph, hashed)
        .select(col("media_id").as("doc_id"),
          col("decision").as("__ph"))
      // FULL joins: the op is generic, so a delta doc missing an
      // embedding or image row must not silently vanish — it gets
      // the loud `missing_modality` verdict (never admitted, never
      // appended) instead of dropping out of the decisions frame.
      lex.join(sem, Seq("doc_id"), "full")
        .join(ph, Seq("doc_id"), "full")
        .select(col("doc_id"),
          when(col("__lex").isNull || col("__sem").isNull ||
            col("__ph").isNull, lit("missing_modality"))
            .when(col("__lex") =!= "admitted", col("__lex"))
            .when(col("__sem") =!= "admitted", col("__sem"))
            .when(col("__ph") =!= "admitted", col("__ph"))
            .otherwise(lit("admitted")).as("decision"))
    }
    val admIds = dec.where(col("decision") === "admitted")
      .select("doc_id").localCheckpoint(true)
    Dedup.appendDedupIndex(docs.join(admIds, "doc_id"), "text",
      "doc_id", p.lex, NGram, K, Bands)
    SemIndex.append(spark, p.sem,
      vecs.join(admIds.withColumnRenamed("doc_id", "vec_id"), "vec_id"))
    PhashIndex.append(spark, p.ph,
      hashed.join(admIds.withColumnRenamed("doc_id", "media_id"),
        "media_id"))
    dec
  }

  // =====================================================================
  // The FOUR-STAGE generation: lexical, semantic, perceptual image and
  // perceptual AUDIO stages, per-stage verdict columns, within-day
  // near-dup passes, a decode-once media artifact, N = 3 days with a
  // DAY LEDGER, and a streamed delivery path
  // ([[graft.streaming.MultiStream]]) — the [[CurationNDay]] contract
  // lifted onto the composed multimodal day. The three-stage
  // `processDay` above stays separate because q538–q541 pin a contract
  // with no within-batch pass (its semantic and perceptual stages see
  // only the index, so a same-day twin is judged alone).
  // =====================================================================

  /** Artifact roots of the 4-index lifecycle. `media` is the
    * decode-once [[MediaHashes]] table; `aud` reuses the
    * [[PhashIndex]] layout over audio fingerprints (the machinery is
    * modality-blind over 8 row-bytes).
    */
  case class Paths4(root: String)
      extends IndexRoots with CurationDay.CalendarRoots {
    def aud: PhashIndex.Paths = PhashIndex.Paths(s"$root/aud")
    def media: String = s"$root/media_hashes.parquet"
    def decisionsDay(k: Int): String = s"$root/mm_decisions_day$k.parquet"
    def dropDay(k: Int): String = s"$root/mm_drop_day$k.parquet"
  }

  val NDays4 = 3

  /** The four-stage fixture lifecycle's %8 split: snapshot {4..7},
    * day 1 = 0, day 2 = 1, day 3 = {2,3} + the three sentinels. Image
    * payloads are PAIR-grouped ([[img]]), so a day-1 even doc's
    * partner arrives on day 2 (cross-day perceptual witness through
    * the day-1 append alone) and a day-3 pair co-arrives (the
    * within-day pass's organic witness).
    */
  private def m8: Column = pmod(col("doc_id"), lit(8L))

  /** The six-stage lifecycle's %4 split of the [[pool]]: snapshot
    * {2,3}, day 1 = 0, day 2 = 1.
    */
  private def m4: Column = pmod(col("doc_id"), lit(4L))

  /** The six-stage participant pool: the bench source (`src0`, see
    * [[benchOf]]) is excluded.
    */
  private def pool(pred: Column): Column = col("source") =!= "src0" && pred

  /** The image payload of the doc's pair group (`doc_id − doc_id%2`). */
  private def img: Column =
    Multimodal.pngVarUdf(col("doc_id") - pmod(col("doc_id"), lit(2L)))

  /** One day's organic drop: the `pred` documents with their
    * embedding and image, as (doc_id, text, embedding, img).
    */
  private def organicDrop(spark: SparkSession, dir: String,
                          pred: Column): DataFrame =
    Tables.plain(spark, dir, "documents").where(pred)
      .select("doc_id", "text")
      .join(Tables.plain(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .withColumn("img", img)

  /** The drop frame as a media frame for [[MediaHashes]]: the image
    * payload plus the audio track (documents-as-media text bytes —
    * the q290 convention; cast string→binary is UTF-8 in Spark and
    * `ord(substr(..))` in the oracle, byte-identical on the fixture's
    * ASCII text).
    */
  private def mediaOf(drop: DataFrame): DataFrame =
    drop.select(col("doc_id").as("media_id"),
      col("img").as("payload"), col("text").cast("binary").as("audio"))

  /** Bootstrap all four snapshot indexes + the media artifact from the
    * `snapPred` organic drop, and stage day k's organic drop
    * (`dayPreds(k − 1)`).
    */
  private def bootstrapOf(spark: SparkSession, dir: String, p: Paths4,
                          snapPred: Column, dayPreds: Column*): Unit = {
    val snap = organicDrop(spark, dir, snapPred).localCheckpoint(true)
    // all tracks read only the pinned snapshot / base tables and write
    // disjoint artifacts — overlap them (guide §2.6)
    graft.core.Par.run((Seq(
      () => Dedup.writeDedupIndex(snap, "text", "doc_id", p.lex, NGram,
        K, Bands),
      () => SemIndex.bootstrap(spark,
        snap.select(col("doc_id").as("vec_id"), col("embedding")), p.sem),
      () => { // media chain: extend, then both index writes off it
        MediaHashes.extend(spark, p.media, mediaOf(snap))
        val sigs = MediaHashes.fetchBoth(spark, p.media,
          snap.select(col("doc_id").as("media_id"))).localCheckpoint(true)
        graft.core.Par.run(
          () => PhashIndex.write(spark, MediaHashes.imageOf(sigs), p.ph),
          () => PhashIndex.write(spark, MediaHashes.audioOf(sigs), p.aud))
      }) ++
      dayPreds.zipWithIndex.map { case (pred, i) => () =>
        organicDrop(spark, dir, pred)
          .write.mode("overwrite").parquet(p.dropDay(i + 1))
      }): _*)
  }

  /** The four-stage bootstrap: the %8 ∈ {4..7} snapshot, day-1/-2
    * organic drops staged.
    */
  def bootstrap4(spark: SparkSession, dir: String, p: Paths4): Unit =
    bootstrapOf(spark, dir, p, m8 >= 4L, m8 === 0L, m8 === 1L)

  /** The six-stage bootstrap: the pool's %4 ∈ {2,3} snapshot, the day-1
    * organic drop staged.
    */
  def bootstrap6(spark: SparkSession, dir: String, p: Paths4): Unit =
    bootstrapOf(spark, dir, p, pool(m4.isin(2L, 3L)), pool(m4 === 0L))

  /** A FULL-CLONE sentinel row: all modalities (text, embedding,
    * image payload group — the audio track follows the text) of the
    * smallest id in `src`, re-badged as `newId`.
    */
  private def cloneOf(spark: SparkSession, dir: String, src: DataFrame,
                      newId: Long): DataFrame =
    src.orderBy("doc_id").limit(1)
      .join(Tables.plain(spark, dir, "documents")
        .select("doc_id", "text"), "doc_id")
      .join(Tables.plain(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .select(lit(newId).as("doc_id"), col("text"), col("embedding"),
        img.as("img"))

  /** The ids day k's pin holds under `pred` (by default the admitted
    * ones).
    */
  private def pinnedIds(spark: SparkSession, p: Paths4, k: Int,
                        pred: Column = Ledger.Admitted): DataFrame =
    Ledger.pinnedIds(spark, p.decisionsDay, Seq(k), pred)

  /** The day-3 drop: organic %8 ∈ {2,3} plus three FULL-CLONE
    * sentinels derived from the pipeline's OWN pinned decisions (the
    * q492 planting rule, per modality): 9600001 clones the smallest
    * day-1 OVERALL-admitted doc (text + embedding + image group + the
    * audio track the text implies) — every stage must flag it dup via
    * the day-1 appends; 9600002 the same off day 2; 9600003 clones
    * the smallest day-3 ORGANIC doc — a same-day clone, so each of
    * its stage verdicts must be a dup (corpus or batch, whichever the
    * source's own corpus check dictates) and it can never be
    * admitted.
    */
  def writeDay3Drop(spark: SparkSession, dir: String, p: Paths4): Unit = {
    val organic = organicDrop(spark, dir, m8.isin(2L, 3L))
    organic
      .unionByName(cloneOf(spark, dir, pinnedIds(spark, p, 1), 9600001L))
      .unionByName(cloneOf(spark, dir, pinnedIds(spark, p, 2), 9600002L))
      .unionByName(cloneOf(spark, dir, organic.select("doc_id"), 9600003L))
      .write.mode("overwrite").parquet(p.dropDay(3))
  }

  /** The four near-dup stage columns, FULL-joined on the shared id
    * with nulls preserved (a missing modality surfaces as a null
    * stage value for [[verdict]] to flag loudly).
    */
  private def stageVerdicts(spark: SparkSession, p: Paths4,
                            drop: DataFrame, imgHashed: DataFrame,
                            audHashed: DataFrame,
                            corpusFetch: DataFrame): DataFrame = {
    val lex = Dedup.incrementalDedupIndexed(p.lex, corpusFetch,
        drop.select("doc_id", "text"), "text", "doc_id", NGram, K,
        Bands, Threshold)
      .withColumnRenamed("decision", "d_lex")
    val sem = SemIndex.decisions(spark, p.sem,
        drop.select(col("doc_id").as("vec_id"), col("embedding")),
        withinBatch = true)
      .select(col("vec_id").as("doc_id"), col("decision").as("d_sem"))
    val ph = PhashIndex.decisions(spark, p.ph, imgHashed,
        withinBatch = true, label = "phash")
      .select(col("media_id").as("doc_id"), col("decision").as("d_ph"))
    val aud = PhashIndex.decisions(spark, p.aud, audHashed,
        withinBatch = true, label = "audio")
      .select(col("media_id").as("doc_id"), col("decision").as("d_aud"))
    lex.join(sem, Seq("doc_id"), "full")
      .join(ph, Seq("doc_id"), "full")
      .join(aud, Seq("doc_id"), "full")
  }

  /** The four near-dup stage columns in priority order (corpus hits
    * already outrank batch hits within each stage).
    */
  val Stages4: Seq[String] = Seq("d_lex", "d_sem", "d_ph", "d_aud")

  /** The full stack: the near-dup stages, then the two post-gates. */
  val Stages6: Seq[String] = Stages4 ++ Seq("d_contam", "d_qual")

  /** The combined verdict under the fixed priority of `stages`:
    * `missing_modality` when any stage is null (never admitted, never
    * silently dropped), else the first failing stage's verdict, else
    * admitted — the cheap-to-explain "first failing stage" rule.
    */
  private def verdict(stages: Seq[String]): Column =
    stages.foldLeft(when(stages.map(col(_).isNull).reduce(_ || _),
        lit("missing_modality"))) { (v, st) =>
      v.when(col(st) =!= "admitted", col(st))
    }.otherwise(lit("admitted")).as("decision")

  /** One row per doc: the `stages` columns disclosed, then their
    * combined [[verdict]].
    */
  private def combined(v: DataFrame, stages: Seq[String]): DataFrame =
    v.select((col("doc_id") +: stages.map(col)) :+ verdict(stages): _*)

  /** The four stage verdicts over one day's drop, combined into ONE
    * row per doc with the per-stage columns DISCLOSED (d_lex, d_sem,
    * d_ph, d_aud) plus the combined verdict under the fixed stage
    * priority lexical > semantic > perceptual > audio. FULL joins: a
    * doc missing any modality gets the loud `missing_modality`
    * combined verdict.
    */
  def decisions4(spark: SparkSession, p: Paths4, drop: DataFrame,
                 imgHashed: DataFrame, audHashed: DataFrame,
                 corpusFetch: DataFrame): DataFrame =
    combined(stageVerdicts(spark, p, drop, imgHashed, audHashed,
      corpusFetch), Stages4)

  /** The FULL admission stack — the four near-dup stages composed
    * with the lexical curation day's POST-GATES: benchmark
    * CONTAMINATION ([[Corpus.contamination]] at the q488 contract —
    * flag when shared distinct 8-grams exceed
    * [[CurationDay.ContamPpm]] ppm of the doc's grams) and the
    * repetition QUALITY gate (duplicate 2-gram mass over
    * [[CurationDay.RepTenths]] tenths). Six verdict columns
    * disclosed; the combined priority appends the two gates after
    * the dedup stages (dedup > contamination > quality — the
    * [[graft.queries.Lifecycle]] postGate order). The gates are pure
    * per-doc functions of the day's own text + the model-sized bench
    * gram set — no index state, so they add zero cross-day machinery
    * but DO govern the appends: a contaminated or low-quality doc
    * never touches any index (q559's day-2 sentinel witnesses this
    * through a clone of a day-1 post-gate-rejected doc coming back
    * dedup-clean).
    */
  def decisions6(spark: SparkSession, p: Paths4, drop: DataFrame,
                 imgHashed: DataFrame, audHashed: DataFrame,
                 corpusFetch: DataFrame, bench: DataFrame): DataFrame = {
    val contam = Corpus.contamination(drop.select("doc_id", "text"),
        bench, "text", "doc_id", 8)
      .select(col("doc_id"),
        when(col("n_contaminated") * 1000000L >
            lit(CurationDay.ContamPpm) * col("n_grams"),
          lit("contaminated")).otherwise(lit("admitted")).as("d_contam"))
    val g2 = Dedup.shingles(col("text"), 2)
    val qual = drop.select(col("doc_id"),
      when((size(g2) - size(array_distinct(g2))).cast("long") * 10L >
          lit(CurationDay.RepTenths) * size(g2).cast("long"),
        lit("low_quality")).otherwise(lit("admitted")).as("d_qual"))
    combined(stageVerdicts(spark, p, drop, imgHashed, audHashed,
        corpusFetch)
      .join(contam, Seq("doc_id"), "full")
      .join(qual, Seq("doc_id"), "full"), Stages6)
  }

  /** One mm day, LEDGER-GATED (the [[CurationNDay.processDay]]
    * exactly-once-per-day contract): a committed day is a pure no-op;
    * a day that died before its ledger row re-runs convergently —
    * the media-artifact extend is anti-joined, the decisions PIN
    * before any index mutation and a completed pin is REUSED (the
    * decision-pin rule: recomputation against indexes that absorbed
    * this day's own appends would self-flag every admission), and all
    * four appends are anti-joined. With `bench` the day runs the FULL
    * six-stage verdict ([[decisions6]]): same ledger, same pin, same
    * appends — but the append set is the six-stage overall admission,
    * so post-gate-rejected docs never touch any index.
    */
  def processDay4(spark: SparkSession, p: Paths4, k: Int,
                  drop: DataFrame, corpusFetch: DataFrame,
                  bench: Option[DataFrame] = None): Boolean =
    Ledger.once(spark, p.ledger, s"mm$k")(
      processDay4Body(spark, p, k, drop, corpusFetch, bench)).isDefined

  /** Everything except the ledger commit — the crash window, exposed
    * for the torn-day spec. Days must arrive in order (day k needs
    * day k−1's pin).
    */
  private[graft] def processDay4Body(spark: SparkSession, p: Paths4,
                                     k: Int, drop: DataFrame,
                                     corpusFetch: DataFrame,
                                     bench: Option[DataFrame] = None)
      : Unit = {
    if (k > 1)
      require(Ledger.done(spark, p.decisionsDay(k - 1)),
        s"processDay4: day $k arrived before day ${k - 1}")
    val d = drop.localCheckpoint(true)
    // decode-once: extend the media artifact FIRST (anti-joined, so a
    // replay re-decodes only its own drop and appends nothing)
    MediaHashes.extend(spark, p.media, mediaOf(d))
    val ids = d.select(col("doc_id").as("media_id"))
    // one pruned fetch serves both modalities (one collect + one
    // materialization instead of two of each)
    val sigs = MediaHashes.fetchBoth(spark, p.media, ids)
      .localCheckpoint(true)
    val imgHashed = MediaHashes.imageOf(sigs)
    val audHashed = MediaHashes.audioOf(sigs)
    val dec = Ledger.pin(spark, p.decisionsDay(k))(bench match {
      case Some(b) =>
        decisions6(spark, p, d, imgHashed, audHashed, corpusFetch, b)
      case None =>
        decisions4(spark, p, d, imgHashed, audHashed, corpusFetch)
    })
    val admIds = dec.where(col("decision") === "admitted")
      .select("doc_id").localCheckpoint(true)
    // the four appends touch disjoint artifacts and read only pinned
    // frames — overlap them (guide §2.6)
    val admMedia = admIds.select(col("doc_id").as("media_id"))
    graft.core.Par.run(
      () => Dedup.appendDedupIndex(d.join(admIds, "doc_id"), "text",
        "doc_id", p.lex, NGram, K, Bands),
      () => SemIndex.append(spark, p.sem,
        d.join(admIds, "doc_id")
          .select(col("doc_id").as("vec_id"), col("embedding"))),
      () => PhashIndex.append(spark, p.ph,
        imgHashed.join(admMedia, "media_id")),
      () => PhashIndex.append(spark, p.aud,
        audHashed.join(admMedia, "media_id")))
  }

  /** The full maintenance set — content-invariant compactions of all
    * FOUR indexes + the media artifact (each staging + rename-swap,
    * self-healing on replay via [[graft.core.Layout.healTorn]]): the
    * mm calendar's `op = "compact"` slot. Interleaved between the
    * days, decisions must stay bit-identical to the plain chain — q558
    * gates that against the SAME composed oracle as q542/q545, turning
    * "compaction changes nothing" from a per-op claim into a
    * lifecycle-level proof.
    */
  def maintain4(spark: SparkSession, p: Paths4): Unit =
    // five disjoint artifacts, each compaction self-contained — overlap
    graft.core.Par.run(
      () => Dedup.compactDedupIndex(spark, p.lex, partitions = 1),
      () => SemIndex.compact(spark, p.sem),
      () => PhashIndex.compact(spark, p.ph),
      () => PhashIndex.compact(spark, p.aud),
      () => MediaHashes.compact(spark, p.media))

  /** The indexed-docs text frame a retention day's lexical stillHeld
    * pass scans, derived from the lexical index's OWN band table (the
    * index knows its membership — no lifecycle-specific snapshot
    * predicate has to travel into the retention calendar). Text
    * resolution covers BOTH id spaces an index member can live in:
    * the corpus fetch AND the staged drop files — an admitted
    * drop-file sentinel (doc_id absent from the corpus table) indexed
    * before a later retention slot would otherwise be missing from
    * the stillHeld pass, allowing over-deletion of a content hash it
    * shares with an expiring victim. Any band id that resolves in
    * NEITHER source loud-fails — a silent miss is exactly the
    * over-deletion bug this frame exists to prevent. Costs: the drop
    * union is day-sized, the membership join is index-sized, the
    * resolution check one index-sized count.
    */
  def indexedDocs(spark: SparkSession, p: Paths4,
                  corpusFetch: DataFrame): DataFrame = {
    val drops = (1 to NDays4).filter(k => Ledger.done(spark, p.dropDay(k)))
      .map(k => spark.read.parquet(p.dropDay(k)).select("doc_id", "text"))
    // one text per id: corpus text == drop text for organic ids (the
    // drops are derived from the corpus tables), and sentinel ids
    // appear only in drops — min() just collapses the duplicates
    val texts = (corpusFetch.select("doc_id", "text") +: drops)
      .reduce(_.unionByName(_))
      .groupBy("doc_id").agg(min(col("text")).as("text"))
    val members = spark.read.parquet(s"${p.lex}/bands.parquet")
      .select(col("corpus_id").as("doc_id")).distinct()
      .localCheckpoint(true)
    val missing = members.join(texts, Seq("doc_id"), "left_anti").count()
    require(missing == 0L,
      s"indexedDocs: $missing indexed ids resolve in neither the " +
        "corpus fetch nor any staged drop — stillHeld would over-delete")
    texts.join(members, "doc_id")
  }

  /** Days 1..`nDays`' pinned verdicts as one frame: day, doc_id, the
    * `stages` columns, decision.
    */
  private def allDecisionsOf(spark: SparkSession, p: Paths4, nDays: Int,
                             stages: Seq[String]): DataFrame =
    Ledger.pinned(spark, p.decisionsDay, 1 to nDays)(k =>
      (lit(k).as("day") +: col("doc_id") +: stages.map(col)) :+
        col("decision"))

  /** All N days' pinned four-stage verdicts as one frame. */
  def allDecisions4(spark: SparkSession, p: Paths4): DataFrame =
    allDecisionsOf(spark, p, NDays4, Stages4)

  // ---- the FULL-STACK (six-stage) fixture lifecycle ------------------

  /** The benchmark frame: the `src0` source plays the held-out eval
    * suite (the q488 convention) — text only, no modality needed.
    */
  def benchOf(spark: SparkSession, dir: String): DataFrame =
    Tables.plain(spark, dir, "documents")
      .where(col("source") === "src0").select("doc_id", "text")

  /** The spam text the low-quality gate must reject (40 copies of one
    * word ⇒ duplicate 2-gram mass far over [[CurationDay.RepTenths]]).
    */
  val SpamText: String = ("spam " * 39) + "spam"

  /** A pin's post-gate rejections. */
  private val PostGated: Column =
    col("decision").isin("contaminated", "low_quality")

  /** Day 2 = organic %4 == 1 plus three sentinels:
    *
    *  - 9700001: full clone of the smallest day-1 doc that cleared
    *    EVERY dedup stage but was rejected by a post-gate — on day 2
    *    its four dedup columns must come back CLEAN (the proof that a
    *    post-gate rejection kept it out of every index) while the
    *    post-gate, a pure text function, rejects it again;
    *  - 9700002: [[SpamText]] with the smallest day-2 organic doc's
    *    embedding + image — the low-quality branch's witness (its
    *    semantic column simultaneously shows dup_sem_batch against
    *    the smaller-id vector source co-arriving the same day);
    *  - 9700003: full clone of the smallest day-1 overall-ADMITTED
    *    doc — all four dedup columns must show the corpus dup their
    *    index absorbed on day 1 (the q542-pattern append witness).
    */
  def writeDay2Drop6(spark: SparkSession, dir: String, p: Paths4): Unit = {
    val organic = organicDrop(spark, dir, pool(m4 === 1L))
    val spam = organic.orderBy("doc_id").limit(1)
      .select(lit(9700002L).as("doc_id"), lit(SpamText).as("text"),
        col("embedding"), col("img"))
    organic
      .unionByName(cloneOf(spark, dir, pinnedIds(spark, p, 1, PostGated),
        9700001L))
      .unionByName(spam)
      .unionByName(cloneOf(spark, dir, pinnedIds(spark, p, 1), 9700003L))
      .write.mode("overwrite").parquet(p.dropDay(2))
  }

  /** Both full-stack days' pinned verdicts, all six stage columns. */
  def allDecisions6(spark: SparkSession, p: Paths4): DataFrame =
    allDecisions6Upto(spark, p, 2)

  /** Days 1..`nDays`' pinned six-stage verdicts as one frame. */
  def allDecisions6Upto(spark: SparkSession, p: Paths4,
                        nDays: Int): DataFrame =
    allDecisionsOf(spark, p, nDays, Stages6)

  /** Day 3 of the six-stage CALENDAR — a pure WITNESS day derived
    * entirely from the chain's own pins (scale-robust: the sources
    * exist at any sf as long as day 1 admitted + post-gate-rejected
    * something and day 2 admitted something, which q559 already
    * proves), exercising every per-modality cross-day branch AFTER
    * the ttl2 retention slot expired day 1:
    *
    *  - 9700004 full-clones the smallest day-1 overall-ADMITTED doc —
    *    the post-TTL re-offer: all four dedup columns must come back
    *    CLEAN (day-1 state left every index), the post-gates pass
    *    again (pure text functions), and it RE-ADMITS through the
    *    calendar;
    *  - 9700005 full-clones the smallest day-2 overall-admitted doc —
    *    all four dedup columns must show the corpus dup their
    *    RETAINED day-2 state serves;
    *  - 9700006 full-clones the smallest day-1 post-gate-REJECTED doc
    *    — its post-gate column must fire again while its lexical/
    *    audio state stays clean (a rejection never touched an index);
    *  - 9700007 clones 9700004's source AGAIN — a same-day duplicate
    *    of 9700004, witnessing every stage's within-batch pass on
    *    day 3 (dup_*_batch, the larger id loses).
    */
  def writeDay3Drop6Cal(spark: SparkSession, dir: String,
                        p: Paths4): Unit = {
    val adm1 = pinnedIds(spark, p, 1)
    cloneOf(spark, dir, adm1, 9700004L)
      .unionByName(cloneOf(spark, dir, pinnedIds(spark, p, 2), 9700005L))
      .unionByName(cloneOf(spark, dir, pinnedIds(spark, p, 1, PostGated),
        9700006L))
      .unionByName(cloneOf(spark, dir, adm1, 9700007L))
      .write.mode("overwrite").parquet(p.dropDay(3))
  }

  /** RETENTION (TTL) over the multimodal lifecycle — the reference's
    * ring-buffer age-out (src/table_store/table/table.h:335
    * `ExpireRowBatches`) as a lifecycle operation on all FOUR indexes
    * at once: everything admitted on a day older than the retention
    * horizon leaves every index, so the four artifacts stay consistent
    * views of the RETAINED corpus (retraction says "remove these
    * docs"; retention says "remove everything older than T" — the day
    * ledger IS the age record, no per-row timestamp needed). Victims
    * are the `expireDays` pins' admissions, deleted by [[delete4]].
    *
    * LEDGERED like the admission days ([[processDay4]]): a committed
    * TTL day is a pure no-op on replay (returns false) that reads only
    * the ledger — `corpusDocs` (the indexed-docs text frame the
    * lexical stillHeld pass scans, usually [[indexedDocs]]) is derived
    * inside the slot, never for a replay. A TTL that died before its
    * ledger row re-runs convergently (every step is an overwrite or
    * anti-join). The gate card pins the ledger content and the replay
    * no-op.
    */
  def ttl4Day(spark: SparkSession, p: Paths4, dayId: String,
              expireDays: Seq[Int], corpusDocs: => DataFrame): Boolean =
    Ledger.once(spark, p.ledger, dayId)(delete4(spark, p, corpusDocs,
      Ledger.pinnedIds(spark, p.decisionsDay, expireDays)
        .localCheckpoint(true))).isDefined

  /** Delete pinned `victims` from all four indexes:
    *
    *  - lexical: [[Dedup.deleteFromDedupIndex]] (band rows out; a
    *    content hash leaves only when no RETAINED doc of `docs` still
    *    carries it — the stillHeld pass);
    *  - semantic: [[SemIndex.delete]] (touched cells rewritten);
    *  - image + audio: [[PhashIndex.delete]] (hash-sized rewrites).
    *
    * The media artifact is deliberately NOT pruned: decode-once means
    * an expired asset re-offered later reuses its stored signatures —
    * signatures are pure payload functions, not admission state.
    */
  private def delete4(spark: SparkSession, p: Paths4, docs: DataFrame,
                      victims: DataFrame): Unit =
    // four disjoint index artifacts, victims pinned — overlap (§2.6)
    graft.core.Par.run(
      () => Dedup.deleteFromDedupIndex(spark, p.lex, docs,
        docs.join(victims, "doc_id"), "text", "doc_id"),
      () => SemIndex.delete(spark, p.sem, victims),
      () => PhashIndex.delete(spark, p.ph, victims),
      () => PhashIndex.delete(spark, p.aud, victims))

  /** Retained BYTE mass per admission horizon — the input to the
    * size-cap trigger ([[cap4Day]]): [[graft.core.Ledger.massTable]]
    * over every indexed doc (the lexical band table's own membership
    * via [[indexedDocs]] — so a doc an earlier slot expired counts
    * zero, exactly "what is in the ring buffer now"). The metric is
    * the audio-track payload length — the byte analog of the
    * reference's byte-capped ring buffer (src/table_store/table/
    * table.cc:44) on the fixture's one sized payload column;
    * character length, so any engine re-derives it.
    */
  def retainedMasses(spark: SparkSession, p: Paths4,
                     corpusFetch: DataFrame): Map[Int, Long] =
    massesOf(spark, p, indexedDocs(spark, p, corpusFetch))

  private def massesOf(spark: SparkSession, p: Paths4,
                       docs: DataFrame): Map[Int, Long] =
    Ledger.massTable(spark,
      docs.select(col("doc_id"), length(col("text")).as("m")),
      p.decisionsDay, NDays4)

  /** SIZE-CAPPED retention over the multimodal lifecycle: the
    * [[graft.core.Ledger.capSlot]] over the [[retainedMasses]] (the
    * snapshot is day 0, so horizon 1 expires the snapshot alone),
    * expiring everything older than the horizon from all four indexes
    * at once ([[delete4]] with the membership-derived
    * [[graft.core.Ledger.agedOut]] victims). An UNDER-CAP corpus
    * commits as a LEDGERED no-op with horizon 0; a cap even the newest
    * day alone exceeds loud-fails. Returns the chosen horizon, or 0
    * for the no-op / already-committed cases.
    */
  def cap4Day(spark: SparkSession, p: Paths4, dayId: String,
              maxBytes: Long, corpusFetch: DataFrame): Int = {
    // the membership frame, derived once and only when the slot runs:
    // the masses and the victim set both read it
    lazy val docs = indexedDocs(spark, p, corpusFetch).localCheckpoint(true)
    Ledger.capSlot(spark, p.ledger, dayId, p.capHorizon(dayId), maxBytes)(
      massesOf(spark, p, docs))(keepFrom => delete4(spark, p, docs,
        Ledger.agedOut(spark, docs, p.decisionsDay, keepFrom, NDays4)))
  }

  /** The FIXTURE cap for the mid-calendar slot: `m2 + m1 / 2` bytes —
    * deterministically BETWEEN tail(2) = m2 and tail(1) = m1 + m2 at
    * ANY scale factor (m1 > 0 by construction), so the chosen horizon
    * is always 2: the snapshot AND day 1 expire, day 2 is retained —
    * the scale-robust analog of the curation side's 55%-of-mass cap
    * (whose margins depend on the day-mass ratios; this one's do
    * not). Any engine re-derives it from the same two masses.
    */
  def capFixtureBytes(spark: SparkSession, p: Paths4,
                      corpusFetch: DataFrame): Long = {
    val masses = retainedMasses(spark, p, corpusFetch)
    masses.getOrElse(2, 0L) + masses.getOrElse(1, 0L) / 2L
  }

  /** (modality, metric, value) card rows, one per (modality, metric,
    * table): the table's PLAIN row count.
    */
  private def cards(rows: Seq[(String, String, DataFrame)]): DataFrame =
    rows.map { case (m, met, src) =>
      src.agg(count(lit(1)).cast("long").as("value"))
        .select(lit(m).as("modality"), lit(met).as("metric"), col("value"))
    }.reduce(_.unionByName(_))

  /** The lexical, semantic and perceptual card rows both views share;
    * `bands` maps each band table before it is counted.
    */
  private def coreCards(spark: SparkSession, lex: String, sem: SemIndex.Paths,
                        ph: PhashIndex.Paths, bands: DataFrame => DataFrame)
      : Seq[(String, String, DataFrame)] = Seq(
    ("lexical", "n_hashes", spark.read.parquet(s"$lex/hashes.parquet")),
    ("lexical", "n_band_rows", bands(spark.read.parquet(s"$lex/bands.parquet"))),
    ("semantic", "n_vecs", spark.read.parquet(sem.index)),
    ("perceptual", "n_hashes", spark.read.parquet(ph.hashes)),
    ("perceptual", "n_band_rows", bands(spark.read.parquet(ph.bands))))

  /** The four indexes' cards as one long frame — q543's consistency
    * view. PLAIN counts, no `.distinct()` laundering: with the
    * anti-joined band append a duplicated row is a bug this gate must
    * catch, not hide.
    */
  def indexCards4(spark: SparkSession, p: Paths4): DataFrame =
    cards(coreCards(spark, p.lex, p.sem, p.ph, identity) ++ Seq(
      ("audio", "n_hashes", spark.read.parquet(p.aud.hashes)),
      ("audio", "n_band_rows", spark.read.parquet(p.aud.bands)),
      ("media", "n_assets", spark.read.parquet(p.media))))

  /** The three indexes' one-line cards as one long frame — the
    * consistency view q541 gates: all three must describe the SAME
    * admitted corpus (band rows counted distinct).
    */
  def indexCards(spark: SparkSession, p: Paths): DataFrame =
    cards(coreCards(spark, p.lex, p.sem, p.ph, _.distinct()))
}
