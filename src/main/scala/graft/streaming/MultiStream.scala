package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType, LongType, StringType, StructField}

import graft.ops.{CurationNDay, MultiDay}
import Calendar.{Control, Derive, Land, OpCap, OpCompact, OpTtl, Run}

/** The MULTIMODAL admission day as a STREAMING job — the
  * [[Calendar]] interpreter applied to the composed 4-stage day
  * ([[MultiDay.processDay4]]) and the six-stage one
  * ([[MultiDay.processDay6]]), so every index lifecycle in the engine
  * is maintainable by the same streaming-first machinery. Daily
  * multimodal drops (doc text + embedding + image payload, the audio
  * track implied by the text bytes) land as files, a Structured
  * Streaming file source delivers them, and the interpreter drives
  * each day through the LEDGERED day transaction: media-artifact
  * extend (decode once), the stage verdicts, one combined pin, the
  * anti-joined appends, ledger row last. This object is the mm
  * [[binding]] plus its calendars; a replayed committed day is a pure
  * no-op (witnessed in the gate runs themselves).
  *
  * At 100 TB the stream moves only delta records; each stage keeps
  * its own delta-proportional probe (index hash lookups, cell-pruned
  * cosine, band-collide + id-pruned Hamming), and payload decode
  * happens once per asset into the [[graft.ops.MediaHashes]]
  * artifact.
  */
object MultiStream {

  /** The mm binding. With `bench` set, each day runs the FULL
    * six-stage verdict ([[MultiDay.processDay6]] — near-dup stages +
    * contamination/quality post-gates); without it, the four-stage
    * [[MultiDay.processDay4]]. Maintenance slots run AFTER the slot's
    * admissions (retention follows the day it ages against):
    *
    *  - ttl (arg = the admission day to expire) → the LEDGERED
    *    [[MultiDay.ttl4Day]];
    *  - cap (arg = the byte cap) → the LEDGERED [[MultiDay.cap4Day]]
    *    — horizon pinned before mutation;
    *  - compact (arg ignored) → the full content-invariant
    *    maintenance set [[MultiDay.maintain4]] as a ledgered slot
    *    (each compaction is idempotent and self-healing, so a torn
    *    slot re-runs convergently).
    */
  def binding(spark: SparkSession, p: MultiDay.Paths4, fetch: DataFrame,
              bench: Option[DataFrame] = None): Calendar.Binding =
    Calendar.Binding(p.landing, p.streamCp, p.sem.seeds,
      Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("img", BinaryType)),
      k => spark.read.parquet(p.dropDay(k)),
      (k, drop) => (bench match {
        case Some(b) => MultiDay.processDay6(spark, p, k, drop, fetch, b)
        case None => MultiDay.processDay4(spark, p, k, drop, fetch)
      }): Unit,
      Map(
        OpTtl -> ((k, expire) =>
          MultiDay.ttl4Day(spark, p, s"ttl$k", expire.map(_.toInt),
            MultiDay.indexedDocs(spark, p, fetch)): Unit),
        OpCap -> ((k, caps) => caps.foreach { maxBytes =>
          MultiDay.cap4Day(spark, p, s"cap$k", maxBytes, fetch): Unit
        }),
        OpCompact -> ((k, args) => args.foreach(_ => compact(spark, p, k)))))

  /** The compact slot (shared with the drivers' replay witnesses):
    * false when `compact<k>` already committed.
    */
  private def compact(spark: SparkSession, p: MultiDay.Paths4,
                      k: Int): Boolean =
    Calendar.slot(spark, p.ledger, s"compact$k")(MultiDay.maintain4(spark, p))

  /** Bootstrap the four-stage (or, with `six`, the six-stage)
    * lifecycle and bind it to the documents fetch (and the bench).
    */
  private def boot(spark: SparkSession, dir: String, p: MultiDay.Paths4,
                   six: Boolean = false)
      : (Calendar.Binding, DataFrame, Option[DataFrame]) = {
    if (six) MultiDay.bootstrap6(spark, dir, p)
    else MultiDay.bootstrap4(spark, dir, p)
    val fetch = graft.core.Tables.plain(spark, dir, "documents")
    val bench = Option.when(six)(MultiDay.benchOf(spark, dir))
    (binding(spark, p, fetch, bench), fetch, bench)
  }

  private def day3(spark: SparkSession, dir: String,
                   p: MultiDay.Paths4): Derive =
    Derive(() => MultiDay.writeDay3Drop(spark, dir, p))

  private def ttl2NoOp(spark: SparkSession, p: MultiDay.Paths4,
                       fetch: DataFrame): Boolean =
    !MultiDay.ttl4Day(spark, p, "ttl2", Seq(1),
      MultiDay.indexedDocs(spark, p, fetch))

  /** The STREAMED six-stage lifecycle (the q559 batch chain through
    * the file-source engine): bootstrap, land + stream day 1, STOP
    * (the kill), derive the sentinel-planted day 2 from day 1's pin,
    * land it plus a re-offer of committed day 1 under a new file
    * name, RESTART from the same checkpoint, drain. Returns
    * (replayNoOp, ledgerDays) — replayNoOp additionally witnesses a
    * direct re-offer of committed day 2 no-op'ing.
    */
  def runDays6Streamed(spark: SparkSession, dir: String,
                       p: MultiDay.Paths4): (Boolean, Seq[String]) = {
    val (b, fetch, bench) = boot(spark, dir, p, six = true)
    Calendar.run(spark, b, Seq(
      Land(1), Run, // the kill
      Derive(() => MultiDay.writeDay2Drop6(spark, dir, p)),
      Land(2), Land(1, replay = true),
      Run)) // same checkpoint: the restart
    val replayNoOp = !MultiDay.processDay6(spark, p, 2,
      spark.read.parquet(p.dropDay(2)), fetch, bench.get)
    (replayNoOp, CurationNDay.ledgerDays(spark, p.ledger))
  }

  /** The STREAMED retention calendar (q569/q570 — r12 verdict task 2):
    * bootstrap; land + stream days 1–2; STOP (the kill); land the
    * ttl2 CONTROL record (expire day 1) plus a REPLAY of it; derive +
    * land the sentinel-planted day 3; RESTART from the same
    * checkpoint; drain — the restarted stream runs the ledgered TTL
    * in its calendar slot, swallows the replayed control via the same
    * ledger, and admits day 3 against the RETAINED indexes. Returns
    * (replayNoOp, ledgerDays): replayNoOp additionally witnesses a
    * direct re-offer of the committed control no-op'ing.
    */
  def runCalendarStreamed(spark: SparkSession, dir: String,
                          p: MultiDay.Paths4): (Boolean, Seq[String]) = {
    val (b, fetch, _) = boot(spark, dir, p)
    Calendar.run(spark, b, Seq(
      Land(1), Land(2), Run, // the kill
      Control(OpTtl, 2, () => 1L), Control(OpTtl, 2, () => 1L, replay = true),
      day3(spark, dir, p), Land(3),
      Run)) // same checkpoint: the restart
    (ttl2NoOp(spark, p, fetch), CurationNDay.ledgerDays(spark, p.ledger))
  }

  /** The FULL MAINTENANCE CALENDAR — all three control ops in ONE
    * streamed run (every other calendar gate exercises one op per
    * run; a production calendar interleaves them, and op
    * composability is exactly what this capstone proves): day 1, a
    * compact1 slot, day 2 — kill 1 — the ttl2 slot (expire day 1)
    * plus its replay, the pin-derived day 3 — restart 1, kill 2 — a
    * POST-day-3 cap3 slot (fixture `m2 + m3 + m0/2`, deterministically
    * between tail(2) and tail(0) at any sf, so the pinned horizon
    * always expires exactly the SNAPSHOT — the mass day 1 would have
    * contributed is already zero after the ttl) plus its replay, a
    * final compact3 slot — restart 2, drain.
    *
    * Decisions are bit-identical to the plain TTL calendar
    * ([[runCalendarStreamed]] / the q569 oracle): the compactions are
    * content-invariant and the cap runs after the last admission.
    * The cards differ — the retained sets are day-2 + day-3
    * admissions only (snapshot capped out, day 1 aged out). Returns
    * (replayNoOp, ledgerDays, horizon, settled): replayNoOp re-offers
    * all three committed controls directly (each must no-op via its
    * ledger row); settled witnesses the compact3 slot's non-vacuity
    * (the lexical hash table at exactly maintain4's one part file
    * AFTER a calendar that appended days 2–3 and deleted twice
    * post-compact1).
    */
  def runFullCalendarStreamed(spark: SparkSession, dir: String,
                              p: MultiDay.Paths4)
      : (Boolean, Seq[String], Int, Boolean) = {
    val (b, fetch, _) = boot(spark, dir, p)
    lazy val cap = {
      val m = MultiDay.retainedMasses(spark, p, fetch)
      m.getOrElse(2, 0L) + m.getOrElse(3, 0L) + m.getOrElse(0, 0L) / 2L
    }
    Calendar.run(spark, b, Seq(
      Land(1), Control(OpCompact, 1), Land(2), Run, // kill 1
      Control(OpTtl, 2, () => 1L), Control(OpTtl, 2, () => 1L, replay = true),
      day3(spark, dir, p), Land(3),
      Run, // restart 1, kill 2
      Control(OpCap, 3, () => cap), Control(OpCap, 3, () => cap, replay = true),
      Control(OpCompact, 3),
      Run)) // restart 2
    val settled = graft.core.Layout.partFiles(spark,
      s"${p.lex}/hashes.parquet") == 1
    val horizon = CurationNDay.readHorizon(spark, p.capHorizon("cap3"))
    val replayNoOp =
      ttl2NoOp(spark, p, fetch) &&
      MultiDay.cap4Day(spark, p, "cap3", cap, fetch) == 0 &&
      !compact(spark, p, 3)
    (replayNoOp, CurationNDay.ledgerDays(spark, p.ledger), horizon,
      settled)
  }

  /** The STREAMED mm SIZE-CAP calendar (the r13 verdict's top task,
    * streamed engine): days 1–2 admit; STOP (the kill); the cap2
    * control (the [[MultiDay.capFixtureBytes]] deterministic-horizon
    * cap) lands plus a REPLAY of it; the pin-derived day 3 lands;
    * RESTART from the same checkpoint — the restarted stream runs the
    * ledgered cap slot (horizon pinned BEFORE mutation), swallows the
    * replayed control, and admits day 3 against the CAPPED indexes
    * (snapshot + day 1 expired — the day-1 clone sentinel genuinely
    * re-admits). A second leg lands the UNDER-CAP cap3 control (at
    * exactly the retained mass) witnessing the ledgered no-op branch
    * in-stream. Returns (replayNoOp, ledgerDays, horizon2, horizon3):
    * replayNoOp additionally witnesses a direct re-offer of the
    * committed cap2 returning 0.
    */
  def runCapCalendarStreamed4(spark: SparkSession, dir: String,
                              p: MultiDay.Paths4)
      : (Boolean, Seq[String], Int, Int) = {
    val (b, fetch, _) = boot(spark, dir, p)
    lazy val cap = MultiDay.capFixtureBytes(spark, p, fetch)
    Calendar.run(spark, b, Seq(
      Land(1), Land(2), Run, // the kill
      Control(OpCap, 2, () => cap), Control(OpCap, 2, () => cap, replay = true),
      day3(spark, dir, p), Land(3),
      Run, // same checkpoint: the restart
      // the under-cap leg: a cap at exactly the retained mass no-ops
      Control(OpCap, 3,
        () => MultiDay.retainedMasses(spark, p, fetch).values.sum),
      Run)) // restart 2
    def horizon(id: String): Int =
      CurationNDay.readHorizon(spark, p.capHorizon(id))
    val replayNoOp = MultiDay.cap4Day(spark, p, "cap2", cap, fetch) == 0
    (replayNoOp, CurationNDay.ledgerDays(spark, p.ledger),
      horizon("cap2"), horizon("cap3"))
  }

  /** The STREAMED maintained chain (r13 verdict task 3 — put
    * compaction on the calendar): the q558 batch interleave driven by
    * compact control slots THROUGH the file-source stream — day 1,
    * compact1 slot, kill/restart, day 2, compact2 slot plus a REPLAY
    * of it, day 3 — decisions must stay bit-identical to the plain
    * chain (same oracle as q542/q545/q558: the fourth engine path).
    * Returns (replayNoOp, ledgerDays): replayNoOp additionally
    * witnesses a direct re-offer of the committed compact2 slot
    * no-op'ing via [[Calendar.slot]].
    */
  def runDays4CompactStreamed(spark: SparkSession, dir: String,
                              p: MultiDay.Paths4): (Boolean, Seq[String]) = {
    val (b, _, _) = boot(spark, dir, p)
    Calendar.run(spark, b, Seq(
      Land(1), Control(OpCompact, 1), Land(2), Run, // the kill
      Control(OpCompact, 2), Control(OpCompact, 2, replay = true),
      day3(spark, dir, p), // needs the day-1/-2 pins
      Land(3), Run)) // same checkpoint: the restart
    (!compact(spark, p, 2), CurationNDay.ledgerDays(spark, p.ledger))
  }

  /** The six-stage STREAMED CALENDAR (q574/q575): the q561 full-stack
    * stream stretched to N = 3 days with the ttl2 retention slot
    * delivered as a control record — kill/restart between every leg,
    * the replayed control no-op'd, day 3 = the pin-derived witness
    * day admitted against the retained indexes.
    */
  def runDays6CalendarStreamed(spark: SparkSession, dir: String,
                               p: MultiDay.Paths4): (Boolean, Seq[String]) = {
    val (b, fetch, _) = boot(spark, dir, p, six = true)
    Calendar.run(spark, b, Seq(
      Land(1), Run, // kill 1
      Derive(() => MultiDay.writeDay2Drop6(spark, dir, p)), Land(2),
      Control(OpTtl, 2, () => 1L), Control(OpTtl, 2, () => 1L, replay = true),
      Run, // restart 1, kill 2
      Derive(() => MultiDay.writeDay3Drop6Cal(spark, dir, p)), Land(3),
      Run)) // restart 2
    (ttl2NoOp(spark, p, fetch), CurationNDay.ledgerDays(spark, p.ledger))
  }

  /** The full STREAMED 3-day multimodal lifecycle with a kill/restart
    * and a replayed-committed-day no-op witnessed IN the gate run:
    * bootstrap; land + stream days 1–2; STOP (the kill); re-offer
    * day 2 under a new file name (the replay the restarted stream
    * must swallow via the ledger); derive the sentinel-planted day 3
    * from the pipeline's own pins; land it; RESTART from the same
    * checkpoint; drain. Returns (replayNoOp, ledgerDays) — replayNoOp
    * additionally witnesses a direct re-offer of committed day 3
    * through [[MultiDay.processDay4]] returning false (day 3's
    * exactly-once growth is pinned by the q543 card oracle itself).
    */
  def runDaysStreamed(spark: SparkSession, dir: String,
                      p: MultiDay.Paths4): (Boolean, Seq[String]) = {
    val (b, fetch, _) = boot(spark, dir, p)
    Calendar.run(spark, b, Seq(
      Land(1), Land(2), Run, // the kill
      Land(2, replay = true), day3(spark, dir, p), Land(3),
      Run)) // same checkpoint: the restart
    val replayNoOp = !MultiDay.processDay4(spark, p, 3,
      spark.read.parquet(p.dropDay(3)), fetch)
    (replayNoOp, CurationNDay.ledgerDays(spark, p.ledger))
  }
}
