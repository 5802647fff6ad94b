package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType, LongType, StringType, StructField}

import graft.core.Ledger
import graft.ops.MultiDay
import Calendar.{Control, Derive, Land, OpCap, OpCompact, OpTtl, Run, Step}

/** The MULTIMODAL admission day as a STREAMING job — the
  * [[Calendar]] interpreters applied to the composed 4-stage day
  * ([[MultiDay.processDay4]]) and the six-stage one (the same day
  * with the bench), so every index lifecycle in the engine is
  * maintainable by the same streaming-first machinery. Daily
  * multimodal drops (doc text + embedding + image payload, the audio
  * track implied by the text bytes) land as files, a Structured
  * Streaming file source delivers them, and the interpreter drives
  * each day through the LEDGERED day transaction: media-artifact
  * extend (decode once), the stage verdicts, one combined pin, the
  * anti-joined appends, ledger row last. This object is the mm
  * [[binding]] plus its calendars; a replayed committed day is a pure
  * no-op (witnessed in the gate runs themselves). Each calendar is
  * ONE named value ([[Cal]]): its streamed gate runs it through
  * [[Calendar.run]] (the `run*Streamed` drivers), its batch twin
  * through [[Calendar.batch]] ([[batch]]).
  *
  * At 100 TB the stream moves only delta records; each stage keeps
  * its own delta-proportional probe (index hash lookups, cell-pruned
  * cosine, band-collide + id-pruned Hamming), and payload decode
  * happens once per asset into the [[graft.ops.MediaHashes]]
  * artifact.
  */
object MultiStream {

  /** The mm binding. With `bench` set, each day runs the FULL
    * six-stage verdict (near-dup stages + contamination/quality
    * post-gates); without it, the four-stage one — both through
    * [[MultiDay.processDay4]]. Maintenance slots run AFTER the slot's
    * admissions (retention follows the day it ages against):
    *
    *  - ttl (arg = the admission day to expire) → the LEDGERED
    *    [[MultiDay.ttl4Day]] — the indexed-docs frame is derived only
    *    when the slot is not yet committed, so a replayed control costs
    *    one ledger read;
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
      (k, drop) => MultiDay.processDay4(spark, p, k, drop, fetch, bench): Unit,
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
    Ledger.once(spark, p.ledger, s"compact$k")(MultiDay.maintain4(spark, p))
      .isDefined

  /** One bootstrapped mm lifecycle a calendar runs over: the documents
    * fetch, the bench (six-stage only), the binding, and the fixture
    * caps the cap controls carry — each computed once, when its
    * control lands, so a direct replay re-offers the same value.
    */
  final case class Life(spark: SparkSession, dir: String,
                        p: MultiDay.Paths4, six: Boolean) {
    val fetch: DataFrame = graft.core.Tables.plain(spark, dir, "documents")
    val bench: Option[DataFrame] =
      Option.when(six)(MultiDay.benchOf(spark, dir))
    val b: Calendar.Binding = binding(spark, p, fetch, bench)
    /** The mid-calendar cap ([[MultiDay.capFixtureBytes]]). */
    lazy val fixtureCap: Long = MultiDay.capFixtureBytes(spark, p, fetch)
    /** The full calendar's post-day-3 cap `m2 + m3 + m0/2`. */
    lazy val fullCap: Long = {
      val m = MultiDay.retainedMasses(spark, p, fetch)
      m.getOrElse(2, 0L) + m.getOrElse(3, 0L) + m.getOrElse(0, 0L) / 2L
    }
    def ledger: Seq[String] = Ledger.ids(spark, p.ledger)
  }

  /** A named mm calendar: the stage count it bootstraps and its steps
    * over the bootstrapped lifecycle.
    */
  final case class Cal(six: Boolean, steps: Life => Seq[Step])

  /** Bootstrap the four-stage (or six-stage) lifecycle for `c`. */
  private def boot(spark: SparkSession, dir: String, p: MultiDay.Paths4,
                   c: Cal): Life = {
    if (c.six) MultiDay.bootstrap6(spark, dir, p)
    else MultiDay.bootstrap4(spark, dir, p)
    Life(spark, dir, p, c.six)
  }

  /** Bootstrap, then run `c` through the STREAMED interpreter. */
  private def stream(spark: SparkSession, dir: String, p: MultiDay.Paths4,
                     c: Cal): Life = {
    val l = boot(spark, dir, p, c)
    Calendar.run(spark, l.b, c.steps(l))
    l
  }

  /** Bootstrap, then run `c` through the BATCH interpreter — the
    * batch twin of `c`'s streamed gate, one oracle across engines.
    */
  def batch(spark: SparkSession, dir: String, p: MultiDay.Paths4,
            c: Cal): Unit = {
    val l = boot(spark, dir, p, c)
    Calendar.batch(spark, l.b, c.steps(l))
  }

  private def day3(l: Life): Derive =
    Derive(() => MultiDay.writeDay3Drop(l.spark, l.dir, l.p))

  private def ttl2NoOp(l: Life): Boolean =
    !MultiDay.ttl4Day(l.spark, l.p, "ttl2", Seq(1),
      MultiDay.indexedDocs(l.spark, l.p, l.fetch))

  /** The full 3-day multimodal lifecycle (q542–q545): land + stream
    * days 1–2; STOP (the kill); re-offer day 2 under a new file name
    * (the replay the restarted stream must swallow via the ledger);
    * derive the sentinel-planted day 3 from the pipeline's own pins;
    * land it; RESTART from the same checkpoint; drain.
    */
  val DaysCal: Cal = Cal(six = false, l => Seq(
    Land(1), Land(2), Run, // the kill
    Land(2, replay = true), day3(l), Land(3),
    Run)) // same checkpoint: the restart

  /** The six-stage lifecycle (q559–q561): land + stream day 1, STOP
    * (the kill), derive the sentinel-planted day 2 from day 1's pin,
    * land it plus a re-offer of committed day 1 under a new file
    * name, RESTART from the same checkpoint, drain.
    */
  val Days6Cal: Cal = Cal(six = true, l => Seq(
    Land(1), Run, // the kill
    Derive(() => MultiDay.writeDay2Drop6(l.spark, l.dir, l.p)),
    Land(2), Land(1, replay = true),
    Run)) // same checkpoint: the restart

  /** The retention calendar (q569/q570): days 1–2; STOP (the kill);
    * the ttl2 CONTROL (expire day 1) plus a REPLAY of it; the
    * sentinel-planted day 3; RESTART from the same checkpoint; drain —
    * the ledgered TTL runs in its calendar slot, the replayed control
    * is swallowed by the same ledger, and day 3 admits against the
    * RETAINED indexes (a day-3 clone of an expired day-1 doc
    * genuinely re-admits).
    */
  val TtlCal: Cal = Cal(six = false, l => Seq(
    Land(1), Land(2), Run, // the kill
    Control(OpTtl, 2, () => 1L), Control(OpTtl, 2, () => 1L, replay = true),
    day3(l), Land(3),
    Run)) // same checkpoint: the restart

  /** The SIZE-CAP calendar (q587–q590): days 1–2 admit; STOP (the
    * kill); the cap2 control (the [[MultiDay.capFixtureBytes]]
    * deterministic-horizon cap) plus a REPLAY of it; the pin-derived
    * day 3; RESTART — the ledgered cap slot expires snapshot + day 1
    * (horizon pinned BEFORE mutation) and day 3 admits against the
    * CAPPED indexes (the day-1 clone sentinel genuinely re-admits). A
    * second leg lands the UNDER-CAP cap3 control (at exactly the
    * retained mass), witnessing the ledgered no-op branch.
    */
  val CapCal: Cal = Cal(six = false, l => Seq(
    Land(1), Land(2), Run, // the kill
    Control(OpCap, 2, () => l.fixtureCap),
    Control(OpCap, 2, () => l.fixtureCap, replay = true),
    day3(l), Land(3),
    Run, // same checkpoint: the restart
    // the under-cap leg: a cap at exactly the retained mass no-ops
    Control(OpCap, 3,
      () => MultiDay.retainedMasses(l.spark, l.p, l.fetch).values.sum),
    Run)) // restart 2

  /** The maintained chain (q558, q591/q592): day 1, a compact1 slot, the
    * kill/restart, day 2, a compact2 slot plus a REPLAY of it, day 3 —
    * decisions must stay bit-identical to the plain chain (same oracle
    * as q542/q545: compaction is content-invariant).
    */
  val CompactCal: Cal = Cal(six = false, l => Seq(
    Land(1), Control(OpCompact, 1), Land(2), Run, // the kill
    Control(OpCompact, 2), Control(OpCompact, 2, replay = true),
    day3(l), // needs the day-1/-2 pins
    Land(3), Run)) // same checkpoint: the restart

  /** The six-stage CALENDAR (q572–q575): the six-stage lifecycle
    * stretched to N = 3 days with the ttl2 retention slot delivered as
    * a control — kill/restart between every leg, the replayed control
    * no-op'd, day 3 = the pin-derived witness day admitted against the
    * retained indexes.
    */
  val Ttl6Cal: Cal = Cal(six = true, l => Seq(
    Land(1), Run, // kill 1
    Derive(() => MultiDay.writeDay2Drop6(l.spark, l.dir, l.p)), Land(2),
    Control(OpTtl, 2, () => 1L), Control(OpTtl, 2, () => 1L, replay = true),
    Run, // restart 1, kill 2
    Derive(() => MultiDay.writeDay3Drop6Cal(l.spark, l.dir, l.p)), Land(3),
    Run)) // restart 2

  /** The FULL MAINTENANCE CALENDAR — all three control ops in ONE run
    * (every other calendar gate exercises one op per run; a
    * production calendar interleaves them, and op composability is
    * exactly what this capstone proves): day 1, a compact1 slot, day
    * 2 — kill 1 — the ttl2 slot (expire day 1) plus its replay, the
    * pin-derived day 3 — restart 1, kill 2 — a POST-day-3 cap3 slot
    * ([[Life.fullCap]] `m2 + m3 + m0/2`, deterministically between
    * tail(2) and tail(0) at any sf, so the pinned horizon always
    * expires exactly the SNAPSHOT — the mass day 1 would have
    * contributed is already zero after the ttl) plus its replay, a
    * final compact3 slot — restart 2, drain.
    */
  val FullCal: Cal = Cal(six = false, l => Seq(
    Land(1), Control(OpCompact, 1), Land(2), Run, // kill 1
    Control(OpTtl, 2, () => 1L), Control(OpTtl, 2, () => 1L, replay = true),
    day3(l), Land(3),
    Run, // restart 1, kill 2
    Control(OpCap, 3, () => l.fullCap),
    Control(OpCap, 3, () => l.fullCap, replay = true),
    Control(OpCompact, 3),
    Run)) // restart 2

  /** [[Days6Cal]] streamed. Returns (replayNoOp, ledgerDays) —
    * replayNoOp additionally witnesses a direct re-offer of committed
    * day 2 no-op'ing.
    */
  def runDays6Streamed(spark: SparkSession, dir: String,
                       p: MultiDay.Paths4): (Boolean, Seq[String]) = {
    val l = stream(spark, dir, p, Days6Cal)
    val replayNoOp = !MultiDay.processDay4(spark, p, 2,
      spark.read.parquet(p.dropDay(2)), l.fetch, l.bench)
    (replayNoOp, l.ledger)
  }

  /** [[TtlCal]] streamed. Returns (replayNoOp, ledgerDays):
    * replayNoOp additionally witnesses a direct re-offer of the
    * committed control no-op'ing.
    */
  def runCalendarStreamed(spark: SparkSession, dir: String,
                          p: MultiDay.Paths4): (Boolean, Seq[String]) = {
    val l = stream(spark, dir, p, TtlCal)
    (ttl2NoOp(l), l.ledger)
  }

  /** [[FullCal]] streamed. Decisions are bit-identical to the plain
    * TTL calendar ([[TtlCal]] / the q569 oracle): the compactions are
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
    val l = stream(spark, dir, p, FullCal)
    val settled = graft.core.Layout.partFiles(spark,
      s"${p.lex}/hashes.parquet") == 1
    val horizon = Ledger.horizon(spark, p.capHorizon("cap3"))
    val replayNoOp =
      ttl2NoOp(l) &&
      MultiDay.cap4Day(spark, p, "cap3", l.fullCap, l.fetch) == 0 &&
      !compact(spark, p, 3)
    (replayNoOp, l.ledger, horizon, settled)
  }

  /** [[CapCal]] streamed. Returns (replayNoOp, ledgerDays, horizon2,
    * horizon3): replayNoOp additionally witnesses a direct re-offer of
    * the committed cap2 returning 0.
    */
  def runCapCalendarStreamed4(spark: SparkSession, dir: String,
                              p: MultiDay.Paths4)
      : (Boolean, Seq[String], Int, Int) = {
    val l = stream(spark, dir, p, CapCal)
    def horizon(id: String): Int = Ledger.horizon(spark, p.capHorizon(id))
    val replayNoOp = MultiDay.cap4Day(spark, p, "cap2", l.fixtureCap,
      l.fetch) == 0
    (replayNoOp, l.ledger, horizon("cap2"), horizon("cap3"))
  }

  /** [[CompactCal]] streamed. Returns (replayNoOp, ledgerDays):
    * replayNoOp additionally witnesses a direct re-offer of the
    * committed compact2 slot no-op'ing.
    */
  def runDays4CompactStreamed(spark: SparkSession, dir: String,
                              p: MultiDay.Paths4): (Boolean, Seq[String]) = {
    val l = stream(spark, dir, p, CompactCal)
    (!compact(spark, p, 2), l.ledger)
  }

  /** [[Ttl6Cal]] streamed. Returns (replayNoOp, ledgerDays). */
  def runDays6CalendarStreamed(spark: SparkSession, dir: String,
                               p: MultiDay.Paths4): (Boolean, Seq[String]) = {
    val l = stream(spark, dir, p, Ttl6Cal)
    (ttl2NoOp(l), l.ledger)
  }

  /** [[DaysCal]] streamed. Returns (replayNoOp, ledgerDays) —
    * replayNoOp additionally witnesses a direct re-offer of committed
    * day 3 through [[MultiDay.processDay4]] returning false (day 3's
    * exactly-once growth is pinned by the q543 card oracle itself).
    */
  def runDaysStreamed(spark: SparkSession, dir: String,
                      p: MultiDay.Paths4): (Boolean, Seq[String]) = {
    val l = stream(spark, dir, p, DaysCal)
    val replayNoOp = !MultiDay.processDay4(spark, p, 3,
      spark.read.parquet(p.dropDay(3)), l.fetch)
    (replayNoOp, l.ledger)
  }
}
