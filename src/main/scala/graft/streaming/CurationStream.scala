package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import graft.core.Ledger
import graft.ops.{CurationDay, CurationNDay}
import Calendar.{Control, Derive, Land, OpCap, OpCompact, OpTtl, Run, Step}

/** The curation day as a STREAMING job (SURVEY §1.3 — the engine is
  * streaming-first, and the r10 flagship was batch-incremental): daily
  * document drops LAND AS FILES in a directory, a Structured Streaming
  * file source delivers them, and the [[Calendar]] interpreter's
  * `foreachBatch` drives each day through the exact
  * [[CurationNDay.processDay]] the batch interpreter runs — ledger-gated
  * exactly-once ingest + index-backed incremental decisions + admit
  * (index append, manifest fold, persisted-state folds). This object
  * is the curation [[binding]] plus its calendars: each calendar is
  * ONE named value ([[Cal]]) that the family's one [[stream]]/[[batch]]
  * pair runs through either interpreter. Delivery and recovery
  * semantics are the interpreter's (see [[Calendar]]), and an
  * out-of-order drop fails loudly via the day-(k−1) artifact require.
  *
  * At 100 TB nothing here collects data rows to the driver: the batch
  * frame is only filtered per day and handed to the same
  * delta-proportional operators the batch path runs; the single-file
  * landing is a fixture convenience (a production landing zone drops
  * whatever file batches it likes — `maxFilesPerTrigger` then controls
  * batch granularity, and the in-batch day loop handles multi-file,
  * multi-day batches).
  */
object CurationStream {

  /** Target part-file count per index table after a calendar
    * compaction slot (fixture-sized; a production calendar sizes this
    * to `table_bytes / maxPartitionBytes`).
    */
  val CompactParts = 2

  /** The curation binding: payload (doc_id, text), day k's staged
    * drop, the ledgered [[CurationNDay.processDay]] admission, and the
    * three control slots, each multi-phase under one `<op><k>_done`
    * row ([[graft.core.Ledger.once]], committed last):
    *
    *  - ttl (arg = keepFromDay): the ledgered [[CurationNDay.ttlDay]]
    *    + [[graft.ops.Pack.rebuild]] — the `ttl<k>_done` row commits
    *    only after the tape rebuild, so a slot that crashed between
    *    the (itself ledgered) expiry and the rebuild re-runs BOTH on
    *    replay;
    *  - cap (arg = maxTokens): the ORDER-INDEPENDENT
    *    [[CurationNDay.capDayPinned]] (a calendar may schedule it
    *    after a ttl whose rebuild collapsed the pack day segments),
    *    the tape rebuild governed by the horizon pinned before
    *    mutating — a slot replayed after the cap committed still knows
    *    whether it expired anything;
    *  - compact (arg ignored): the dedup index's accrued per-day
    *    append files settled into [[CompactParts]] right-sized ones
    *    ([[graft.ops.Dedup.compactDedupIndex]], content-invariant by
    *    construction, so later decisions stay bit-identical).
    */
  def binding(spark: SparkSession, a: CurationDay.Artifacts,
              fetch: DataFrame): Calendar.Binding =
    Calendar.Binding(a.landing, a.streamCp, a.bench,
      Seq(StructField("doc_id", LongType), StructField("text", StringType)),
      k => spark.read.parquet(a.dropDay(k)),
      (k, drop) => CurationNDay.processDay(spark, a, k, drop, fetch): Unit,
      Map(
        OpTtl -> ((k, args) => args.foreach { keepFrom =>
          Ledger.once(spark, a.ledger, s"ttl${k}_done") {
            ttl(spark, a, k, keepFrom.toInt): Unit
            graft.ops.Pack.rebuild(spark, a, N)
          }: Unit
        }),
        OpCap -> ((k, args) => args.foreach { maxTok =>
          Ledger.once(spark, a.ledger, s"cap${k}_done") {
            cap(spark, a, k, maxTok): Unit
            if (Ledger.horizon(spark, a.capHorizon(s"cap$k")) > 0)
              graft.ops.Pack.rebuild(spark, a, N)
          }: Unit
        }),
        OpCompact -> ((k, args) => args.foreach(_ => compact(spark, a, k)))))

  // The slot phases, shared with the drivers' direct replay witnesses:
  // each returns whether it did anything (false / 0 = ledgered no-op).
  private def ttl(spark: SparkSession, a: CurationDay.Artifacts, k: Int,
                  keepFrom: Int): Boolean =
    CurationNDay.ttlDay(spark, a, s"ttl$k", keepFrom, a.manifestDay(N),
      a.manifestRetract(1))

  private def cap(spark: SparkSession, a: CurationDay.Artifacts, k: Int,
                  maxTok: Long): Int =
    CurationNDay.capDayPinned(spark, a, s"cap$k", maxTok, a.manifestDay(N),
      a.manifestRetract(1))

  private def compact(spark: SparkSession, a: CurationDay.Artifacts,
                      k: Int): Boolean =
    Ledger.once(spark, a.ledger, s"compact${k}_done") {
      graft.ops.Dedup.compactDedupIndex(spark, a.index, CompactParts)
    }.isDefined

  /** One bootstrapped N-day lifecycle a calendar runs over: the
    * documents fetch, the binding, the fixture caps the cap controls
    * carry (each computed once, when its control lands, so a direct
    * replay re-offers the same value) and the witnesses a calendar's
    * [[Calendar.Derive]] steps take mid-run.
    */
  final case class Life(spark: SparkSession, dir: String,
                        a: CurationDay.Artifacts) {
    val fetch: DataFrame = graft.core.Tables.plain(spark, dir, "documents")
    val b: Calendar.Binding = binding(spark, a, fetch)
    /** 55% of the admitted pack mass — the q557 scale-proportional cap. */
    lazy val capTok: Long =
      (1 to N).map(CurationNDay.packMass(spark, a, _)).sum * 55L / 100L
    /** The full calendar's post-ttl cap `m4 + m3 + m2/2` over the pinned
      * masses: between tail(3) and tail(2) at any sf, so its horizon is
      * always 3.
      */
    lazy val fullCapTok: Long = {
      val m = CurationNDay.pinnedMasses(spark, a)
      m.getOrElse(4, 0L) + m.getOrElse(3, 0L) + m.getOrElse(2, 0L) / 2L
    }
    /** Whether the hash table sat above [[CompactParts]] part files when
      * a calendar's fragmentation witness ran.
      */
    var fragmented: Boolean = false
    def ledger: Seq[String] = Ledger.ids(spark, a.ledger)
  }

  /** A named calendar: its steps over the bootstrapped lifecycle. */
  type Cal = Life => Seq[Step]

  /** Bootstrap the N-day lifecycle. */
  private def boot(spark: SparkSession, dir: String,
                   a: CurationDay.Artifacts): Life = {
    CurationNDay.bootstrapNDay(spark, dir, a)
    Life(spark, dir, a)
  }

  /** Bootstrap, then run `c` through the STREAMED interpreter. */
  private def stream(spark: SparkSession, dir: String,
                     a: CurationDay.Artifacts, c: Cal): Life = {
    val l = boot(spark, dir, a)
    Calendar.run(spark, l.b, c(l))
    l
  }

  /** Bootstrap, then run `c` through the BATCH interpreter — the
    * batch twin of `c`'s streamed gate, one oracle across engines.
    */
  def batch(spark: SparkSession, dir: String, a: CurationDay.Artifacts,
            c: Cal): Unit = {
    val l = boot(spark, dir, a)
    Calendar.batch(spark, l.b, c(l))
  }

  private def day4(l: Life): Derive =
    Derive(() => CurationNDay.writeDay4Drop(l.spark, l.dir, l.a))

  private val N = CurationNDay.NDays

  /** The N-day lifecycle (q505–q510): land days 1–2; stream them; STOP
    * the query (the kill); derive the sentinel-planted day 4; land
    * days 3–4; RESTART from the same checkpoint; drain.
    */
  val DaysCal: Cal = l => Seq(
    Land(1), Land(2), Run, // the kill
    day4(l), Land(3), Land(4),
    Run) // same checkpoint: the restart

  /** The RETENTION calendar (q576/q577): days 1–2, the kill, days 3–4
    * plus the ttl slot (keepFrom = 2 — age out snapshot + day 1) and a
    * REPLAY of the control, the restart, drain. The control runs the
    * ledgered expiry + tape rebuild in-stream; the replayed control is
    * a pure no-op via the slot's done row.
    */
  val TtlCal: Cal = l => Seq(
    Land(1), Land(2), Run, // the kill
    day4(l), Land(3), Land(4),
    Control(OpTtl, N, () => 2L), Control(OpTtl, N, () => 2L, replay = true),
    Run) // same checkpoint: the restart

  /** The SIZE-CAP calendar: days 1–4, the kill, then the cap control
    * ([[Life.capTok]]) plus its replay, the restart, drain. The slot
    * computes the horizon from the decision-pinned masses, PINS it,
    * expires to it, rebuilds the tape, and commits its done row; the
    * replayed control is a pure no-op.
    */
  val CapCal: Cal = l => Seq(
    Land(1), Land(2), Run,
    day4(l), Land(3), Land(4), Run, // the kill
    Control(OpCap, N, () => l.capTok),
    Control(OpCap, N, () => l.capTok, replay = true),
    Run) // same checkpoint: the restart

  /** The COMPACTION calendar — the mm chain's
    * [[MultiStream.CompactCal]] on the CURATION side: day 1, a compact1
    * slot, day 2 — the kill — the fragmentation witness (day 2's
    * append re-fragmented the compact1 result), days 3–4 plus the
    * compact4 slot and its REPLAY, the restart, drain. Compaction is
    * content-invariant, so the decisions must stay bit-identical to
    * the plain chain (q505/q508's oracle — a third engine path onto
    * it), while the index's accrued append files settle into
    * [[CompactParts]] right-sized ones.
    */
  val CompactCal: Cal = l => Seq(
    Land(1), Control(OpCompact, 1), Land(2), Run, // the kill
    Derive(() => l.fragmented =
      partFiles(l.spark, l.a, "hashes") > CompactParts),
    day4(l), Land(3), Land(4),
    Control(OpCompact, N), Control(OpCompact, N, replay = true),
    Run) // same checkpoint: the restart

  /** The FULL MAINTENANCE calendar — all three control ops in ONE run
    * (the q604/q605 mm capstone's sibling, runnable because the cap
    * slot rides [[CurationNDay.capDayPinned]], whose decision-pinned
    * masses survive the ttl slot's tape rebuild): day 1, a compact1
    * slot, day 2 — kill 1 — days 3–4, the ttl4 slot (keepFrom = 2:
    * snapshot + day 1 out) plus its replay — restart 1, kill 2 — the
    * cap4 slot ([[Life.fullCapTok]] over the POST-TTL pinned masses:
    * day 2 expires) plus its replay, a final compact4 slot — restart
    * 2, drain. Decisions stay bit-identical to the plain chain
    * (q505/q508's oracle — every slot follows the admissions it
    * governs; compact1 is content-invariant).
    */
  val FullCal: Cal = l => Seq(
    Land(1), Control(OpCompact, 1), Land(2), Run, // kill 1
    day4(l), Land(3), Land(4),
    Control(OpTtl, N, () => 2L), Control(OpTtl, N, () => 2L, replay = true),
    Run, // restart 1, kill 2
    Control(OpCap, N, () => l.fullCapTok),
    Control(OpCap, N, () => l.fullCapTok, replay = true),
    Control(OpCompact, N),
    Run) // restart 2

  private def partFiles(spark: SparkSession, a: CurationDay.Artifacts,
                        table: String): Int =
    graft.core.Layout.partFiles(spark, s"${a.index}/$table.parquet")

  private def settled(spark: SparkSession, a: CurationDay.Artifacts) =
    Seq("hashes", "bands").forall(partFiles(spark, a, _) == CompactParts)

  private def horizon(l: Life): Int =
    Ledger.horizon(l.spark, l.a.capHorizon(s"cap$N"))

  /** [[TtlCal]] streamed. Returns (replayNoOp, ledgerDays) —
    * replayNoOp additionally witnesses a direct re-offer of the
    * committed expiry no-op'ing.
    */
  def runTtlCalendarStreamed(spark: SparkSession, dir: String,
                             a: CurationDay.Artifacts)
      : (Boolean, Seq[String]) = {
    val l = stream(spark, dir, a, TtlCal)
    (!ttl(spark, a, N, 2), l.ledger)
  }

  /** [[CapCal]] streamed. Returns (replayNoOp, ledgerDays,
    * pinnedHorizon).
    */
  def runCapCalendarStreamed(spark: SparkSession, dir: String,
                             a: CurationDay.Artifacts)
      : (Boolean, Seq[String], Int) = {
    val l = stream(spark, dir, a, CapCal)
    val h = horizon(l)
    (cap(spark, a, N, l.capTok) == 0, l.ledger, h)
  }

  /** [[CompactCal]] streamed. Returns (replayNoOp, ledgerDays,
    * filesSettled): filesSettled witnesses NON-VACUITY — the hash
    * table held more part files than the target after the day-2
    * append, and exactly the target once the compact4 slot committed.
    */
  def runCompactCalendarStreamed(spark: SparkSession, dir: String,
                                 a: CurationDay.Artifacts)
      : (Boolean, Seq[String], Boolean) = {
    val l = stream(spark, dir, a, CompactCal)
    val done = settled(spark, a)
    // replay witness: the committed compact4 slot re-offered directly
    (!compact(spark, a, N), l.ledger, l.fragmented && done)
  }

  /** [[FullCal]] streamed. Returns (replayNoOp, ledgerDays, horizon,
    * settled): replayNoOp re-offers all three committed controls
    * directly; settled witnesses the compact4 slot re-settling the
    * index the cap's expiry rewrite had just re-fragmented.
    */
  def runFullCalendarStreamed(spark: SparkSession, dir: String,
                              a: CurationDay.Artifacts)
      : (Boolean, Seq[String], Int, Boolean) = {
    val l = stream(spark, dir, a, FullCal)
    val done = settled(spark, a)
    val h = horizon(l)
    val replayNoOp = !ttl(spark, a, N, 2) &&
      cap(spark, a, N, l.fullCapTok) == 0 && !compact(spark, a, N)
    (replayNoOp, l.ledger, h, done)
  }

  /** [[DaysCal]] streamed — the gate row runs THIS, so recovery is
    * part of the official evidence, not just a spec. Returns
    * (replayNoOp, ledgerDays) for the report row to pin: replayNoOp
    * witnesses a committed day (day 2) offered again being a pure
    * no-op.
    */
  def runDaysStreamed(spark: SparkSession, dir: String,
                      a: CurationDay.Artifacts): (Boolean, Seq[String]) = {
    val l = stream(spark, dir, a, DaysCal)
    val replayNoOp = !CurationNDay.processDay(spark, a, 2,
      spark.read.parquet(a.dropDay(2)), l.fetch)
    (replayNoOp, l.ledger)
  }
}
