package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** The ONE lifecycle calendar and its two interpreters. Every
  * lifecycle calendar ([[CurationStream]], [[MultiStream]] four- and
  * six-stage, [[SemStream]]) is a list of [[Calendar.Step]]s run
  * against its family's [[Calendar.Binding]], by either engine:
  *
  *  - [[run]], the STREAMED interpreter: each step lands a file and a
  *    file source delivers it to `foreachBatch`. This object owns the
  *    only lifecycle `foreachBatch` body, the only landing writer and
  *    the only delivery (mtime) ladder;
  *  - [[batch]], the BATCH interpreter: the same steps against the
  *    same binding, applied directly in a driver loop.
  *
  * A batch/stream gate pair therefore runs ONE calendar value through
  * two interpreters. The reference's analog is its script-runner cron
  * driving both queries and table maintenance through one scheduler
  * (src/vizier/services/query_broker/script_runner/); here one file
  * source delivers both admissions and maintenance to `foreachBatch`.
  *
  * THE LANDING CONTRACT. Every landing record carries three control
  * columns after its family's payload columns:
  *
  *  - `day` (int) — the calendar slot the record belongs to; the
  *    batch body applies slots in ascending order, and pinned file
  *    modification times ([[mtimeOffset]]) order delivery across
  *    batches;
  *  - `op` (string) — null = admission DATA (admission files do not
  *    carry the column, so it reads as null); [[OpTtl]] / [[OpCap]] /
  *    [[OpCompact]] = a MAINTENANCE slot;
  *  - `arg` (long) — the slot's scalar (the admission day to expire,
  *    the byte/token cap, an ignored sequence payload respectively).
  *
  * A control file carries ONLY (day, op, arg), so one landing schema
  * fits every family whatever its payload or id column.
  *
  * DELIVERY / RECOVERY. The file source's checkpoint gives
  * at-least-once micro-batches across stop/restart; each family's
  * admission body is day-ledgered, and every control slot is
  * LEDGERED through [[graft.core.Ledger.once]] (single-phase slots
  * ride their operation's own ledger row; multi-phase slots wrap the
  * phases in a `<id>_done` row that commits LAST), which upgrades
  * delivery to exactly-once per slot. A replayed file is a pure
  * no-op — and so is a replayed step under [[batch]].
  */
object Calendar {

  val OpTtl = "ttl"
  val OpCap = "cap"
  val OpCompact = "compact"

  /** One calendar step, interpreted in order by [[run]] or [[batch]]. */
  sealed trait Step
  /** Land day k's drop (or, with `replay`, a re-offer of it). */
  final case class Land(day: Int, replay: Boolean = false) extends Step
  /** Land one control record; `arg` is evaluated when it lands (a
    * compact slot ignores it).
    */
  final case class Control(op: String, slot: Int, arg: () => Long = () => 0L,
                           replay: Boolean = false) extends Step
  /** Run driver code between steps (e.g. derive a later day's drop
    * from the pins the stream has written so far).
    */
  final case class Derive(f: () => Unit) extends Step
  /** Start the stream from its checkpoint, drain it, stop it. */
  case object Run extends Step

  /** A lifecycle family's side of the contract: where it lands and
    * checkpoints, the file whose mtime anchors the ladder, its payload
    * columns, day k's drop, the admission body for one day's rows
    * (payload columns only), and one body per control op, called with
    * the slot's day and its sorted distinct args.
    */
  final case class Binding(
      landing: String,
      checkpoint: String,
      anchor: String,
      payload: Seq[StructField],
      drop: Int => DataFrame,
      admit: (Int, DataFrame) => Unit,
      slots: Map[String, (Int, Seq[Long]) => Unit] = Map.empty) {
    val schema: StructType = StructType(payload ++ Seq(
      StructField("day", IntegerType),
      StructField("op", StringType),
      StructField("arg", LongType)))
  }

  /** One day of one micro-batch: whether admission rows arrived, and
    * each control op's distinct args, ops in ttl → cap → compact order.
    */
  final case class DaySlot(day: Int, admit: Boolean,
                           ops: Seq[(String, Seq[Long])])

  private val OpOrder = Seq(OpTtl, OpCap, OpCompact)

  private def opRank(op: String): Int = OpOrder.indexOf(op) match {
    case -1 => sys.error(s"calendar: unknown control op $op")
    case i => i
  }

  /** The batch's control read: ONE bounded collect of its distinct
    * (day, op, arg) triples, `arg` nulled on admission rows so each
    * admitted day contributes one row (controls are one-row files —
    * model-sized by construction). Days ascend; an unknown op fails.
    */
  def controls(batch: DataFrame): Seq[DaySlot] =
    batch.select(col("day"), col("op"),
        when(col("op").isNotNull, col("arg")).as("arg"))
      .distinct().collect().toSeq // bounded: slots per batch
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (k, rows) =>
        val (adm, ctl) = rows.partition(_.isNullAt(1))
        DaySlot(k, adm.nonEmpty, ctl.groupBy(_.getString(1)).toSeq
          .map { case (op, rs) => opRank(op) -> (op -> rs.map(_.getLong(2)).sorted) }
          .sortBy(_._1).map(_._2))
      }

  /** Start `b`'s stream: per micro-batch, each day in order runs its
    * admission body, then its control slots (ttl, cap, compact).
    */
  def start(spark: SparkSession, b: Binding): StreamingQuery =
    spark.readStream
      .schema(b.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(b.landing)
      .writeStream
      .option("checkpointLocation", b.checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        controls(batch).foreach { s =>
          if (s.admit)
            b.admit(s.day, payload(b, batch
              .where(col("day") === s.day && col("op").isNull)))
          s.ops.foreach { case (op, args) => slot(b, op)(s.day, args) }
        }
      }
      .start()

  private def payload(b: Binding, df: DataFrame): DataFrame =
    df.select(b.payload.map(f => col(f.name)): _*)

  private def slot(b: Binding, op: String): (Int, Seq[Long]) => Unit =
    b.slots.getOrElse(op, sys.error(s"calendar: no $op slot"))

  /** The batch interpreter: apply `steps` in order against `b` with
    * no stream. A land step admits day k's drop projected to the
    * payload columns (what the stream hands the admission body; a
    * replay is offered again and its ledger makes it a no-op); a
    * control step runs its op's slot with `Seq(arg())`; derive runs;
    * [[Run]] has nothing to drain.
    */
  def batch(spark: SparkSession, b: Binding, steps: Seq[Step]): Unit =
    steps.foreach {
      case Land(k, _) => b.admit(k, payload(b, b.drop(k)))
      case Control(op, k, arg, _) => slot(b, op)(k, Seq(arg()))
      case Derive(f) => f()
      case Run =>
    }

  /** The streamed interpreter: land each step's file in order, start
    * the stream at each [[Run]], drain it, stop it.
    */
  def run(spark: SparkSession, b: Binding, steps: Seq[Step]): Unit =
    steps.foreach {
      case l @ Land(k, _) =>
        land(spark, b, l, b.drop(k).withColumn("day", lit(k)))
      case c @ Control(op, k, arg, _) =>
        import spark.implicits._
        land(spark, b, c, Seq((k, op, arg())).toDF("day", "op", "arg"))
      case Derive(f) => f()
      case Run =>
        val q = start(spark, b)
        try q.processAllAvailable() finally q.stop()
    }

  /** The delivery ladder: a step's file mtime offset from the anchor.
    * Within day slot k: the drop, its replay, then ttl, cap, compact,
    * each op's replay 5 s after its original — all before day k + 1.
    */
  def mtimeOffset(step: Step): Long = ladder(step)._2

  /** A landing step's file name and mtime offset. */
  private def ladder(step: Step): (String, Long) = step match {
    case Land(k, replay) => (s"day$k${if (replay) "_replay" else ""}",
      k * 60000L + (if (replay) 30000L else 0L))
    case Control(op, k, _, replay) => (s"ctl_$op$k${if (replay) "_replay" else ""}",
      k * 60000L + 40000L + opRank(op) * 6000L + (if (replay) 5000L else 0L))
    case other => sys.error(s"calendar: $other lands no file")
  }

  /** The landing writer: stage `df` as ONE part file, rename it into
    * the landing dir, and PIN its modification time to the anchor's
    * mtime + [[mtimeOffset]]. The file source orders files by mtime,
    * so two files landed within one clock tick could otherwise
    * deliver out of calendar order; the pinned strictly-increasing
    * ladder (anchored on a bootstrap-written file recent enough for
    * the source's maxFileAge window) makes delivery order a property
    * of the calendar, not the clock.
    */
  private def land(spark: SparkSession, b: Binding, step: Step,
                   df: DataFrame): Unit = {
    val (name, offset) = ladder(step)
    val tmp = new Path(s"${b.landing}_tmp_$name")
    df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new Path(tmp, "part-*")).headOption
      .getOrElse(sys.error(s"land: no part file under $tmp"))
    val dst = new Path(b.landing, s"$name.parquet")
    fs.mkdirs(dst.getParent): Unit
    require(fs.rename(part.getPath, dst), s"land: rename into ${b.landing} failed")
    fs.delete(tmp, true): Unit
    fs.setTimes(dst,
      fs.getFileStatus(new Path(b.anchor)).getModificationTime + offset, -1L)
  }
}
