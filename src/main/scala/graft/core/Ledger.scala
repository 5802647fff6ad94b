package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The exactly-once protocol every lifecycle (curation, multimodal,
  * semantic; batch or streamed) runs on, in one place:
  *
  *  - the LEDGER: a parquet table of committed slot ids (`day_id`).
  *    [[once]] checks an id first and commits it LAST, so a committed
  *    slot is a pure no-op and a slot torn before its row re-runs
  *    whole (each body is built to converge on re-run);
  *  - the DECISION PIN ([[pin]]): a slot's decisions are written
  *    before any artifact mutation and a completed pin is reused — a
  *    recompute against artifacts that already absorbed the slot's own
  *    appends would self-collide;
  *  - the cap HORIZON pin: a size cap's chosen `keep_from_day`, pinned
  *    before it mutates, so a replayed slot still knows what it chose;
  *  - the PINNED-DECISION reader ([[pinned]], [[pinnedIds]]): every read
  *    of what the days decided goes through the pins, never through
  *    artifacts a later slot may have rewritten;
  *  - the CAP SLOT ([[capSlot]]): the one size-cap protocol — retained
  *    masses per admission day ([[massTable]]), the whole-day horizon
  *    ([[horizonOf]]), the horizon pin, then an age-out to it
  *    ([[agedOut]] derives the victims) — that every lifecycle's cap
  *    runs with its own masses and expiry body.
  *
  * A write is complete when its `_SUCCESS` marker exists ([[done]]).
  */
object Ledger {

  private val schema = StructType(Seq(StructField("day_id", StringType)))

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether `id` is committed in `ledger`. */
  def seen(spark: SparkSession, ledger: String, id: String): Boolean =
    exists(spark, ledger) &&
      spark.read.schema(schema).parquet(ledger)
        .where(col("day_id") === id).limit(1).count() > 0

  /** Every committed id, sorted. */
  def ids(spark: SparkSession, ledger: String): Seq[String] =
    if (!exists(spark, ledger)) Seq.empty
    else spark.read.schema(schema).parquet(ledger)
      .collect().map(_.getString(0)).toSeq.sorted

  private def append(spark: SparkSession, ledger: String, id: String): Unit = {
    import spark.implicits._
    Seq(id).toDF("day_id").write.mode("append").parquet(ledger)
  }

  /** Run `body` unless `id` is committed, then commit it: None when
    * already committed (nothing runs), else the body's result. A
    * body that throws commits nothing.
    */
  def once[A](spark: SparkSession, ledger: String, id: String)
             (body: => A): Option[A] =
    if (seen(spark, ledger, id)) None
    else {
      val a = body
      append(spark, ledger, id)
      Some(a)
    }

  /** Whether the write at `path` completed. */
  def done(spark: SparkSession, path: String): Boolean =
    exists(spark, s"$path/_SUCCESS")

  /** The decision pin: reuse the completed pin at `path`, else
    * compute, checkpoint and write it. Either way the frame returned
    * is checkpointed.
    */
  def pin(spark: SparkSession, path: String)(compute: => DataFrame): DataFrame =
    if (done(spark, path)) spark.read.parquet(path).localCheckpoint(true)
    else {
      val d = compute.localCheckpoint(true)
      d.write.mode("overwrite").parquet(path)
      d
    }

  /** Pin a cap's chosen horizon (`keep_from_day`, 0 = the under-cap
    * no-op) at `path`, before the cap mutates anything.
    */
  def pinHorizon(spark: SparkSession, path: String, keepFrom: Int): Unit = {
    import spark.implicits._
    Seq(keepFrom).toDF("keep_from_day")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** The horizon [[pinHorizon]] pinned at `path`. */
  def horizon(spark: SparkSession, path: String): Int =
    spark.read.parquet(path).head().getInt(0)

  /** A decision pin's admitted rows. */
  val Admitted: Column = col("decision") === "admitted"

  /** The pinned-decision reader: the decision pins `path(k)` of
    * `days`, restricted to `pred`, each day's rows projected by
    * `cols(k)` (so a day can tag its rows), as one union.
    */
  def pinned(spark: SparkSession, path: Int => String, days: Seq[Int],
             pred: Column = lit(true))(cols: Int => Seq[Column]): DataFrame =
    days.map(k => spark.read.parquet(path(k)).where(pred).select(cols(k): _*))
      .reduce(_.unionByName(_))

  /** The ids (`id`) of the `days` pins' rows under `pred` (by default
    * the admitted ones).
    */
  def pinnedIds(spark: SparkSession, path: Int => String, days: Seq[Int],
                pred: Column = Admitted, id: String = "doc_id"): DataFrame =
    pinned(spark, path, days, pred)(_ => Seq(col(id)))

  /** The retained-mass table every size cap reads: each current member
    * `(doc_id, m)` adds its mass `m` to the day whose pin (`path(k)`,
    * k ≤ `nDays`) admitted it; a member of no pinned day is snapshot
    * mass (day 0). The masses come from CURRENT membership, not from
    * bookkeeping a prior slot may have rewritten, so an expired doc
    * counts nothing and slots compose in any order. One member-sized
    * pass; one entry per pinned day plus day 0.
    */
  def massTable(spark: SparkSession, members: DataFrame,
                path: Int => String, nDays: Int): Map[Int, Long] = {
    val pinnedDays = (1 to nDays).filter(k => done(spark, path(k)))
    val tagged =
      if (pinnedDays.isEmpty) members.withColumn("__day", lit(0))
      else members.join(pinned(spark, path, pinnedDays, Admitted)(k =>
          Seq(col("doc_id"), lit(k).as("__day"))), Seq("doc_id"), "left")
        .withColumn("__day", coalesce(col("__day"), lit(0)))
    val measured = tagged.groupBy("__day")
      .agg(sum(col("m")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    ((0 +: pinnedDays).map(k => k -> measured.getOrElse(k, 0L))).toMap
  }

  /** The whole-day horizon chooser: 0 when the whole retained mass —
    * day-0 snapshot included — already fits `cap` (the reference cap
    * expires only while over it); otherwise the OLDEST admission day
    * k ≥ 1 of `masses` whose days ≥ k fit (whole-day granularity — the
    * row-batch analog; exact integer arithmetic any engine re-derives).
    * Loud-fails when even the newest day alone exceeds the cap.
    */
  def horizonOf(masses: Map[Int, Long], cap: Long, id: String): Int =
    if (masses.values.sum <= cap) 0
    else {
      val days = masses.keys.toSeq.sorted
      days.filter(_ >= 1).find { k =>
        days.filter(_ >= k).map(masses).sum <= cap
      }.getOrElse(sys.error(s"$id: day ${days.max} alone exceeds " +
        s"the $cap cap — whole-day expiry cannot satisfy it"))
    }

  /** The size-cap slot — the reference's ring-buffer trigger
    * (src/table_store/table/table.cc:44: expire the oldest batches
    * until under the cap) as one ledgered lifecycle slot. Under one
    * `id` row of `ledger`: the retained `masses` per admission day,
    * [[horizonOf]] under `cap`, the horizon PINNED at `horizonPath`
    * before any mutation (a replayed calendar slot can still read what
    * the cap chose), then `expire(keepFrom)` only when the horizon is
    * above 0 — an under-cap call commits a no-op with horizon 0.
    * Returns the horizon, or 0 on a replay, which evaluates neither
    * `masses` nor `expire`.
    */
  def capSlot(spark: SparkSession, ledger: String, id: String,
              horizonPath: String, cap: Long)(masses: => Map[Int, Long])
             (expire: Int => Unit): Int =
    once(spark, ledger, id) {
      val keepFrom = horizonOf(masses, cap, id)
      pinHorizon(spark, horizonPath, keepFrom)
      if (keepFrom > 0) expire(keepFrom)
      keepFrom
    }.getOrElse(0)

  /** The age-out victims of horizon `keepFrom`: current `members` (by
    * `doc_id`) that no pinned day in [keepFrom, `nDays`] admitted —
    * the snapshot and every older day leave. Checkpointed: the set is
    * pinned before any mutation.
    */
  def agedOut(spark: SparkSession, members: DataFrame, path: Int => String,
              keepFrom: Int, nDays: Int): DataFrame =
    members.select("doc_id")
      .join(pinnedIds(spark, path,
        (keepFrom to nDays).filter(k => done(spark, path(k)))),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
}
