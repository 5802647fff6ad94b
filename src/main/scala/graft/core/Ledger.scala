package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
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
  *    before it mutates, so a replayed slot still knows what it chose.
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
}
