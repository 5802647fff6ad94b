package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField}

import graft.core.Ledger
import graft.ops.SemIndex
import Calendar.{Land, Run}

/** The SEMANTIC index's admission stream — the [[Calendar]]
  * interpreter applied to the embedding-side lifecycle, so BOTH
  * persisted indexes (lexical and semantic) are maintained by the
  * same streaming-first machinery: daily vector drops land as files,
  * a Structured Streaming file source delivers them, and the
  * interpreter drives each day through a LEDGERED
  * [[SemIndex.processDay]] (decision pin before the index append +
  * the `sem<k>` day ledger = the exactly-once-per-day contract; a
  * replayed committed day is a pure no-op, a day that died before its
  * ledger row re-runs convergently off its pin).
  *
  * At 100 TB the stream moves only delta vectors; each day's probe is
  * partition-pruned to its own cells and the append is anti-joined —
  * the batch path's cost model verbatim, which is the point: one
  * per-day step, two delivery engines, one oracle (q533/q534 share
  * q521/q522's full re-derivation).
  */
object SemStream {

  /** The STREAMED two-day semantic lifecycle with a kill/restart
    * between the days and a replayed-committed-day no-op witnessed
    * (re-landing day 1 under a new file name after its ledger row:
    * the stream must deliver it and the ledger must swallow it).
    * Returns (ledger day ids, index row count stable under the
    * replay) for the report row to pin.
    */
  def runDaysStreamed(spark: SparkSession, dir: String,
                      p: SemIndex.Paths, landing: String, cp: String,
                      ledger: String): (Seq[String], Boolean) = {
    val emb = graft.core.Tables.plain(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    def part(r: Long) = emb.where(pmod(col("vec_id"), lit(4L)) === r)
    SemIndex.bootstrap(spark,
      emb.where(pmod(col("vec_id"), lit(4L)).isin(2L, 3L)), p)
    val b = Calendar.Binding(landing, cp, p.seeds,
      Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))),
      {
        case 1 => part(0L)
        case _ =>
          // day 2 = organic %4==1 plus the sentinel derived from the
          // pipeline's own pinned day-1 decisions (q521's planting rule)
          part(1L).unionByName(spark.read.parquet(p.decisionsDay(1))
            .where(col("decision") === "admitted")
            .orderBy("vec_id").limit(1).select("vec_id")
            .join(emb, "vec_id")
            .select(lit(9500001L).as("vec_id"), col("embedding")))
      },
      (k, drop) =>
        Ledger.once(spark, ledger, s"sem$k")(
          SemIndex.processDay(spark, p, k, drop)): Unit)
    // replay witness: day 1 re-offered under a new file name — the
    // source delivers it again, the ledger must no-op it
    Calendar.run(spark, b, Seq(Land(1), Run, // the kill
      Land(2), Land(1, replay = true)))
    val before = spark.read.parquet(p.index).count()
    Calendar.run(spark, b, Seq(Run)) // same checkpoint: the restart
    val stable = {
      // day 2 appended its admissions; re-subtract them to isolate the
      // replay effect: the replayed day-1 file must have added NOTHING
      val d2adm = spark.read.parquet(p.decisionsDay(2))
        .where(col("decision") === "admitted").count()
      spark.read.parquet(p.index).count() == before + d2adm
    }
    (Ledger.ids(spark, ledger), stable)
  }
}
