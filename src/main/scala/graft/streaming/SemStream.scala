package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField}

import graft.core.Ledger
import graft.ops.SemIndex
import Calendar.{Derive, Land, Run, Step}

/** The SEMANTIC index's admission stream — the [[Calendar]]
  * interpreters applied to the embedding-side lifecycle, so BOTH
  * persisted indexes (lexical and semantic) are maintained by the
  * same streaming-first machinery: daily vector drops land as files,
  * a Structured Streaming file source delivers them, and the
  * interpreter drives each day through a LEDGERED
  * [[SemIndex.processDay]] (decision pin before the index append +
  * the `sem<k>` day ledger = the exactly-once-per-day contract; a
  * replayed committed day is a pure no-op, a day that died before its
  * ledger row re-runs convergently off its pin). This object is the
  * semantic [[Life]] (its binding) plus its one calendar, [[DaysCal]],
  * which the [[stream]]/[[batch]] pair runs through either engine.
  *
  * At 100 TB the stream moves only delta vectors; each day's probe is
  * partition-pruned to its own cells and the append is anti-joined —
  * the batch path's cost model verbatim, which is the point: one
  * per-day step, two delivery engines, one oracle (q533/q534 share
  * q521/q522's full re-derivation).
  */
object SemStream {

  /** One semantic lifecycle under `root`: the index, the landing,
    * checkpoint and ledger, and the binding. The two-day drop is the %4
    * split — snapshot {2,3}, day 1 = 0, day 2 = 1 plus sentinel
    * 9500001, the verbatim embedding of the smallest day-1 ADMITTED
    * vector (q521's planting rule, read off the day-1 pin), which must
    * come back dup_sem_corpus via the APPENDED cells.
    */
  final case class Life(spark: SparkSession, dir: String, root: String) {
    val p: SemIndex.Paths = SemIndex.Paths(root)
    val ledger: String = s"$root/ledger"
    val emb: DataFrame = graft.core.Tables.plain(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    private def part(r: Long) = emb.where(pmod(col("vec_id"), lit(4L)) === r)
    val snapshot: DataFrame = emb.where(pmod(col("vec_id"), lit(4L)).isin(2L, 3L))
    val b: Calendar.Binding = Calendar.Binding(s"$root/landing",
      s"$root/cp", p.seeds,
      Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))),
      {
        case 1 => part(0L)
        case _ => part(1L).unionByName(
          Ledger.pinnedIds(spark, p.decisionsDay, Seq(1), id = "vec_id")
            .orderBy("vec_id").limit(1)
            .join(emb, "vec_id")
            .select(lit(9500001L).as("vec_id"), col("embedding")))
      },
      (k, drop) =>
        Ledger.once(spark, ledger, s"sem$k")(
          SemIndex.processDay(spark, p, k, drop)): Unit)
    /** The index row count the replay witness took before the restart. */
    var before: Long = 0L
  }

  /** The two-day calendar: day 1, the kill, day 2 plus day 1
    * re-offered under a new file name (the source delivers it again,
    * the ledger must no-op it), the index row count witnessed, the
    * restart from the same checkpoint.
    */
  val DaysCal: Life => Seq[Step] = l => Seq(
    Land(1), Run, // the kill
    Land(2), Land(1, replay = true),
    Derive(() => l.before = l.spark.read.parquet(l.p.index).count()),
    Run) // same checkpoint: the restart

  private def boot(l: Life): Life = {
    SemIndex.bootstrap(l.spark, l.snapshot, l.p)
    l
  }

  /** Bootstrap `l`, then run [[DaysCal]] through the STREAMED
    * interpreter.
    */
  def stream(l: Life): Life = {
    Calendar.run(l.spark, boot(l).b, DaysCal(l))
    l
  }

  /** Bootstrap `l`, then run [[DaysCal]] through the BATCH interpreter. */
  def batch(l: Life): Life = {
    Calendar.batch(l.spark, boot(l).b, DaysCal(l))
    l
  }

  /** The STREAMED two-day semantic lifecycle with a kill/restart
    * between the days and a replayed-committed-day no-op witnessed.
    * Returns (ledger day ids, index row count stable under the
    * replay) for the report row to pin.
    */
  def runDaysStreamed(spark: SparkSession, dir: String,
                      root: String): (Seq[String], Boolean) = {
    val l = stream(Life(spark, dir, root))
    // day 2 appended its admissions; re-subtract them to isolate the
    // replay effect: the replayed day-1 file must have added NOTHING
    val d2adm = Ledger.pinnedIds(spark, l.p.decisionsDay, Seq(2),
      id = "vec_id").count()
    (Ledger.ids(spark, l.ledger),
      spark.read.parquet(l.p.index).count() == l.before + d2adm)
  }
}
