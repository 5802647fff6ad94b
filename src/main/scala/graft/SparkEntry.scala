package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.PxTable
import graft.functions.PixieFunctions._
import graft.queries._
import graft.queries.Q.Gates

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The canonical reference workload shape
    * (src/pxl_scripts/px/http_request_stats/stats.pxl): time-range scan ->
    * px.bin tumbling window -> two-level group-by aggregation -> self-join
    * of the per-window totals -> map (rate/share) -> filter -> capped,
    * time-ordered result.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = PxTable.timeRange(spark, dir, "events", "ts", "2024-01-01", "2024-02-01")
      .withCol("bucket", timeBinNs(col("ts"), 3600))
    val perType = ev.groupbyAgg(Seq("bucket", "event_type"),
      "n" -> count(lit(1)),
      "sum_value" -> sum(col("value")))
    val perBucket = perType.groupbyAgg(Seq("bucket"),
      "total" -> sum(col("n")))
    perType.merge(perBucket, "inner", Seq("bucket"), Seq("bucket"))
      .withCol("share", col("n").cast("double") / col("total"))
      .where(col("n") > 0)
      .orderedByTime("bucket", "event_type")
      .resultCap()
      .df
  }

  /** The gate files, each one [[graft.queries.Q.Gates]]: a list of
    * [[graft.queries.Q.Gate]] records, each a query with its oracle.
    */
  lazy val gateFiles: Seq[Gates] = Seq(
    Relational, Functions, NorthStar, Meta, Surface, Ml, Extended,
    Pxl, PxlService, PxlDatabase, PxlMessaging, PxlNetwork, PxlCluster,
    TextCuration, Governance, Sketches, EventAnalytics, Retrieval, Indexes,
    Lifecycle, MediaLifecycle)

  private lazy val registry = Gates.merge(gateFiles)

  /** Every gate query by name, built once from the records of
    * [[gateFiles]]. Building fails loudly when a name occurs twice.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = registry._1

  /** For each name in [[queries]], the equivalent ANSI SQL that DuckDB
    * runs on the same parquet tables; the name sets are equal.
    */
  def oracleSql: Map[String, String] = registry._2
}
