package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // The gate runs the EXACT quantile mapping: the oracle invariant is
    // Spark `percentile` == DuckDB `quantile_cont`. Everything else
    // (Bench, library users) gets the scale-safe t-digest default
    // (Pxl.defaultSketchQuantiles).
    if (!sys.env.contains("SPARK_GRAFT_SKETCH_QUANTILES"))
      System.setProperty("graft.sketchQuantiles", "0")
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (dev iteration only; the driver passes two):
    // regex over query names — run just the matching subset.
    val nameFilter = args.lift(2).map(_.r)
    // Default to every core (the r14 postmortem: the 605-query gate at
    // local[4] overran the driver's wall budget); the env still wins.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // The oracles go out BEFORE the query loop, so a killed or
    // timed-out run still leaves every oracle to count (and a filter
    // that matches nothing is a cheap full oracle dump).
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val gate = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        nameFilter.forall(_.findFirstIn(name).isDefined) }
    // Most gate queries are driver-bound (plan + tiny jobs), so running
    // them one at a time leaves the machine idle (guide §2.6: actions
    // are only sequential because the driver calls them sequentially).
    // A small pool of verify workers overlaps them. Every query is
    // deterministic by the repo's engine-exactness contract (results
    // are partitioning-invariant; no rand(); the only persist is
    // MultiOutput's script-scoped one, released in its own finally), so
    // concurrency cannot change any output. Shared lifecycle fixtures
    // are graft.queries.Fixture values: each builds once per data dir,
    // and workers asking for a fixture mid-build wait for that build.
    // SPARK_GRAFT_VERIFY_PAR=1 restores the sequential path.
    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt)
    def run1(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("SPARK_GRAFT_VERBOSE")) e.printStackTrace()
      }
      // sequential mode keeps the belt-and-braces cache drop between
      // queries; in parallel mode a global clearCache would evict
      // ANOTHER in-flight query's script-scoped persist (forcing
      // recompute — same results, wasted work), and MultiOutput
      // already unpersists its shared subplans in its own finally.
      if (par == 1) spark.catalog.clearCache()
    }
    if (par == 1) gate.foreach { case (n, f) => run1(n, f) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        gate.map { case (n, f) =>
          pool.submit(new Runnable { def run(): Unit = run1(n, f) })
        }.foreach(_.get())
      } finally { pool.shutdownNow(): Unit }
    }
    spark.stop()
  }
}
