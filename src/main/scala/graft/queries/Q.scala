package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers keeping the Spark query and its DuckDB oracle in
  * lockstep. Pattern: every floating-point aggregate is quantized to 1e-6
  * BEFORE summation (per-row IEEE ops are deterministic and identical in
  * both engines; the integer sum is exact and order-independent), so
  * results hash-match regardless of partitioning / summation order — at
  * any scale factor.
  */
object Q {
  type QFn = (SparkSession, String) => DataFrame

  /** One gate query: `build` makes its Spark frame and `oracle` is the
    * DuckDB SQL over the same parquet tables that the frame must equal.
    */
  final case class Gate(name: String, build: QFn, oracle: String)

  /** One gate file: its [[Gate]] records. */
  trait Gates {
    def gates: Seq[Gate]
  }

  object Gates {

    /** The gate registry: every file's records as one builder map and
      * one oracle map over the same names. Fails when a name occurs
      * twice, in one file or in two (`toMap` would silently keep the
      * later record).
      */
    def merge(files: Seq[Gates]): (Map[String, QFn], Map[String, String]) = {
      def name(g: Gates) = g.getClass.getName.stripSuffix("$")
      val twice = files.flatMap(f => f.gates.map(_.name -> name(f)))
        .groupBy(_._1).filter(_._2.size > 1).toSeq.sortBy(_._1)
        .map { case (k, in) => s"$k in ${in.map(_._2).mkString(" and ")}" }
      require(twice.isEmpty, s"gate names twice: ${twice.mkString("; ")}")
      val all = files.flatMap(_.gates)
      (all.map(g => g.name -> g.build).toMap, all.map(g => g.name -> g.oracle).toMap)
    }
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.core.Tables(s, dir, name)

  /** [[graft.core.Tables.plain]] — the consumer-sensitive spread
    * opt-out for exchange-bound consumers (dedup/CC/index-append) and
    * lifecycle cache builders, where the spread exchange is measured
    * net-negative (guide §2.4; r15 A/B in OPTIMIZATION_r15.md).
    */
  def tp(s: SparkSession, dir: String, name: String): DataFrame =
    graft.core.Tables.plain(s, dir, name)

  /** Order-independent exact sum of a double column (quantized at 1e-6). */
  def qsum(c: Column): Column =
    sum(floor(c * lit(1000000.0) + lit(0.5))) / lit(1000000.0)
  def qsumSql(x: String): String =
    s"SUM(CAST(floor($x * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0"

  /** Order-independent mean built from the quantized sum. */
  def qavg(c: Column): Column = qsum(c) / count(c)
  def qavgSql(x: String): String = s"(${qsumSql(x)}) / COUNT($x)"

  /** Spread CPU-heavy per-row work across cores ONLY when the scan
    * arrives under-parallel (the single-row-group fixture parquet scans
    * as 1 partition). At 100 TB the scan is already thousands of
    * partitions and an unconditional repartition would be a gratuitous
    * full shuffle of the fact table — so this is a no-op there.
    *
    * The narrowness signal is STATIC — the source's on-disk size vs
    * `spark.sql.files.maxPartitionBytes` (exactly how FilePartition
    * packing decides the scan's parallelism) — instead of
    * `df.rdd.getNumPartitions`, which would force an eager physical
    * planning of the frame (plan built twice per query) and sidestep
    * AQE. A directory-layout dataset (the normal large-data shape) is
    * sized by summing its direct child files — a dirent stat would
    * report ~4 KB and misclassify an arbitrarily large scan as narrow.
    * An unstat-able path (object stores, globs) reports 0 bytes and
    * conservatively leaves the frame alone.
    */
  def spreadIfNarrow(s: SparkSession, df: DataFrame, sourcePath: String): DataFrame =
    if (narrowScan(s, sourcePath)) df.repartition(s.sparkContext.defaultParallelism)
    else df

  /** The narrowness signal of [[spreadIfNarrow]], exposed for callers
    * that gate MORE than a repartition on it (e.g. the PxL protocol
    * base's one-shot materialization): true iff the source's on-disk
    * bytes pack into fewer scan splits than the session has cores.
    * Always false at production scale — every gated transform is a
    * structural no-op there.
    */
  def narrowScan(s: SparkSession, sourcePath: String): Boolean =
    graft.core.Tables.narrowScan(s, sourcePath, minBytes = 1L)

  /** Memoized logical-plan reuse for the synthesized protocol tables:
    * each is a wide projection over the fact scan whose ANALYSIS cost
    * (withColumn chains re-resolve the growing plan) was being re-paid
    * on every query build — pure driver CPU, identical frame every time.
    * DataFrames are immutable, so handing the same instance to every
    * query in a session is semantics-free.
    *
    * Entries are SoftReferences keyed by (applicationId, dir, key) —
    * NOT a WeakHashMap keyed by the session: a cached DataFrame
    * strongly references its SparkSession (values referencing keys),
    * so that map could never evict and every retired session's plans
    * would leak in a long-lived process. Soft values let the GC drop
    * plans under memory pressure, and a hit is only served back to the
    * very session that built it (a new session re-analyzes — which is
    * all the memo ever saved).
    */
  private val dfCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), java.lang.ref.SoftReference[DataFrame]]()
  def memoDf(s: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame = {
    val k = (s.sparkContext.applicationId, dir, key)
    Option(dfCache.get(k)).flatMap(r => Option(r.get))
      .filter(_.sparkSession eq s)
      .getOrElse {
        val df = build
        dfCache.put(k, new java.lang.ref.SoftReference(df))
        df
      }
  }

  /** Runs the stream `df` to completion (AvailableNow) into a memory
    * sink in output `mode` and returns `read` of the sink's table as a
    * local frame; the query is stopped and its temp view dropped, so
    * repeated runs in one session pin nothing.
    */
  def drainMemory(s: SparkSession, df: Dataset[_], mode: String)(
      read: DataFrame => DataFrame = d => d): DataFrame = {
    val qn = "mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(qn).outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val out = read(s.table(qn))
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally {
      if (q.isActive) q.stop()
      s.catalog.dropTempView(qn)
    }
  }

  /** The fixture's "now" anchor — max event ts ceiled to the next µs —
    * computed ONCE per (SparkContext, dataset) and memoized: without the
    * memo every anchored query build paid a full `max(ts)` column scan
    * (parquet aggregate pushdown is off by default), which at 100 TB is
    * an extra blocking scan per query. Values are Longs keyed by
    * (applicationId, dir): nothing pins a session reference.
    */
  private val tailNowCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  def tailNowNs(s: SparkSession, dir: String): Long =
    tailNowCache.computeIfAbsent((s.sparkContext.applicationId, dir), _ => {
      val mx = t(s, dir, "events").agg(max(col("ts"))).head().getLong(0)
      mx / 1000 * 1000 + 1000
    })
}
