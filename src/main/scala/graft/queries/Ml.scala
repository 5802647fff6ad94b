package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.MlAggregators
import graft.ops.RequestPath
import graft.sources.CatalogUdtfs
import Q._

/** SURVEY §2.5/§2.7 tail: ML UDAs (_kmeans, pprof), request-path endpoint
  * clustering, and the metadata UDTF family (GetTables/GetSchemas/
  * GetUDFList/GetUDAList/GetUDTFList/GetAgentStatus).
  *
  * Oracle strategy: kmeans runs on inputs whose exact fixed point is known
  * analytically (k well-separated distinct points -> centroids are the
  * points themselves, for any Lloyd's iteration count); pprof and
  * request-path are re-derived independently in SQL; the schema UDTFs are
  * checked against a hand-written literal expectation of the parquet
  * schemas (an independent check that the Spark read produces exactly the
  * declared relation, including the TIMESTAMP(NANOS)->int64-ns rule).
  */
object Ml extends Gates {

  // Synthesized request paths over events: one static family, one
  // 6-segment family where user_id (15..150 distinct) and event_id%50
  // exceed maxCard=10 and the posts/comments segment (card 2) does not.
  private def pathsSpark(e: org.apache.spark.sql.DataFrame) =
    e.withColumn("path",
      when(pmod(col("event_id"), lit(10)) === 0, lit("/healthz"))
        .otherwise(concat(
          lit("/api/v1/users/"), col("user_id"), lit("/"),
          when(pmod(col("event_id"), lit(2)) === 0, lit("posts"))
            .otherwise(lit("comments")),
          lit("/"), pmod(col("event_id"), lit(50)))))

  private val pathsSql =
    """CASE WHEN event_id % 10 = 0 THEN '/healthz'
      |     ELSE '/api/v1/users/' || user_id || '/' ||
      |          (CASE WHEN event_id % 2 = 0 THEN 'posts' ELSE 'comments' END) ||
      |          '/' || (event_id % 50) END""".stripMargin

  lazy val gates: Seq[Gate] = Seq(
    // _build_request_path_clusters (request_path_ops.cc): endpoint
    // templates with parameter segments wildcarded by cardinality.
    Gate("q46_request_path", (s, dir) =>
      RequestPath.clusters(pathsSpark(t(s, dir, "events")), col("path"), 10)
        .orderBy("template"), oracle = (
      s"""WITH p AS (SELECT DISTINCT $pathsSql AS path FROM events),
         |c AS (SELECT path,
         |        CASE WHEN path = '/healthz' THEN '/healthz'
         |             WHEN path LIKE '%/posts/%' THEN '/api/v1/users/*/posts/*'
         |             ELSE '/api/v1/users/*/comments/*' END AS template
         |      FROM p)
         |SELECT template, COUNT(DISTINCT path) AS n_paths
         |FROM c GROUP BY template ORDER BY template""".stripMargin)),

    // _kmeans UDA (ml_ops.h): per-group clustering where the input has
    // exactly k=3 well-separated distinct 1-d points, so the converged
    // centroids are analytically known. Exercises partial/merge across
    // the shuffle (two groups interleaved over all partitions).
    Gate("q47_kmeans", (s, dir) => {
      val pt = array(floor(pmod(col("event_id"), lit(6)) / lit(2)).cast("double") * lit(100.0))
      t(s, dir, "events")
        .groupBy(pmod(col("event_id"), lit(2)).as("g"))
        .agg(MlAggregators.kmeans(pt, 3).as("centroids"))
        .orderBy("g")
    }, oracle = (
      "SELECT (event_id % 2) AS g, '[[0.0],[100.0],[200.0]]' AS centroids " +
        "FROM events GROUP BY 1 ORDER BY 1")),

    // pprof UDA (pprof_ops.cc): stack-histogram merge to a canonical
    // sorted profile JSON.
    Gate("q48_pprof", (s, dir) =>
      t(s, dir, "events")
        .groupBy(pmod(col("user_id"), lit(3)).as("g"))
        .agg(MlAggregators.pprof(
          concat(lit("app;srv;"), col("event_type")),
          pmod(col("event_id"), lit(5))).as("profile"))
        .orderBy("g"), oracle = (
      """WITH s AS (SELECT user_id % 3 AS g, 'app;srv;' || event_type AS stack,
        |             SUM(event_id % 5) AS cnt
        |           FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
        |SELECT g, '{' || string_agg('"' || stack || '":' || cnt, ',' ORDER BY stack) || '}' AS profile
        |FROM s GROUP BY g ORDER BY g""".stripMargin)),

    // GetUDFList/GetUDAList/GetUDTFList (md_udtfs.cc): the registered
    // function surface as one relation.
    Gate("q49_catalog", (s, dir) =>
      CatalogUdtfs.getUdfList(s).withColumn("kind", lit("UDF"))
        .union(CatalogUdtfs.getUdaList(s).withColumn("kind", lit("UDA")))
        .union(CatalogUdtfs.getUdtfList(s)
          .withColumn("module", lit("udtf")).withColumn("kind", lit("UDTF")))
        .orderBy("kind", "name"), oracle =
      s"SELECT name, module, kind FROM $catalogValues ORDER BY kind, name"),

    // GetSchemas x GetTables: every column of every registered table with
    // ordinal + engine type name, plus the table's column count.
    Gate("q50_schemas", (s, dir) =>
      CatalogUdtfs.getSchemas(s, dir)
        .join(CatalogUdtfs.getTables(s, dir), Seq("table_name"))
        .orderBy("table_name", "column_index"), oracle = (
      s"""WITH s AS (SELECT * FROM $schemaValues)
         |SELECT table_name, column_name, CAST(column_index AS BIGINT) AS column_index, data_type,
         |       COUNT(*) OVER (PARTITION BY table_name) AS n_cols
         |FROM s ORDER BY table_name, column_index""".stripMargin)),

    // GetAgentStatus: the single local agent.
    Gate("q51_agents", (s, dir) => CatalogUdtfs.getAgentStatus(s), oracle = (
      "SELECT '00000000-0000-0000-0000-000000000001' AS agent_id, " +
        "CAST(1 AS BIGINT) AS asid, 'host-local' AS hostname, " +
        "'10.11.1.1:8080' AS ip_address, 'AGENT_STATE_HEALTHY' AS agent_state, " +
        "CAST(1700000000000000000 AS BIGINT) AS create_time, " +
        "CAST(5000000 AS BIGINT) AS last_heartbeat_ns, " +
        "true AS kernel_headers_installed")),

    // The md_udtfs long tail (md_udtfs.cc:32-60): every remaining UDTF
    // relation melted to (udtf, row_json) so one gate entry value-checks
    // all seven (the empty tracepoint relation contributes its count).
    Gate("q70_udtf_md", (s, dir) => {
      def melt(name: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(name).as("udtf"),
          to_json(struct(df.columns.map(col): _*)).as("row_json"))
      val tp = CatalogUdtfs.getTracepointStatus(s).agg(count(lit(1)).as("n"))
      melt("GetProfilerSamplingPeriodMS", CatalogUdtfs.getProfilerSamplingPeriodMS(s))
        .unionAll(melt("GetLinuxHeadersStatus", CatalogUdtfs.getLinuxHeadersStatus(s)))
        .unionAll(melt("_DebugMDState", CatalogUdtfs.debugMDState(s)))
        .unionAll(melt("_DebugMDGetWithPrefix",
          CatalogUdtfs.debugMDGetWithPrefix(s, "md/pods/")))
        .unionAll(melt("_DebugTableInfo", CatalogUdtfs.debugTableInfo(s)))
        .unionAll(melt("GetTracepointStatus", tp))
        .unionAll(melt("GetCronScriptHistory", CatalogUdtfs.getCronScriptHistory(s)))
        .orderBy("udtf", "row_json")
    }, oracle =
      s"SELECT udtf, row_json FROM $q70Values ORDER BY udtf, row_json")
  )

  private def valuesSql(rows: Seq[String], cols: String): String =
    rows.mkString(s"(VALUES ", ", ", s") AS v($cols)")

  // The function registry is a compile-time constant in both engines;
  // dual-emitting the oracle from the same Seq checks the DataFrame
  // plumbing (types, union, ordering), like the Surface rule tables.
  private val catalogValues = valuesSql(
    CatalogUdtfs.udfNames.map { case (n, m) => s"('$n','$m','UDF')" } ++
      CatalogUdtfs.udaNames.map { case (n, m) => s"('$n','$m','UDA')" } ++
      CatalogUdtfs.udtfNames.map(n => s"('$n','udtf','UDTF')"),
    "name, module, kind")

  // Hand-written schema expectation (independent of the Spark read path),
  // shared with the PxL schema oracles (q110/q111).
  // events.ts is parquet TIMESTAMP(NANOS) -> engine reads int64 ns (BIGINT).
  private[queries] val schemaRows: Seq[(String, Seq[(String, String)])] = Seq(
    "region" -> Seq("r_regionkey" -> "INTEGER", "r_name" -> "VARCHAR"),
    "nation" -> Seq("n_nationkey" -> "INTEGER", "n_name" -> "VARCHAR",
      "n_regionkey" -> "INTEGER"),
    "customer" -> Seq("c_custkey" -> "BIGINT", "c_name" -> "VARCHAR",
      "c_nationkey" -> "INTEGER", "c_acctbal" -> "DOUBLE",
      "c_mktsegment" -> "VARCHAR"),
    "supplier" -> Seq("s_suppkey" -> "BIGINT", "s_name" -> "VARCHAR",
      "s_nationkey" -> "INTEGER", "s_acctbal" -> "DOUBLE"),
    "part" -> Seq("p_partkey" -> "BIGINT", "p_name" -> "VARCHAR",
      "p_brand" -> "VARCHAR", "p_type" -> "VARCHAR", "p_size" -> "INTEGER",
      "p_retailprice" -> "DOUBLE"),
    "orders" -> Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
      "o_orderstatus" -> "VARCHAR", "o_totalprice" -> "DOUBLE",
      "o_orderdate" -> "TIMESTAMP", "o_orderpriority" -> "VARCHAR"),
    "lineitem" -> Seq("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
      "l_suppkey" -> "BIGINT", "l_linenumber" -> "INTEGER",
      "l_quantity" -> "DOUBLE", "l_extendedprice" -> "DOUBLE",
      "l_discount" -> "DOUBLE", "l_tax" -> "DOUBLE",
      "l_returnflag" -> "VARCHAR", "l_linestatus" -> "VARCHAR",
      "l_shipdate" -> "TIMESTAMP"),
    "events" -> Seq("event_id" -> "BIGINT", "ts" -> "BIGINT",
      "user_id" -> "BIGINT", "event_type" -> "VARCHAR",
      "value" -> "DOUBLE", "props" -> "VARCHAR"),
    "documents" -> Seq("doc_id" -> "BIGINT", "text" -> "VARCHAR",
      "lang" -> "VARCHAR", "source" -> "VARCHAR", "n_chars" -> "BIGINT"),
    "embeddings" -> Seq("vec_id" -> "BIGINT", "embedding" -> "FLOAT[]",
      "label" -> "INTEGER"))

  // q70 expectation: the identical JSON rows rebuilt from the same
  // constant Seqs with to_json's formatting (column order, plain
  // numbers, escaped strings).
  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def j(fields: (String, Any)*): String =
    fields.map { case (k, v) =>
      "\"" + k + "\":" + (v match {
        case s: String => jsonStr(s)
        case other => other.toString
      })
    }.mkString("{", ",", "}")

  private val q70Rows: Seq[(String, String)] =
    Seq(
      "GetProfilerSamplingPeriodMS" ->
        j("asid" -> 1L, "profiler_sampling_period_ms" -> 11L),
      "GetLinuxHeadersStatus" ->
        j("asid" -> 1L, "kernel_headers_installed" -> true),
      "_DebugMDState" ->
        j("asid" -> 1L, "pod_name" -> "pl/vizier-pem-local",
          "debug_state" -> """{"epoch_id":1,"asid":1}""")) ++
    CatalogUdtfs.mdKvStore.filter(_._1.startsWith("md/pods/")).map {
      case (k, v) => "_DebugMDGetWithPrefix" -> j("key" -> k, "value" -> v)
    } ++
    CatalogUdtfs.tableNames.zipWithIndex.map { case (n, i) =>
      "_DebugTableInfo" -> j("asid" -> 1L, "name" -> n, "id" -> i.toLong,
        "batches_added" -> 1L, "batches_expired" -> 0L,
        "bytes_added" -> (1000L * (i + 1)), "num_batches" -> 1L,
        "compacted_batches" -> 0L, "size" -> (1000L * (i + 1)),
        "cold_size" -> 0L, "max_table_size" -> (64L * 1024 * 1024),
        "min_time" -> 0L)
    } ++
    Seq("GetTracepointStatus" -> """{"n":0}""") ++
    CatalogUdtfs.cronHistory.map { case (id, ts, err, ex, cmp, by) =>
      "GetCronScriptHistory" -> j("script_id" -> id, "timestamp" -> ts,
        "error_message" -> err, "execution_time_ns" -> ex,
        "compilation_time_ns" -> cmp, "bytes_processed" -> by)
    }

  private val q70Values = valuesSql(
    q70Rows.map { case (u, rj) =>
      s"('$u','${rj.replace("'", "''")}')"
    }, "udtf, row_json")

  private[queries] val schemaValues = valuesSql(
    schemaRows.flatMap { case (tn, cols) =>
      cols.zipWithIndex.map { case ((cn, ty), i) =>
        s"('$tn','$cn',${i + 1},'$ty')"
      }
    },
    "table_name, column_name, column_index, data_type")
}
