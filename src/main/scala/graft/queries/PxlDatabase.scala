package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.ProtocolOps
import graft.pxl.PxlRunner
import PxlGate._
import Q._

/** PxL gates for the database-protocol script family: the
  * mysql/pgsql/redis/cql/mongodb/mux data tables, their stats and flow
  * graphs, and the normalized `sql_queries` family. Scripts run
  * unmodified from the reference checkout; each oracle re-derives the
  * result from the raw fixture.
  */
object PxlDatabase extends Gates {

  val MysqlDataPxlPath = s"$RefPx/mysql_data/mysql_data.pxl"
  val RedisDataPxlPath = s"$RefPx/redis_data/redis_data.pxl"
  val PgsqlDataPxlPath = s"$RefPx/pgsql_data/pgsql_data.pxl"
  val MongodbDataPxlPath = s"$RefPx/mongodb_data/mongodb_data.pxl"
  val CqlDataPxlPath = s"$RefPx/cql_data/data.pxl"
  val MuxDataPxlPath = s"$RefPx/mux_data/data.pxl"
  val MysqlFlowPath = s"$RefPx/mysql_flow_graph/mysql_flow_graph.pxl"
  val PgsqlFlowPath = s"$RefPx/pgsql_flow_graph/pgsql_flow_graph.pxl"
  val CqlFlowPath = s"$RefPx/cql_flow_graph/cql_flow_graph.pxl"
  val RedisFlowPath = s"$RefPx/redis_flow_graph/redis_flow_graph.pxl"
  val MysqlStatsPath = s"$RefPx/mysql_stats/mysql_stats.pxl"
  val PgsqlStatsPath = s"$RefPx/pgsql_stats/pgsql_stats.pxl"
  val RedisStatsPath = s"$RefPx/redis_stats/redis_stats.pxl"
  val CqlStatsPath = s"$RefPx/cql_stats/cql_stats.pxl"
  val SqlQueriesPath = s"$RefPx/sql_queries/normed_sql_queries.pxl"
  val SqlQueryPath = s"$RefPx/sql_query/normed_sql_query.pxl"

  /** Float-ulp canonicalization for the flow-graph rollup's
    * request_throughput (a MEAN over per-window count/window_ns doubles):
    * Spark's sequential partial-sum and DuckDB's avg differ in the last
    * ulp (~1e-16 relative) because double summation is order-dependent —
    * not reproducible across engines by construction. Round at 9 dp in
    * per-window units then rescale; both engines land on the identical
    * double (q120-upid convention: canonicalize what the hash cannot
    * represent, values still fully checked).
    */
  private val canonThroughput =
    round(col("request_throughput") * 1e10, 9) / 1e10

  /** The four DB flow graphs run the same script body over different
    * tracer tables; on the shared tracerBase synth they differ only by
    * the namespace argument.
    */
  private def flowGraphOracle(nsIdx: Int): String =
    s"""WITH $eventsCte,
       |w AS (SELECT t, value AS latency,
       |        'pod-' || user_id || '-gen' || g AS pod,
       |        'ns' || (user_id % 10 % 3) AS namespace,
       |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
       |        CASE WHEN event_id % 5 = 0 THEN '-'
       |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
       |      FROM e WHERE user_id % 10 % 3 = $nsIdx),
       |x AS (SELECT t, latency, namespace,
       |        CASE WHEN is_server THEN is_ra_pod ELSE true END AS is_source_pod_type,
       |        CASE WHEN is_server THEN true ELSE is_ra_pod END AS is_dest_pod_type,
       |        CASE WHEN is_server THEN ra_name ELSE pod END AS source,
       |        CASE WHEN is_server THEN pod ELSE ra_name END AS destination
       |      FROM w),
       |q AS (SELECT t - t % 10000000000 AS ts_bin, source, destination,
       |        is_source_pod_type, is_dest_pod_type, namespace,
       |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
       |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
       |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
       |        count(latency) AS tt
       |      FROM x GROUP BY 1, 2, 3, 4, 5, 6)
       |SELECT source, destination, is_source_pod_type, is_dest_pod_type,
       |  namespace,
       |  avg(p50) AS latency_p50, avg(p90) AS latency_p90,
       |  avg(p99) AS latency_p99,
       |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
       |    AS request_throughput,
       |  CAST(sum(tt) AS BIGINT) AS throughput_total
       |FROM q GROUP BY 1, 2, 3, 4, 5
       |ORDER BY source, destination""".stripMargin

  /** pod LET destination: the pod itself server-side, the resolved
    * remote pod (or '-') client-side.
    */
  private val destSql =
    """CASE WHEN event_id % 3 <> 0 OR event_id % 5 <> 0
      |     THEN 'pod-' || user_id || '-gen' || g ELSE '-' END""".stripMargin

  /** pgsql/redis pod LET shape (no failure column). */
  private def podLetOracle(extraWhere: String): String =
    s"""WITH $eventsCte
       |SELECT t - t % 10000000000 AS time_, $destSql AS destination,
       |  CAST(floor(quantile_cont(value, 0.50)) AS BIGINT) AS latency_p50,
       |  CAST(floor(quantile_cont(value, 0.90)) AS BIGINT) AS latency_p90,
       |  CAST(floor(quantile_cont(value, 0.99)) AS BIGINT) AS latency_p99,
       |  count(value) / 10000000000 AS request_throughput
       |FROM e $extraWhere GROUP BY 1, 2 ORDER BY time_, destination""".stripMargin

  /** pg + mysql normalized-query streams (sql_queries/sql_query shape).
    * The synth queries carry one id literal, so normalization yields
    * `... WHERE id=$$1` / `... WHERE id=?` with params ["<id>"].
    */
  private val sqlStreamsCte =
    s"""pg AS (SELECT t - t % 10000000000 AS ts_bin,
       |        'SELECT * FROM rel' || (event_id % 7) || ' WHERE id=$$1'
       |          AS normed_query,
       |        '["' || (event_id % 100) || '"]' AS params,
       |        value AS latency
       |      FROM e WHERE event_id % 4 IN (0, 1)),
       |my AS (SELECT t - t % 10000000000 AS ts_bin,
       |        'SELECT * FROM t' || (event_id % 5) || ' WHERE id=?'
       |          AS normed_query,
       |        '["' || (event_id % 100) || '"]' AS params,
       |        value AS latency
       |      FROM e WHERE event_id % 32 IN (3, 23)),
       |u AS (SELECT * FROM pg UNION ALL SELECT * FROM my)""".stripMargin

  /** add_source_dest_columns over the tracerBase synth (q133 shape). */
  private val sourceDestCte =
    """w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
      |        'ns' || (user_id % 10 % 3) AS namespace,
      |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
      |        CASE WHEN event_id % 5 = 0 THEN '-'
      |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
      |      FROM e),
      |x AS (SELECT t, t - t % 10000000000 AS ts_bin, value AS latency,
      |        event_id, user_id, namespace,
      |        CASE WHEN is_server THEN is_ra_pod ELSE true END AS is_src_pod,
      |        CASE WHEN is_server THEN true ELSE is_ra_pod END AS is_dst_pod,
      |        CASE WHEN is_server THEN ra_name ELSE pod END AS source,
      |        CASE WHEN is_server THEN pod ELSE ra_name END AS destination
      |      FROM w)""".stripMargin

  /** px.bin over the DOUBLE latency at 5 ms: value - fmod(value, w),
    * truncated — exact in both engines (values are well inside 2^53).
    */
  private val latencyBinSql =
    "CAST(floor(value - fmod(value, 5000000.0)) AS BIGINT)"

  /** Whole-window LET summary over the edge-keyed window series: mean
    * throughput/error-rate (ulp-canonicalized), exact mean of the
    * floored p50 longs, exact total.
    */
  private def summaryOracle(extraWhere: String, withErrorRate: Boolean): String = {
    val err =
      if (withErrorRate)
        """round(avg(erw * (tt / 10000000000)) * 10000000000, 9)
          |    / 10000000000 AS error_rate,""".stripMargin
      else ""
    s"""WITH $eventsCte,
       |$sourceDestCte,
       |q AS (SELECT ts_bin, source, destination, is_src_pod, is_dst_pod,
       |        namespace,
       |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
       |        count(latency) AS tt,
       |        avg(CAST(failure AS DOUBLE)) AS erw
       |      FROM (SELECT x.*,
       |              CASE WHEN event_id % 4 = 3 THEN 1 ELSE 0 END AS failure
       |            FROM x $extraWhere)
       |      GROUP BY 1, 2, 3, 4, 5, 6)
       |SELECT ${linkSql("source", "is_src_pod")} AS source,
       |  ${linkSql("destination", "is_dst_pod")} AS destination,
       |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
       |    AS request_throughput,
       |  $err
       |  avg(p50) AS latency,
       |  CAST(sum(tt) AS BIGINT) AS total_requests
       |FROM q GROUP BY source, destination, is_src_pod, is_dst_pod, namespace
       |ORDER BY source, destination""".stripMargin
  }

  private val redisCmdSql =
    """CASE event_id % 6 WHEN 0 THEN 'GET' WHEN 1 THEN 'SET' WHEN 2 THEN 'DEL'
      |     WHEN 3 THEN 'INCR' WHEN 4 THEN 'EXPIRE' ELSE 'HGETALL' END""".stripMargin

  /** The shared flow-graph edge windows (q123–q126 shape) narrowed to
    * one namespace, summarized per edge, endpoints deep-linked.
    */
  private def summaryLinksOracle(nsIdx: Int): String =
    s"""WITH $eventsCte,
       |w AS (SELECT t, value AS latency,
       |        'pod-' || user_id || '-gen' || g AS pod,
       |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
       |        CASE WHEN event_id % 5 = 0 THEN '-'
       |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
       |      FROM e WHERE user_id % 10 % 3 = $nsIdx),
       |x AS (SELECT t, latency,
       |        CASE WHEN is_server THEN is_ra_pod ELSE true END AS is_src,
       |        CASE WHEN is_server THEN true ELSE is_ra_pod END AS is_dst,
       |        CASE WHEN is_server THEN ra_name ELSE pod END AS source,
       |        CASE WHEN is_server THEN pod ELSE ra_name END AS destination
       |      FROM w),
       |q AS (SELECT t - t % 10000000000 AS ts_bin, source, destination,
       |        is_src, is_dst,
       |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
       |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
       |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
       |        count(latency) AS tt
       |      FROM x GROUP BY 1, 2, 3, 4, 5)
       |SELECT ${linkSql("source", "is_src")} AS source,
       |  ${linkSql("destination", "is_dst")} AS destination,
       |  avg(p50) AS latency_p50, avg(p90) AS latency_p90,
       |  avg(p99) AS latency_p99,
       |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
       |    AS request_throughput,
       |  CAST(sum(tt) AS BIGINT) AS throughput_total
       |FROM q GROUP BY source, destination, is_src, is_dst
       |ORDER BY source, destination""".stripMargin

  /** px/sql_query deep link on the normalized query (add_query_links:
    * args {start, pod, query} in declaration order).
    */
  private def sqlLinkSql(c: String): String =
    s"""'{"label":"' || $c || '","script":"px/sql_query","args":{"start":"-45d","pod":"pod","query":"' || $c || '"}}'"""

  lazy val gates: Seq[Gate] = Seq(
    // The protocol data-tracer family: each script verbatim, full
    // row-level trace output (same add_source_dest/deep-link chain as
    // dns_data over its own stirling table).
    Gate("q101_pxl_mysql_data", (s, dir) =>
      PxlRunner.runFunction(script(MysqlDataPxlPath), Pxl.env(s, dir, nowNs),
          "mysql_data", Seq("-45d", "", "", "1000000"))
        .orderBy("time_", "resp_body"), oracle = tracerOracle(
      """remote_port, event_id % 32 AS req_cmd,
        |  'SELECT * FROM t' || (event_id % 5) || ' WHERE id=' ||
        |    (event_id % 100) AS req_body,
        |  event_id % 4 AS resp_status, 'resp-' || event_id AS resp_body,
        |  value AS latency""".stripMargin, "resp_body")),

    Gate("q102_pxl_redis_data", (s, dir) =>
      PxlRunner.runFunction(script(RedisDataPxlPath), Pxl.env(s, dir, nowNs),
          "redis_data", Seq("-45d", "", "", "1000000"))
        .orderBy("time_", "req_args"), oracle = tracerOracle(
      """remote_port,
        |  CASE event_id % 6 WHEN 0 THEN 'GET' WHEN 1 THEN 'SET' WHEN 2 THEN 'DEL'
        |       WHEN 3 THEN 'INCR' WHEN 4 THEN 'EXPIRE' ELSE 'HGETALL' END AS req_cmd,
        |  '["k' || event_id || '"]' AS req_args,
        |  CASE WHEN event_id % 2 = 0 THEN 'OK' ELSE 'v-' || event_id END AS resp,
        |  value AS latency""".stripMargin, "req_args")),

    Gate("q103_pxl_pgsql_data", (s, dir) =>
      PxlRunner.runFunction(script(PgsqlDataPxlPath), Pxl.env(s, dir, nowNs),
          "pgsql_data", Seq("-45d", "", "", "1000000"))
        .orderBy("time_", "resp"), oracle = tracerOracle(
      """remote_port, 'SELECT * FROM rel' || (event_id % 7) || ' WHERE id=' ||
        |    (event_id % 100) AS req,
        |  'SELECT ' || (event_id % 100) AS resp, value AS latency""".stripMargin,
      "resp")),

    Gate("q104_pxl_mongodb_data", (s, dir) =>
      PxlRunner.runFunction(script(MongodbDataPxlPath), Pxl.env(s, dir, nowNs),
          "mongodb_data", Seq("-45d", "", "", "1000000"))
        .orderBy("time_", "req_body"), oracle = tracerOracle(
      """CASE event_id % 4 WHEN 0 THEN 'find' WHEN 1 THEN 'insert'
        |       WHEN 2 THEN 'update' ELSE 'delete' END AS req_cmd,
        |  '{"q":' || (event_id % 9) || '}' AS req_body,
        |  event_id % 2 AS resp_status, '{"ok":1}' AS resp_body,
        |  value AS latency""".stripMargin, "req_body")),

    Gate("q105_pxl_cql_data", (s, dir) =>
      PxlRunner.runFunction(script(CqlDataPxlPath), Pxl.env(s, dir, nowNs),
          "cql_data", Seq("-45d", "", "", "1000000"))
        .orderBy("time_", "resp_body"), oracle = tracerOracle(
      s"""value AS latency,
         |  ${graft.functions.ProtocolOps.cqlOpcodeName.sql("(event_id % 20)")} AS req_op,
         |  'SELECT * FROM ks.tbl' || (event_id % 6) AS req_body,
         |  ${graft.functions.ProtocolOps.cqlOpcodeName.sql("((event_id + 3) % 20)")} AS resp_op,
         |  'rows-' || (event_id % 50) AS resp_body""".stripMargin, "resp_body")),

    Gate("q106_pxl_mux_data", (s, dir) =>
      PxlRunner.runFunction(script(MuxDataPxlPath), Pxl.env(s, dir, nowNs),
          "mux_data", Seq("-45d", "1000000"))
        .orderBy("time_", "req_name"), oracle = tracerOracle(
      s"""value AS latency,
         |  ${graft.functions.ProtocolOps.muxFrameTypeName.sql("((event_id % 260) - 130)")} AS req_name""".stripMargin,
      "req_name")),

    // The four DB flow graphs share one canonical shape: source/dest via
    // the ip->pod chain, 10s LET windows with latency quantiles, then a
    // per-edge rollup of the window series.
    Gate("q123_pxl_mysql_flow", (s, dir) =>
      PxlRunner.runFunction(script(MysqlFlowPath), Pxl.env(s, dir, nowNs),
          "mysql_flow_graph", Seq("-45d", "ns1", "", ""))
        .withColumn("request_throughput", canonThroughput)
        .orderBy("source", "destination"), oracle = flowGraphOracle(1)),

    Gate("q124_pxl_pgsql_flow", (s, dir) =>
      PxlRunner.runFunction(script(PgsqlFlowPath), Pxl.env(s, dir, nowNs),
          "pgsql_flow_graph", Seq("-45d", "ns0", "", ""))
        .withColumn("request_throughput", canonThroughput)
        .orderBy("source", "destination"), oracle = flowGraphOracle(0)),

    Gate("q125_pxl_cql_flow", (s, dir) =>
      PxlRunner.runFunction(script(CqlFlowPath), Pxl.env(s, dir, nowNs),
          "cql_flow_graph", Seq("-45d", "ns2", "", ""))
        .withColumn("request_throughput", canonThroughput)
        .orderBy("source", "destination"), oracle = flowGraphOracle(2)),

    Gate("q126_pxl_redis_flow", (s, dir) =>
      PxlRunner.runFunction(script(RedisFlowPath), Pxl.env(s, dir, nowNs),
          "redis_flow_graph", Seq("-45d", "ns1", "", ""))
        .withColumn("request_throughput", canonThroughput)
        .orderBy("source", "destination"), oracle = flowGraphOracle(1)),

    // The protocol stats family (pod LET views).
    Gate("q127_pxl_mysql_stats", (s, dir) =>
      PxlRunner.runFunction(script(MysqlStatsPath), Pxl.env(s, dir, nowNs),
          "pod_mysql_let", Seq("-45d", "pod"))
        .orderBy("time_", "destination"), oracle =
      s"""WITH $eventsCte,
         |sd AS (SELECT t, value AS latency, $destSql AS destination,
         |         CASE WHEN event_id % 4 = 3 THEN 1 ELSE 0 END AS failure
         |       FROM e WHERE event_id % 4 <> 1)
         |SELECT t - t % 10000000000 AS time_, destination,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99,
         |  avg(CAST(failure AS DOUBLE)) * (count(latency) / 10000000000)
         |    AS error_rate,
         |  count(latency) / 10000000000 AS request_throughput
         |FROM sd GROUP BY 1, 2 ORDER BY time_, destination""".stripMargin),

    Gate("q128_pxl_pgsql_stats", (s, dir) =>
      PxlRunner.runFunction(script(PgsqlStatsPath), Pxl.env(s, dir, nowNs),
          "pod_pgsql_let", Seq("-45d", "pod"))
        .orderBy("time_", "destination"), oracle = podLetOracle("")),

    Gate("q129_pxl_redis_stats", (s, dir) =>
      PxlRunner.runFunction(script(RedisStatsPath), Pxl.env(s, dir, nowNs),
          "pod_redis_let", Seq("-45d", "pod"))
        .orderBy("time_", "destination"), oracle = podLetOracle("")),

    // cql_stats groups on (pod, window, remote_addr) and left-joins the
    // quantiles computed over the resp_op != 0 subset — windows whose
    // requests all lack responses carry null latencies.
    Gate("q130_pxl_cql_stats", (s, dir) =>
      PxlRunner.runFunction(script(CqlStatsPath), Pxl.env(s, dir, nowNs),
          "pod_cql_let", Seq("-45d", "pod"))
        .orderBy("time_", "k8s", "`CQL IP`"), oracle =
      s"""WITH $eventsCte,
         |b AS (SELECT t - t % 10000000000 AS ts_bin,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        CASE WHEN event_id % 5 = 0 THEN '-' ELSE $selfIpSql END
         |          AS remote_addr,
         |        value AS latency, (event_id + 3) % 20 AS resp_op,
         |        CASE WHEN (event_id + 3) % 20 = 0 THEN 1 ELSE 0 END AS failure
         |      FROM e),
         |et AS (SELECT pod, ts_bin, remote_addr, count(latency) AS tt,
         |         avg(CAST(failure AS DOUBLE)) AS erw
         |       FROM b GROUP BY 1, 2, 3),
         |lcy AS (SELECT pod, ts_bin, remote_addr,
         |          quantile_cont(latency, 0.50) AS p50,
         |          quantile_cont(latency, 0.90) AS p90,
         |          quantile_cont(latency, 0.99) AS p99
         |        FROM b WHERE resp_op <> 0 GROUP BY 1, 2, 3)
         |SELECT et.ts_bin AS time_, et.pod AS k8s, et.remote_addr AS "CQL IP",
         |  p50 AS latency_p50, p90 AS latency_p90, p99 AS latency_p99,
         |  erw * (tt / 10000000000) AS error_rate,
         |  tt / 10000000000 AS request_throughput
         |FROM et LEFT JOIN lcy ON et.pod = lcy.pod AND et.ts_bin = lcy.ts_bin
         |  AND et.remote_addr = lcy.remote_addr
         |ORDER BY time_, k8s, "CQL IP"""".stripMargin),

    // sql_queries: normalize pgsql Query/Execute + mysql COM_QUERY/
    // COM_STMT_EXECUTE traffic, append, LET per (window, normed query).
    Gate("q158_pxl_sql_queries", (s, dir) =>
      PxlRunner.runFunction(script(SqlQueriesPath), Pxl.env(s, dir, nowNs),
          "pod_sql_let", Seq("-45d", "pod"))
        .orderBy("time_", "normed_query"), oracle =
      s"""WITH $eventsCte,
         |$sqlStreamsCte
         |SELECT ts_bin AS time_, normed_query,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99,
         |  count(latency) / 10000000000 AS request_throughput
         |FROM u GROUP BY 1, 2 ORDER BY time_, normed_query""".stripMargin),

    // sql_query: the same pipeline grouped by (query, params) and
    // filtered to one normalized query.
    Gate("q159_pxl_sql_query", (s, dir) =>
      PxlRunner.runFunction(script(SqlQueryPath), Pxl.env(s, dir, nowNs),
          "pod_sql_let", Seq("-45d", "pod", "SELECT * FROM rel3 WHERE id=$1"))
        .orderBy("time_", "params"), oracle =
      s"""WITH $eventsCte,
         |$sqlStreamsCte
         |SELECT ts_bin AS time_, normed_query, params,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99,
         |  count(latency) / 10000000000 AS request_throughput
         |FROM u WHERE normed_query = 'SELECT * FROM rel3 WHERE id=$$1'
         |GROUP BY 1, 2, 3 ORDER BY time_, params""".stripMargin),

    // mysql_stats latency_histogram: 5ms-binned latency counts over the
    // none-code-filtered table.
    Gate("q178_pxl_mysql_latency_hist", (s, dir) =>
      PxlRunner.runFunction(script(MysqlStatsPath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", ""))
        .orderBy("request_latency"), oracle =
      // mysql histogram: none-code filter (resp_status = event_id%4 <> 1).
      s"""WITH $eventsCte
         |SELECT $latencyBinSql AS request_latency, count(*) AS "count"
         |FROM e WHERE event_id % 4 <> 1
         |GROUP BY 1 ORDER BY request_latency""".stripMargin),

    // mysql_stats summary_mysql_let: whole-window LET summary per
    // source->destination edge, with script_reference deep links.
    Gate("q179_pxl_mysql_summary", (s, dir) =>
      PxlRunner.runFunction(script(MysqlStatsPath), Pxl.env(s, dir, nowNs),
          "summary_mysql_let", Seq("-45d", "pod"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("error_rate", canon("error_rate"))
        .orderBy("source", "destination"), oracle =
      summaryOracle("WHERE event_id % 4 <> 1", withErrorRate = true)),

    Gate("q180_pxl_redis_latency_hist", (s, dir) =>
      PxlRunner.runFunction(script(RedisStatsPath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", ""))
        .orderBy("request_latency"), oracle =
      s"""WITH $eventsCte
         |SELECT $latencyBinSql AS request_latency, count(*) AS "count"
         |FROM e GROUP BY 1 ORDER BY request_latency""".stripMargin),

    // redis has no failure column: summary is throughput/latency/total.
    Gate("q181_pxl_redis_summary", (s, dir) =>
      PxlRunner.runFunction(script(RedisStatsPath), Pxl.env(s, dir, nowNs),
          "summary_redis_let", Seq("-45d", "pod"))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination"), oracle = summaryOracle("", withErrorRate = false)),

    // redis cmd_timeseries: per-window command throughput.
    Gate("q182_pxl_redis_cmds", (s, dir) =>
      PxlRunner.runFunction(script(RedisStatsPath), Pxl.env(s, dir, nowNs),
          "cmd_timeseries", Seq("-45d", ""))
        .orderBy("time_", "req_cmd"), oracle =
      s"""WITH $eventsCte
         |SELECT t - t % 10000000000 AS time_, $redisCmdSql AS req_cmd,
         |  count(*) AS throughput_total
         |FROM e GROUP BY 1, 2 ORDER BY time_, req_cmd""".stripMargin),

    Gate("q183_pxl_pgsql_summary", (s, dir) =>
      PxlRunner.runFunction(script(PgsqlStatsPath), Pxl.env(s, dir, nowNs),
          "summary_pgsql_let", Seq("-45d", "pod"))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination"), oracle = summaryOracle("", withErrorRate = false)),

    // cql summary keys on (pod, CQL IP); latency is the mean of the
    // UN-floored per-window p50 doubles (format_LET_aggs in cql_stats
    // has no floor). Canonicalization note: the fixture's values are
    // 2 dp decimals, so window medians are multiples of 0.005 and their
    // means land EXACTLY on every decimal rounding boundary (x.xx5) —
    // both engines' parallel-summation noise (~1e-9) then decides the
    // round direction, which was observed flaky at any plain grid. The
    // gate therefore rounds on a SHIFTED grid, round(x + 0.00217, 2):
    // measured min distance of every group's true mean to a boundary is
    // 1.75e-5 at sf0.01 AND sf0.1 — 4 orders above the noise. The rate
    // columns keep the scaled 9 dp canon: their true values sit on the
    // count/1e10 grid, never near boundaries.
    Gate("q184_pxl_cql_summary", (s, dir) =>
      PxlRunner.runFunction(script(CqlStatsPath), Pxl.env(s, dir, nowNs),
          "summary_cql_let", Seq("-45d", "pod"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("error_rate", canon("error_rate"))
        .withColumn("latency", round(col("latency") + 0.00217, 2))
        .orderBy("pod", "`CQL IP`"), oracle =
      // cql: windows keyed (pod, ts_bin, remote_addr); latency quantiles
      // over the responded subset only (q130 convention), then summarized
      // per (pod, CQL IP).
      s"""WITH $eventsCte,
         |b AS (SELECT t - t % 10000000000 AS ts_bin,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        CASE WHEN event_id % 5 = 0 THEN '-'
         |             ELSE '10.' || (10 + g) || '.' || (user_id % 250) || '.'
         |               || (1 + user_id // 250) END AS remote_addr,
         |        value AS latency, (event_id + 3) % 20 AS resp_op,
         |        CASE WHEN (event_id + 3) % 20 = 0 THEN 1 ELSE 0 END AS failure
         |      FROM e),
         |et AS (SELECT pod, ts_bin, remote_addr, count(latency) AS tt,
         |         avg(CAST(failure AS DOUBLE)) AS erw
         |       FROM b GROUP BY 1, 2, 3),
         |lcy AS (SELECT pod, ts_bin, remote_addr,
         |          quantile_cont(latency, 0.50) AS p50
         |        FROM b WHERE resp_op <> 0 GROUP BY 1, 2, 3)
         |SELECT et.pod,
         |  et.remote_addr AS "CQL IP",
         |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
         |    AS request_throughput,
         |  round(avg(erw * (tt / 10000000000)) * 10000000000, 9)
         |    / 10000000000 AS error_rate,
         |  round(avg(p50) + 0.00217, 2) AS latency,
         |  CAST(sum(tt) AS BIGINT) AS total_requests
         |FROM et LEFT JOIN lcy ON et.pod = lcy.pod AND et.ts_bin = lcy.ts_bin
         |  AND et.remote_addr = lcy.remote_addr
         |GROUP BY 1, 2 ORDER BY et.pod, "CQL IP"""".stripMargin),

    // cql cmd_timeseries: opcode names via px.cql_opcode_name.
    Gate("q185_pxl_cql_cmds", (s, dir) =>
      PxlRunner.runFunction(script(CqlStatsPath), Pxl.env(s, dir, nowNs),
          "cmd_timeseries", Seq("-45d", ""))
        .orderBy("time_", "req_op"), oracle =
      s"""WITH $eventsCte
         |SELECT t - t % 10000000000 AS time_,
         |  ${ProtocolOps.cqlOpcodeName.sql("(event_id % 20)")} AS req_op,
         |  count(*) AS throughput_total
         |FROM e GROUP BY 1, 2 ORDER BY time_, req_op""".stripMargin),

    // cql_stats latency_histogram: 50ms bins over all cql traffic (pod
    // filter '' matches every pod; fixture pods are never empty).
    Gate("q194_pxl_cql_latency_hist", (s, dir) =>
      PxlRunner.runFunction(script(CqlStatsPath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", ""))
        .orderBy("request_latency"), oracle =
      // cql histogram: all events (no resp filter; pods never empty).
      s"""WITH $eventsCte
         |SELECT CAST(floor(value - fmod(value, 50000000.0)) AS BIGINT)
         |    AS request_latency,
         |  count(*) AS "count"
         |FROM e GROUP BY 1 ORDER BY request_latency""".stripMargin),

    // pgsql_stats latency_histogram: 50ms bins after the source/dest
    // formatting (contains '' passes every edge).
    Gate("q195_pxl_pgsql_latency_hist", (s, dir) =>
      PxlRunner.runFunction(script(PgsqlStatsPath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", ""))
        .orderBy("request_latency"), oracle =
      s"""WITH $eventsCte
         |SELECT CAST(floor(value - fmod(value, 50000000.0)) AS BIGINT)
         |    AS request_latency,
         |  count(*) AS "count"
         |FROM e GROUP BY 1 ORDER BY request_latency""".stripMargin),

    // The four flow-graph summaries: per-edge means of the per-window
    // floored quantile longs + deep-linked endpoints.
    Gate("q197_pxl_mysql_summary_links", (s, dir) =>
      PxlRunner.runFunction(script(MysqlFlowPath), Pxl.env(s, dir, nowNs),
          "mysql_summary_with_links", Seq("-45d", "ns1", "", ""))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination"), oracle = summaryLinksOracle(1)),

    Gate("q198_pxl_pgsql_summary_links", (s, dir) =>
      PxlRunner.runFunction(script(PgsqlFlowPath), Pxl.env(s, dir, nowNs),
          "pgsql_summary_with_links", Seq("-45d", "ns0", "", ""))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination"), oracle = summaryLinksOracle(0)),

    Gate("q199_pxl_cql_summary_links", (s, dir) =>
      PxlRunner.runFunction(script(CqlFlowPath), Pxl.env(s, dir, nowNs),
          "cql_summary_with_links", Seq("-45d", "ns2", "", ""))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination"), oracle = summaryLinksOracle(2)),

    Gate("q200_pxl_redis_summary_links", (s, dir) =>
      PxlRunner.runFunction(script(RedisFlowPath), Pxl.env(s, dir, nowNs),
          "redis_summary_with_links", Seq("-45d", "ns1", "", ""))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination"), oracle = summaryLinksOracle(1)),

    // sql_queries summary_sql_let: whole-range per-normalized-query
    // rollup with px/sql_query deep links.
    Gate("q201_pxl_sql_summary", (s, dir) =>
      PxlRunner.runFunction(script(SqlQueriesPath), Pxl.env(s, dir, nowNs),
          "summary_sql_let", Seq("-45d", "pod"))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("normed_query"), oracle =
      s"""WITH $eventsCte,
         |${sqlStreamsCte},
         |q AS (SELECT ts_bin, normed_query,
         |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
         |        count(latency) AS tt
         |      FROM u GROUP BY 1, 2)
         |SELECT ${sqlLinkSql("normed_query")} AS normed_query,
         |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
         |    AS request_throughput,
         |  avg(p50) AS latency,
         |  CAST(sum(tt) AS BIGINT) AS total_requests
         |FROM q GROUP BY q.normed_query ORDER BY normed_query""".stripMargin),

    // sql_query summary_sql_let: same rollup keyed (query, params) —
    // no deep links in this variant.
    Gate("q202_pxl_sql_query_summary", (s, dir) =>
      PxlRunner.runFunction(script(SqlQueryPath), Pxl.env(s, dir, nowNs),
          "summary_sql_let",
          Seq("-45d", "pod", "SELECT * FROM rel3 WHERE id=$1"))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("params"), oracle =
      s"""WITH $eventsCte,
         |${sqlStreamsCte},
         |q AS (SELECT ts_bin, normed_query, params,
         |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
         |        count(latency) AS tt
         |      FROM u WHERE normed_query = 'SELECT * FROM rel3 WHERE id=$$1'
         |      GROUP BY 1, 2, 3)
         |SELECT params, normed_query,
         |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
         |    AS request_throughput,
         |  avg(p50) AS latency,
         |  CAST(sum(tt) AS BIGINT) AS total_requests
         |FROM q GROUP BY normed_query, params ORDER BY params""".stripMargin)
  )
}
