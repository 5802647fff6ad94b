package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import graft.sources.CatalogUdtfs
import PxlGate._
import Q._

/** PxL gates for the cluster and admin script family: cluster, nodes,
  * namespaces, pods and pod detail, agent status and diagnostics,
  * schemas, UDF/UDTF catalogs, tracepoints, Stirling errors, JVM stats,
  * UPIDs and the perf flamegraphs. Scripts run unmodified from the
  * reference checkout; each oracle re-derives the result from the raw
  * fixture.
  */
object PxlCluster extends Gates {

  val AgentStatusPath = s"$RefPx/agent_status/agent_status.pxl"
  val SchemasPath = s"$RefPx/schemas/schemas.pxl"
  val FuncsPath = s"$RefPx/funcs/funcs.pxl"
  val TracepointsPath = s"$RefPx/tracepoint_status/tracepoint_status.pxl"
  val StirlingErrorsPath = s"$RefPx/stirling_errors/stirling_errors.pxl"
  val UpidsPath = s"$RefPx/upids/upids.pxl"
  val FlamegraphPath = s"$RefPx/perf_flamegraph/flamegraph.pxl"
  val NodesPath = s"$RefPx/nodes/nodes.pxl"
  val NodePath = s"$RefPx/node/node.pxl"
  val NamespacePath = s"$RefPx/namespace/namespace.pxl"
  val PodMemoryPath = s"$RefPx/pod_memory_usage/pod.pxl"
  val JvmDataPath = s"$RefPx/jvm_data/stats.pxl"
  val AgentDiagPath = s"$RefPx/agent_status_diagnostics/agent_status.pxl"
  val PodLifetimePath = s"$RefPx/pod_lifetime_resource/resource.pxl"
  val DiffFlamePath = s"$RefPx/differential_flamegraph/differential.pxl"
  val PodPath = s"$RefPx/pod/pod.pxl"
  val JvmStatsPath = s"$RefPx/jvm_stats/jvm_stats.pxl"
  val PodsPath = s"$RefPx/pods/pods.pxl"
  val ClusterPath = s"$RefPx/cluster/cluster.pxl"
  val HeapsPath = s"$RefPx/collect_agent_heaps/collect_agent_heaps.pxl"

  /** The pod.pxl single-pod window: user 7's generation-1 rows. */
  private def pod7Gen1Cte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id, event_id
       |      FROM events WHERE user_id = 7
       |        AND epoch_us(ts) * 1000 >= $splitNs
       |        AND epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin

  private def valuesSql(rows: Seq[String], cols: String): String =
    rows.mkString(s"(VALUES ", ", ", s") AS v($cols)")

  private val statusSql =
    """CASE event_id % 3 WHEN 0 THEN 'OK' WHEN 1 THEN 'INTERNAL'
      |     ELSE 'FAILED_PRECONDITION' END""".stripMargin

  private val errorSql =
    "CASE WHEN event_id % 3 = 0 THEN '' ELSE 'error-' || event_id END"

  /** Float-ulp canonicalization (PxlDatabase.canonThroughput convention) for
    * sums/means of per-window counter-delta rates: integer-valued after
    * rescaling by window_ns, so rounding there recovers a cross-engine
    * exact double.
    */
  private def canonRate(name: String): Column =
    round(col(name) * 1e10, 6) / 1e10

  private def canonRates(df: org.apache.spark.sql.DataFrame,
                         names: String*): org.apache.spark.sql.DataFrame =
    names.foldLeft(df)((d, n) => d.withColumn(n, canonRate(n)))

  private val podStatusSql =
    """CASE user_id % 4 WHEN 0 THEN 'Running' WHEN 1 THEN 'Pending'
      |     WHEN 2 THEN 'Succeeded' ELSE 'Failed' END""".stripMargin

  /** DuckDB side of [[canonRate]]. */
  private def canonSql(x: String): String =
    s"round(($x) * 10000000000, 6) / 10000000000"

  /** Server-side http rows srv and their per-service rates and latency
      * quantiles (rates, q) over the `h` helper CTE.
      */
  private val srvLetCtes: String =
    s"""srv AS (SELECT * FROM h WHERE event_id % 3 <> 0),
       |pw AS (SELECT ts_bin, service, count(latency) AS tput,
       |         CAST(sum(req_body_size0) AS BIGINT) AS inb,
       |         CAST(sum(resp_body_size) AS BIGINT) AS outb
       |       FROM srv GROUP BY 1, 2),
       |rates AS (SELECT service,
       |    ${canonSql("avg(tput / 10000000000)")} AS http_request_throughput,
       |    ${canonSql("avg(inb / 10000000000)")} AS inbound_http_throughput,
       |    ${canonSql("avg(outb / 10000000000)")} AS outbound_http_throughput
       |  FROM pw GROUP BY 1),
       |q AS (SELECT service,
       |        quantile_cont(latency, 0.50) AS latency_p50,
       |        quantile_cont(latency, 0.99) AS latency_p99,
       |        avg(CAST(failure AS DOUBLE)) AS http_error_rate
       |      FROM srv GROUP BY 1)""".stripMargin

  /** pod-7-gen1 inbound (server-traced) non-health rows. */
  private val pod7InboundCte =
    s"""f AS (SELECT t, t - t % 10000000000 AS ts_bin, value AS latency,
       |        event_id,
       |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
       |          AS failure
       |      FROM e WHERE user_id = 7 AND g = 1 AND event_id % 3 <> 0
       |        AND event_id % 25 <> 0 AND event_id % 25 <> 1
       |        AND event_id % 5 <> 0)""".stripMargin

  /** The ns1 inbound rows (pods.pxl helper): server-traced, resolved. */
  private val ns1InboundCte =
    s"""f AS (SELECT t, t - t % 10000000000 AS ts_bin, value AS latency,
       |        event_id,
       |        'pod-' || user_id || '-gen' || g AS pod,
       |        '10.' || (10 + g) || '.' || (user_id % 250) || '.' ||
       |          (1 + user_id // 250) AS remote_addr,
       |        'svc-' || (user_id % 10) AS svc,
       |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
       |          AS failure
       |      FROM e WHERE user_id % 10 % 3 = 1 AND event_id % 3 <> 0
       |        AND event_id % 25 <> 0 AND event_id % 25 <> 1
       |        AND event_id % 5 <> 0)""".stripMargin

  private val windowNs = 45L * 86400L * 1000000000L

  lazy val gates: Seq[Gate] = Seq(
    // pods.pxl `pods`: container->pod rollup with pod_name_to_start_time/
    // status metadata scalars; ctx['namespace'] compared INSIDE a filter
    // (the ConvertMetadataRule in-place expansion path).
    Gate("q84_pxl_pods_list", (s, dir) =>
      PxlRunner.runFunction(script(PodsPath), Pxl.env(s, dir, nowNs),
          "pods", Seq("-45d", "ns1"))
        .orderBy("pod"), oracle =
      s"""WITH ${filteredEventsCte()},
         |w AS (SELECT DISTINCT 'svc-' || (user_id % 10) AS service,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        'ctr-' || user_id || '-g' || g AS container,
         |        user_id, g
         |      FROM e WHERE (user_id % 10 % 3) = 1),
         |p AS (SELECT service, pod, count(container) AS containers,
         |        any_value(user_id) AS user_id, any_value(g) AS gg
         |      FROM w GROUP BY 1, 2)
         |SELECT pod, service,
         |  CASE WHEN gg = 0 THEN 0 ELSE $splitNs END AS start_time,
         |  containers, $podStatusSql AS status
         |FROM p ORDER BY pod""".stripMargin),

    // pods.pxl `resource_timeseries`: the two-level (upid, pod, window)
    // counter rollup.
    Gate("q85_pxl_pods_resource", (s, dir) =>
      PxlRunner.runFunction(script(PodsPath), Pxl.env(s, dir, nowNs),
          "resource_timeseries", Seq("-45d", "ns1"))
        .orderBy("pod", "time_"), oracle =
      // upids are per-event in the process_stats synth, so the counter
      // max-min deltas collapse to 0 (the verbatim script's own semantics
      // on this fixture); rss/vsize carry the real sums.
      s"""WITH ${filteredEventsCte()},
         |w AS (SELECT t - t % 10000000000 AS ts_bin,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        (50 + event_id % 450) * 1048576 AS rss_b,
         |        (100 + event_id % 900) * 1048576 AS vsize_b
         |      FROM e WHERE (user_id % 10 % 3) = 1)
         |SELECT pod, ts_bin AS time_,
         |  sum(CAST(rss_b AS DOUBLE)) AS rss,
         |  sum(CAST(vsize_b AS DOUBLE)) AS vsize,
         |  CAST(0 AS DOUBLE) AS actual_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS actual_disk_write_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_write_throughput,
         |  CAST(0 AS DOUBLE) AS cpu_usage
         |FROM w GROUP BY 1, 2 ORDER BY pod, ts_bin""".stripMargin),

    // pods.pxl `inbound_let_timeseries`: HTTP LET per (pod, 10s window).
    Gate("q86_pxl_pods_inbound", (s, dir) =>
      PxlRunner.runFunction(script(PodsPath), Pxl.env(s, dir, nowNs),
          "inbound_let_timeseries", Seq("-45d", "ns1"))
        .orderBy("time_", "pod"), oracle =
      s"""WITH ${filteredEventsCte()},
         |h AS (SELECT *, 100 + event_id % 460 AS resp_status,
         |        value AS latency,
         |        CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |             WHEN event_id % 25 = 1 THEN '/readyz'
         |             ELSE '/api/v1/users/' || user_id END AS req_path,
         |        CASE WHEN event_id % 5 = 0 THEN '-' ELSE '10.x' END AS remote_addr,
         |        100 + event_id % 1000 AS resp_body_size
         |      FROM e WHERE event_id % 3 <> 0 AND (user_id % 10 % 3) = 1),
         |f AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
         |        t - t % 10000000000 AS ts_bin,
         |        CASE WHEN resp_status >= 400 THEN 1 ELSE 0 END AS failure
         |      FROM h WHERE req_path <> '/healthz' AND req_path <> '/readyz'
         |        AND remote_addr <> '-'),
         |a AS (SELECT pod, ts_bin,
         |        quantile_cont(latency, 0.50) AS p50d,
         |        quantile_cont(latency, 0.90) AS p90d,
         |        quantile_cont(latency, 0.99) AS p99d,
         |        avg(CAST(failure AS DOUBLE)) AS erw,
         |        count(latency) AS tput,
         |        CAST(sum(resp_body_size) AS BIGINT) AS bytes_total
         |      FROM f GROUP BY 1, 2)
         |SELECT ts_bin AS time_, pod,
         |  CAST(floor(p50d) AS BIGINT) AS latency_p50,
         |  CAST(floor(p90d) AS BIGINT) AS latency_p90,
         |  CAST(floor(p99d) AS BIGINT) AS latency_p99,
         |  tput / 10000000000 AS request_throughput,
         |  erw AS error_rate,
         |  bytes_total / 10000000000 AS bytes_per_ns
         |FROM a ORDER BY time_, pod""".stripMargin),

    // cluster.pxl `nodes_for_cluster` through the REAL pxviews module:
    // px.now() + px.parse_duration(...) numeric start_time.
    Gate("q90_pxl_cluster_nodes", (s, dir) =>
      PxlRunner.runFunction(script(ClusterPath), Pxl.env(s, dir, nowNs),
          "nodes_for_cluster", Seq("-45d"))
        .orderBy("node"), oracle =
      s"""WITH ${filteredEventsCte()},
         |pods AS (SELECT DISTINCT 'node-' || (user_id % 5) AS node,
         |        'pod-' || user_id || '-gen' || g AS pod FROM e),
         |pc AS (SELECT node, count(pod) AS pod_count FROM pods GROUP BY 1)
         |SELECT node, CAST(0 AS DOUBLE) AS cpu_usage, pod_count
         |FROM pc ORDER BY node""".stripMargin),

    // cluster.pxl `pods_for_cluster` (pxviews.pod_resource_stats).
    Gate("q91_pxl_cluster_pods", (s, dir) =>
      PxlRunner.runFunction(script(ClusterPath), Pxl.env(s, dir, nowNs),
          "pods_for_cluster", Seq("-45d"))
        .orderBy("pod"), oracle =
      s"""WITH ${filteredEventsCte()}
         |SELECT DISTINCT 'pod-' || user_id || '-gen' || g AS pod,
         |  CAST(0 AS DOUBLE) AS cpu_usage,
         |  CAST(0 AS DOUBLE) AS total_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_write_throughput,
         |  CAST(1 AS BIGINT) AS container_count,
         |  'node-' || (user_id % 5) AS node,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS start_time,
         |  $podStatusSql AS status
         |FROM e ORDER BY pod""".stripMargin),

    // cluster.pxl `namespaces_for_cluster` (container_process_summary
    // rollup + two pod/service count merges).
    Gate("q92_pxl_cluster_ns", (s, dir) =>
      PxlRunner.runFunction(script(ClusterPath), Pxl.env(s, dir, nowNs),
          "namespaces_for_cluster", Seq("-45d"))
        .orderBy("namespace"), oracle =
      s"""WITH ${filteredEventsCte()},
         |w AS (SELECT *, 'ns' || (user_id % 10 % 3) AS namespace,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        'svc-' || (user_id % 10) AS service,
         |        (100 + event_id % 900) * 1048576 AS vsize_b,
         |        (50 + event_id % 450) * 1048576 AS rss_b
         |      FROM e),
         |pc AS (SELECT namespace, count(pod) AS pod_count
         |       FROM (SELECT DISTINCT namespace, pod FROM w) GROUP BY 1),
         |sc AS (SELECT namespace, count(service) AS service_count
         |       FROM (SELECT DISTINCT namespace, service FROM w) GROUP BY 1),
         |io AS (SELECT namespace, sum(CAST(vsize_b AS DOUBLE)) AS vsize,
         |         sum(CAST(rss_b AS DOUBLE)) AS rss FROM w GROUP BY 1)
         |SELECT pc.namespace, pod_count, service_count, vsize, rss
         |FROM pc JOIN sc ON pc.namespace = sc.namespace
         |        JOIN io ON pc.namespace = io.namespace
         |ORDER BY pc.namespace""".stripMargin),

    // pod.pxl — the single-pod drill-down script, one entry per function.
    Gate("q96_pxl_pod_containers", (s, dir) =>
      PxlRunner.runFunction(script(PodPath), Pxl.env(s, dir, nowNs),
          "containers", Seq("-45d", "pod-7-gen1"))
        .orderBy("name"), oracle =
      s"""WITH $pod7Gen1Cte
         |SELECT DISTINCT 'ctr-' || user_id || '-g1' AS name,
         |  'cid-' || user_id || '-g1' AS id,
         |  CASE user_id % 3 WHEN 0 THEN 'Running' WHEN 1 THEN 'Waiting'
         |       ELSE 'Terminated' END AS status
         |FROM e ORDER BY name""".stripMargin),

    Gate("q97_pxl_pod_node", (s, dir) =>
      PxlRunner.runFunction(script(PodPath), Pxl.env(s, dir, nowNs),
          "node", Seq("-45d", "pod-7-gen1"))
        .orderBy("node"), oracle =
      s"""WITH $pod7Gen1Cte
         |SELECT DISTINCT 'node-' || (user_id % 5) AS node,
         |  'svc-' || (user_id % 10) AS service,
         |  'pid-' || user_id || '-g1' AS pod_id,
         |  $splitNs AS pod_start_time, $podStatusSql AS status
         |FROM e ORDER BY node""".stripMargin),

    // (pod.pxl `processes` emits the raw binary upid column, which the
    // oracle hash cannot represent — it is exercised by PxlSpec instead.)
    Gate("q99_pxl_pod_resource", (s, dir) =>
      PxlRunner.runFunction(script(PodPath), Pxl.env(s, dir, nowNs),
          "resource_timeseries", Seq("-45d", "pod-7-gen1"))
        .orderBy("time_"), oracle =
      s"""WITH $pod7Gen1Cte,
         |w AS (SELECT t - t % 10000000000 AS ts_bin,
         |        'ctr-' || user_id || '-g1' AS container,
         |        (50 + event_id % 450) * 1048576 AS rss_b,
         |        (100 + event_id % 900) * 1048576 AS vsize_b
         |      FROM e)
         |SELECT ts_bin AS time_, container,
         |  sum(CAST(rss_b AS DOUBLE)) AS rss,
         |  sum(CAST(vsize_b AS DOUBLE)) AS vsize,
         |  CAST(0 AS DOUBLE) AS actual_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS actual_disk_write_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_write_throughput,
         |  CAST(0 AS DOUBLE) AS cpu_usage
         |FROM w GROUP BY 1, 2 ORDER BY ts_bin""".stripMargin),

    Gate("q100_pxl_pod_network", (s, dir) =>
      PxlRunner.runFunction(script(PodPath), Pxl.env(s, dir, nowNs),
          "network_timeseries", Seq("-45d", "pod-7-gen1"))
        .orderBy("time_"), oracle =
      s"""WITH $pod7Gen1Cte,
         |b AS (SELECT t - t % 10000000000 AS ts_bin, us FROM e),
         |a AS (SELECT ts_bin,
         |    (max(us) - min(us)) / 10000000000 AS rx_bytes_per_ns,
         |    (max(us // 2) - min(us // 2)) / 10000000000 AS tx_bytes_per_ns,
         |    (max(us // 3000) - min(us // 3000)) / 10000000000 AS rx_drop_per_ns,
         |    (max(us // 2000) - min(us // 2000)) / 10000000000 AS tx_drops_per_ns,
         |    (max(us // 1500) - min(us // 1500)) / 10000000000 AS rx_errors_per_ns,
         |    (max(us // 1000) - min(us // 1000)) / 10000000000 AS tx_errors_per_ns
         |  FROM b GROUP BY 1)
         |SELECT ts_bin AS "timestamp", rx_bytes_per_ns, tx_bytes_per_ns,
         |  rx_drop_per_ns, tx_drops_per_ns, rx_errors_per_ns, tx_errors_per_ns,
         |  ts_bin AS time_
         |FROM a ORDER BY ts_bin""".stripMargin),

    // agent_status.pxl: top-level px.display(px.GetAgentStatus()).
    Gate("q109_pxl_agent_status", (s, dir) =>
      PxlRunner.run(script(AgentStatusPath), Pxl.env(s, dir, nowNs))("output"), oracle = (
      "SELECT '00000000-0000-0000-0000-000000000001' AS agent_id, " +
        "CAST(1 AS BIGINT) AS asid, 'host-local' AS hostname, " +
        "'10.11.1.1:8080' AS ip_address, 'AGENT_STATE_HEALTHY' AS agent_state, " +
        "CAST(1700000000000000000 AS BIGINT) AS create_time, " +
        "CAST(5000000 AS BIGINT) AS last_heartbeat_ns, " +
        "true AS kernel_headers_installed")),

    // schemas.pxl `table_desc` / `table_schema`: the datasource catalog.
    Gate("q110_pxl_schemas_tables", (s, dir) =>
      PxlRunner.runFunction(script(SchemasPath), Pxl.env(s, dir, nowNs),
          "table_desc", Seq())
        .orderBy("table_name"), oracle = (
      s"""SELECT table_name, CAST(n_cols AS BIGINT) AS n_cols
         |FROM ${valuesSql(Ml.schemaRows.map { case (t, cs) => s"('$t',${cs.size})" },
            "table_name, n_cols")}
         |ORDER BY table_name""".stripMargin)),

    Gate("q111_pxl_schemas_cols", (s, dir) =>
      PxlRunner.runFunction(script(SchemasPath), Pxl.env(s, dir, nowNs),
          "table_schema", Seq())
        .orderBy("table_name", "column_index"), oracle = (
      s"""SELECT table_name, column_name,
         |  CAST(column_index AS BIGINT) AS column_index, data_type
         |FROM ${Ml.schemaValues}
         |ORDER BY table_name, column_index""".stripMargin)),

    // funcs.pxl: the registered scalar/aggregate/table function surface.
    Gate("q112_pxl_funcs_udf", (s, dir) =>
      PxlRunner.runFunction(script(FuncsPath), Pxl.env(s, dir, nowNs),
          "map_funcs", Seq())
        .orderBy("name"), oracle = (
      s"""SELECT name, module FROM ${valuesSql(
            CatalogUdtfs.udfNames.map { case (n, m) => s"('$n','$m')" },
            "name, module")} ORDER BY name""".stripMargin)),

    Gate("q113_pxl_funcs_uda", (s, dir) =>
      PxlRunner.runFunction(script(FuncsPath), Pxl.env(s, dir, nowNs),
          "agg_funcs", Seq())
        .orderBy("name"), oracle = (
      s"""SELECT name, module FROM ${valuesSql(
            CatalogUdtfs.udaNames.map { case (n, m) => s"('$n','$m')" },
            "name, module")} ORDER BY name""".stripMargin)),

    Gate("q114_pxl_funcs_udtf", (s, dir) =>
      PxlRunner.runFunction(script(FuncsPath), Pxl.env(s, dir, nowNs),
          "table_funcs", Seq())
        .orderBy("name"), oracle = (
      s"""SELECT name FROM ${valuesSql(
            CatalogUdtfs.udtfNames.map(n => s"('$n')"), "name")}
         |ORDER BY name""".stripMargin)),

    // tracepoint_status.pxl `running_tracepoints`: UDTF source + filter;
    // no dynamic tracepoints are deployed, so this checks the 0-row
    // schema round-trip (q78 convention) INCLUDING the filter pushback.
    Gate("q115_pxl_tracepoints", (s, dir) =>
      PxlRunner.runFunction(script(TracepointsPath), Pxl.env(s, dir, nowNs),
          "running_tracepoints", Seq()), oracle = (
      """SELECT '' AS tracepoint_id, '' AS name, '' AS state, '' AS status,
        |  '' AS output_tables WHERE false""".stripMargin)),

    // stirling_errors.pxl `stirling_error` / `probe_status`: node-scoped
    // diagnostics with ctx['node'] resolution and a contains filter.
    Gate("q116_pxl_stirling_error", (s, dir) =>
      PxlRunner.runFunction(script(StirlingErrorsPath), Pxl.env(s, dir, nowNs),
          "stirling_error", Seq("-45d", "", "1000000"))
        .orderBy("time_", "error"), oracle = (
      s"""WITH $eventsCte
         |SELECT t AS time_, 'node-' || (user_id % 5) AS node,
         |  CASE event_id % 5 WHEN 0 THEN 'socket_tracer'
         |       WHEN 1 THEN 'perf_profiler' WHEN 2 THEN 'jvm_stats'
         |       WHEN 3 THEN 'process_stats' ELSE 'dns_probe'
         |  END AS source_connector,
         |  $statusSql AS status, $errorSql AS error,
         |  '{"probe":"p' || (event_id % 10) || '"}' AS context
         |FROM e ORDER BY time_, error""".stripMargin)),

    Gate("q117_pxl_probe_status", (s, dir) =>
      PxlRunner.runFunction(script(StirlingErrorsPath), Pxl.env(s, dir, nowNs),
          "probe_status", Seq("-45d", "", "1000000"))
        .orderBy("time_", "error"), oracle = (
      s"""WITH $eventsCte
         |SELECT t AS time_, 'node-' || (user_id % 5) AS node,
         |  'tp-' || (event_id % 8) AS tracepoint,
         |  $statusSql AS status, $errorSql AS error,
         |  '{"binary":"/bin/app' || (event_id % 4) || '"}' AS info
         |FROM e ORDER BY time_, error""".stripMargin)),

    // upids.pxl `upids_for_namespace`: groupby over the raw binary upid.
    // The script runs verbatim; the gate canonicalizes the upid column to
    // its string form post-hoc ONLY because the oracle hash cannot
    // represent a 16-byte binary (same reason pod.pxl `processes` is
    // spec-gated) — values are still fully checked.
    Gate("q120_pxl_upids", (s, dir) =>
      PxlRunner.runFunction(script(UpidsPath), Pxl.env(s, dir, nowNs),
          "upids_for_namespace", Seq("-45d", "ns1"))
        .withColumn("upid", graft.types.Upid.upidToString(col("upid")))
        .orderBy("upid"), oracle = (
      s"""WITH $eventsCte
         |SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |  'ctr-' || user_id || '-g' || g AS container,
         |  user_id || ':' || event_id || ':' || us AS upid,
         |  '/bin/app --id=' || user_id AS cmdline,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS pod_create_time
         |FROM e WHERE (user_id % 10) % 3 = 1 ORDER BY upid""".stripMargin)),

    // perf_flamegraph/flamegraph.pxl: profile merge across windows
    // (sum counts per folded stack) + percent-of-pod via a pre-filter
    // total agg merged back.
    Gate("q135_pxl_flamegraph", (s, dir) =>
      PxlRunner.runFunction(script(FlamegraphPath), Pxl.env(s, dir, nowNs),
          "stacktraces", Seq("-45d", "", "", "", "pod"))
        .orderBy("pod", "stack_trace_id"), oracle =
      s"""WITH $eventsCte,
         |s AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        'ns' || (user_id % 10 % 3) AS namespace,
         |        'ctr-' || user_id || '-g' || g AS container,
         |        '/bin/app --id=' || user_id AS cmdline,
         |        event_id % 20 AS stack_trace_id,
         |        'app;frame_' || (event_id % 20) || ';leaf_'
         |          || (event_id % 20 % 5) AS stack_trace,
         |        1 + event_id % 7 AS cnt
         |      FROM e),
         |g1 AS (SELECT 'host-local' AS node, namespace, pod, container,
         |         cmdline, stack_trace_id,
         |         any_value(stack_trace) AS stack_trace,
         |         CAST(sum(cnt) AS BIGINT) AS "count"
         |       FROM s GROUP BY 1, 2, 3, 4, 5, 6),
         |tot AS (SELECT pod, CAST(sum(cnt) AS BIGINT) AS count_x,
         |          CAST(1 AS BIGINT) AS scaling_factor
         |        FROM s GROUP BY 1)
         |SELECT node, namespace, g1.pod, container, cmdline, stack_trace_id,
         |  stack_trace, "count", count_x, scaling_factor,
         |  100.0 * "count" * scaling_factor / count_x AS percent
         |FROM g1 JOIN tot ON g1.pod = tot.pod
         |ORDER BY g1.pod, stack_trace_id""".stripMargin),

    // nodes.pxl: the per-node cluster overview.
    Gate("q136_pxl_nodes_list", (s, dir) =>
      PxlRunner.runFunction(script(NodesPath), Pxl.env(s, dir, nowNs),
          "nodes", Seq("-45d"))
        .orderBy("node"), oracle =
      s"""WITH $eventsCte
         |SELECT DISTINCT 'node-' || (user_id % 5) AS node FROM e
         |ORDER BY node""".stripMargin),

    Gate("q137_pxl_nodes_pods", (s, dir) =>
      PxlRunner.runFunction(script(NodesPath), Pxl.env(s, dir, nowNs),
          "pods_by_node", Seq("-45d"))
        .orderBy("node", "pod"), oracle =
      s"""WITH $eventsCte,
         |w AS (SELECT DISTINCT 'node-' || (user_id % 5) AS node,
         |        'pod-' || user_id || '-gen' || g AS pod, user_id, g FROM e)
         |SELECT node, pod,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS pod_create_time,
         |  $podStatusSql AS pod_status
         |FROM w ORDER BY node, pod""".stripMargin),

    Gate("q138_pxl_nodes_process", (s, dir) =>
      PxlRunner.runFunction(script(NodesPath), Pxl.env(s, dir, nowNs),
          "process_stats", Seq("-45d"))
        .orderBy("node", "time_"), oracle =
      // process_stats groups by per-event upids first, so every counter
      // delta collapses to 0 and rss/vsize carry the real sums (q85/q91
      // convention on this fixture).
      s"""WITH $eventsCte,
         |w AS (SELECT t - t % 10000000000 AS ts_bin,
         |        'node-' || (user_id % 5) AS node,
         |        (50 + event_id % 450) * 1048576 AS rss_b,
         |        (100 + event_id % 900) * 1048576 AS vsize_b
         |      FROM e)
         |SELECT node,
         |  CAST(0 AS DOUBLE) AS actual_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS actual_disk_write_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_write_throughput,
         |  sum(CAST(rss_b AS DOUBLE)) AS rss,
         |  sum(CAST(vsize_b AS DOUBLE)) AS vsize,
         |  CAST(0 AS DOUBLE) AS cpu_usage,
         |  ts_bin AS time_
         |FROM w GROUP BY node, ts_bin ORDER BY node, time_""".stripMargin),

    Gate("q139_pxl_nodes_network", (s, dir) =>
      canonRates(
        PxlRunner.runFunction(script(NodesPath), Pxl.env(s, dir, nowNs),
          "network_stats", Seq("-45d")),
        "rx_bytes_per_ns", "tx_bytes_per_ns", "rx_drop_per_ns",
        "tx_drops_per_ns", "rx_errors_per_ns", "tx_errors_per_ns")
        .orderBy("node", "time_"), oracle =
      s"""WITH $eventsCte,
         |p AS (SELECT 'node-' || (user_id % 5) AS node,
         |        'pid-' || user_id || '-g' || g AS pod_id,
         |        t - t % 10000000000 AS ts_bin,
         |        (max(us) - min(us)) / 10000000000 AS rxb,
         |        (max(us // 2) - min(us // 2)) / 10000000000 AS txb,
         |        (max(us // 3000) - min(us // 3000)) / 10000000000 AS rxd,
         |        (max(us // 2000) - min(us // 2000)) / 10000000000 AS txd,
         |        (max(us // 1500) - min(us // 1500)) / 10000000000 AS rxe,
         |        (max(us // 1000) - min(us // 1000)) / 10000000000 AS txe
         |      FROM e GROUP BY 1, 2, 3)
         |SELECT node, ts_bin AS "timestamp",
         |  ${canonSql("sum(rxb)")} AS rx_bytes_per_ns,
         |  ${canonSql("sum(txb)")} AS tx_bytes_per_ns,
         |  ${canonSql("sum(rxd)")} AS rx_drop_per_ns,
         |  ${canonSql("sum(txd)")} AS tx_drops_per_ns,
         |  ${canonSql("sum(rxe)")} AS rx_errors_per_ns,
         |  ${canonSql("sum(txe)")} AS tx_errors_per_ns,
         |  ts_bin AS time_
         |FROM p GROUP BY node, ts_bin ORDER BY node, time_""".stripMargin),

    // node.pxl: the single-node drill-down, through the REAL pxviews
    // helper library.
    Gate("q140_pxl_node_pods", (s, dir) =>
      PxlRunner.runFunction(script(NodePath), Pxl.env(s, dir, nowNs),
          "pods_for_node", Seq("-45d", "node-2"))
        .orderBy("pod"), oracle =
      s"""WITH $eventsCte,
         |w AS (SELECT DISTINCT 'pod-' || user_id || '-gen' || g AS pod,
         |        user_id, g FROM e WHERE user_id % 5 = 2)
         |SELECT pod,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS start_time,
         |  CAST(1 AS BIGINT) AS containers, $podStatusSql AS status
         |FROM w ORDER BY pod""".stripMargin),

    Gate("q141_pxl_node_resource", (s, dir) =>
      PxlRunner.runFunction(script(NodePath), Pxl.env(s, dir, nowNs),
          "resource_timeseries", Seq("-45d", "node-2", "pod"))
        .orderBy("time_", "pod"), oracle =
      s"""WITH $eventsCte,
         |w AS (SELECT t - t % 10000000000 AS ts_bin,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        (50 + event_id % 450) * 1048576 AS rss_b,
         |        (100 + event_id % 900) * 1048576 AS vsize_b
         |      FROM e WHERE user_id % 5 = 2)
         |SELECT ts_bin AS time_, pod,
         |  CAST(0 AS DOUBLE) AS cpu_usage,
         |  CAST(0 AS DOUBLE) AS actual_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS actual_disk_write_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_write_throughput,
         |  sum(CAST(rss_b AS DOUBLE)) AS rss,
         |  sum(CAST(vsize_b AS DOUBLE)) AS vsize,
         |  pod AS groupby_col
         |FROM w GROUP BY ts_bin, pod ORDER BY time_, pod""".stripMargin),

    Gate("q142_pxl_node_network", (s, dir) =>
      canonRates(
        PxlRunner.runFunction(script(NodePath), Pxl.env(s, dir, nowNs),
          "network_stats", Seq("-45d", "node-2", "pod")),
        "rx_bytes_per_ns", "tx_bytes_per_ns", "rx_drops_per_ns",
        "tx_drops_per_ns", "rx_errors_per_ns", "tx_errors_per_ns")
        .orderBy("time_", "groupby_col"), oracle =
      s"""WITH $eventsCte,
         |p AS (SELECT 'pid-' || user_id || '-g' || g AS pod_id,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        t - t % 10000000000 AS ts_bin,
         |        (max(us) - min(us)) / 10000000000 AS rxb,
         |        (max(us // 2) - min(us // 2)) / 10000000000 AS txb,
         |        (max(us // 3000) - min(us // 3000)) / 10000000000 AS rxd,
         |        (max(us // 2000) - min(us // 2000)) / 10000000000 AS txd,
         |        (max(us // 1500) - min(us // 1500)) / 10000000000 AS rxe,
         |        (max(us // 1000) - min(us // 1000)) / 10000000000 AS txe
         |      FROM e WHERE user_id % 5 = 2 GROUP BY 1, 2, 3)
         |SELECT ts_bin AS time_, pod AS groupby_col,
         |  ${canonSql("sum(rxb)")} AS rx_bytes_per_ns,
         |  ${canonSql("sum(txb)")} AS tx_bytes_per_ns,
         |  ${canonSql("sum(rxd)")} AS rx_drops_per_ns,
         |  ${canonSql("sum(txd)")} AS tx_drops_per_ns,
         |  ${canonSql("sum(rxe)")} AS rx_errors_per_ns,
         |  ${canonSql("sum(txe)")} AS tx_errors_per_ns
         |FROM p GROUP BY ts_bin, pod ORDER BY time_, groupby_col""".stripMargin),

    // node.pxl stacktraces: pxviews.stacktraces profile merge +
    // percent-of-node (num_cpus-scaled).
    Gate("q143_pxl_node_flamegraph", (s, dir) =>
      PxlRunner.runFunction(script(NodePath), Pxl.env(s, dir, nowNs),
          "stacktraces", Seq("-45d", "host-local"))
        .orderBy("pod", "stack_trace_id"), oracle =
      s"""WITH $eventsCte,
         |s AS (SELECT 'ns' || (user_id % 10 % 3) AS namespace,
         |        'svc-' || (user_id % 10) AS service,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        'ctr-' || user_id || '-g' || g AS container,
         |        '/bin/app --id=' || user_id AS cmdline,
         |        event_id % 20 AS stack_trace_id,
         |        'app;frame_' || (event_id % 20) || ';leaf_'
         |          || (event_id % 20 % 5) AS stack_trace,
         |        1 + event_id % 7 AS cnt, t
         |      FROM e),
         |g1 AS (SELECT namespace, 'host-local' AS node, service, pod,
         |         container, cmdline,
         |         any_value(stack_trace) AS stack_trace,
         |         max(t) AS time_, stack_trace_id,
         |         CAST(sum(cnt) AS BIGINT) AS "count",
         |         CAST(32 AS BIGINT) AS node_num_cpus
         |       FROM s GROUP BY namespace, service, pod, container, cmdline,
         |         stack_trace_id),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS node_count_sum FROM s)
         |SELECT g1.*, 'host-local' AS node_x, node_count_sum,
         |  100.0 * "count" * node_num_cpus / node_count_sum AS percent
         |FROM g1, tot ORDER BY pod, stack_trace_id""".stripMargin),

    // namespace.pxl.
    Gate("q144_pxl_ns_pods", (s, dir) =>
      PxlRunner.runFunction(script(NamespacePath), Pxl.env(s, dir, nowNs),
          "pods_for_namespace", Seq("-45d", "ns1"))
        .orderBy("pod"), oracle =
      s"""WITH $eventsCte,
         |w AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        user_id, g,
         |        (50 + event_id % 450) * 1048576 AS rss_b,
         |        (100 + event_id % 900) * 1048576 AS vsize_b
         |      FROM e WHERE user_id % 10 % 3 = 1)
         |SELECT pod, avg(CAST(rss_b AS DOUBLE)) AS rss,
         |  avg(CAST(vsize_b AS DOUBLE)) AS vsize,
         |  CASE WHEN any_value(g) = 0 THEN 0 ELSE $splitNs END AS create_time,
         |  CASE any_value(user_id) % 4 WHEN 0 THEN 'Running'
         |       WHEN 1 THEN 'Pending' WHEN 2 THEN 'Succeeded'
         |       ELSE 'Failed' END AS status
         |FROM w GROUP BY pod ORDER BY pod""".stripMargin),

    // services_for_namespace embeds inbound_service_let_summary, whose
    // http_latency column is the RAW quantiles JSON and whose throughput
    // columns are means of per-window divisions. Canonicalized for the
    // hash (q120 convention): the JSON's double rendering and the mean's
    // last-ulp are engine-specific — pluck the percentiles to typed
    // doubles and round the means; values remain fully checked.
    Gate("q145_pxl_ns_services", (s, dir) =>
      canonRates(
        PxlRunner.runFunction(script(NamespacePath), Pxl.env(s, dir, nowNs),
          "services_for_namespace", Seq("-45d", "ns1"))
        .withColumn("latency_p50",
          get_json_object(col("http_latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("http_latency"), "$.p99").cast("double"))
        .drop("http_latency"),
        "http_request_throughput", "inbound_http_throughput",
        "outbound_http_throughput")
        .orderBy("service"), oracle =
      s"""WITH $eventsCte,
         |${httpHelperCte(1)},
         |pods AS (SELECT DISTINCT 'svc-' || (user_id % 10) AS service,
         |           'pod-' || user_id || '-gen' || g AS pod
         |         FROM e WHERE user_id % 10 % 3 = 1),
         |pc AS (SELECT service, count(pod) AS pod_count FROM pods GROUP BY 1),
         |$srvLetCtes
         |SELECT pc.service, pod_count,
         |  http_request_throughput, http_error_rate,
         |  inbound_http_throughput, outbound_http_throughput,
         |  latency_p50, latency_p99
         |FROM pc LEFT JOIN rates ON pc.service = rates.service
         |  LEFT JOIN q ON pc.service = q.service
         |ORDER BY pc.service""".stripMargin),

    Gate("q146_pxl_ns_let_summary", (s, dir) =>
      canonRates(
        PxlRunner.runFunction(script(NamespacePath), Pxl.env(s, dir, nowNs),
          "inbound_service_let_summary", Seq("-45d", "ns1"))
        .withColumn("latency_p50",
          get_json_object(col("http_latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("http_latency"), "$.p99").cast("double"))
        .drop("http_latency"),
        "http_request_throughput", "inbound_http_throughput",
        "outbound_http_throughput")
        .orderBy("service"), oracle =
      s"""WITH $eventsCte,
         |${httpHelperCte(1)},
         |$srvLetCtes
         |SELECT rates.service, http_request_throughput, http_error_rate,
         |  inbound_http_throughput, outbound_http_throughput,
         |  latency_p50, latency_p99
         |FROM rates JOIN q ON rates.service = q.service
         |ORDER BY rates.service""".stripMargin),

    // pod_memory_usage.pxl: two-level upid->pod memory rollup over the
    // -1m tail; spaced output column names.
    Gate("q155_pxl_pod_memory", (s, dir) =>
      PxlRunner.run(script(PodMemoryPath),
          Pxl.env(s, dir, tailNowNs(s, dir)))("output")
        .orderBy("pod", "timestamp"), oracle =
      s"""WITH ${tailCte(60000000000L)}
         |SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |  t - t % 10000000000 AS "timestamp",
         |  sum(CAST((100 + event_id % 900) * 1048576 AS DOUBLE))
         |    AS "Virtual Memory",
         |  sum(CAST((50 + event_id % 450) * 1048576 AS DOUBLE))
         |    AS "Average Memory"
         |FROM e GROUP BY 1, 2 ORDER BY pod, "timestamp"""".stripMargin),

    // jvm_data: raw JVM heap viewer over the -1m tail with
    // upid_to_pid/cmdline scalars.
    Gate("q160_pxl_jvm_data", (s, dir) =>
      PxlRunner.run(script(JvmDataPath),
          Pxl.env(s, dir, tailNowNs(s, dir)))("output")
        .orderBy("time_", "pid"), oracle =
      s"""WITH mx AS (SELECT max(epoch_us(ts)) * 1000 + 1000 AS now_ns
         |      FROM events),
         |e AS (SELECT epoch_us(ts) * 1000 AS t, user_id, event_id
         |      FROM events, mx
         |      WHERE epoch_us(ts) * 1000 >= mx.now_ns - 60000000000
         |        AND epoch_us(ts) * 1000 < mx.now_ns)
         |SELECT t AS time_, user_id * 2 AS pid,
         |  (100 + event_id % 400) * 1048576 AS used_heap_size,
         |  (600 + user_id % 100) * 1048576 AS total_heap_size,
         |  CAST(1073741824 AS BIGINT) AS max_heap_size,
         |  '/bin/app --id=' || user_id AS cmdline
         |FROM e ORDER BY time_, pid""".stripMargin),

    // agent_status_diagnostics: UDTF source with a bool arg + global agg.
    Gate("q161_pxl_agent_diag", (s, dir) =>
      PxlRunner.run(script(AgentDiagPath), Pxl.env(s, dir, nowNs))("output"), oracle =
      "SELECT CAST(1.0 AS DOUBLE) AS headers_installed_percent"),

    // pod_lifetime_resource: whole-lifetime (not windowed) per-pod
    // resource totals with spaced display names.
    Gate("q162_pxl_pod_lifetime", (s, dir) =>
      PxlRunner.run(script(PodLifetimePath),
          Pxl.env(s, dir, tailNowNs(s, dir)))("output")
        .orderBy("pod_name"), oracle =
      s"""WITH ${tailCte(60000000000L)}
         |SELECT 'pod-' || user_id || '-gen' || g AS pod_name,
         |  $podStatusSql AS status,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS "Created on",
         |  CAST(sum((event_id % 1000) * 1000000) AS BIGINT) AS "CPU User time",
         |  CAST(sum((event_id % 500) * 1000000) AS BIGINT) AS "CPU System time",
         |  sum(CAST((100 + event_id % 900) * 1048576 AS DOUBLE))
         |    AS "Virtual Memory",
         |  sum(CAST((50 + event_id % 450) * 1048576 AS DOUBLE))
         |    AS "Average Memory",
         |  CAST(sum((event_id % 1024) * 512) AS BIGINT) AS "Read to IO",
         |  CAST(sum((event_id % 512) * 512) AS BIGINT) AS "Write to IO",
         |  CAST(sum((event_id % 4096) * 512) AS BIGINT) AS "Characters Read",
         |  CAST(sum((event_id % 2048) * 512) AS BIGINT) AS "Characters written"
         |FROM e GROUP BY user_id, g ORDER BY pod_name""".stripMargin),

    // differential_flamegraph: baseline vs target pod stack-count delta
    // with percent-of-target normalization (right join keeps the target
    // profile complete; missing baseline stacks yield null deltas).
    Gate("q172_pxl_diff_flamegraph", (s, dir) =>
      PxlRunner.runFunction(script(DiffFlamePath), Pxl.env(s, dir, nowNs),
          "differential_flamegraph",
          Seq("-45d", "ns1", "pod-7-gen1", "pod-4-gen1"))
        .orderBy("stack_trace"), oracle =
      s"""WITH $eventsCte,
         |s1 AS (SELECT 'app;frame_' || (event_id % 20) || ';leaf_'
         |          || (event_id % 20 % 5) AS stack_trace,
         |        1 + event_id % 7 AS cnt
         |      FROM e WHERE user_id = 4 AND g = 1),
         |p1 AS (SELECT stack_trace, CAST(sum(cnt) AS BIGINT) AS c1
         |       FROM s1 GROUP BY 1),
         |s2 AS (SELECT 'app;frame_' || (event_id % 20) || ';leaf_'
         |          || (event_id % 20 % 5) AS stack_trace,
         |        1 + event_id % 7 AS cnt
         |      FROM e WHERE user_id = 7 AND g = 1),
         |p2 AS (SELECT stack_trace, CAST(sum(cnt) AS BIGINT) AS c2
         |       FROM s2 GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS cx FROM s2)
         |SELECT p2.stack_trace, c2 AS "count", c2 - c1 AS delta,
         |  100 * c2 / cx AS percent, 'pod-7-gen1' AS pod
         |FROM p2 LEFT JOIN p1 ON p2.stack_trace = p1.stack_trace, tot
         |ORDER BY p2.stack_trace""".stripMargin),

    // pod.pxl processes: distinct (pid, cmdline, upid) for one pod; the
    // binary upid canonicalizes to its string form (q120 convention).
    Gate("q190_pxl_pod_processes", (s, dir) =>
      PxlRunner.runFunction(script(PodPath), Pxl.env(s, dir, nowNs),
          "processes", Seq("-45d", "pod-7-gen1"))
        .withColumn("upid", graft.types.Upid.upidToString(col("upid")))
        .orderBy("pid", "upid"), oracle =
      s"""SELECT event_id AS pid,
         |  '/bin/app --id=' || user_id AS cmd,
         |  user_id || ':' || event_id || ':' || epoch_us(ts) AS upid
         |FROM events
         |WHERE user_id = 7 AND epoch_us(ts) * 1000 >= $splitNs
         |  AND epoch_us(ts) * 1000 >= $startNs
         |  AND epoch_us(ts) * 1000 < $nowNs
         |GROUP BY 1, 2, 3 ORDER BY pid, upid""".stripMargin),

    // pod.pxl inbound_let_summary: per-requestor rollup over the whole
    // range; the raw ST_QUANTILES JSON is plucked to typed doubles at
    // the gate boundary (float-parity convention).
    Gate("q191_pxl_pod_inbound_summary", (s, dir) =>
      PxlRunner.runFunction(script(PodPath), Pxl.env(s, dir, nowNs),
          "inbound_let_summary", Seq("-45d", "pod-7-gen1"))
        .withColumn("latency_p50",
          get_json_object(col("latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("latency"), "$.p99").cast("double"))
        .drop("latency")
        .orderBy("requesting_ip"), oracle =
      s"""WITH $eventsCte,
         |r AS (SELECT * FROM e
         |      WHERE user_id = 7 AND g = 1 AND event_id % 25 <> 0
         |        AND event_id % 25 <> 1 AND event_id % 5 <> 0)
         |SELECT '10.11.7.1' AS requesting_ip,
         |  'pod-7-gen1' AS requesting_pod,
         |  'svc-7' AS requesting_svc,
         |  avg(CASE WHEN 100 + event_id % 460 >= 400
         |      THEN 1.0 ELSE 0.0 END) AS error_rate,
         |  count(*) / ${nowNs - startNs} AS request_throughput,
         |  quantile_cont(value, 0.50) AS latency_p50,
         |  quantile_cont(value, 0.99) AS latency_p99
         |FROM r""".stripMargin),

    // jvm_stats cmd_pod_table: distinct (pod, cmdline) via
    // px.upid_to_cmdline over the node/pod-filtered jvm table.
    Gate("q193_pxl_jvm_pods", (s, dir) =>
      PxlRunner.runFunction(script(JvmStatsPath), Pxl.env(s, dir, nowNs),
          "cmd_pod_table", Seq("-45d", "", ""))
        .orderBy("pod"), oracle =
      s"""WITH $eventsCte
         |SELECT DISTINCT 'pod-' || user_id || '-gen' || g AS pod,
         |  '/bin/app --id=' || user_id AS cmdline
         |FROM e ORDER BY pod""".stripMargin),

    // tracepoint_status tracepoint_info: the unfiltered UDTF — no
    // dynamic tracepoints deployed, so a 0-row schema round-trip.
    Gate("q203_pxl_tracepoint_info", (s, dir) =>
      PxlRunner.runFunction(script(TracepointsPath), Pxl.env(s, dir, nowNs),
          "tracepoint_info", Seq()), oracle = (
      """SELECT '' AS tracepoint_id, '' AS name, '' AS state, '' AS status,
        |  '' AS output_tables WHERE false""".stripMargin)),

    // pod.pxl inbound_latency_timeseries: per-10s floored quantiles over
    // pod-7-gen1's inbound (server-traced) non-health traffic.
    Gate("q215_pxl_pod_latency_ts", (s, dir) =>
      PxlRunner.runFunction(script(PodPath), Pxl.env(s, dir, nowNs),
          "inbound_latency_timeseries", Seq("-45d", "pod-7-gen1"))
        .orderBy("time_"), oracle =
      s"""WITH $eventsCte,
         |$pod7InboundCte
         |SELECT ts_bin AS time_,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99
         |FROM f GROUP BY 1 ORDER BY time_""".stripMargin),

    // pod.pxl inbound_request_timeseries_by_container.
    Gate("q216_pxl_pod_container_ts", (s, dir) =>
      PxlRunner.runFunction(script(PodPath), Pxl.env(s, dir, nowNs),
          "inbound_request_timeseries_by_container", Seq("-45d", "pod-7-gen1"))
        .orderBy("time_"), oracle =
      s"""WITH $eventsCte,
         |$pod7InboundCte
         |SELECT ts_bin AS time_, 'ctr-7-g1' AS container,
         |  count(latency) / 10000000000 AS request_throughput,
         |  avg(CAST(failure AS DOUBLE)) * (count(latency) / 10000000000)
         |    AS errors_per_ns,
         |  avg(CAST(failure AS DOUBLE)) AS error_rate
         |FROM f GROUP BY 1 ORDER BY time_""".stripMargin),

    // pod.pxl stacktraces: interval-merged flamegraph for one pod with
    // container/cmdline ctx and percent-of-pod.
    Gate("q217_pxl_pod_stacktraces", (s, dir) =>
      PxlRunner.runFunction(script(PodPath), Pxl.env(s, dir, nowNs),
          "stacktraces", Seq("-45d", "pod-7-gen1"))
        .orderBy("stack_trace_id"), oracle =
      s"""WITH $eventsCte,
         |s AS (SELECT event_id % 20 AS stack_trace_id,
         |        'app;frame_' || (event_id % 20) || ';leaf_'
         |          || (event_id % 20 % 5) AS stack_trace,
         |        1 + event_id % 7 AS cnt
         |      FROM e WHERE user_id = 7 AND g = 1),
         |g1 AS (SELECT 'ns1' AS namespace, 'pod-7-gen1' AS pod,
         |         'ctr-7-g1' AS container, '/bin/app --id=7' AS cmdline,
         |         stack_trace_id,
         |         any_value(stack_trace) AS stack_trace,
         |         CAST(sum(cnt) AS BIGINT) AS "count"
         |       FROM s GROUP BY 5),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS count_x FROM s)
         |SELECT namespace, pod, container, cmdline, stack_trace_id,
         |  stack_trace, "count", count_x,
         |  100.0 * "count" / count_x AS percent
         |FROM g1, tot ORDER BY stack_trace_id""".stripMargin),

    // pods.pxl inbound_let_summary: (pod, requestor) rollup across ns1;
    // error_rate is a mean of window means (engine-order ulp noise), so
    // both sides round at 6 dp.
    Gate("q221_pxl_pods_inbound_summary", (s, dir) =>
      PxlRunner.runFunction(script(PodsPath), Pxl.env(s, dir, nowNs),
          "inbound_let_summary", Seq("-45d", "ns1"))
        .withColumn("latency_p50",
          get_json_object(col("latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("latency"), "$.p99").cast("double"))
        .drop("latency")
        .withColumn("error_rate", round(col("error_rate"), 6))
        .orderBy("responder", "requesting_ip"), oracle =
      s"""WITH $eventsCte,
         |$ns1InboundCte,
         |qx AS (SELECT pod, remote_addr, svc,
         |         quantile_cont(latency, 0.50) AS latency_p50,
         |         quantile_cont(latency, 0.99) AS latency_p99,
         |         count(latency) AS total_request_count
         |       FROM f GROUP BY 1, 2, 3),
         |rw AS (SELECT pod, remote_addr, ts_bin, count(*) AS rpw,
         |         avg(CAST(failure AS DOUBLE)) AS erw
         |       FROM f GROUP BY 1, 2, 3),
         |rp AS (SELECT pod, remote_addr, avg(rpw) AS rpw,
         |         round(avg(erw), 6) AS error_rate
         |       FROM rw GROUP BY 1, 2)
         |SELECT qx.pod AS responder, qx.remote_addr AS requesting_ip,
         |  qx.pod AS requesting_pod, qx.svc AS requesting_svc,
         |  rp.error_rate,
         |  rp.rpw / 10000000000 AS request_throughput,
         |  qx.latency_p50, qx.latency_p99
         |FROM qx JOIN rp ON qx.pod = rp.pod
         |  AND qx.remote_addr = rp.remote_addr
         |ORDER BY responder, requesting_ip""".stripMargin),

    // namespace.pxl inbound_service_let_graph: same body, same oracle.
    Gate("q224_pxl_namespace_let_graph", (s, dir) =>
      PxlRunner.runFunction(script(NamespacePath), Pxl.env(s, dir, nowNs),
          "inbound_service_let_graph", Seq("-45d", "ns1"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("inbound_throughput", canon("inbound_throughput"))
        .withColumn("outbound_throughput", canon("outbound_throughput"))
        .withColumn("error_rate", round(col("error_rate"), 6))
        .orderBy("responder_pod", "requestor_pod"), oracle = letGraphOracle),

    // cluster.pxl services_for_cluster: pod counts + conn-stats rates +
    // inbound http stats per service. http_latency_in is a px.any pick
    // across (pod, requestor) quantile sketches — arbitrary by contract
    // (collections.h:79-96), so the gate drops that one column.
    Gate("q225_pxl_cluster_services", (s, dir) =>
      PxlRunner.runFunction(script(ClusterPath), Pxl.env(s, dir, nowNs),
          "services_for_cluster", Seq("-45d"))
        .drop("http_latency_in")
        .orderBy("service"), oracle =
      s"""WITH $eventsCte,
         |pods AS (SELECT DISTINCT 'svc-' || (user_id % 10) AS service,
         |           'pod-' || user_id || '-gen' || g AS pod
         |         FROM e),
         |pc AS (SELECT service, count(pod) AS pod_count
         |       FROM pods GROUP BY 1),
         |conn AS (SELECT user_id, g, event_id % 2 AS sgrp,
         |           event_id % 5 AS proto,
         |           max(us) - min(us) AS bs,
         |           max(us // 3) - min(us // 3) AS br
         |         FROM e GROUP BY 1, 2, 3, 4),
         |svcconn AS (SELECT 'svc-' || (user_id % 10) AS service,
         |              CAST(sum(CASE WHEN sgrp = 1 THEN br + bs ELSE 0 END)
         |                AS BIGINT) AS inb,
         |              CAST(sum(CASE WHEN sgrp = 0 THEN bs + br ELSE 0 END)
         |                AS BIGINT) AS outb
         |            FROM conn GROUP BY 1),
         |hs AS (SELECT 'svc-' || (user_id % 10) AS service,
         |         count(*) AS req,
         |         CAST(sum(CASE WHEN 100 + event_id % 460 >= 400
         |           THEN 1 ELSE 0 END) AS BIGINT) AS err
         |       FROM e WHERE event_id % 3 <> 0
         |         AND event_id % 25 <> 0 AND event_id % 25 <> 1
         |         AND event_id % 5 <> 0
         |       GROUP BY 1)
         |SELECT pc.service, pod_count,
         |  req / $windowNs AS http_req_throughput_in,
         |  err / req AS http_error_rate_in,
         |  inb / $windowNs AS inbound_conns,
         |  outb / $windowNs AS outbound_conns
         |FROM pc JOIN svcconn ON pc.service = svcconn.service
         |  JOIN hs ON pc.service = hs.service
         |ORDER BY pc.service""".stripMargin),

    // cluster.pxl service_let_graph: pxviews.http_graph edges with
    // whole-window rates (single divisions — exact).
    Gate("q226_pxl_cluster_let_graph", (s, dir) =>
      PxlRunner.runFunction(script(ClusterPath), Pxl.env(s, dir, nowNs),
          "service_let_graph", Seq("-45d"))
        .orderBy("responder_pod", "requestor_pod"), oracle =
      s"""WITH $eventsCte,
         |f AS (SELECT value AS latency, event_id % 3 <> 0 AS tr2,
         |        user_id, g,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        '10.' || (10 + g) || '.' || (user_id % 250) || '.' ||
         |          (1 + user_id // 250) AS ip,
         |        'svc-' || (user_id % 10) AS svc,
         |        event_id % 512 AS req_sz, 100 + event_id % 1000 AS resp_sz,
         |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
         |          AS failure
         |      FROM e WHERE event_id % 25 <> 0 AND event_id % 25 <> 1
         |        AND event_id % 5 <> 0),
         |r AS (SELECT pod, ip, svc, tr2,
         |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
         |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
         |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
         |        count(*) AS req, CAST(sum(failure) AS BIGINT) AS err,
         |        CAST(sum(req_sz) AS BIGINT) AS rb,
         |        CAST(sum(resp_sz) AS BIGINT) AS ob
         |      FROM f GROUP BY 1, 2, 3, 4)
         |SELECT pod AS responder_pod, pod AS requestor_pod,
         |  svc AS responder_service, svc AS requestor_service,
         |  ip AS responder_ip, ip AS requestor_ip,
         |  avg(p50) AS latency_p50, avg(p90) AS latency_p90,
         |  avg(p99) AS latency_p99,
         |  CAST(sum(req) AS BIGINT) / $windowNs AS request_throughput,
         |  CAST(sum(err) AS BIGINT) / CAST(sum(req) AS BIGINT) AS error_rate,
         |  CAST(sum(rb) AS BIGINT) / $windowNs AS inbound_throughput,
         |  CAST(sum(ob) AS BIGINT) / $windowNs AS outbound_throughput,
         |  CAST(sum(req) AS BIGINT) AS throughput_total
         |FROM r GROUP BY pod, ip, svc
         |ORDER BY responder_pod, requestor_pod""".stripMargin),

    // collect_agent_heaps collect_pprofs: agent catalog × heap-growth
    // stacks, the agent ip resolved to its node through ip->pod->node.
    Gate("q227_pxl_collect_pprofs", (s, dir) =>
      PxlRunner.runFunction(script(HeapsPath), Pxl.env(s, dir, nowNs),
          "collect_pprofs", Seq("1"))
        .orderBy("heap"), oracle =
      // Agent 10.11.1.1 -> pod pid-1-g1 -> node-1; two stub heap stacks.
      s"""SELECT CAST(1 AS BIGINT) AS asid, 'node-1' AS hostname,
         |  'runtime.mallocgc;bytes.growSlice;app.buffer 512' AS heap
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS asid, 'node-1' AS hostname,
         |  'runtime.mallocgc;runtime.makeslice;app.handle 1024' AS heap
         |ORDER BY heap""".stripMargin)
  )
}
