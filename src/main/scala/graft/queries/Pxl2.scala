package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._
import PxlGate._

/** Round-4 verbatim-script tranche: the highest-traffic bundled scripts
  * that had no gate entry — pods.pxl, service.pxl, cluster.pxl (through
  * the real pxviews module), and dns_data/data.pxl — each executed
  * UNMODIFIED from the reference checkout through the PxL runner and
  * hash-checked against a DuckDB oracle that re-derives the same result
  * from the raw fixture.
  *
  * Scale notes: every ctx/metadata resolution in these scripts is a
  * broadcast as-of join against one shared dimension snapshot; the
  * process_stats counter rollups are two-level partial aggregations
  * keyed by (upid, window) then (pod, window) — both shapes hold at
  * 1000 executors (no fact-table shuffle beyond the group-by keys).
  */
object Pxl2 extends Gates {

  val PodsPxlPath = s"$RefPx/pods/pods.pxl"
  val ServicePxlPath = s"$RefPx/service/service.pxl"
  val ClusterPxlPath = s"$RefPx/cluster/cluster.pxl"
  val DnsDataPxlPath = s"$RefPx/dns_data/data.pxl"
  val PodPxlPath = s"$RefPx/pod/pod.pxl"
  val MysqlDataPxlPath = s"$RefPx/mysql_data/mysql_data.pxl"
  val RedisDataPxlPath = s"$RefPx/redis_data/redis_data.pxl"
  val PgsqlDataPxlPath = s"$RefPx/pgsql_data/pgsql_data.pxl"
  val MongodbDataPxlPath = s"$RefPx/mongodb_data/mongodb_data.pxl"
  val CqlDataPxlPath = s"$RefPx/cql_data/data.pxl"
  val MuxDataPxlPath = s"$RefPx/mux_data/data.pxl"
  val NatsDataPxlPath = s"$RefPx/nats_data/nats_data.pxl"
  val KafkaDataPxlPath = s"$RefPx/kafka_data/kafka_data.pxl"

  lazy val gates: Seq[Gate] = Seq(
    // pods.pxl `pods`: container->pod rollup with pod_name_to_start_time/
    // status metadata scalars; ctx['namespace'] compared INSIDE a filter
    // (the ConvertMetadataRule in-place expansion path).
    Gate("q84_pxl_pods_list", (s, dir) =>
      PxlRunner.runFunction(script(PodsPxlPath), Pxl.env(s, dir, nowNs),
          "pods", Seq("-45d", "ns1"))
        .orderBy("pod"), oracle =
      s"""WITH ${eventsCte()},
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
      PxlRunner.runFunction(script(PodsPxlPath), Pxl.env(s, dir, nowNs),
          "resource_timeseries", Seq("-45d", "ns1"))
        .orderBy("pod", "time_"), oracle =
      // upids are per-event in the process_stats synth, so the counter
      // max-min deltas collapse to 0 (the verbatim script's own semantics
      // on this fixture); rss/vsize carry the real sums.
      s"""WITH ${eventsCte()},
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
      PxlRunner.runFunction(script(PodsPxlPath), Pxl.env(s, dir, nowNs),
          "inbound_let_timeseries", Seq("-45d", "ns1"))
        .orderBy("time_", "pod"), oracle =
      s"""WITH ${eventsCte()},
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

    // service.pxl `pods_for_service`: px.has_service_name over a ctx
    // property in a filter.
    Gate("q87_pxl_service_pods", (s, dir) =>
      PxlRunner.runFunction(script(ServicePxlPath), Pxl.env(s, dir, nowNs),
          "pods_for_service", Seq("-45d", "svc-1"))
        .orderBy("pod"), oracle =
      s"""WITH ${eventsCte()}
         |SELECT DISTINCT 'pod-' || user_id || '-gen' || g AS pod,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS pod_create_time,
         |  $podStatusSql AS pod_status
         |FROM e WHERE user_id % 10 = 1 ORDER BY pod""".stripMargin),

    // service.pxl `inbound_let_timeseries`: single-key window rollup with
    // errors_per_ns derived series.
    Gate("q88_pxl_service_let_ts", (s, dir) =>
      PxlRunner.runFunction(script(ServicePxlPath), Pxl.env(s, dir, nowNs),
          "inbound_let_timeseries", Seq("-45d", "svc-1"))
        .orderBy("time_"), oracle =
      s"""WITH ${eventsCte()},
         |h AS (SELECT *, 100 + event_id % 460 AS resp_status,
         |        value AS latency,
         |        CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |             WHEN event_id % 25 = 1 THEN '/readyz'
         |             ELSE '/api/v1/users/' || user_id END AS req_path,
         |        CASE WHEN event_id % 5 = 0 THEN '-' ELSE '10.x' END AS remote_addr,
         |        100 + event_id % 1000 AS resp_body_size
         |      FROM e WHERE event_id % 3 <> 0 AND user_id % 10 = 1),
         |f AS (SELECT *, t - t % 10000000000 AS ts_bin,
         |        CASE WHEN resp_status >= 400 THEN 1 ELSE 0 END AS failure
         |      FROM h WHERE req_path <> '/healthz' AND req_path <> '/readyz'
         |        AND remote_addr <> '-'),
         |a AS (SELECT ts_bin,
         |        quantile_cont(latency, 0.50) AS p50d,
         |        quantile_cont(latency, 0.90) AS p90d,
         |        quantile_cont(latency, 0.99) AS p99d,
         |        avg(CAST(failure AS DOUBLE)) AS erw,
         |        count(latency) AS tput,
         |        CAST(sum(resp_body_size) AS BIGINT) AS bytes_total
         |      FROM f GROUP BY 1)
         |SELECT ts_bin AS time_,
         |  CAST(floor(p50d) AS BIGINT) AS latency_p50,
         |  CAST(floor(p90d) AS BIGINT) AS latency_p90,
         |  CAST(floor(p99d) AS BIGINT) AS latency_p99,
         |  tput / 10000000000 AS request_throughput,
         |  erw * (tput / 10000000000) / 1 AS errors_per_ns,
         |  erw AS error_rate,
         |  bytes_total / 10000000000 AS bytes_per_ns
         |FROM a ORDER BY time_""".stripMargin),

    // service.pxl `service_slow_requests`: p99 threshold self-join then
    // row-level trace of the slow tail (head cap not binding at sf0.01).
    Gate("q89_pxl_service_slow", (s, dir) =>
      PxlRunner.runFunction(script(ServicePxlPath), Pxl.env(s, dir, nowNs),
          "service_slow_requests", Seq("-45d", "svc-1"))
        .orderBy("time_", "req_body"), oracle =
      s"""WITH ${eventsCte()},
         |h AS (SELECT *, 100 + event_id % 460 AS resp_status,
         |        value AS latency,
         |        CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |             WHEN event_id % 25 = 1 THEN '/readyz'
         |             ELSE '/api/v1/users/' || user_id END AS req_path,
         |        CASE WHEN event_id % 5 = 0 THEN '-' ELSE
         |          '10.' || (10 + g) || '.' || (user_id % 250) || '.'
         |            || (1 + user_id // 250) END AS remote_addr,
         |        1024 + event_id % 32768 AS remote_port,
         |        CASE event_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
         |             WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS req_method,
         |        'req-' || event_id AS req_body,
         |        'resp-' || event_id AS resp_body,
         |        'pod-' || user_id || '-gen' || g AS pod
         |      FROM e WHERE event_id % 3 <> 0 AND user_id % 10 = 1),
         |f AS (SELECT * FROM h
         |      WHERE req_path <> '/healthz' AND req_path <> '/readyz'
         |        AND remote_addr <> '-'),
         |q AS (SELECT quantile_cont(latency, 0.99) AS p99 FROM f)
         |SELECT t AS time_, pod, latency, req_method, req_path, req_body,
         |  resp_status, remote_addr, remote_port, resp_body
         |FROM f, q WHERE latency >= floor(p99)
         |ORDER BY time_, req_body""".stripMargin),

    // cluster.pxl `nodes_for_cluster` through the REAL pxviews module:
    // px.now() + px.parse_duration(...) numeric start_time.
    Gate("q90_pxl_cluster_nodes", (s, dir) =>
      PxlRunner.runFunction(script(ClusterPxlPath), Pxl.env(s, dir, nowNs),
          "nodes_for_cluster", Seq("-45d"))
        .orderBy("node"), oracle =
      s"""WITH ${eventsCte()},
         |pods AS (SELECT DISTINCT 'node-' || (user_id % 5) AS node,
         |        'pod-' || user_id || '-gen' || g AS pod FROM e),
         |pc AS (SELECT node, count(pod) AS pod_count FROM pods GROUP BY 1)
         |SELECT node, CAST(0 AS DOUBLE) AS cpu_usage, pod_count
         |FROM pc ORDER BY node""".stripMargin),

    // cluster.pxl `pods_for_cluster` (pxviews.pod_resource_stats).
    Gate("q91_pxl_cluster_pods", (s, dir) =>
      PxlRunner.runFunction(script(ClusterPxlPath), Pxl.env(s, dir, nowNs),
          "pods_for_cluster", Seq("-45d"))
        .orderBy("pod"), oracle =
      s"""WITH ${eventsCte()}
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
      PxlRunner.runFunction(script(ClusterPxlPath), Pxl.env(s, dir, nowNs),
          "namespaces_for_cluster", Seq("-45d"))
        .orderBy("namespace"), oracle =
      s"""WITH ${eventsCte()},
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

    // dns_data/data.pxl `dns_data`: full row-level DNS trace with the
    // ip->pod fallback chain and script_reference deep links.
    Gate("q93_pxl_dns_data", (s, dir) =>
      PxlRunner.runFunction(script(DnsDataPxlPath), Pxl.env(s, dir, nowNs),
          "dns_data", Seq("-45d", "", "", "1000000"))
        .orderBy("time_", "req_body"), oracle = {
      def link(c: String, flag: String): String =
        s"""CASE WHEN $flag
           |    THEN '{"label":"' || $c || '","script":"px/pod","args":{"start_time":"-45d","pod":"' || $c || '"}}'
           |    ELSE '{"label":"' || $c || '","script":"px/ip","args":{"start_time":"-45d","ip":"' || $c || '"}}'
           |  END""".stripMargin
      s"""WITH ${eventsCte()},
         |w AS (SELECT *,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        event_id % 3 <> 0 AS is_server,
         |        event_id % 5 <> 0 AS is_ra_pod,
         |        CASE WHEN event_id % 5 = 0 THEN '-'
         |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
         |      FROM e),
         |x AS (SELECT *,
         |        CASE WHEN is_server THEN is_ra_pod ELSE true END AS is_src_pod,
         |        CASE WHEN is_server THEN true ELSE is_ra_pod END AS is_dst_pod,
         |        CASE WHEN is_server THEN ra_name ELSE pod END AS src0,
         |        CASE WHEN is_server THEN pod ELSE ra_name END AS dst0
         |      FROM w)
         |SELECT t AS time_,
         |  ${link("src0", "is_src_pod")} AS source,
         |  ${link("dst0", "is_dst_pod")} AS destination,
         |  value AS latency,
         |  '{"qname":"svc-' || (user_id % 10) || '.local"}' AS req_header,
         |  '{"queries":[{"name":"svc-' || (user_id % 10) || '.local"}]}' AS req_body,
         |  '{"rcode":' || (event_id % 4) || '}' AS resp_header,
         |  CASE WHEN event_id % 4 = 0
         |    THEN '{"answers":[{"name":"svc-' || (user_id % 10) ||
         |      '.local","addr":"203.0.113.' || (event_id % 250) || '"}]}'
         |    ELSE '{"answers":[]}' END AS resp_body
         |FROM x ORDER BY time_, req_body""".stripMargin
    }),

    // pod.pxl — the single-pod drill-down script, one entry per function.
    Gate("q96_pxl_pod_containers", (s, dir) =>
      PxlRunner.runFunction(script(PodPxlPath), Pxl.env(s, dir, nowNs),
          "containers", Seq("-45d", "pod-7-gen1"))
        .orderBy("name"), oracle =
      s"""WITH $pod7Gen1Cte
         |SELECT DISTINCT 'ctr-' || user_id || '-g1' AS name,
         |  'cid-' || user_id || '-g1' AS id,
         |  CASE user_id % 3 WHEN 0 THEN 'Running' WHEN 1 THEN 'Waiting'
         |       ELSE 'Terminated' END AS status
         |FROM e ORDER BY name""".stripMargin),

    Gate("q97_pxl_pod_node", (s, dir) =>
      PxlRunner.runFunction(script(PodPxlPath), Pxl.env(s, dir, nowNs),
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
      PxlRunner.runFunction(script(PodPxlPath), Pxl.env(s, dir, nowNs),
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
      PxlRunner.runFunction(script(PodPxlPath), Pxl.env(s, dir, nowNs),
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

    Gate("q107_pxl_nats_data", (s, dir) =>
      PxlRunner.runFunction(script(NatsDataPxlPath), Pxl.env(s, dir, nowNs),
          "nats_data", Seq("-45d", "", "", "1000000"))
        .orderBy("time_", "body"), oracle = tracerOracle(
      """CASE event_id % 4 WHEN 0 THEN 'PUB' WHEN 1 THEN 'SUB'
        |       WHEN 2 THEN 'MSG' ELSE 'PING' END AS cmd,
        |  'msg-' || event_id AS body, '+OK' AS resp,
        |  event_id AS pid""".stripMargin, "body")),

    Gate("q108_pxl_kafka_data", (s, dir) =>
      PxlRunner.runFunction(script(KafkaDataPxlPath), Pxl.env(s, dir, nowNs),
          "kafka_data", Seq("-45d", "", "", "1000000"))
        .orderBy("time_", "req_body"), oracle =
      // NOTE: continuation lines here must END with `||` — this block is
      // re-embedded in tracerOracle's stripMargin, which would eat the
      // first pipe of a line-leading `||`.
      tracerOracle(
        s"""remote_port,
           |  ${graft.functions.ProtocolOps.kafkaApiKeyName.sql("(event_id % 70)")} AS req_cmd,
           |  CASE WHEN event_id % 70 = 11
           |    THEN '{"group_id":"cg-' || (user_id % 4) || '"}'
           |    WHEN event_id % 70 = 14
           |    THEN '{"group_id":"cg-' || (user_id % 4) ||
           |      '","generation_id":' || (user_id % 3) ||
           |      ',"member_id":"m-' || user_id || '"}'
           |    ELSE '{"topics":[{"name":"t' || (user_id % 4) ||
           |      '","partitions":[{"index":' || (event_id % 3) ||
           |      ',"message_set":{"size":' || (100 + event_id % 900) ||
           |      '}}]}]}' END AS req_body,
           |  CASE WHEN event_id % 70 = 11
           |    THEN '{"generation_id":' || (user_id % 3) ||
           |      ',"member_id":"m-' || user_id || '"}'
           |    ELSE '{"topics":[{"name":"t' || ((user_id + 1) % 4) ||
           |      '","partitions":[{"index":' || ((event_id + 1) % 3) ||
           |      ',"message_set":{"size":' || (100 + (event_id * 2) % 900) ||
           |      '}}]}]}' END AS resp,
           |  value AS latency""".stripMargin, "req_body"))
  )

  // ---- oracle fragments ----------------------------------------------

  /** Shared event-window CTE: g = pod generation of the event. */
  private def eventsCte(extra: String = ""): String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, user_id, event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs$extra)""".stripMargin

  private val podStatusSql =
    """CASE user_id % 4 WHEN 0 THEN 'Running' WHEN 1 THEN 'Pending'
      |     WHEN 2 THEN 'Succeeded' ELSE 'Failed' END""".stripMargin

  /** Shared oracle skeleton for the data-tracer family: the
    * add_source_dest_columns / add_source_dest_links derivation over the
    * tracerBase synth, with per-protocol output columns plugged in.
    */
  private def tracerOracle(outputSql: String, orderBy: String): String =
    s"""WITH ${eventsCte()},
       |w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
       |        event_id % 3 <> 0 AS is_server,
       |        event_id % 5 <> 0 AS is_ra_pod,
       |        CASE WHEN event_id % 5 = 0 THEN '-'
       |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name,
       |        1024 + event_id % 32768 AS remote_port
       |      FROM e),
       |x AS (SELECT *,
       |        CASE WHEN is_server THEN is_ra_pod ELSE true END AS is_src_pod,
       |        CASE WHEN is_server THEN true ELSE is_ra_pod END AS is_dst_pod,
       |        CASE WHEN is_server THEN ra_name ELSE pod END AS src0,
       |        CASE WHEN is_server THEN pod ELSE ra_name END AS dst0
       |      FROM w)
       |SELECT t AS time_,
       |  ${linkSql("src0", "is_src_pod")} AS source,
       |  ${linkSql("dst0", "is_dst_pod")} AS destination,
       |  $outputSql
       |FROM x ORDER BY time_, $orderBy""".stripMargin

  /** The pod.pxl single-pod window: user 7's generation-1 rows. */
  private def pod7Gen1Cte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id, event_id
       |      FROM events WHERE user_id = 7
       |        AND epoch_us(ts) * 1000 >= $splitNs
       |        AND epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin
}
