package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import PxlGate._
import Q._

/** PxL gates for the HTTP and service script family (`http_data`,
  * `service`, `services`, `service_stats`, `service_edge_stats`,
  * `pod_edge_stats`, `endpoints`, `slow_http_requests`, ...): each
  * script runs unmodified from the reference checkout through the PxL
  * runner and is hash-checked against a DuckDB oracle that re-derives
  * the same result from the raw fixture.
  */
object PxlService extends Gates {

  val HttpFilteredPath = s"$RefPx/http_data_filtered/data.pxl"
  val HttpPostPath = s"$RefPx/http_post_requests/data.pxl"
  val ServicesPath = s"$RefPx/services/services.pxl"
  val SlowRequestsPath = s"$RefPx/slow_http_requests/slow_http_requests.pxl"
  val ServiceResourcePath = s"$RefPx/service_resource_usage/usage.pxl"
  val MostHttpPath = s"$RefPx/most_http_data/data.pxl"
  val LargestHttpPath = s"$RefPx/largest_http_request/data.pxl"
  val QualityPath = s"$RefPx/pixie_quality_metrics/pixie_quality_metrics.pxl"
  val PodEdgePath = s"$RefPx/pod_edge_stats/pod_edge_stats.pxl"
  val SvcEdgePath = s"$RefPx/service_edge_stats/service_edge_stats.pxl"
  val HttpTraceIdPath = s"$RefPx/http_trace_id/script.pxl"
  val ServiceStatsPath = s"$RefPx/service_stats/service_stats.pxl"
  val ServicePath = s"$RefPx/service/service.pxl"
  val EndpointsPath = s"$RefScripts/pxbeta/service_endpoints/service_endpoints.pxl"
  val EndpointPath = s"$RefScripts/pxbeta/service_endpoint/service_endpoint.pxl"

  /** http_events req_path / filter battery shared by most/largest. */
  private val httpPathSql =
    """CASE WHEN event_id % 25 = 0 THEN '/healthz'
      |     WHEN event_id % 25 = 1 THEN '/readyz'
      |     ELSE '/api/v1/users/' || user_id END""".stripMargin

  /** The pod-7-gen1 edge window (pod_edge_stats family): responding pod
    * rows minus health/ready/'-' (the '-' rows also fail the remote-IP
    * prefilter join).
    */
  private val pod7EdgeCte =
    s"""f AS (SELECT t, t - t % 10000000000 AS ts_bin, value AS latency,
       |        event_id, 100 + event_id % 460 AS resp_status,
       |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
       |          AS failure,
       |        event_id % 512 AS req_sz, 100 + event_id % 1000 AS resp_sz
       |      FROM e WHERE user_id = 7 AND g = 1
       |        AND event_id % 25 <> 0 AND event_id % 25 <> 1
       |        AND event_id % 5 <> 0)""".stripMargin

  /** The service_stats http filter: no health/ready checks, no
    * unresolved ('-') requesters.
    */
  private val httpFilter =
    "event_id % 25 <> 0 AND event_id % 25 <> 1 AND event_id % 5 <> 0"

  /** Windowed edge LET (requestor resolves per (user, generation) — the
    * remote_addr IS the event's own pod IP, so the requesting svc equals
    * the responding svc on this fixture) then the whole-range summary.
    */
  private def edgeSummaryOracle(svcFilter: String): String =
    edgeSummarySql(s"$httpFilter $svcFilter")

  /** The edge-summary oracle over the http events passing `where`. */
  private def edgeSummarySql(where: String): String =
    s"""WITH $eventsCte,
       |w AS (SELECT t - t % 10000000000 AS ts_bin, user_id, g,
       |        'svc-' || (user_id % 10) AS svc,
       |        value AS latency,
       |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
       |          AS failure,
       |        100 + event_id % 1000 AS resp_sz
       |      FROM e WHERE $where),
       |q AS (SELECT ts_bin, user_id, g, svc,
       |        avg(CAST(failure AS DOUBLE)) AS erw,
       |        count(latency) AS tt,
       |        CAST(sum(resp_sz) AS BIGINT) AS bt
       |      FROM w GROUP BY 1, 2, 3, 4)
       |SELECT svc AS requestor, svc AS responder,
       |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
       |    AS request_throughput,
       |  round(avg(bt / 10000000000) * 10000000000, 9) / 10000000000
       |    AS bytes_throughput,
       |  round(avg(erw * (tt / 10000000000)) * 10000000000, 9)
       |    / 10000000000 AS error_rate
       |FROM q GROUP BY svc ORDER BY requestor, responder""".stripMargin

  /** svc-1 inbound rows (flags are all False in the pxbeta scripts —
    * health/ready/unresolved rows stay) with the sf-adaptive endpoint.
    */
  private val endpointCte =
    s"""f AS (SELECT t, t - t % 10000000000 AS ts_bin, value AS latency,
       |        event_id, user_id, g,
       |        CASE WHEN event_id % 25 = 0 THEN '/healthz'
       |             WHEN event_id % 25 = 1 THEN '/readyz'
       |             ELSE '/api/v1/users/' || user_id END AS req_path,
       |        event_id % 512 AS req_sz, 100 + event_id % 1000 AS resp_sz,
       |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
       |          AS failure
       |      FROM e WHERE user_id % 10 = 1 AND event_id % 3 <> 0),
       |nc AS (SELECT count(DISTINCT user_id) AS n4 FROM e
       |       WHERE user_id % 10 = 1),
       |ep AS (SELECT f.*,
       |         CASE WHEN req_path LIKE '/api/v1/users/%' AND nc.n4 > 5
       |              THEN '/api/v1/users/*' ELSE req_path END AS endpoint
       |       FROM f, nc)""".stripMargin

  lazy val gates: Seq[Gate] = Seq(
    // service.pxl `pods_for_service`: px.has_service_name over a ctx
    // property in a filter.
    Gate("q87_pxl_service_pods", (s, dir) =>
      PxlRunner.runFunction(script(ServicePath), Pxl.env(s, dir, nowNs),
          "pods_for_service", Seq("-45d", "svc-1"))
        .orderBy("pod"), oracle =
      s"""WITH ${filteredEventsCte()}
         |SELECT DISTINCT 'pod-' || user_id || '-gen' || g AS pod,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS pod_create_time,
         |  $podStatusSql AS pod_status
         |FROM e WHERE user_id % 10 = 1 ORDER BY pod""".stripMargin),

    // service.pxl `inbound_let_timeseries`: single-key window rollup with
    // errors_per_ns derived series.
    Gate("q88_pxl_service_let_ts", (s, dir) =>
      PxlRunner.runFunction(script(ServicePath), Pxl.env(s, dir, nowNs),
          "inbound_let_timeseries", Seq("-45d", "svc-1"))
        .orderBy("time_"), oracle =
      s"""WITH ${filteredEventsCte()},
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
      PxlRunner.runFunction(script(ServicePath), Pxl.env(s, dir, nowNs),
          "service_slow_requests", Seq("-45d", "svc-1"))
        .orderBy("time_", "req_body"), oracle =
      s"""WITH ${filteredEventsCte()},
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

    // http_data_filtered/data.pxl `http_data`: status-code equality plus
    // three contains filters; status 200 keeps the row count under the
    // script's own head cap so the limit never binds.
    Gate("q118_pxl_http_filtered", (s, dir) =>
      PxlRunner.runFunction(script(HttpFilteredPath), Pxl.env(s, dir, nowNs),
          "http_data", Seq("-45d", "", "", "", "200"))
        .orderBy("time_"), oracle = (
      s"""WITH $eventsCte
         |SELECT t AS time_,
         |  CASE WHEN event_id % 5 = 0 THEN '-'
         |       ELSE '10.' || (10 + g) || '.' || (user_id % 250) || '.'
         |            || (1 + user_id // 250) END AS remote_addr,
         |  1024 + event_id % 32768 AS remote_port,
         |  CASE event_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
         |       WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS req_method,
         |  CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |       WHEN event_id % 25 = 1 THEN '/readyz'
         |       ELSE '/api/v1/users/' || user_id END AS req_path,
         |  CAST(200 AS BIGINT) AS resp_status,
         |  'resp-' || event_id AS resp_body,
         |  value AS latency,
         |  'svc-' || (user_id % 10) AS svc,
         |  'pod-' || user_id || '-gen' || g AS pod
         |FROM e WHERE event_id % 460 = 100 ORDER BY time_""".stripMargin)),

    // http_post_requests/data.pxl: top-level script with a hardcoded
    // '-30s' window — empty at the fixture's frozen now, so this gates
    // the schema round-trip of the whole map/ctx/filter chain.
    Gate("q119_pxl_http_post", (s, dir) =>
      PxlRunner.run(script(HttpPostPath), Pxl.env(s, dir, nowNs))("output"), oracle = (
      """SELECT CAST(0 AS BIGINT) AS time_, '' AS remote_addr,
        |  CAST(0 AS BIGINT) AS remote_port, '' AS req_method,
        |  '' AS req_path, CAST(0 AS BIGINT) AS resp_status,
        |  '' AS resp_body, CAST(0 AS DOUBLE) AS latency, '' AS service
        |WHERE false""".stripMargin)),

    // services.pxl.
    Gate("q147_pxl_services_list", (s, dir) =>
      PxlRunner.runFunction(script(ServicesPath), Pxl.env(s, dir, nowNs),
          "services", Seq("-45d", "ns1"))
        .orderBy("service"), oracle =
      s"""WITH $eventsCte,
         |pods AS (SELECT DISTINCT 'svc-' || (user_id % 10) AS service,
         |           'pod-' || user_id || '-gen' || g AS pod
         |         FROM e WHERE user_id % 10 % 3 = 1)
         |SELECT service, count(pod) AS pod_count
         |FROM pods GROUP BY 1 ORDER BY service""".stripMargin),

    Gate("q148_pxl_services_let", (s, dir) =>
      PxlRunner.runFunction(script(ServicesPath), Pxl.env(s, dir, nowNs),
          "inbound_service_let", Seq("-45d", "ns1"))
        .orderBy("time_", "service"), oracle =
      s"""WITH $eventsCte,
         |${httpHelperCte(1)},
         |srv AS (SELECT * FROM h WHERE event_id % 3 <> 0)
         |SELECT ts_bin AS time_, service,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99,
         |  count(latency) / 10000000000 AS request_throughput,
         |  avg(CAST(failure AS DOUBLE)) AS error_rate,
         |  CAST(sum(req_body_size0) AS BIGINT) / 10000000000
         |    AS inbound_throughput,
         |  CAST(sum(resp_body_size) AS BIGINT) / 10000000000
         |    AS outbound_throughput
         |FROM srv GROUP BY 1, 2 ORDER BY time_, service""".stripMargin),

    // slow_http_requests: the fixture's latencies never exceed the
    // script's 100ms floor, so this gates the 0-row schema round-trip of
    // the whole ctx/source-dest/p99-self-join chain (q78/q119 convention).
    Gate("q149_pxl_slow_requests", (s, dir) =>
      PxlRunner.runFunction(script(SlowRequestsPath), Pxl.env(s, dir, nowNs),
          "namespace_slow_requests", Seq("-45d", "ns1"))
        .orderBy("time_"), oracle =
      """SELECT CAST(0 AS BIGINT) AS time_, '' AS source, '' AS destination,
        |  CAST(0 AS BIGINT) AS remote_port, CAST(0 AS DOUBLE) AS latency,
        |  '' AS req_method, '' AS req_path, CAST(0 AS BIGINT) AS resp_status,
        |  '' AS resp_body
        |WHERE false""".stripMargin),

    // service_resource_usage.pxl services_for_cluster: process rollup
    // left-joined with the http LET summary. http_latency is the RAW
    // quantiles JSON — canonicalized to typed doubles (q145 convention).
    Gate("q154_pxl_service_resource", (s, dir) =>
      PxlRunner.runFunction(script(ServiceResourcePath), Pxl.env(s, dir, nowNs),
          "services_for_cluster", Seq("-45d"))
        .withColumn("latency_p50",
          get_json_object(col("http_latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("http_latency"), "$.p99").cast("double"))
        .drop("http_latency")
        .orderBy("service"), oracle =
      s"""WITH $eventsCte,
         |p1 AS (SELECT 'svc-' || (user_id % 10) AS service,
         |         max(t) - min(t) AS tw,
         |         sum(CAST((50 + event_id % 450) * 1048576 AS DOUBLE)) AS rss_sum
         |       FROM e GROUP BY user_id, g),
         |p2 AS (SELECT service, count(*) AS pod_count,
         |         avg(CAST(0 AS DOUBLE)) AS avg_pod_cpu,
         |         avg(rss_sum) AS avg_pod_rss,
         |         max(tw) AS time_window
         |       FROM p1 GROUP BY 1),
         |h2 AS (SELECT 'svc-' || (user_id % 10) AS service,
         |         count(value) AS tput,
         |         quantile_cont(value, 0.50) AS latency_p50,
         |         quantile_cont(value, 0.99) AS latency_p99
         |       FROM e WHERE event_id % 3 <> 0 GROUP BY 1)
         |SELECT p2.service, pod_count, avg_pod_cpu, avg_pod_rss,
         |  tput / time_window AS http_request_throughput,
         |  latency_p50, latency_p99
         |FROM p2 LEFT JOIN h2 ON p2.service = h2.service
         |ORDER BY p2.service""".stripMargin),

    // most_http_data.pxl: global-max agg self-merged back (get_max_elm)
    // onto the per-(pod, path) byte sums.
    Gate("q156_pxl_most_http_data", (s, dir) =>
      PxlRunner.run(script(MostHttpPath),
          Pxl.env(s, dir, tailNowNs(s, dir)))("max_path_pod")
        .orderBy("pod", "req_path"), oracle =
      s"""WITH ${tailCte(120000000000L)},
         |f AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        $httpPathSql AS req_path,
         |        100 + event_id % 1000 AS sz
         |      FROM e WHERE event_id % 25 <> 0 AND event_id % 25 <> 1
         |        AND event_id % 5 <> 0),
         |s AS (SELECT pod, req_path, CAST(sum(sz) AS BIGINT) AS resp_bytes_sum
         |      FROM f GROUP BY 1, 2),
         |m AS (SELECT max(resp_bytes_sum) AS mxv FROM s)
         |SELECT pod, req_path, resp_bytes_sum
         |FROM s, m WHERE resp_bytes_sum = mxv
         |ORDER BY pod, req_path""".stripMargin),

    // largest_http_request.pxl: same max-row pattern at row level, then
    // the per-(pod, path, size) request count.
    Gate("q157_pxl_largest_http", (s, dir) =>
      PxlRunner.run(script(LargestHttpPath),
          Pxl.env(s, dir, tailNowNs(s, dir)))("number of reqs")
        .orderBy("pod", "req_path"), oracle =
      s"""WITH ${tailCte(120000000000L)},
         |f AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        $httpPathSql AS req_path,
         |        100 + event_id % 1000 AS resp_size_bytes
         |      FROM e WHERE event_id % 25 <> 0 AND event_id % 25 <> 1
         |        AND event_id % 5 <> 0),
         |m AS (SELECT max(resp_size_bytes) AS mxv FROM f)
         |SELECT pod, req_path, resp_size_bytes,
         |  count(*) AS num_requests
         |FROM f, m WHERE resp_size_bytes = mxv
         |GROUP BY pod, req_path, resp_size_bytes
         |ORDER BY pod, req_path""".stripMargin),

    // pixie_quality_metrics: latency sanity counters (huge/negative)
    // over http and mysql tracer tables.
    Gate("q163_pxl_quality_http", (s, dir) =>
      PxlRunner.run(script(QualityPath),
          Pxl.env(s, dir, tailNowNs(s, dir)))("http_latencies"), oracle =
      s"""WITH ${tailCte(300000000000L)}
         |SELECT value > 10000000 AS latency_huge, value < 0
         |    AS negative_latencies,
         |  count(value) AS "count"
         |FROM e GROUP BY 1, 2""".stripMargin),

    Gate("q164_pxl_quality_mysql", (s, dir) =>
      PxlRunner.run(script(QualityPath),
          Pxl.env(s, dir, tailNowNs(s, dir)))("mysql_latencies"), oracle =
      s"""WITH ${tailCte(300000000000L)}
         |SELECT value > 10000000 AS latency_huge, value < 0
         |    AS negative_latencies,
         |  count(value) AS "count"
         |FROM e GROUP BY 1, 2""".stripMargin),

    // pod_edge_stats: traffic between one (requesting, responding) pod
    // pair; the self-edge is the fixture's only resolvable pair. The raw
    // latency_quantiles JSON column is dropped at the gate boundary —
    // its plucked p50/p90/p99 forms stay (q145 convention).
    Gate("q165_pxl_pod_edge_let", (s, dir) =>
      PxlRunner.runFunction(script(PodEdgePath), Pxl.env(s, dir, nowNs),
          "pod_edge_let", Seq("-45d", "pod-7-gen1", "pod-7-gen1"))
        .drop("latency_quantiles")
        .orderBy("time_"), oracle =
      s"""WITH $eventsCte,
         |$pod7EdgeCte
         |SELECT ts_bin AS "timestamp",
         |  avg(CAST(failure AS DOUBLE)) AS error_rate_per_window,
         |  count(latency) AS throughput_total,
         |  CAST(sum(req_sz) AS BIGINT) AS bytes_recv,
         |  CAST(sum(resp_sz) AS BIGINT) AS bytes_sent,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99,
         |  ts_bin AS time_,
         |  count(latency) / 10000000000 AS request_throughput,
         |  CAST(sum(req_sz) AS BIGINT) / 10000000000 AS req_data_throughput,
         |  CAST(sum(resp_sz) AS BIGINT) / 10000000000 AS resp_data_throughput,
         |  avg(CAST(failure AS DOUBLE)) * (count(latency) / 10000000000)
         |    AS error_rate
         |FROM f GROUP BY ts_bin ORDER BY time_""".stripMargin),

    Gate("q166_pxl_pod_edge_codes", (s, dir) =>
      PxlRunner.runFunction(script(PodEdgePath), Pxl.env(s, dir, nowNs),
          "http_code_agg", Seq("-45d", "pod-7-gen1", "pod-7-gen1"))
        .orderBy("resp_status"), oracle =
      s"""WITH $eventsCte,
         |$pod7EdgeCte
         |SELECT resp_status, count(*) AS "count"
         |FROM f GROUP BY 1 ORDER BY resp_status""".stripMargin),

    // service_edge_stats: LET per (requestor svc, responder svc) edge.
    Gate("q167_pxl_svc_edge_let", (s, dir) =>
      PxlRunner.runFunction(script(SvcEdgePath), Pxl.env(s, dir, nowNs),
          "svc_edge_let", Seq("-45d", "svc-1", "svc-1"))
        .orderBy("time_", "latency_p50", "latency_p90", "latency_p99",
          "error_rate", "request_throughput", "bytes_throughput"), oracle =
      s"""WITH $eventsCte,
         |w AS (SELECT t - t % 10000000000 AS ts_bin, user_id, g,
         |        value AS latency,
         |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
         |          AS failure,
         |        100 + event_id % 1000 AS resp_sz
         |      FROM e WHERE user_id % 10 = 1
         |        AND event_id % 25 <> 0 AND event_id % 25 <> 1
         |        AND event_id % 5 <> 0),
         |a AS (SELECT ts_bin, user_id, g,
         |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
         |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
         |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
         |        avg(CAST(failure AS DOUBLE)) AS erw,
         |        count(latency) AS tt,
         |        CAST(sum(resp_sz) AS BIGINT) AS bt
         |      FROM w GROUP BY 1, 2, 3)
         |SELECT ts_bin AS time_, 'svc-1' AS requestor, 'svc-1' AS k8s,
         |  'svc-1' AS responder,
         |  p50 AS latency_p50, p90 AS latency_p90, p99 AS latency_p99,
         |  erw * (tt / 10000000000) AS error_rate,
         |  tt / 10000000000 AS request_throughput,
         |  bt / 10000000000 AS bytes_throughput
         |FROM a ORDER BY time_, latency_p50, latency_p90, latency_p99,
         |  error_rate, request_throughput, bytes_throughput""".stripMargin),

    // http_trace_id: traceparent header pluck + \1-backreference regex
    // rewrite, linkified source/destination, full row-level trace.
    Gate("q171_pxl_http_trace", (s, dir) =>
      PxlRunner.runFunction(script(HttpTraceIdPath), Pxl.env(s, dir, nowNs),
          "http_trace_data", Seq("-45d", "traceparent", ""))
        .orderBy("time_"), oracle = {
      val respMsg = graft.functions.ProtocolOps.httpRespMessage
        .sql("(100 + event_id % 460)")
      s"""WITH $eventsCte,
         |x0 AS (SELECT * FROM e WHERE event_id % 2 = 0),
         |${srcDstCte("x0")}
         |SELECT t AS time_,
         |  '{"label":"' || md5(CAST(event_id AS VARCHAR)) ||
         |    '","script":"px/http_trace_id","args":{"start_time":"-90d","trace_id_filter":"'
         |    || md5(CAST(event_id AS VARCHAR)) || '"}}' AS trace_id,
         |  ${linkSql("src0", "is_src_pod")} AS source,
         |  ${linkSql("dst0", "is_dst_pod")} AS destination,
         |  value AS latency, 1 + event_id % 2 AS major_version,
         |  CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |       WHEN event_id % 25 = 1 THEN '/readyz'
         |       ELSE '/api/v1/users/' || user_id END AS req_path,
         |  CASE event_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
         |       WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS req_method,
         |  '{"host":"svc","traceparent":"00-' ||
         |    md5(CAST(event_id AS VARCHAR)) || '-' ||
         |    substr(md5(CAST(event_id + 1 AS VARCHAR)), 1, 16) || '-01"}'
         |    AS req_headers,
         |  'req-' || event_id AS req_body,
         |  event_id % 512 AS req_body_size,
         |  100 + event_id % 460 AS resp_status,
         |  $respMsg AS resp_message,
         |  '{}' AS resp_headers,
         |  'resp-' || event_id AS resp_body,
         |  100 + event_id % 1000 AS resp_body_size
         |FROM x ORDER BY time_""".stripMargin
    }),

    // service_stats latency_histogram: 50ms bins over the health/ready/
    // unresolved-filtered http latency domain.
    Gate("q186_pxl_svc_latency_hist", (s, dir) =>
      PxlRunner.runFunction(script(ServiceStatsPath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", ""))
        .orderBy("request_latency"), oracle =
      s"""WITH $eventsCte
         |SELECT CAST(floor(value - fmod(value, 50000000.0)) AS BIGINT)
         |    AS request_latency,
         |  count(*) AS "count"
         |FROM e WHERE $httpFilter
         |GROUP BY 1 ORDER BY request_latency""".stripMargin),

    // incoming/outgoing edge summaries for one svc: windowed LET per
    // (requestor ip, responder svc) then mean rates per edge.
    Gate("q187_pxl_svc_incoming_edges", (s, dir) =>
      PxlRunner.runFunction(script(ServiceStatsPath), Pxl.env(s, dir, nowNs),
          "incoming_edges", Seq("-45d", "svc-1"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("bytes_throughput", canon("bytes_throughput"))
        .withColumn("error_rate", canon("error_rate"))
        .orderBy("requestor", "responder"), oracle =
      edgeSummaryOracle("AND user_id % 10 = 1")),

    Gate("q188_pxl_svc_outgoing_edges", (s, dir) =>
      PxlRunner.runFunction(script(ServiceStatsPath), Pxl.env(s, dir, nowNs),
          "outgoing_edges", Seq("-45d", "svc-1"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("bytes_throughput", canon("bytes_throughput"))
        .withColumn("error_rate", canon("error_rate"))
        .orderBy("requestor", "responder"), oracle =
      edgeSummaryOracle("AND user_id % 10 = 1")),

    // svc_graph(""): the whole local service map (non-empty endpoints).
    Gate("q189_pxl_svc_graph", (s, dir) =>
      PxlRunner.runFunction(script(ServiceStatsPath), Pxl.env(s, dir, nowNs),
          "svc_graph", Seq("-45d", ""))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("bytes_throughput", canon("bytes_throughput"))
        .withColumn("error_rate", canon("error_rate"))
        .orderBy("requestor", "responder"), oracle = edgeSummaryOracle("")),

    // pod_edge_stats latency_histogram: RAW (unbinned) latency counts
    // over the pod-7-gen1 self edge.
    Gate("q196_pxl_pod_edge_latency_hist", (s, dir) =>
      PxlRunner.runFunction(script(PodEdgePath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", "pod-7-gen1", "pod-7-gen1"))
        .orderBy("request_latency"), oracle =
      // pod-7-gen1 self edge (q165/q166 filter), raw latency counts.
      s"""WITH $eventsCte
         |SELECT value AS request_latency, count(*) AS "count"
         |FROM e WHERE user_id = 7 AND g = 1
         |  AND event_id % 25 <> 0 AND event_id % 25 <> 1
         |  AND event_id % 5 <> 0
         |GROUP BY 1 ORDER BY request_latency""".stripMargin),

    // pod_edge_stats http_requests_formatted: the row-level request view
    // of the pod-7-gen1 self edge.
    Gate("q218_pxl_pod_edge_requests", (s, dir) =>
      PxlRunner.runFunction(script(PodEdgePath), Pxl.env(s, dir, nowNs),
          "http_requests_formatted", Seq("-45d", "pod-7-gen1", "pod-7-gen1"))
        .orderBy("timestamp", "req_body"), oracle =
      s"""WITH $eventsCte
         |SELECT t - t % 10000000000 AS "timestamp", value AS latency,
         |  CASE event_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
         |       WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS req_method,
         |  '/api/v1/users/7' AS req_path,
         |  'req-' || event_id AS req_body,
         |  100 + event_id % 460 AS resp_status,
         |  'resp-' || event_id AS resp_body,
         |  100 + event_id % 460 >= 400 AS failure
         |FROM e WHERE user_id = 7 AND g = 1
         |  AND event_id % 25 <> 0 AND event_id % 25 <> 1
         |  AND event_id % 5 <> 0
         |ORDER BY "timestamp", req_body""".stripMargin),

    // service_edge_stats summary_edge_let: whole-window means of the
    // svc-1 self-edge LET windows (q167's shape, q187's summary math).
    Gate("q219_pxl_svc_edge_summary", (s, dir) =>
      PxlRunner.runFunction(script(SvcEdgePath), Pxl.env(s, dir, nowNs),
          "summary_edge_let", Seq("-45d", "svc-1", "svc-1"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("bytes_throughput", canon("bytes_throughput"))
        .withColumn("error_rate", canon("error_rate"))
        .orderBy("requestor", "responder"), oracle =
      // q187's edge-summary math keyed (requestor, responder).
      edgeSummarySql("user_id % 10 = 1\n" +
        "        AND event_id % 25 <> 0 AND event_id % 25 <> 1\n" +
        "        AND event_id % 5 <> 0")),

    // service.pxl inbound_let_summary: per requesting-ip rollup for one
    // service; the quantiles JSON plucks to typed doubles at the gate.
    Gate("q220_pxl_service_inbound_summary", (s, dir) =>
      PxlRunner.runFunction(script(ServicePath), Pxl.env(s, dir, nowNs),
          "inbound_let_summary", Seq("-45d", "svc-1"))
        .withColumn("latency_p50",
          get_json_object(col("latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("latency"), "$.p99").cast("double"))
        .drop("latency")
        .orderBy("requesting_ip"), oracle =
      // service.pxl: (service, requesting ip) groups for svc-1 users.
      s"""WITH $eventsCte,
         |f AS (SELECT value AS latency,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        '10.' || (10 + g) || '.' || (user_id % 250) || '.' ||
         |          (1 + user_id // 250) AS remote_addr,
         |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1.0 ELSE 0.0 END
         |          AS failure
         |      FROM e WHERE user_id % 10 = 1 AND event_id % 3 <> 0
         |        AND event_id % 25 <> 0 AND event_id % 25 <> 1
         |        AND event_id % 5 <> 0)
         |SELECT remote_addr AS requesting_ip, pod AS requesting_pod,
         |  'svc-1' AS requesting_svc,
         |  avg(failure) AS error_rate,
         |  quantile_cont(latency, 0.50) AS latency_p50,
         |  quantile_cont(latency, 0.99) AS latency_p99
         |FROM f GROUP BY 1, 2 ORDER BY requesting_ip""".stripMargin),

    // services.pxl inbound_let_summary: requesting-entity rollup with
    // window-mean throughputs (canon) and a single-agg error rate.
    Gate("q222_pxl_services_inbound_summary", (s, dir) =>
      PxlRunner.runFunction(script(ServicesPath), Pxl.env(s, dir, nowNs),
          "inbound_let_summary", Seq("-45d", "ns1"))
        .withColumn("latency_p50",
          get_json_object(col("latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("latency"), "$.p99").cast("double"))
        .drop("latency")
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("inbound_throughput", canon("inbound_throughput"))
        .withColumn("outbound_throughput", canon("outbound_throughput"))
        .orderBy("requesting_ip", "responder"), oracle =
      s"""WITH $eventsCte,
         |$ns1HelperCte,
         |srv AS (SELECT * FROM f WHERE tr2),
         |w AS (SELECT ts_bin, ip, pod, svc, count(*) AS tt,
         |        CAST(sum(req_sz) AS BIGINT) AS ib,
         |        CAST(sum(resp_sz) AS BIGINT) AS ob
         |      FROM srv GROUP BY 1, 2, 3, 4),
         |rates AS (SELECT ip, pod, svc,
         |            round(avg(tt / 10000000000) * 10000000000, 9)
         |              / 10000000000 AS request_throughput,
         |            round(avg(ib / 10000000000) * 10000000000, 9)
         |              / 10000000000 AS inbound_throughput,
         |            round(avg(ob / 10000000000) * 10000000000, 9)
         |              / 10000000000 AS outbound_throughput
         |          FROM w GROUP BY 1, 2, 3),
         |qx AS (SELECT ip, pod, svc,
         |         avg(CAST(failure AS DOUBLE)) AS error_rate,
         |         quantile_cont(latency, 0.50) AS latency_p50,
         |         quantile_cont(latency, 0.99) AS latency_p99
         |       FROM srv GROUP BY 1, 2, 3)
         |SELECT rates.ip AS requesting_ip, rates.pod AS requesting_pod,
         |  rates.svc AS requesting_svc, rates.svc AS responder,
         |  rates.request_throughput, qx.error_rate,
         |  rates.inbound_throughput, rates.outbound_throughput,
         |  qx.latency_p50, qx.latency_p99
         |FROM rates JOIN qx ON rates.ip = qx.ip AND rates.pod = qx.pod
         |  AND rates.svc = qx.svc
         |ORDER BY requesting_ip, responder""".stripMargin),

    // services.pxl inbound_let_service_graph: both trace roles windowed
    // per (svc, remote, pod, role), collapsed to pod-pair edges.
    Gate("q223_pxl_services_let_graph", (s, dir) =>
      PxlRunner.runFunction(script(ServicesPath), Pxl.env(s, dir, nowNs),
          "inbound_let_service_graph", Seq("-45d", "ns1"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("inbound_throughput", canon("inbound_throughput"))
        .withColumn("outbound_throughput", canon("outbound_throughput"))
        .withColumn("error_rate", round(col("error_rate"), 6))
        .orderBy("responder_pod", "requestor_pod"), oracle = letGraphOracle),

    // service_endpoints endpoints: the clustered endpoint catalog with
    // pxbeta/service_endpoint deep links.
    Gate("q228_pxl_endpoints_list", (s, dir) =>
      PxlRunner.runFunction(script(EndpointsPath), Pxl.env(s, dir, nowNs),
          "endpoints", Seq("-45d", "svc-1"))
        .orderBy("endpoint"), oracle =
      s"""WITH $eventsCte,
         |$endpointCte
         |SELECT DISTINCT '{"label":"' || endpoint ||
         |  '","script":"pxbeta/service_endpoint","args":{"start_time":"-45d","service":"svc-1","endpoint":"'
         |  || endpoint || '"}}' AS endpoint
         |FROM ep ORDER BY endpoint""".stripMargin),

    // service_endpoints endpoint_let: windowed LET per endpoint.
    Gate("q229_pxl_endpoints_let", (s, dir) =>
      PxlRunner.runFunction(script(EndpointsPath), Pxl.env(s, dir, nowNs),
          "endpoint_let", Seq("-45d", "svc-1"))
        .orderBy("time_", "endpoint"), oracle =
      s"""WITH $eventsCte,
         |$endpointCte
         |SELECT ts_bin AS time_, endpoint,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99,
         |  count(latency) / 10000000000 AS request_throughput,
         |  avg(CAST(failure AS DOUBLE)) AS error_rate,
         |  CAST(sum(req_sz) AS BIGINT) / 10000000000 AS inbound_throughput,
         |  CAST(sum(resp_sz) AS BIGINT) / 10000000000 AS outbound_throughput
         |FROM ep GROUP BY 1, 2 ORDER BY time_, endpoint""".stripMargin),

    // service_endpoint endpoint_let_timeseries: one endpoint template
    // matched via px._match_endpoint.
    Gate("q230_pxl_endpoint_let_ts", (s, dir) =>
      PxlRunner.runFunction(script(EndpointPath), Pxl.env(s, dir, nowNs),
          "endpoint_let_timeseries",
          Seq("-45d", "svc-1", "/api/v1/users/*"))
        .orderBy("time_"), oracle =
      s"""WITH $eventsCte,
         |$endpointCte
         |SELECT ts_bin AS time_,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99,
         |  count(latency) / 10000000000 AS request_throughput,
         |  avg(CAST(failure AS DOUBLE)) * (count(latency) / 10000000000)
         |    AS errors_per_ns,
         |  avg(CAST(failure AS DOUBLE)) AS error_rate,
         |  CAST(sum(resp_sz) AS BIGINT) / 10000000000 AS bytes_per_ns
         |FROM ep WHERE req_path LIKE '/api/v1/users/%'
         |GROUP BY 1 ORDER BY time_""".stripMargin),

    // service_endpoint endpoint_slow_requests: p99 tail of the matched
    // endpoint with linked sources (head cap not binding at sf0.01).
    Gate("q231_pxl_endpoint_slow", (s, dir) =>
      PxlRunner.runFunction(script(EndpointPath), Pxl.env(s, dir, nowNs),
          "endpoint_slow_requests",
          Seq("-45d", "svc-1", "/api/v1/users/*"))
        .orderBy("time_", "req_body"), oracle = {
      def podLink(c: String): String =
        s"""'{"label":"' || $c || '","script":"px/pod","args":{"start_time":"-45d","pod":"' || $c || '"}}'"""
      def ipLink(c: String): String =
        s"""'{"label":"' || $c || '","script":"px/net_flow_graph","args":{"start_time":"-45d","namespace":"ns1","from_entity_filter":"' || $c || '","to_entity_filter":"","throughput_filter":"0.0"}}'"""
      s"""WITH $eventsCte,
         |h AS (SELECT t, value AS latency, event_id, user_id, g,
         |        event_id % 5 <> 0 AS is_ra_pod,
         |        CASE WHEN event_id % 5 = 0 THEN '-'
         |             ELSE 'pod-' || user_id || '-gen' || g END AS src0,
         |        CASE event_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
         |             WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS req_method,
         |        '/api/v1/users/' || user_id AS req_path,
         |        'req-' || event_id AS req_body,
         |        100 + event_id % 460 AS resp_status,
         |        'resp-' || event_id AS resp_body
         |      FROM e WHERE user_id % 10 = 1 AND event_id % 3 <> 0
         |        AND event_id % 25 <> 0 AND event_id % 25 <> 1),
         |q AS (SELECT quantile_cont(latency, 0.99) AS p99 FROM h)
         |SELECT t AS time_,
         |  CASE WHEN is_ra_pod THEN ${podLink("src0")}
         |       ELSE ${ipLink("src0")} END AS source,
         |  latency, req_method, req_path, req_body, resp_status, resp_body
         |FROM h, q WHERE latency >= floor(p99)
         |ORDER BY time_, req_body""".stripMargin
    })
  )
}
