package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._
import PxlGate._

/** Round-6 verbatim-widget tranche 5 — pod/pods/service LET widgets:
  * pod.pxl's inbound latency timeseries, per-container request
  * timeseries and flamegraph, pod_edge_stats' formatted request rows,
  * service_edge_stats' edge summary, and the service/pods
  * inbound_let_summary rollups.
  *
  * Scale notes: every windowed aggregate shuffles once on its
  * (window, key) tuple; the pod flamegraph total is a 1-key broadcast
  * merge-back; the summaries join two aggregates of the SAME scan on
  * the group key (exchange reuse, no re-scan).
  */
object Pxl14 extends Gates {

  val PodsPath = s"$RefPx/pods/pods.pxl"
  val ServicePath = s"$RefPx/service/service.pxl"

  lazy val gates: Seq[Gate] = Seq(
    // pod.pxl inbound_latency_timeseries: per-10s floored quantiles over
    // pod-7-gen1's inbound (server-traced) non-health traffic.
    Gate("q215_pxl_pod_latency_ts", (s, dir) =>
      PxlRunner.runFunction(script(Pxl11.PodPath), Pxl.env(s, dir, nowNs),
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
      PxlRunner.runFunction(script(Pxl11.PodPath), Pxl.env(s, dir, nowNs),
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
      PxlRunner.runFunction(script(Pxl11.PodPath), Pxl.env(s, dir, nowNs),
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

    // pod_edge_stats http_requests_formatted: the row-level request view
    // of the pod-7-gen1 self edge.
    Gate("q218_pxl_pod_edge_requests", (s, dir) =>
      PxlRunner.runFunction(script(Pxl8.PodEdgePath), Pxl.env(s, dir, nowNs),
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
      PxlRunner.runFunction(script(Pxl8.SvcEdgePath), Pxl.env(s, dir, nowNs),
          "summary_edge_let", Seq("-45d", "svc-1", "svc-1"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("bytes_throughput", canon("bytes_throughput"))
        .withColumn("error_rate", canon("error_rate"))
        .orderBy("requestor", "responder"), oracle =
      // q187's edge-summary math keyed (requestor, responder).
      Pxl11.edgeSummarySql("user_id % 10 = 1\n" +
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
         |ORDER BY responder, requesting_ip""".stripMargin)
  )

  // ---- oracle fragments ----------------------------------------------

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
}
