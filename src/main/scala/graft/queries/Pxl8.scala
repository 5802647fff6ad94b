package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._
import PxlGate._

/** Round-5 verbatim-script tranche 5: pod_lifetime_resource,
  * pixie_quality_metrics (latency sanity counters), the edge-stats
  * drill-downs (pod_edge_stats, service_edge_stats), and ip.pxl —
  * each executed UNMODIFIED from the reference checkout and
  * hash-checked against a DuckDB oracle.
  *
  * Scale notes: the edge-stats scripts aggregate keyed by
  * (requester, responder, window) — the fact table shuffles once on
  * its group keys; ip.pxl's scalar time window is the keyless-merge
  * broadcast (1-row side); pod_edge_stats' remote-IP prefilter is a
  * distinct-remote_addr aggregate joined back (tiny build side).
  */
object Pxl8 extends Gates {

  val PodLifetimePath = s"$RefPx/pod_lifetime_resource/resource.pxl"
  val QualityPath = s"$RefPx/pixie_quality_metrics/pixie_quality_metrics.pxl"
  val PodEdgePath = s"$RefPx/pod_edge_stats/pod_edge_stats.pxl"
  val SvcEdgePath = s"$RefPx/service_edge_stats/service_edge_stats.pxl"
  val IpPath = s"$RefPx/ip/ip.pxl"

  lazy val gates: Seq[Gate] = Seq(
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

    // ip.pxl: all traffic involving one IP, rolled up per pod/role with
    // the scalar time-window rate conversion.
    Gate("q168_pxl_ip_traffic", (s, dir) =>
      PxlRunner.runFunction(script(IpPath), Pxl.env(s, dir, nowNs),
          "traffic_involving_ip", Seq("-45d", "10.9.7.7"))
        .orderBy("pod", "trace_role"), oracle =
      s"""WITH $eventsCte,
         |r AS (SELECT * FROM e WHERE user_id % 50 = 7),
         |tw AS (SELECT max(t) - min(t) AS td FROM r),
         |a AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        'node-' || (user_id % 5) AS node,
         |        'svc-' || (user_id % 10) AS service,
         |        1 + event_id % 2 AS trace_role,
         |        max(us) - min(us) AS bs,
         |        max(us // 3) - min(us // 3) AS br
         |      FROM r GROUP BY user_id, g, event_id % 2)
         |SELECT pod, node, service, trace_role,
         |  CAST(bs AS BIGINT) AS bytes_sent_by_pod,
         |  CAST(br AS BIGINT) AS bytes_recv_by_pod,
         |  CAST(bs + br AS BIGINT) AS total_bytes,
         |  br / td AS bytes_per_s_from_ip, bs / td AS bytes_per_s_to_ip,
         |  (bs + br) / td AS total_bytes_per_s
         |FROM a, tw ORDER BY pod, trace_role""".stripMargin),

    Gate("q169_pxl_ip_pod_traffic", (s, dir) =>
      PxlRunner.runFunction(script(IpPath), Pxl.env(s, dir, nowNs),
          "pod_traffic_to_ip", Seq("-45d", "10.9.7.7"))
        .orderBy("pod"), oracle =
      s"""WITH $eventsCte,
         |r AS (SELECT * FROM e WHERE user_id % 50 = 7),
         |tw AS (SELECT max(t) - min(t) AS td FROM r),
         |a AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        max(us) - min(us) AS bs,
         |        max(us // 3) - min(us // 3) AS br
         |      FROM r GROUP BY user_id, g, event_id % 2)
         |SELECT pod, sum(br / td) AS bytes_per_s_from_ip,
         |  sum(bs / td) AS bytes_per_s_to_ip,
         |  sum((bs + br) / td) AS total_bytes_per_s
         |FROM a, tw GROUP BY pod ORDER BY pod""".stripMargin),

    Gate("q170_pxl_ip_flow", (s, dir) =>
      PxlRunner.runFunction(script(IpPath), Pxl.env(s, dir, nowNs),
          "net_flow_graph", Seq("-45d", "10.9.7.7"))
        .orderBy("requestor", "responder", "requestor_sent_bytes_per_s"), oracle =
      s"""WITH $eventsCte,
         |r AS (SELECT * FROM e WHERE user_id % 50 = 7),
         |tw AS (SELECT max(t) - min(t) AS td FROM r),
         |a AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        1 + event_id % 2 AS trace_role,
         |        max(us) - min(us) AS bs,
         |        max(us // 3) - min(us // 3) AS br
         |      FROM r GROUP BY user_id, g, event_id % 2)
         |SELECT CASE WHEN trace_role = 2 THEN '10.9.7.7' ELSE pod END
         |    AS requestor,
         |  CASE WHEN trace_role = 2 THEN pod ELSE '10.9.7.7' END AS responder,
         |  CASE WHEN trace_role = 2 THEN br / td ELSE bs / td END
         |    AS requestor_sent_bytes_per_s,
         |  CASE WHEN trace_role = 2 THEN bs / td ELSE br / td END
         |    AS responder_sent_bytes_per_s,
         |  (bs + br) / td AS total_bytes_per_s
         |FROM a, tw
         |ORDER BY requestor, responder, requestor_sent_bytes_per_s""".stripMargin)
  )

  // ---- oracle fragments ----------------------------------------------

  private def tailCte(windowNs: Long): String =
    s"""mx AS (SELECT max(epoch_us(ts)) * 1000 + 1000 AS now_ns FROM events),
       |e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events, mx
       |      WHERE epoch_us(ts) * 1000 >= mx.now_ns - $windowNs
       |        AND epoch_us(ts) * 1000 < mx.now_ns)""".stripMargin

  private val podStatusSql =
    """CASE user_id % 4 WHEN 0 THEN 'Running' WHEN 1 THEN 'Pending'
      |     WHEN 2 THEN 'Succeeded' ELSE 'Failed' END""".stripMargin

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
}
