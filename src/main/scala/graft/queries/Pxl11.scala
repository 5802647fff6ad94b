package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._
import PxlGate._

/** Round-6 verbatim-widget tranche, part 2: service_stats edge widgets
  * (latency histogram, incoming/outgoing edge summaries, svc_graph),
  * pod.pxl's process list and inbound-LET summary, ip.pxl's ip_info
  * rollup, and jvm_stats' pod/cmdline table — every vis.json widget
  * function of those scripts now has an oracle-gated entry.
  *
  * Scale notes: the edge summaries are windowed LET (shuffle keyed by
  * (requestor-ip, svc, window)) then an edge-keyed second aggregate;
  * metadata ip->svc resolution is a broadcast dim join on the already-
  * aggregated (small) frame; processes / cmd_pod_table are distinct-
  * aggregates keyed by the output tuple; ip_info is a global 1-row
  * rollup of the per-pod rates.
  */
object Pxl11 extends Gates {

  val ServiceStatsPath = s"$RefPx/service_stats/service_stats.pxl"
  val PodPath = s"$RefPx/pod/pod.pxl"
  val IpPath = s"$RefPx/ip/ip.pxl"
  val JvmStatsPath = s"$RefPx/jvm_stats/jvm_stats.pxl"

  lazy val gates: Seq[Gate] = Seq(
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

    // ip.pxl ip_info: global byte-rate rollup + the metadata identity of
    // the IP (all lookups miss for a non-pod IP -> '' contract).
    Gate("q192_pxl_ip_info", (s, dir) =>
      PxlRunner.runFunction(script(IpPath), Pxl.env(s, dir, nowNs),
          "ip_info", Seq("-45d", "10.9.7.7"))
        .withColumn("bytes_per_s_from_ip", round(col("bytes_per_s_from_ip"), 9))
        .withColumn("bytes_per_s_to_ip", round(col("bytes_per_s_to_ip"), 9)), oracle =
      s"""WITH $eventsCte,
         |r AS (SELECT * FROM e WHERE user_id % 50 = 7),
         |tw AS (SELECT max(t) - min(t) AS td FROM r),
         |a AS (SELECT max(us) - min(us) AS bs,
         |        max(us // 3) - min(us // 3) AS br
         |      FROM r GROUP BY user_id, g, event_id % 2)
         |SELECT round(sum(br / td), 9) AS bytes_per_s_from_ip,
         |  round(sum(bs / td), 9) AS bytes_per_s_to_ip,
         |  ${graft.functions.NetOps.nslookupStubSql("'10.9.7.7'")}
         |    AS resolved_domain,
         |  '' AS ip_pod, '' AS ip_service, '' AS ip_node
         |FROM a, tw""".stripMargin),

    // jvm_stats cmd_pod_table: distinct (pod, cmdline) via
    // px.upid_to_cmdline over the node/pod-filtered jvm table.
    Gate("q193_pxl_jvm_pods", (s, dir) =>
      PxlRunner.runFunction(script(JvmStatsPath), Pxl.env(s, dir, nowNs),
          "cmd_pod_table", Seq("-45d", "", ""))
        .orderBy("pod"), oracle =
      s"""WITH $eventsCte
         |SELECT DISTINCT 'pod-' || user_id || '-gen' || g AS pod,
         |  '/bin/app --id=' || user_id AS cmdline
         |FROM e ORDER BY pod""".stripMargin)
  )

  // ---- oracle fragments ----------------------------------------------

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
  private[queries] def edgeSummarySql(where: String): String =
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
}
