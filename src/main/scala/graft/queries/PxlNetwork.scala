package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import PxlGate._
import Q._

/** PxL gates for the network script family: connection stats and flow
  * graphs, inbound/outbound connections, per-IP traffic, and the DNS
  * scripts (data, flow graph, query summary, filtered, FQDN list).
  * Scripts run unmodified from the reference checkout; each oracle
  * re-derives the result from the raw fixture.
  */
object PxlNetwork extends Gates {

  val DnsDataPxlPath = s"$RefPx/dns_data/data.pxl"
  val NetFlowPath = s"$RefPx/net_flow_graph/net_flow_graph.pxl"
  val DnsFlowPath = s"$RefPx/dns_flow_graph/dns_flow_graph.pxl"
  val InboundConnsPath = s"$RefPx/inbound_conns/data.pxl"
  val OutboundConnsPath = s"$RefPx/outbound_conns/data.pxl"
  val DnsQuerySummaryPath = s"$RefPx/dns_query_summary/dns_query_summary.pxl"
  val NetworkStatsPath = s"$RefPx/network_stats/stats.pxl"
  val IpPath = s"$RefPx/ip/ip.pxl"
  val DnsFilteredPath = s"$RefScripts/sotw/dns_queries_filtered/data.pxl"
  val FqdnListPath = s"$RefScripts/sotw/dns_external_fqdn_list/data.pxl"

  private val selfIpSql =
    "'10.' || (10 + g) || '.' || (user_id % 250) || '.' || (1 + user_id // 250)"

  lazy val gates: Seq[Gate] = Seq(
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
      s"""WITH ${filteredEventsCte()},
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

    // net_flow_graph.pxl: conn_stats counter deltas per connection,
    // global time-window agg joined back via join_key, rate filter with
    // a float exec arg.
    Gate("q121_pxl_net_flow", (s, dir) =>
      PxlRunner.runFunction(script(NetFlowPath), Pxl.env(s, dir, nowNs),
          "net_flow_graph", Seq("-45d", "ns1", "", "", "0"))
        .orderBy("from_entity", "to_entity"), oracle =
      s"""WITH e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us,
         |        user_id, event_id,
         |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
         |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
         |        AND epoch_us(ts) * 1000 < $nowNs
         |        AND user_id % 10 % 3 = 1 AND event_id % 2 = 0),
         |tw AS (SELECT max(t) - min(t) AS time_delta FROM e),
         |grp AS (SELECT 'pod-' || user_id || '-gen' || g AS from_entity,
         |         ${graft.functions.NetOps.nslookupStubSql(
              "'10.9.' || (user_id % 50) || '.7'")} AS to_entity,
         |         max(us) - min(us) AS bs,
         |         max(us // 3) - min(us // 3) AS br
         |       FROM e GROUP BY user_id, g),
         |agg AS (SELECT from_entity, to_entity,
         |          CAST(sum(bs) AS BIGINT) AS s, CAST(sum(br) AS BIGINT) AS r,
         |          CAST(sum(bs + br) AS BIGINT) AS tot
         |        FROM grp GROUP BY 1, 2)
         |SELECT from_entity, to_entity,
         |  s / time_delta AS bytes_sent, r / time_delta AS bytes_recv,
         |  tot / time_delta AS bytes_total
         |FROM agg, tw WHERE tot / time_delta > 0.0
         |ORDER BY from_entity, to_entity""".stripMargin),

    // dns_flow_graph.pxl: client-side DNS edges with the
    // upid_to_pod_name / nslookup fallback, px.debug side table, and the
    // format_nslookup_name split/append.
    // spreadBase=false: the output's latency_avg is a plain float mean
    // whose summation order must match the oracle's scan order (see
    // Pxl.env) — the one-evaluation checkpoint still applies.
    Gate("q122_pxl_dns_flow", (s, dir) =>
      PxlRunner.runFunction(script(DnsFlowPath),
          Pxl.env(s, dir, nowNs, spreadBase = false),
          "dns_flow_graph", Seq("-45d", "", ""))
        .orderBy("from_entity", "to_entity"), oracle =
      s"""WITH $eventsCte,
         |w AS (SELECT 'pod-' || user_id || '-gen' || g AS from_entity,
         |        ${graft.functions.NetOps.nslookupStubSql(selfIpSql)} AS to_entity,
         |        value AS latency
         |      FROM e WHERE event_id % 3 = 0 AND event_id % 5 <> 0)
         |SELECT from_entity, to_entity, avg(latency) AS latency_avg,
         |  max(latency) AS latency_max, count(latency) AS "count"
         |FROM w GROUP BY 1, 2 ORDER BY from_entity, to_entity""".stripMargin),

    // inbound/outbound_conns: conn_stats counter deltas for peers that
    // resolve to no known pod/service.
    Gate("q150_pxl_inbound_conns", (s, dir) =>
      PxlRunner.runFunction(script(InboundConnsPath), Pxl.env(s, dir, nowNs),
          "inbound_conns", Seq("-45d", ""))
        .orderBy("pod", "remote_addr"), oracle =
      s"""WITH $eventsCte,
         |w AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        '10.9.' || (user_id % 50) || '.7' AS remote_addr,
         |        max(us // 1000) - min(us // 1000) AS conn_open,
         |        max(us) - min(us) AS bytes_sent,
         |        max(us // 3) - min(us // 3) AS bytes_recv,
         |        max(t) AS last_activity_time
         |      FROM e WHERE event_id % 2 = 1 GROUP BY user_id, g)
         |SELECT pod, remote_addr, CAST(sum(conn_open) AS BIGINT) AS conn_open,
         |  CAST(sum(bytes_sent) AS BIGINT) AS bytes_sent,
         |  CAST(sum(bytes_recv) AS BIGINT) AS bytes_recv,
         |  max(last_activity_time) AS last_activity_time
         |FROM w GROUP BY pod, remote_addr
         |ORDER BY pod, remote_addr""".stripMargin),

    Gate("q151_pxl_outbound_conns", (s, dir) =>
      PxlRunner.runFunction(script(OutboundConnsPath), Pxl.env(s, dir, nowNs),
          "outbound_conns", Seq("-45d", ""))
        .orderBy("pod", "remote_addr", "remote_port"), oracle =
      s"""WITH $eventsCte,
         |w AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        '10.9.' || (user_id % 50) || '.7' AS remote_addr,
         |        3000 + user_id % 7 AS remote_port,
         |        max(us // 1000) - min(us // 1000) AS conn_open,
         |        max(us) - min(us) AS bytes_sent,
         |        max(us // 3) - min(us // 3) AS bytes_recv,
         |        max(t) AS last_activity_time
         |      FROM e WHERE event_id % 2 = 0 GROUP BY user_id, g)
         |SELECT pod, remote_addr, remote_port,
         |  CAST(sum(conn_open) AS BIGINT) AS conn_open,
         |  CAST(sum(bytes_sent) AS BIGINT) AS bytes_sent,
         |  CAST(sum(bytes_recv) AS BIGINT) AS bytes_recv,
         |  max(last_activity_time) AS last_activity_time
         |FROM w GROUP BY pod, remote_addr, remote_port
         |ORDER BY pod, remote_addr, remote_port""".stripMargin),

    // dns_query_summary.pxl: pluck the queries/answers arrays, parse the
    // query-name prefix with find/substring, nslookup the resolver, roll
    // up resolution/NXDOMAIN rates per (pod, resolver, prefix).
    Gate("q152_pxl_dns_query_summary", (s, dir) =>
      PxlRunner.runFunction(script(DnsQuerySummaryPath), Pxl.env(s, dir, nowNs),
          "dns_queries", Seq("-45d", "", "", "", ""))
        .orderBy("pod", "dns_server", "qname"), oracle =
      s"""WITH $eventsCte,
         |w AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        ${graft.functions.NetOps.nslookupStubSql(
              s"CASE WHEN event_id % 5 = 0 THEN '-' ELSE $selfIpSql END")}
         |          AS dns_server,
         |        'svc-' || (user_id % 10) AS qname,
         |        CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END AS resolved,
         |        CASE WHEN event_id % 4 = 3 THEN 1 ELSE 0 END AS nxd
         |      FROM e WHERE event_id % 3 = 0)
         |SELECT pod, dns_server, qname, count(*) AS num_requests,
         |  CAST(sum(resolved) AS BIGINT) AS num_resolved,
         |  CAST(sum(nxd) AS BIGINT) AS num_nxdomain,
         |  (count(*) - CAST(sum(resolved) AS BIGINT)) / count(*)
         |    AS unresolved_rate,
         |  CAST(sum(nxd) AS BIGINT) / count(*) AS nxdomain_rate,
         |  qname || ' @' || dns_server AS qgroup
         |FROM w GROUP BY pod, dns_server, qname
         |ORDER BY pod, dns_server, qname""".stripMargin),

    // network_stats.pxl: raw select= projection + head over the -30s tail.
    Gate("q153_pxl_network_stats_raw", (s, dir) =>
      PxlRunner.run(script(NetworkStatsPath),
          Pxl.env(s, dir, tailNowNs(s, dir)))("output")
        .orderBy("time_"), oracle =
      s"""WITH ${tailCte(30000000000L)}
         |SELECT t AS time_, 'pid-' || user_id || '-g' || g AS pod_id,
         |  us AS rx_bytes, us // 700 AS rx_packets, us // 1500 AS rx_errors,
         |  us // 3000 AS rx_drops, us // 2 AS tx_bytes, us // 800 AS tx_packets,
         |  us // 1000 AS tx_errors, us // 2000 AS tx_drops
         |FROM e ORDER BY time_""".stripMargin),

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
         |ORDER BY requestor, responder, requestor_sent_bytes_per_s""".stripMargin),

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

    // sotw dns_queries_filtered: per (pod, dns server) query rollup;
    // the single-query bodies have no ',' so the parsed name is ''
    // (SubstringUDF returns '' for a negative length — string_ops.h:83).
    Gate("q232_pxl_dns_filtered", (s, dir) =>
      PxlRunner.runFunction(script(DnsFilteredPath), Pxl.env(s, dir, nowNs),
          "dns_requests", Seq("-45d", ""))
        .withColumn("latency_p50",
          get_json_object(col("latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("latency"), "$.p99").cast("double"))
        .drop("latency")
        .orderBy("pod", "dns_server"), oracle =
      s"""WITH $eventsCte,
         |d AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        ${graft.functions.NetOps.nslookupStubSql(
              s"""CASE WHEN event_id % 5 = 0 THEN '-'
                 | ELSE '10.' || (10 + g) || '.' || (user_id % 250) || '.' ||
                 |   (1 + user_id // 250) END""".stripMargin)}
         |          AS dns_server,
         |        CASE WHEN event_id % 4 = 0 THEN 1.0 ELSE 0.0 END AS resolved,
         |        value AS latency
         |      FROM e)
         |SELECT pod, dns_server, '' AS dns_query_name,
         |  count(*) AS num_requests, avg(resolved) AS resolved,
         |  quantile_cont(latency, 0.50) AS latency_p50,
         |  quantile_cont(latency, 0.99) AS latency_p99
         |FROM d GROUP BY 1, 2 ORDER BY pod, dns_server""".stripMargin),

    // pxbeta/pii_cluster_egress is NOT gated: its redis branch projects
    // out_columns (including `protocol`) BEFORE assigning df.protocol —
    // the redis_events table has no such column (redis_table.h:32-57),
    // so the reference compiler rejects the script too. Upstream bug in
    // the beta script, not a coverage gap.
    // sotw fqdn_list: the single-query bodies have no ',' so the parsed
    // fqdn is '' (negative-length substring contract), which passes the
    // '.local' filters -> one ('', link, count-of-resolved) group.
    Gate("q233_pxl_fqdn_list", (s, dir) =>
      PxlRunner.runFunction(script(FqdnListPath), Pxl.env(s, dir, nowNs),
          "fqdn_list", Seq("-45d")), oracle =
      s"""WITH $eventsCte
         |SELECT '' AS fqdn,
         |  '{"label":"All DNS requests containing FQDN as substring","script":"sotw/dns_queries_filtered","args":{"start_time":"-45d","query_name_filter":""}}'
         |    AS link,
         |  count(*) AS num_requests
         |FROM e WHERE event_id % 4 = 0""".stripMargin)
  )
}
