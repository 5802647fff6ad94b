package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._
import PxlGate._

/** Round-6 verbatim-script tranche 7 — beyond the px/ bundle: the
  * pxbeta service-endpoint scripts (request-path clustering through
  * `_build_request_path_clusters` / `_predict_request_path_cluster` /
  * `_match_endpoint`, run UNMODIFIED) and the sotw DNS scripts.
  *
  * Endpoint-clustering fixture note: svc-1 has 5 distinct
  * /api/v1/users/U paths at sf0.01 and 50 at sf0.1. The reference
  * clears a cluster's member set only when it EXCEEDS min_cardinality
  * 5 (request_path_ops.cc:163) and Predict returns the member itself
  * while the set survives — so endpoints are the raw paths at sf0.01
  * and the wildcarded users centroid at sf0.1. The oracle reproduces
  * that rule from the distinct-path count, so the same entry is green
  * at every scale factor.
  *
  * Scale notes: the clustering UDA's state is the distinct-path set
  * (like the reference); everything else is the standard one-shuffle
  * windowed LET shape; predict/match are per-row scalars.
  */
object Pxl16 extends Gates {

  private val RefScripts = s"${Pxl.RefDir}/src/pxl_scripts"
  val EndpointsPath = s"$RefScripts/pxbeta/service_endpoints/service_endpoints.pxl"
  val EndpointPath = s"$RefScripts/pxbeta/service_endpoint/service_endpoint.pxl"
  val DnsFilteredPath = s"$RefScripts/sotw/dns_queries_filtered/data.pxl"
  val FqdnListPath = s"$RefScripts/sotw/dns_external_fqdn_list/data.pxl"

  lazy val gates: Seq[Gate] = Seq(
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
    }),

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

  // ---- oracle fragments ----------------------------------------------

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
}
