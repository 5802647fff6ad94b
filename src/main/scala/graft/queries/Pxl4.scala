package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import graft.functions.ProtocolOps
import Q._
import PxlGate._

/** Round-5 verbatim-script tranche: the flow-graph family
  * (net/dns/mysql/pgsql/cql/redis), the protocol stats family
  * (mysql/pgsql/redis/cql + kafka_overview), the AMQP tracer, and the
  * perf-profiler flamegraph — each executed UNMODIFIED from the
  * reference checkout through the PxL runner and hash-checked against a
  * DuckDB oracle re-deriving the same result from the raw fixture.
  *
  * Scale notes: every flow-graph is scan -> broadcast ctx joins ->
  * windowed agg -> second agg keyed by the graph edge — the fact table
  * shuffles only on its group keys. The scalar "time window" tables
  * (net_flow_graph, kafka get_time_window) are 1-row global aggregates
  * cross-joined back (BroadcastNestedLoopJoin on a 1-row side — free).
  * The kafka JSON unnest is a 5-way append + filter (bounded fan-out,
  * no explode skew); the flamegraph is two aggregations plus a
  * broadcast-size merge keyed by pod.
  */
object Pxl4 extends Gates {

  val NetFlowPath = s"$RefPx/net_flow_graph/net_flow_graph.pxl"
  val DnsFlowPath = s"$RefPx/dns_flow_graph/dns_flow_graph.pxl"
  val MysqlFlowPath = s"$RefPx/mysql_flow_graph/mysql_flow_graph.pxl"
  val PgsqlFlowPath = s"$RefPx/pgsql_flow_graph/pgsql_flow_graph.pxl"
  val CqlFlowPath = s"$RefPx/cql_flow_graph/cql_flow_graph.pxl"
  val RedisFlowPath = s"$RefPx/redis_flow_graph/redis_flow_graph.pxl"
  val MysqlStatsPath = s"$RefPx/mysql_stats/mysql_stats.pxl"
  val PgsqlStatsPath = s"$RefPx/pgsql_stats/pgsql_stats.pxl"
  val RedisStatsPath = s"$RefPx/redis_stats/redis_stats.pxl"
  val CqlStatsPath = s"$RefPx/cql_stats/cql_stats.pxl"
  val KafkaOverviewPath = s"$RefPx/kafka_overview/kafka_overview.pxl"
  val AmqpDataPath = s"$RefPx/amqp_data/amqp_data.pxl"
  val FlamegraphPath = s"$RefPx/perf_flamegraph/flamegraph.pxl"

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

  lazy val gates: Seq[Gate] = Seq(
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

    // kafka_overview.pxl: nested topics/partitions JSON unnest
    // (pluck_array 5-way append), producer/consumer edges, scalar time
    // window via keyless merge.
    Gate("q131_pxl_kafka_flow", (s, dir) =>
      PxlRunner.runFunction(script(KafkaOverviewPath), Pxl.env(s, dir, nowNs),
          "kafka_flow_graph", Seq("-45d", "", ""))
        .orderBy("src", "dest"), oracle =
      s"""WITH $eventsCte,
         |$kafkaProducersCte,
         |tw AS (SELECT max(t) - min(t) AS win FROM e),
         |u AS (SELECT client_id AS src, 'topic/' || topic_name AS dest, sz
         |      FROM p
         |      UNION ALL
         |      SELECT 'topic/' || topic_name AS src, client_id AS dest, sz
         |      FROM c),
         |gr AS (SELECT src, dest, CAST(sum(sz) AS BIGINT) AS record_bytes_total
         |       FROM u GROUP BY 1, 2)
         |SELECT src, dest, record_bytes_total, win AS "window",
         |  record_bytes_total / win AS record_throughput
         |FROM gr, tw ORDER BY src, dest""".stripMargin),

    Gate("q132_pxl_kafka_topics", (s, dir) =>
      PxlRunner.runFunction(script(KafkaOverviewPath), Pxl.env(s, dir, nowNs),
          "kafka_topics_overview", Seq("-45d", "", ""))
        .orderBy("topic_name"), oracle =
      s"""WITH $eventsCte,
         |$kafkaProducersCte,
         |u AS (SELECT topic_name, partition_idx FROM p
         |      UNION ALL SELECT topic_name, partition_idx FROM c),
         |np AS (SELECT topic_name, count(DISTINCT partition_idx)
         |         AS num_partitions FROM u GROUP BY 1),
         |npr AS (SELECT topic_name, count(DISTINCT client_id)
         |          AS num_producers FROM p GROUP BY 1),
         |nc AS (SELECT topic_name, count(DISTINCT client_id)
         |         AS num_consumers FROM c GROUP BY 1),
         |bi AS (SELECT topic_name, CAST(sum(sz) AS BIGINT)
         |         AS bytes_produced_total FROM p GROUP BY 1),
         |bo AS (SELECT topic_name, CAST(sum(sz) AS BIGINT)
         |         AS bytes_consumed_total FROM c GROUP BY 1)
         |SELECT np.topic_name, num_partitions, num_producers, num_consumers,
         |  bytes_produced_total, bytes_consumed_total
         |FROM np JOIN npr USING (topic_name) JOIN nc USING (topic_name)
         |  JOIN bi USING (topic_name) JOIN bo USING (topic_name)
         |ORDER BY np.topic_name""".stripMargin),

    // amqp_data.pxl: frame/class/method decode via the px.amqp_* family.
    // The raw binary upid is canonicalized to its string form post-hoc
    // ONLY because the oracle hash cannot represent a 16-byte binary
    // (q120 convention) — values are still fully checked.
    Gate("q133_pxl_amqp_data", (s, dir) =>
      PxlRunner.runFunction(script(AmqpDataPath), Pxl.env(s, dir, nowNs),
          "amqp_data", Seq("-45d", "", ""))
        .withColumn("upid", graft.types.Upid.upidToString(col("upid")))
        .orderBy("time_", "upid"), oracle =
      s"""WITH $eventsCte,
         |w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
         |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
         |        CASE WHEN event_id % 5 = 0 THEN '-'
         |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
         |      FROM e)
         |SELECT t AS time_,
         |  user_id || ':' || event_id || ':' || us AS upid,
         |  ${ProtocolOps.amqpFrameTypeName.sql("(event_id % 10)")} AS frame_name,
         |  event_id % 8 AS channel,
         |  ${ProtocolOps.amqpMethodNameSql("(event_id % 100)", "(event_id % 120)")}
         |    AS req_name,
         |  ${ProtocolOps.amqpMethodNameSql("((event_id + 1) % 100)",
              "((event_id + 1) % 120)")} AS resp_name,
         |  '{"routing_key":"rk' || (event_id % 6) || '","consumer_tag":"c'
         |    || (event_id % 3) || '"}' AS req_msg,
         |  '{"routing_key":"rk' || (event_id % 6) || '","consumer_tag":"c'
         |    || (event_id % 3) || '"}' AS resp_msg,
         |  CASE WHEN is_server THEN ra_name ELSE pod END AS source,
         |  CASE WHEN is_server THEN pod ELSE ra_name END AS destination,
         |  value AS latency
         |FROM w ORDER BY time_, upid""".stripMargin),

    Gate("q134_pxl_amqp_stats", (s, dir) =>
      PxlRunner.runFunction(script(AmqpDataPath), Pxl.env(s, dir, nowNs),
          "amqp_msg_stats", Seq("-45d", "", ""))
        .orderBy("frame_name", "req_name"), oracle =
      s"""WITH $eventsCte
         |SELECT ${ProtocolOps.amqpFrameTypeName.sql("(event_id % 10)")}
         |    AS frame_name,
         |  ${ProtocolOps.amqpMethodNameSql("(event_id % 100)", "(event_id % 120)")}
         |    AS req_name,
         |  count(*) AS stats
         |FROM e GROUP BY 1, 2 ORDER BY frame_name, req_name""".stripMargin),

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
         |ORDER BY g1.pod, stack_trace_id""".stripMargin)
  )

  // ---- oracle fragments ----------------------------------------------

  /** The tracerBase self-IP (the event's own pod incarnation). */
  private val selfIpSql =
    "'10.' || (10 + g) || '.' || (user_id % 250) || '.' || (1 + user_id // 250)"

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

  private val kafkaProducersCte =
    """p AS (SELECT 't' || (user_id % 4) AS topic_name,
      |        CAST(event_id % 3 AS VARCHAR) AS partition_idx,
      |        'client-' || (user_id % 20) AS client_id,
      |        100 + event_id % 900 AS sz
      |      FROM e WHERE event_id % 70 = 0),
      |c AS (SELECT 't' || ((user_id + 1) % 4) AS topic_name,
      |        CAST((event_id + 1) % 3 AS VARCHAR) AS partition_idx,
      |        'client-' || (user_id % 20) AS client_id,
      |        100 + (event_id * 2) % 900 AS sz
      |      FROM e WHERE event_id % 70 = 1)""".stripMargin
}
