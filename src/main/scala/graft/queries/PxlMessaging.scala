package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.ProtocolOps
import graft.pxl.PxlRunner
import PxlGate._
import Q._

/** PxL gates for the messaging script family: kafka (data, overview,
  * producer/consumer latency, consumer-group rebalancing), AMQP and
  * NATS. Scripts run unmodified from the reference checkout; each
  * oracle re-derives the result from the raw fixture.
  */
object PxlMessaging extends Gates {

  val NatsDataPxlPath = s"$RefPx/nats_data/nats_data.pxl"
  val KafkaDataPxlPath = s"$RefPx/kafka_data/kafka_data.pxl"
  val KafkaOverviewPath = s"$RefPx/kafka_overview/kafka_overview.pxl"
  val AmqpDataPath = s"$RefPx/amqp_data/amqp_data.pxl"
  val KafkaRebalPath =
    s"$RefPx/kafka_consumer_rebalancing/kafka_consumer_rebalancing.pxl"
  val KafkaPCLatencyPath =
    s"$RefPx/kafka_producer_consumer_latency/kafka_producer_consumer_latency.pxl"

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

  /** join/sync pair stream (group/generation/member are all functions
    * of user_id in the synth, so the 3-key equijoin is a user_id join).
    */
  private val rebalPairsCte =
    """j AS (SELECT user_id, t FROM e WHERE event_id % 70 = 11),
      |s AS (SELECT user_id, t AS ts2, value AS lat FROM e
      |      WHERE event_id % 70 = 14),
      |p AS (SELECT j.user_id AS uid, j.t AS tj, s.ts2, s.lat
      |      FROM j JOIN s ON j.user_id = s.user_id)""".stripMargin

  /** [[PxlGate.srcDstCte]] over the event window, with namespaces. */
  private def kafkaSrcDstCte: String =
    PxlGate.srcDstCte("e", "'ns' || (user_id % 10 % 3) AS namespace,")

  /** Produce/fetch unnested rows with deep-linked endpoints + the
    * process_stats time window (q131 convention).
    */
  private val kafkaLinkedCte =
    s"""p AS (SELECT ${linkSql("src0", "is_src_pod")} AS src_l,
       |        ${linkSql("dst0", "is_dst_pod")} AS dst_l,
       |        100 + event_id % 900 AS sz
       |      FROM x WHERE event_id % 70 = 0),
       |c AS (SELECT ${linkSql("src0", "is_src_pod")} AS src_l,
       |        ${linkSql("dst0", "is_dst_pod")} AS dst_l,
       |        100 + (event_id * 2) % 900 AS sz
       |      FROM x WHERE event_id % 70 = 1),
       |tw AS (SELECT max(t) - min(t) AS win FROM e)""".stripMargin

  lazy val gates: Seq[Gate] = Seq(
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
           |  value AS latency""".stripMargin, "req_body")),

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

    // kafka_consumer_rebalancing.
    Gate("q173_pxl_kafka_rebal_data", (s, dir) =>
      PxlRunner.runFunction(script(KafkaRebalPath), Pxl.env(s, dir, nowNs),
          "kafka_join_sync_group_data", Seq("-45d"))
        .orderBy("time_"), oracle =
      s"""WITH $eventsCte,
         |x0 AS (SELECT * FROM e WHERE event_id % 70 IN (11, 14)),
         |${srcDstCte("x0")}
         |$rebalRows""".stripMargin),

    Gate("q174_pxl_kafka_rebal_delay", (s, dir) =>
      PxlRunner.runFunction(script(KafkaRebalPath), Pxl.env(s, dir, nowNs),
          "kafka_join_sync_delay", Seq("-45d", ""))
        .orderBy("time_", "member_id", "delay"), oracle =
      s"""WITH $eventsCte,
         |$rebalPairsCte
         |SELECT tj AS time_, 'cg-' || (uid % 4) AS group_id,
         |  CAST(uid % 3 AS VARCHAR) AS generation_id,
         |  'm-' || uid AS member_id,
         |  CASE WHEN ts2 - tj + lat < 0 THEN 0
         |       ELSE ts2 - tj + lat END AS delay
         |FROM p ORDER BY time_, member_id, delay""".stripMargin),

    Gate("q175_pxl_kafka_group_ids", (s, dir) =>
      PxlRunner.runFunction(script(KafkaRebalPath), Pxl.env(s, dir, nowNs),
          "kafka_group_ids", Seq("-45d"))
        .orderBy("group_id"), oracle =
      s"""WITH $eventsCte,
         |$rebalPairsCte,
         |g1 AS (SELECT 'cg-' || (uid % 4) AS group_id, uid % 3 AS gen,
         |         count(*) AS num_members
         |       FROM p GROUP BY 1, 2),
         |mx2 AS (SELECT group_id, max(gen) AS gen FROM g1 GROUP BY 1)
         |SELECT g1.group_id, num_members
         |FROM g1 JOIN mx2 ON g1.group_id = mx2.group_id AND g1.gen = mx2.gen
         |ORDER BY g1.group_id""".stripMargin),

    // kafka_producer_consumer_latency: the consumer/topic catalog views
    // (the latency join needs per-partition offset bookkeeping the synth
    // tables don't model; kafka_producers is degenerate on this fixture —
    // every produce event falls on the unresolved-remote rule since
    // 5 | 70, so its source/destination filter drops all rows).
    Gate("q176_pxl_kafka_pc_consumers", (s, dir) =>
      PxlRunner.runFunction(script(KafkaPCLatencyPath), Pxl.env(s, dir, nowNs),
          "kafka_consumers", Seq("-45d", "ns1", "t1"))
        .orderBy("consumer", "source"), oracle =
      // fetch events sit at event_id % 5 = 1, so the remote always resolves
      // to the event's own pod — source is the pod on both trace roles.
      s"""WITH $eventsCte
         |SELECT DISTINCT 'client-' || (user_id % 20) AS consumer,
         |  'pod-' || user_id || '-gen' || g AS source
         |FROM e WHERE user_id % 10 % 3 = 1 AND user_id % 4 = 1
         |  AND event_id % 70 = 1
         |ORDER BY consumer, source""".stripMargin),

    Gate("q177_pxl_kafka_pc_topics", (s, dir) =>
      PxlRunner.runFunction(script(KafkaPCLatencyPath), Pxl.env(s, dir, nowNs),
          "kafka_topics", Seq("-45d", "ns1"))
        .orderBy("topic"), oracle =
      s"""WITH $eventsCte
         |SELECT DISTINCT 't' || (user_id % 4) AS topic
         |FROM e WHERE user_id % 10 % 3 = 1 AND event_id % 70 IN (0, 1)
         |ORDER BY topic""".stripMargin),

    // amqp_average_stats: Content Header frames only; body_size plucks
    // an absent field -> 0 (PluckAsInt64UDF contract).
    Gate("q204_pxl_amqp_avg_stats", (s, dir) =>
      PxlRunner.runFunction(script(AmqpDataPath), Pxl.env(s, dir, nowNs),
          "amqp_average_stats", Seq("-45d", "", "")), oracle =
      // Content Header frames (frame_type 2); body_size absent -> 0.
      s"""WITH $eventsCte
         |SELECT 'Content Header' AS frame_name,
         |  avg(CAST(0 AS DOUBLE)) AS avg_body_size,
         |  max(CAST(0 AS BIGINT)) AS max_body_size,
         |  min(CAST(0 AS BIGINT)) AS min_body_size
         |FROM e WHERE event_id % 10 = 2""".stripMargin),

    // amqp producer/consumer pod lists: BasicPublish req / BasicDeliver
    // resp groups with plucked routing keys.
    Gate("q205_pxl_amqp_producers", (s, dir) =>
      PxlRunner.runFunction(script(AmqpDataPath), Pxl.env(s, dir, nowNs),
          "amqp_producer_pod_list", Seq("-45d", "", ""))
        .orderBy("pod", "source"), oracle =
      // BasicPublish = (class 60, method 40): event_id ≡ 160 (mod 600),
      // always server-traced with an unresolved remote -> source '-'.
      s"""WITH $eventsCte,
         |$kafkaSrcDstCte
         |SELECT DISTINCT 'rk' || (event_id % 6) AS routing_key,
         |  namespace, pod, src0 AS source, dst0 AS destination
         |FROM x WHERE event_id % 100 = 60 AND event_id % 120 = 40
         |ORDER BY pod, source""".stripMargin),

    Gate("q206_pxl_amqp_consumers", (s, dir) =>
      PxlRunner.runFunction(script(AmqpDataPath), Pxl.env(s, dir, nowNs),
          "amqp_consumer_pod_list", Seq("-45d", "", ""))
        .orderBy("pod", "source"), oracle =
      // BasicDeliver resp = (60, 60): event_id ≡ 59 (mod 600), remote
      // resolves to the event's own pod.
      s"""WITH $eventsCte,
         |$kafkaSrcDstCte
         |SELECT DISTINCT 'rk' || (event_id % 6) AS routing_key,
         |  namespace, pod, src0 AS source, dst0 AS destination,
         |  'c' || (event_id % 3) AS consumer_tag
         |FROM x WHERE (event_id + 1) % 100 = 60 AND (event_id + 1) % 120 = 60
         |ORDER BY pod, source""".stripMargin),

    // amqp_flow_graph: producer pod->queue edges appended with
    // queue->consumer pod edges.
    Gate("q207_pxl_amqp_flow", (s, dir) =>
      PxlRunner.runFunction(script(AmqpDataPath), Pxl.env(s, dir, nowNs),
          "amqp_flow_graph", Seq("-45d", "", "", ""))
        .orderBy("src", "dest"), oracle =
      s"""WITH $eventsCte,
         |$kafkaSrcDstCte,
         |pr AS (SELECT DISTINCT 'rk' || (event_id % 6) AS rk, namespace,
         |         pod, src0, dst0
         |       FROM x WHERE event_id % 100 = 60 AND event_id % 120 = 40),
         |co AS (SELECT DISTINCT 'rk' || (event_id % 6) AS rk, namespace,
         |         pod, src0, dst0, 'c' || (event_id % 3) AS ct
         |       FROM x
         |       WHERE (event_id + 1) % 100 = 60 AND (event_id + 1) % 120 = 60)
         |SELECT src0 AS src, dst0 || '/routing_key/' || rk AS dest FROM pr
         |UNION ALL
         |SELECT dst0 || '/routing_key/' || rk AS src, src0 AS dest FROM co
         |ORDER BY src, dest""".stripMargin),

    // kafka_overview brokers: produce/fetch throughput + byte totals
    // per (deep-linked) broker pod, 4 inner merges on the linked key.
    Gate("q208_pxl_kafka_brokers", (s, dir) =>
      PxlRunner.runFunction(script(KafkaOverviewPath), Pxl.env(s, dir, nowNs),
          "kafka_brokers", Seq("-45d", "", ""))
        .orderBy("pod"), oracle =
      s"""WITH $eventsCte,
         |$kafkaSrcDstCte,
         |$kafkaLinkedCte,
         |pt AS (SELECT dst_l AS pod, count(*) AS tt FROM p GROUP BY 1),
         |ct AS (SELECT dst_l AS pod, count(*) AS tt FROM c GROUP BY 1),
         |bi AS (SELECT dst_l AS pod, CAST(sum(sz) AS BIGINT) AS b
         |       FROM p GROUP BY 1),
         |bo AS (SELECT dst_l AS pod, CAST(sum(sz) AS BIGINT) AS b
         |       FROM c GROUP BY 1)
         |SELECT pt.pod, pt.tt / win AS produce_rate,
         |  pt.tt AS produce_requests, bi.b AS bytes_produced_total,
         |  ct.tt / win AS consume_rate, ct.tt AS fetch_requests,
         |  bo.b AS bytes_consumed_total
         |FROM pt JOIN ct ON pt.pod = ct.pod JOIN bi ON pt.pod = bi.pod
         |  JOIN bo ON pt.pod = bo.pod, tw
         |ORDER BY pt.pod""".stripMargin),

    Gate("q209_pxl_kafka_ov_producers", (s, dir) =>
      PxlRunner.runFunction(script(KafkaOverviewPath), Pxl.env(s, dir, nowNs),
          "kafka_producers", Seq("-45d", "", ""))
        .orderBy("pod"), oracle =
      s"""WITH $eventsCte,
         |$kafkaSrcDstCte,
         |$kafkaLinkedCte,
         |pt AS (SELECT src_l AS pod, count(*) AS tt FROM p GROUP BY 1),
         |bi AS (SELECT src_l AS pod, CAST(sum(sz) AS BIGINT) AS b
         |       FROM p GROUP BY 1)
         |SELECT pt.pod, pt.tt / win AS produce_rate,
         |  pt.tt AS produce_requests, bi.b AS bytes_produced_total
         |FROM pt JOIN bi ON pt.pod = bi.pod, tw
         |ORDER BY pt.pod""".stripMargin),

    Gate("q210_pxl_kafka_ov_consumers", (s, dir) =>
      PxlRunner.runFunction(script(KafkaOverviewPath), Pxl.env(s, dir, nowNs),
          "kafka_consumers", Seq("-45d", "", ""))
        .orderBy("pod"), oracle =
      s"""WITH $eventsCte,
         |$kafkaSrcDstCte,
         |$kafkaLinkedCte,
         |ct AS (SELECT src_l AS pod, count(*) AS tt FROM c GROUP BY 1),
         |bo AS (SELECT src_l AS pod, CAST(sum(sz) AS BIGINT) AS b
         |       FROM c GROUP BY 1)
         |SELECT ct.pod, ct.tt / win AS consume_rate,
         |  ct.tt AS fetch_requests, bo.b AS bytes_consumed_total
         |FROM ct JOIN bo ON ct.pod = bo.pod, tw
         |ORDER BY ct.pod""".stripMargin),

    // kafka_pods_flow_graph: '-' endpoints drop, which eliminates every
    // produce record (70 ≡ 0 mod 5 -> remote always unresolved), so the
    // graph is the fetch self-edges with windowed quantile means.
    Gate("q211_pxl_kafka_pods_flow", (s, dir) =>
      PxlRunner.runFunction(script(KafkaOverviewPath), Pxl.env(s, dir, nowNs),
          "kafka_pods_flow_graph", Seq("-45d", "", ""))
        .withColumn("request_throughput",
          round(col("request_throughput") * 1e10, 9) / 1e10)
        .orderBy("source"), oracle =
      // Only fetch records survive the '-' filter; source = destination =
      // the event's own pod, so the graph is per-pod self edges.
      s"""WITH $eventsCte,
         |$kafkaSrcDstCte,
         |f AS (SELECT t, pod, namespace, value AS latency FROM x
         |      WHERE event_id % 70 = 1),
         |q AS (SELECT t - t % 10000000000 AS ts_bin, pod, namespace,
         |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
         |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
         |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
         |        count(latency) AS tt
         |      FROM f GROUP BY 1, 2, 3)
         |SELECT pod AS source, pod AS destination,
         |  true AS is_source_pod_type, true AS is_dest_pod_type, namespace,
         |  avg(p50) AS latency_p50, avg(p90) AS latency_p90,
         |  avg(p99) AS latency_p99,
         |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
         |    AS request_throughput,
         |  CAST(sum(tt) AS BIGINT) AS throughput_total
         |FROM q GROUP BY pod, namespace ORDER BY source""".stripMargin),

    // kafka_producer_consumer_latency kafka_producers: produce records
    // always hit the '-' endpoint filter (5 | 70) -> 0-row schema
    // round-trip.
    Gate("q212_pxl_kafka_pc_producers", (s, dir) =>
      PxlRunner.runFunction(script(KafkaPCLatencyPath), Pxl.env(s, dir, nowNs),
          "kafka_producers", Seq("-45d", "ns1", "t1")), oracle =
      "SELECT '' AS producer, '' AS source WHERE false"),

    // kafka_data: the offset join plucks fetch_offset/base_offset fields
    // the synth bodies don't carry -> both sides empty -> 0-row schema
    // round-trip through the full unnest+join pipeline.
    Gate("q213_pxl_kafka_pc_data", (s, dir) =>
      PxlRunner.runFunction(script(KafkaPCLatencyPath), Pxl.env(s, dir, nowNs),
          "kafka_data", Seq("-45d", "ns1", "", "", "t1")), oracle =
      s"""SELECT '' AS series_col, CAST(0 AS BIGINT) AS time_,
         |  CAST(0.0 AS DOUBLE) AS delay WHERE false""".stripMargin),

    // kafka_join_sync_group_events: the raw join/sync stream filtered to
    // one consumer group by the plucked group_id.
    Gate("q214_pxl_kafka_rebal_events", (s, dir) =>
      PxlRunner.runFunction(script(KafkaRebalPath), Pxl.env(s, dir, nowNs),
          "kafka_join_sync_group_events", Seq("-45d", "cg-1"))
        .orderBy("time_"), oracle =
      // q173's raw stream narrowed to group cg-1 (user_id ≡ 1 mod 4).
      s"""WITH $eventsCte,
         |x0 AS (SELECT * FROM e WHERE event_id % 70 IN (11, 14)
         |       AND user_id % 4 = 1),
         |w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
         |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
         |        CASE WHEN event_id % 5 = 0 THEN '-'
         |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
         |      FROM x0),
         |x AS (SELECT *,
         |        CASE WHEN is_server THEN ra_name ELSE pod END AS src0,
         |        CASE WHEN is_server THEN pod ELSE ra_name END AS dst0
         |      FROM w)
         |$rebalRows""".stripMargin)
  )
}
