package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._
import PxlGate._

/** Round-5 verbatim-script tranche 6 — the LAST unported bundled
  * scripts: http_trace_id (Otel traceparent extraction with RE2-style
  * backreference rewrite), differential_flamegraph (two-pod stack
  * delta), and the kafka consumer-group scripts
  * (kafka_consumer_rebalancing, kafka_producer_consumer_latency's
  * topic/producer/consumer views). With these, all 67 bundled
  * reference scripts execute through the PxL front-end (66 with oracle
  * entries; collect_agent_heaps is spec-gated on its binary upid).
  *
  * Scale notes: the rebalancing join is keyed by
  * (group, generation, member) — both sides shuffle once on the group
  * key; the differential flamegraph joins two already-aggregated pod
  * profiles (bounded by distinct stack ids).
  */
object Pxl9 extends Gates {

  val HttpTraceIdPath = s"$RefPx/http_trace_id/script.pxl"
  val DiffFlamePath = s"$RefPx/differential_flamegraph/differential.pxl"
  val KafkaRebalPath =
    s"$RefPx/kafka_consumer_rebalancing/kafka_consumer_rebalancing.pxl"
  val KafkaPCLatencyPath =
    s"$RefPx/kafka_producer_consumer_latency/kafka_producer_consumer_latency.pxl"

  lazy val gates: Seq[Gate] = Seq(
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
         |ORDER BY topic""".stripMargin)
  )

  // ---- oracle fragments ----------------------------------------------

  /** join/sync pair stream (group/generation/member are all functions
    * of user_id in the synth, so the 3-key equijoin is a user_id join).
    */
  private val rebalPairsCte =
    """j AS (SELECT user_id, t FROM e WHERE event_id % 70 = 11),
      |s AS (SELECT user_id, t AS ts2, value AS lat FROM e
      |      WHERE event_id % 70 = 14),
      |p AS (SELECT j.user_id AS uid, j.t AS tj, s.ts2, s.lat
      |      FROM j JOIN s ON j.user_id = s.user_id)""".stripMargin
}
