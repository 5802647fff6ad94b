package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{col, round}
import graft.functions.ProtocolOps
import graft.pxl.PxlRunner
import Q._

/** The shared header of the PxL gate files ([[PxlService]],
  * [[PxlDatabase]], [[PxlMessaging]], [[PxlNetwork]], [[PxlCluster]]):
  * where the reference scripts live, how one is read, the gate's fixed
  * window, the oracle side's event-window CTEs, and the oracle
  * fragments that more than one script family reads.
  */
object PxlGate {

  /** The reference checkout's `px/` script directory. */
  val RefPx: String = s"${Pxl.RefDir}/src/pxl_scripts/px"

  /** One script's text, read verbatim (UTF-8). */
  def script(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")

  /** The gate window: `now`, the 45-day start, and the pod-generation
    * split (events before it are generation 0, after it generation 1).
    */
  val nowNs: Long = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
  val startNs: Long = nowNs - 45L * 86400L * 1000000000L
  val splitNs: Long = graft.functions.PixieFunctions.tsNsLit("2024-01-15")

  /** Mean-of-noninteger-doubles canonicalization (q123 convention):
    * round at 9 dp in per-window units then rescale, identically in both
    * engines, because partial-sum order makes the last ulp engine-
    * specific.
    */
  def canon(c: String): Column = round(col(c) * 1e10, 9) / 1e10

  /** Deep-link JSON for the tracer scripts' source/destination columns
    * (px.script_reference, pod vs ip target).
    */
  def linkSql(c: String, flag: String): String =
    s"""CASE WHEN $flag
       |    THEN '{"label":"' || $c || '","script":"px/pod","args":{"start_time":"-45d","pod":"' || $c || '"}}'
       |    ELSE '{"label":"' || $c || '","script":"px/ip","args":{"start_time":"-45d","ip":"' || $c || '"}}'
       |  END""".stripMargin

  /** Tracer source/destination CTE over `from` (no deep links): w
    * (pod, server side, remote pod) with the optional `cols` line, and
    * x adding the pod flags and the src0/dst0 endpoints.
    */
  def srcDstCte(from: String, cols: String = ""): String = {
    val extra = if (cols.isEmpty) "" else s"\n        $cols"
    s"""w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,$extra
       |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
       |        CASE WHEN event_id % 5 = 0 THEN '-'
       |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
       |      FROM $from),
       |x AS (SELECT *,
       |        CASE WHEN is_server THEN is_ra_pod ELSE true END AS is_src_pod,
       |        CASE WHEN is_server THEN true ELSE is_ra_pod END AS is_dst_pod,
       |        CASE WHEN is_server THEN ra_name ELSE pod END AS src0,
       |        CASE WHEN is_server THEN pod ELSE ra_name END AS dst0
       |      FROM w)""".stripMargin
  }

  /** The Kafka join/sync-group rows over x(src0, dst0) (q173 shape). */
  val rebalRows: String =
    """SELECT t AS time_, src0 AS source, dst0 AS destination,
      |  1024 + event_id % 32768 AS remote_port,
      |  CASE WHEN event_id % 70 = 11 THEN 'JoinGroup'
      |       ELSE 'SyncGroup' END AS req_cmd,
      |  CASE WHEN event_id % 70 = 11
      |    THEN '{"group_id":"cg-' || (user_id % 4) || '"}'
      |    ELSE '{"group_id":"cg-' || (user_id % 4) ||
      |      '","generation_id":' || (user_id % 3) ||
      |      ',"member_id":"m-' || user_id || '"}' END AS req_body,
      |  CASE WHEN event_id % 70 = 11
      |    THEN '{"generation_id":' || (user_id % 3) ||
      |      ',"member_id":"m-' || user_id || '"}'
      |    ELSE '{"topics":[{"name":"t' || ((user_id + 1) % 4) ||
      |      '","partitions":[{"index":' || ((event_id + 1) % 3) ||
      |      ',"message_set":{"size":' || (100 + (event_id * 2) % 900) ||
      |      '}}]}]}' END AS resp,
      |  value AS latency
      |FROM x ORDER BY time_""".stripMargin

  /** Shared event-window CTE: g = pod generation, us = µs timestamp. */
  def eventsCte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin

  /** Shared event-window CTE: g = pod generation of the event. */
  private[queries] def filteredEventsCte(extra: String = ""): String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, user_id, event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs$extra)""".stripMargin

  private[queries] val podStatusSql =
    """CASE user_id % 4 WHEN 0 THEN 'Running' WHEN 1 THEN 'Pending'
      |     WHEN 2 THEN 'Succeeded' ELSE 'Failed' END""".stripMargin

  /** Shared oracle skeleton for the data-tracer family: the
    * add_source_dest_columns / add_source_dest_links derivation over the
    * tracerBase synth, with per-protocol output columns plugged in.
    */
  private[queries] def tracerOracle(outputSql: String, orderBy: String): String =
    s"""WITH ${filteredEventsCte()},
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

  /** The tracerBase self-IP (the event's own pod incarnation). */
  private[queries] val selfIpSql =
    "'10.' || (10 + g) || '.' || (user_id % 250) || '.' || (1 + user_id // 250)"

  /** The http LET helper window (namespace/services/slow_http family):
    * ns-filtered server+client rows minus health/ready/unresolved.
    */
  private[queries] def httpHelperCte(nsIdx: Int): String =
    s"""h AS (SELECT t, value AS latency, user_id, event_id, g,
       |        t - t % 10000000000 AS ts_bin,
       |        'svc-' || (user_id % 10) AS service,
       |        'pod-' || user_id || '-gen' || g AS pod,
       |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
       |          AS failure,
       |        event_id % 25 AS pathmod,
       |        100 + event_id % 512 AS noop_unused,
       |        event_id % 512 AS req_body_size0,
       |        100 + event_id % 1000 AS resp_body_size
       |      FROM e
       |      WHERE user_id % 10 % 3 = $nsIdx
       |        AND event_id % 25 <> 0 AND event_id % 25 <> 1
       |        AND event_id % 5 <> 0)""".stripMargin

  /** Tail-window CTE for the quick-look scripts (now = max event + 1µs). */
  private[queries] def tailCte(windowNs: Long): String =
    s"""mx AS (SELECT max(epoch_us(ts)) * 1000 + 1000 AS now_ns FROM events),
       |e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events, mx
       |      WHERE epoch_us(ts) * 1000 >= mx.now_ns - $windowNs
       |        AND epoch_us(ts) * 1000 < mx.now_ns)""".stripMargin

  /** The ns1 helper rows: resolved, non-health, BOTH trace roles. */
  private[queries] val ns1HelperCte =
    s"""f AS (SELECT t, t - t % 10000000000 AS ts_bin, value AS latency,
       |        event_id, event_id % 3 <> 0 AS tr2,
       |        'pod-' || user_id || '-gen' || g AS pod,
       |        '10.' || (10 + g) || '.' || (user_id % 250) || '.' ||
       |          (1 + user_id // 250) AS ip,
       |        'svc-' || (user_id % 10) AS svc,
       |        event_id % 512 AS req_sz, 100 + event_id % 1000 AS resp_sz,
       |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
       |          AS failure
       |      FROM e WHERE user_id % 10 % 3 = 1
       |        AND event_id % 25 <> 0 AND event_id % 25 <> 1
       |        AND event_id % 5 <> 0)""".stripMargin

  /** services/namespace let-graph: windows keyed (svc, ip, pod, role),
    * collapsed to the per-incarnation self edge.
    */
  private[queries] val letGraphOracle =
    s"""WITH $eventsCte,
       |$ns1HelperCte,
       |q AS (SELECT ts_bin, pod, ip, svc, tr2,
       |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
       |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
       |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
       |        avg(CAST(failure AS DOUBLE)) AS erw,
       |        count(latency) AS tt,
       |        CAST(sum(req_sz) AS BIGINT) AS ib,
       |        CAST(sum(resp_sz) AS BIGINT) AS ob
       |      FROM f GROUP BY 1, 2, 3, 4, 5)
       |SELECT pod AS responder_pod, pod AS requestor_pod,
       |  svc AS responder_service, svc AS requestor_service,
       |  ip AS responder_ip, ip AS requestor_ip,
       |  avg(p50) AS latency_p50, avg(p90) AS latency_p90,
       |  avg(p99) AS latency_p99,
       |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
       |    AS request_throughput,
       |  round(avg(erw), 6) AS error_rate,
       |  round(avg(ib / 10000000000) * 10000000000, 9) / 10000000000
       |    AS inbound_throughput,
       |  round(avg(ob / 10000000000) * 10000000000, 9) / 10000000000
       |    AS outbound_throughput,
       |  CAST(sum(tt) AS BIGINT) AS throughput_total
       |FROM q GROUP BY pod, svc, ip
       |ORDER BY responder_pod, requestor_pod""".stripMargin

  private[queries] val RefScripts = s"${Pxl.RefDir}/src/pxl_scripts"
}
