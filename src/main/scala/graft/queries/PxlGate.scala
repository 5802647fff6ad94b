package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, round}

/** The shared header of the PxL gate tranches ([[Pxl2]]..[[Pxl16]]):
  * where the reference scripts live, how one is read, the gate's
  * fixed window, and the oracle side's event-window CTE.
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
}
