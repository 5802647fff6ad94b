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

  /** Shared event-window CTE: g = pod generation, us = µs timestamp. */
  def eventsCte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin
}
