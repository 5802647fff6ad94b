package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, round}

/** Cross-engine floating-point exactness helpers shared by operators
  * (graft.ops) and the query/oracle pairs (graft.queries).
  *
  * THE SIGNED-ZERO RULE (round-8 postmortem, q322): DuckDB's `round(x, n)`
  * of a tiny negative preserves IEEE `-0.0`; Spark's `round` goes through
  * BigDecimal, which has no signed zero and can only emit `+0.0`. The two
  * results are numerically equal (numpy/pandas `-0.0 == 0.0`) but
  * BYTE-different, so a byte-sensitive hash gate fails. Every rounded
  * double whose operand can be negative (covariances, correlations,
  * slopes, deltas, z-scores, log-ratios) must be rounded through
  * [[zround]] on the Spark side, and its oracle writes the same
  * `round(x, n) + 0.0` inline: adding `+0.0` after the round
  * normalizes `-0.0` to `+0.0` under IEEE round-to-nearest
  * (`-0.0 + 0.0 == +0.0`) and is a bit-exact no-op for every other value,
  * including ±inf and NaN.
  */
object Exact {

  /** `round(c, scale)` with the zero sign normalized to `+0.0`. */
  def zround(c: Column, scale: Int): Column = round(c, scale) + lit(0.0)
}
