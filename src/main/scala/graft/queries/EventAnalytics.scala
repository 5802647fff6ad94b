package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.PixieFunctions.{idiv, nsToUs}
import graft.ops.{Events, Graph, Scale, Quality}
import Q._
import Sketches.{centCountCtes, cumCountCols, typedEvents}

/** Event-log analytics gates: funnels, retention and cohorts, sessions
  * and paths (batch and streamed), alerting (hysteresis, burn rate,
  * apdex), time-series statistics and anomaly detection, A/B tests,
  * graph measures over the event graph, skew and join-explosion
  * profiles, and the OTel export round trips.
  */
object EventAnalytics extends Gates {

  /** Stream the events table as the typed [[graft.streaming.Streaming
    * .UserEvent]] dataset (ts is already the TIME64NS epoch-ns long at
    * the load boundary).
    */
  private def eventStream(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    graft.core.Tables.stream(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts").as("ts_ns"),
        col("event_id"))
      .as[graft.streaming.Streaming.UserEvent]
  }

  /** AvailableNow replay of [[graft.streaming.Streaming
    * .streamingPaths]] into a memory sink; returns the collected
    * window frame (steps array column) as a batch DataFrame.
    */
  private def replayPaths(s: org.apache.spark.sql.SparkSession, dir: String,
                          pathLen: Int): org.apache.spark.sql.DataFrame =
    drainMemory(s, graft.streaming.Streaming
      .streamingPaths(eventStream(s, dir), pathLen), "append")()

  /** Shared by q379 (batch window) and q396 (streaming state) — the
    * two implementations must agree on this exact matrix.
    */
  private val q379OracleSql: String =
    """WITH base AS (SELECT user_id AS u, event_type AS et,
      |    epoch_us(ts) AS ts, event_id AS eid FROM events),
      |pairs AS (SELECT et AS from_type,
      |    lead(et) OVER (PARTITION BY u ORDER BY ts, eid) AS to_type
      |  FROM base),
      |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS t FROM c
      |  GROUP BY 1)
      |SELECT from_type, to_type, n, n * 1000000 // t AS p_ppm
      |FROM c JOIN tt USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** The lexical-affinity source graph CTEs (q343's fingerprint dot
    * products) — shared by the q378 PageRank and q409 BFS oracles.
    */
  private val profileGraphCtes: String = {
    val bkt = s"(${graft.ops.Dedup.h60Sql("w")}) % 256"
    s"""prof AS (SELECT src, $bkt AS b, count(*) AS c FROM
       |  (SELECT source AS src, unnest(string_split(text, ' ')) AS w
       |   FROM documents) WHERE w <> '' GROUP BY 1, 2),
       |e AS (SELECT a.src AS src, b2.src AS dst,
       |    CAST(sum(a.c * b2.c) AS BIGINT) AS w
       |  FROM prof a JOIN prof b2 ON a.b = b2.b AND a.src <> b2.src
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Shared error-rate grid CTEs for the q398/q399 alerting oracles:
    * per-shard hourly (n, n_err, err_ppm) zero-filled over the global
    * range — the SQL mirror of [[graft.ops.Alerts.errorRates]].
    */
  private val ratesCtes: String =
    """base AS (SELECT user_id % 4 AS k, epoch_us(ts) // 3600000000 AS b,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS e
      |  FROM events),
      |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM base),
      |grid AS (SELECT k, gb.b FROM (SELECT DISTINCT k FROM base)
      |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b FROM rng) gb),
      |c AS (SELECT k, b, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(e) AS BIGINT) AS n_err FROM base GROUP BY 1, 2),
      |rates AS (SELECT g.k, g.b, coalesce(c.n, 0) AS n,
      |    coalesce(c.n_err, 0) AS n_err,
      |    CASE WHEN coalesce(c.n, 0) > 0
      |      THEN coalesce(c.n_err, 0) * 1000000 // c.n ELSE 0 END
      |      AS err_ppm
      |  FROM grid g LEFT JOIN c ON c.k = g.k AND c.b = g.b)""".stripMargin

  /** Shared by q387 (batch lead chain) and q397 (streaming state). */
  private val q387OracleSql: String =
    """WITH base AS (SELECT user_id AS u, event_type AS et,
      |    epoch_us(ts) AS ts, event_id AS eid FROM events),
      |p AS (SELECT et || '>' || lead(et, 1) OVER w || '>'
      |      || lead(et, 2) OVER w AS path,
      |    et IS NOT NULL AND lead(et, 1) OVER w IS NOT NULL
      |      AND lead(et, 2) OVER w IS NOT NULL AS isfull
      |  FROM base WINDOW w AS (PARTITION BY u ORDER BY ts, eid)),
      |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p
      |  WHERE isfull GROUP BY path),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
      |SELECT path, n, n * 1000000 // t AS share_ppm FROM c, t
      |ORDER BY n DESC, path LIMIT 10""".stripMargin

  /** Events per type in `binUs`-wide bins on the dense (type × bin)
    * grid: base, rng, grid, and the busy cells c(et, b, c).
    */
  private def binGridCtes(binUs: Long): String =
    s"""base AS (SELECT event_type AS et,
       |    epoch_us(ts) // $binUs AS b FROM events),
       |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM base),
       |grid AS (SELECT et, gb.b FROM (SELECT DISTINCT et FROM base)
       |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b FROM rng) gb),
       |c AS (SELECT et, b, CAST(count(*) AS BIGINT) AS c FROM base
       |  GROUP BY 1, 2)""".stripMargin

  /** Per user the first view, then the click and the purchase within 7
    * days of it: base, s0, c1, c2.
    */
  private val funnelCtes: String =
    """base AS (SELECT user_id AS u, event_type AS et,
      |    epoch_us(ts) AS ts FROM events),
      |s0 AS (SELECT u, min(ts) AS t0 FROM base WHERE et = 'view' GROUP BY u),
      |c1 AS (SELECT b.u, min(s0.t0) AS t0, min(b.ts) AS tk
      |  FROM base b JOIN s0 ON b.u = s0.u
      |  WHERE b.et = 'click' AND b.ts > s0.t0
      |    AND b.ts <= s0.t0 + 604800000000 GROUP BY b.u),
      |c2 AS (SELECT b.u, min(c1.t0) AS t0, min(b.ts) AS tk
      |  FROM base b JOIN c1 ON b.u = c1.u
      |  WHERE b.et = 'purchase' AND b.ts > c1.tk
      |    AND b.ts <= c1.t0 + 604800000000 GROUP BY b.u)""".stripMargin

  /** Hourly event counts per type on the dense (type × hour) grid between
      * the first and last busy hour: base, c, rng, grid, f(et, b, c).
      */
  /** Hourly buckets per event type: base(et, b), the bucket range rng,
    * and the dense (et, b) grid.
    */
  private val hourGridCtes: String =
    """base AS (SELECT event_type AS et,
      |    epoch_us(ts) // 3600000000 AS b FROM events),
      |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM base),
      |grid AS (SELECT et, gb.b FROM (SELECT DISTINCT et FROM base)
      |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b
      |              FROM rng) gb)""".stripMargin

  private val hourlyGridCtes: String =
    """base AS (SELECT event_type AS et,
      |    epoch_us(ts) // 3600000000 AS b FROM events),
      |c AS (SELECT et, b, CAST(count(*) AS BIGINT) AS c FROM base
      |  GROUP BY 1, 2),
      |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM c),
      |grid AS (SELECT et, gb.b FROM (SELECT DISTINCT et FROM c)
      |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b FROM rng) gb),
      |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c FROM grid g
      |  LEFT JOIN c ON c.et = g.et AND c.b = g.b)""".stripMargin

  /** Slope, intercept and r2 of the integer least-squares sums in `d`. */
  private[queries] val olsFitCols: String =
    """  CASE WHEN dxx <> 0 THEN
      |    round(CAST(dxy AS DOUBLE) / CAST(dxx AS DOUBLE), 6) + 0.0 END
      |    AS slope,
      |  CASE WHEN dxx <> 0 THEN
      |    round(CAST(inum AS DOUBLE) / CAST(dxx AS DOUBLE), 6) + 0.0 END
      |    AS intercept,
      |  CASE WHEN dxx <> 0 AND dyy <> 0 THEN
      |    round(CAST(dxy AS DOUBLE) * CAST(dxy AS DOUBLE)
      |      / (CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)), 6) END
      |    AS r2""".stripMargin

  /** Per (user, type) bursts split on >24h gaps: e, f, g(.., burst_no). */
  private val burstCtes: String =
    """e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
      |    event_id FROM events),
      |f AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
      |      OR t - lag(t) OVER w > 86400000000 THEN 1 ELSE 0 END AS nb
      |  FROM e WINDOW w AS (PARTITION BY user_id, event_type
      |    ORDER BY t, event_id)),
      |g AS (SELECT *, CAST(sum(nb) OVER (PARTITION BY user_id,
      |    event_type ORDER BY t, event_id) AS BIGINT) AS burst_no
      |  FROM f)""".stripMargin

  // The leg oracles that the q433 panel oracle reads.
  private val q412OracleSql: String =
    s"""WITH $hourlyGridCtes,
      |m AS (SELECT et, CAST(sum(c) AS BIGINT) * 1000
      |    // CAST(count(*) AS BIGINT) AS mm FROM f GROUP BY 1),
      |x AS (SELECT f.et, f.b, f.c, m.mm,
      |    f.c * 1000 - m.mm - m.mm // 4 AS x
      |  FROM f JOIN m ON m.et = f.et),
      |u AS (SELECT et, b, c, mm,
      |    CAST(sum(x) OVER (PARTITION BY et ORDER BY b) AS BIGINT) AS u
      |  FROM x),
      |v AS (SELECT *, u - least(min(u) OVER (PARTITION BY et
      |    ORDER BY b), 0) AS s FROM u)
      |SELECT et AS event_type,
      |  CAST(row_number() OVER (PARTITION BY et ORDER BY b) AS BIGINT)
      |    AS alarm_no,
      |  b AS bin, c, mm AS mean_milli, s AS s_milli
      |FROM v WHERE s >= mm * 3 ORDER BY event_type, bin""".stripMargin

  private val q430OracleSql: String =
    s"""WITH $hourlyGridCtes,
      |al AS (SELECT et AS et_a, b, c AS ca, lg AS lag, b + lg AS bb
      |  FROM f, (SELECT unnest(range(-6, 7)) AS lg)),
      |j AS (SELECT al.et_a, fb.et AS et_b, al.lag, al.ca, fb.c AS cb
      |  FROM al JOIN f fb ON fb.b = al.bb WHERE al.et_a < fb.et),
      |s AS (SELECT et_a, et_b, lag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(ca) AS BIGINT) AS sx, CAST(sum(cb) AS BIGINT) AS sy,
      |    CAST(sum(ca * cb) AS BIGINT) AS sxy,
      |    CAST(sum(ca * ca) AS BIGINT) AS sxx,
      |    CAST(sum(cb * cb) AS BIGINT) AS syy
      |  FROM j GROUP BY 1, 2, 3),
      |d AS (SELECT et_a, et_b, lag, n AS n_bins,
      |    n * sxx - sx * sx AS dxx, n * syy - sy * sy AS dyy,
      |    n * sxy - sx * sy AS dxy FROM s),
      |r AS (SELECT et_a, et_b, lag, n_bins,
      |    CASE WHEN dxx > 0 AND dyy > 0 THEN
      |      round(CAST(dxy AS DOUBLE)
      |        / sqrt(CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)), 6) + 0.0
      |    END AS r FROM d)
      |SELECT et_a, et_b, lag, n_bins, r,
      |  row_number() OVER (PARTITION BY et_a, et_b
      |    ORDER BY coalesce(abs(r), -2.0) DESC, lag) = 1 AS best
      |FROM r ORDER BY et_a, et_b, lag""".stripMargin

  private val q432OracleSql: String =
    s"""WITH $hourlyGridCtes,
      |s AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS sy,
      |    CAST(sum(c * c) AS BIGINT) AS syy FROM f GROUP BY 1)
      |SELECT et AS event_type, n AS n_bins, sy * 1000 // n AS mean_milli,
      |  CASE WHEN sy > 0 THEN round(CAST(n * syy - sy * sy AS DOUBLE)
      |    / CAST(n * sy AS DOUBLE), 6) END AS fano,
      |  CASE WHEN sy > 0 THEN round(CAST(n * syy - sy * sy AS DOUBLE)
      |    / CAST(sy * sy AS DOUBLE), 6) END AS cv2
      |FROM s ORDER BY event_type""".stripMargin

  private val q429OracleSql: String =
    s"""WITH $hourlyGridCtes,
      |raw AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
      |    CAST(min(b) AS BIGINT) AS b0, CAST(sum(b) AS BIGINT) AS sb,
      |    CAST(sum(c) AS BIGINT) AS sy,
      |    CAST(sum(b * c) AS BIGINT) AS sbc,
      |    CAST(sum(b * b) AS BIGINT) AS sbb
      |  FROM f GROUP BY 1),
      |sh AS (SELECT et, b0, n, sy, sb - n * b0 AS sx,
      |    sbc - b0 * sy AS sxy,
      |    sbb - 2 * b0 * sb + n * b0 * b0 AS sxx FROM raw),
      |d AS (SELECT et, b0, n * sxx - sx * sx AS dxx,
      |    n * sxy - sx * sy AS dxy, sy * sxx - sx * sxy AS inum
      |  FROM sh WHERE n * sxx - sx * sx <> 0),
      |tr AS (SELECT f.et, f.b, f.c, f.b % 24 AS hod, d.dxx,
      |    d.inum + d.dxy * (f.b - d.b0) AS aa
      |  FROM f JOIN d ON d.et = f.et),
      |detr AS (SELECT et, b, c, hod,
      |    c * 1000 - ((aa // dxx) * 1000
      |      + ((aa - (aa // dxx) * dxx) * 1000) // dxx) AS ds
      |  FROM tr),
      |bl AS (SELECT et, hod, CAST(sum(ds) AS BIGINT) AS bn,
      |    CAST(count(*) AS BIGINT) AS cnt FROM detr GROUP BY 1, 2),
      |r AS (SELECT detr.et, detr.b, detr.hod, detr.c,
      |    detr.ds * bl.cnt - bl.bn AS rr, bl.cnt
      |  FROM detr JOIN bl ON bl.et = detr.et AND bl.hod = detr.hod),
      |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY et
      |    ORDER BY abs(CAST(rr AS DOUBLE) / CAST(cnt AS DOUBLE))
      |      DESC, b) AS INTEGER) AS rank FROM r)
      |SELECT et AS event_type, rank, b AS bin, hod, c,
      |  round(CAST(rr AS DOUBLE) / CAST(cnt AS DOUBLE), 6) + 0.0 AS dev_milli
      |FROM rk WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin

  // The leg oracles that other oracles read: the q450 panel reads
  // q443/q448/q449, and the Sketches q476 panel reads q446/q454.
  private val q443OracleSql: String =
    """WITH q AS (SELECT
      |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS s,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events
      |  WHERE value IS NOT NULL AND NOT isnan(value)),
      |g AS (SELECT s, CAST(count(*) AS BIGINT) AS c,
      |    CAST(sum(y) AS BIGINT) AS p FROM q GROUP BY 1),
      |r AS (SELECT *, CAST(sum(c) OVER (ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cum FROM g),
      |t AS (SELECT CAST(sum(p * (2*(cum - c) + c + 1)) AS BIGINT)
      |      AS r2,
      |    CAST(sum(p) AS BIGINT) AS n_pos,
      |    CAST(sum(c - p) AS BIGINT) AS n_neg FROM r)
      |SELECT n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    round(CAST(r2 - n_pos*(n_pos+1) AS DOUBLE)
      |      / (2.0 * n_pos * n_neg), 6) END AS auc
      |FROM t""".stripMargin

  private val q448OracleSql: String =
    """WITH per AS (SELECT user_id, user_id % 2 AS v,
      |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |      END) AS BIGINT) AS conv
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      |c AS (SELECT
      |    CAST(sum(CASE WHEN v = 0 AND conv = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN v = 0 AND conv = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN v <> 0 AND conv = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN v <> 0 AND conv = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d
      |  FROM per)
      |SELECT a + b AS n_a, c + d AS n_b, a AS conv_a, c AS conv_b,
      |  CASE WHEN a + b > 0 THEN (a * 1000000) // (a + b) END
      |    AS rate_a_ppm,
      |  CASE WHEN c + d > 0 THEN (c * 1000000) // (c + d) END
      |    AS rate_b_ppm,
      |  CASE WHEN a + b > 0 AND c + d > 0 AND a + c > 0
      |      AND b + d > 0 THEN
      |    round(CAST(a + b + c + d AS DOUBLE)
      |      * CAST(a*d - b*c AS DOUBLE) * CAST(a*d - b*c AS DOUBLE)
      |      / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
      |         * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)), 6)
      |  END AS chi2,
      |  CASE WHEN a + b + c + d > 0 THEN
      |    round(CAST((a + b) - (c + d) AS DOUBLE)
      |      * CAST((a + b) - (c + d) AS DOUBLE)
      |      / CAST(a + b + c + d AS DOUBLE), 6) END AS srm_chi2
      |FROM c""".stripMargin

  private val q449OracleSql: String =
    """WITH per AS (SELECT user_id, user_id % 2 AS variant,
      |    coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN
      |      CAST(floor(value * 100.0 + 0.5) AS BIGINT) END),
      |      0) AS x,
      |    coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN
      |      CAST(floor(value * 100.0 + 0.5) AS BIGINT) END),
      |      0) AS y
      |  FROM events WHERE user_id IS NOT NULL
      |    AND (value IS NULL OR NOT isnan(value)) GROUP BY 1, 2),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS nn,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM per),
      |t AS (SELECT nn, sx,
      |    CASE WHEN nn*sxx - sx*sx > 0 THEN
      |      CAST(nn*sxy - sx*sy AS DOUBLE)
      |        / CAST(nn*sxx - sx*sx AS DOUBLE)
      |    ELSE 0.0 END AS theta FROM m),
      |v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_subjects,
      |    CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv
      |  FROM per GROUP BY 1)
      |SELECT variant, n_subjects,
      |  round(CAST(syv AS DOUBLE) / 100.0 / n_subjects, 6) + 0.0
      |    AS mean_post,
      |  round((CAST(syv AS DOUBLE) / n_subjects
      |    - theta * (CAST(sxv AS DOUBLE) / n_subjects
      |      - CAST(sx AS DOUBLE) / nn)) / 100.0, 6) + 0.0 AS mean_adjusted
      |FROM v CROSS JOIN t ORDER BY variant""".stripMargin

  /** q456's session derivation, shared verbatim by the q459 rollup. */
  /** Per-event session assignment rows (user_id, event_type, tus,
    * session_id) — the SQL twin of [[graft.ops.Events.sessionAssign]];
    * q456/q459/q464/q465 all derive from this one definition.
    */
  private val sessionEventsSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus
      |  FROM events WHERE user_id IS NOT NULL),
      |m AS (SELECT user_id, event_type, tus,
      |    CASE WHEN tus - lag(tus)
      |        OVER (PARTITION BY user_id ORDER BY tus) <= 1800000000
      |      THEN 0 ELSE 1 END AS new_s
      |  FROM e)
      |SELECT user_id, event_type, tus,
      |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS session_id
      |FROM m""".stripMargin

  private val sessionSql: String =
    s"""WITH sev AS ($sessionEventsSql)
       |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
       |  min(tus) AS start_us, max(tus) AS end_us,
       |  max(tus) - min(tus) AS dur_us
       |FROM sev GROUP BY 1, 2""".stripMargin

  private val kcoreSql: String = {
    val rounds = (0 until 12).map { i =>
      s"""n$i AS MATERIALIZED (SELECT u FROM a$i GROUP BY u
         |  HAVING count(*) >= 3),
         |a${i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM a$i e
         |  JOIN n$i x ON x.u = e.u JOIN n$i y ON y.u = e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH l AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
       |    l_partkey AS p FROM lineitem
       |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
       |e0 AS MATERIALIZED (SELECT a.p AS a, b.p AS b FROM l a
       |  JOIN l b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |a0 AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
       |  UNION SELECT b, a FROM e0),
       |$rounds
       |SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
       |FROM a12 GROUP BY u ORDER BY node""".stripMargin
  }

  lazy val gates: Seq[Gate] = Seq(
    // Strict ordered funnel view -> click -> purchase, 7-day window:
    // per-stage distinct-user conversion over the event log.
    Gate("q373_funnel", (s, dir) => {
      Events.funnel(t(s, dir, "events"), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), windowSec = 7L * 86400L)
        .orderBy("stage")
    }, oracle =
      s"""WITH $funnelCtes,
        |cnts AS (
        |  SELECT CAST(0 AS BIGINT) AS stage, 'view' AS event_type,
        |    (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n_users
        |  UNION ALL SELECT 1, 'click',
        |    (SELECT CAST(count(*) AS BIGINT) FROM c1)
        |  UNION ALL SELECT 2, 'purchase',
        |    (SELECT CAST(count(*) AS BIGINT) FROM c2))
        |SELECT stage, event_type, n_users,
        |  CASE WHEN lag(n_users) OVER w IS NULL THEN CAST(1000000 AS BIGINT)
        |       WHEN lag(n_users) OVER w = 0 THEN CAST(0 AS BIGINT)
        |       ELSE n_users * 1000000 // lag(n_users) OVER w
        |  END AS conv_prev_ppm,
        |  CASE WHEN first_value(n_users) OVER w = 0 THEN CAST(0 AS BIGINT)
        |       ELSE n_users * 1000000 // first_value(n_users) OVER w
        |  END AS conv_first_ppm
        |FROM cnts WINDOW w AS (ORDER BY stage) ORDER BY stage""".stripMargin),

    // Weekly retention cohort matrix: first-event epoch-week cohorts x
    // week offsets, distinct active users + retained ppm.
    Gate("q374_retention", (s, dir) => {
      Events.retention(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    }, oracle =
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |coh AS (SELECT u, min(wk) AS cw FROM uw GROUP BY u),
        |cells AS (SELECT cw AS cohort_week, wk - cw AS week_offset,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM uw JOIN coh USING (u) GROUP BY 1, 2),
        |sizes AS (SELECT cohort_week, n_users AS c0 FROM cells
        |  WHERE week_offset = 0)
        |SELECT cohort_week, week_offset, n_users,
        |  n_users * 1000000 // c0 AS retained_ppm
        |FROM cells JOIN sizes USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // Hot-key profile for event_type as a prospective shuffle key at
    // 32-way partitioning: share, deterministic hash bucket, and the
    // salt factor that would level each key.
    Gate("q377_skew_profile", (s, dir) => {
      Scale.skewProfile(t(s, dir, "events"), "event_type",
        topK = 10, partitions = 32)
    }, oracle =
      """WITH c AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT key, n,
        |  n * 1000000 // total AS share_ppm,
        |  CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) % 32 AS bucket,
        |  (n * 32 + total - 1) // total AS salt_factor
        |FROM c, t ORDER BY n DESC, key LIMIT 10""".stripMargin),

    // Crawl-frontier prioritization: 3 rounds of damped weighted
    // PageRank over the lexical-affinity graph (sources joined by the
    // integer dot product of their hashed word profiles — the q343
    // fingerprint, unnormalized). Which source is most central to the
    // corpus's vocabulary, hence where recrawl budget goes first.
    Gate("q378_profile_pagerank", (s, dir) => {
      Graph.pageRank(
          Graph.profileEdges(t(s, dir, "documents"), "text", "source"),
          "src", "dst", "w", iters = 3)
        .orderBy("node")
    }, oracle = {
      val contrib = (p: String) =>
        s"""SELECT e.dst AS node,
           |    CAST(sum((850000 * p.pr // 1000000) * e.w // o.out_w)
           |      AS BIGINT) AS in_w
           |  FROM e JOIN outw o ON o.src = e.src
           |  JOIN $p p ON p.node = e.src GROUP BY e.dst""".stripMargin
      val step = (prev: String, cur: String) =>
        s"""$cur AS (SELECT nodes.node,
           |    150000 // nn.n + coalesce(c.in_w, 0) AS pr
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN (${contrib(prev)}) c ON c.node = nodes.node)""".stripMargin
      s"""WITH $profileGraphCtes,
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM e
         |  GROUP BY src),
         |p0 AS (SELECT node, 1000000 // nn.n AS pr
         |  FROM nodes CROSS JOIN nn),
         |${step("p0", "p1")},
         |${step("p1", "p2")},
         |${step("p2", "p3")}
         |SELECT node, CAST(pr AS BIGINT) AS pr_ppm FROM p3
         |ORDER BY node""".stripMargin
    }),

    // Markov transition matrix over each user's event sequence:
    // (from, to) counts + ppm probability conditional on from_type.
    Gate("q379_event_transitions", (s, dir) => {
      Events.transitionMatrix(t(s, dir, "events"), "user_id",
          "event_type", "ts", "event_id")
        .orderBy("from_type", "to_type")
    }, oracle = q379OracleSql),

    // Peak in-flight spans per event type (span = [ts, ts + value
    // seconds)): sweep-line max concurrency + the earliest peak
    // instant, banded-prefix exact.
    Gate("q380_span_concurrency", (s, dir) => {
      Events.spanConcurrency(t(s, dir, "events"), "event_type", "ts",
          round(col("value") * lit(1000000.0)).cast("long"))
        .orderBy("event_type")
    }, oracle =
      """WITH ev AS (SELECT event_type AS et, epoch_us(ts) AS t,
        |    CAST(round(value * 1000000) AS BIGINT) AS dur FROM events),
        |deltas AS (SELECT et, t, 1 AS d FROM ev
        |  UNION ALL SELECT et, t + dur, -1 FROM ev),
        |net AS (SELECT et, t, CAST(sum(d) AS BIGINT) AS net FROM deltas
        |  GROUP BY 1, 2),
        |cum AS (SELECT et, t,
        |    sum(net) OVER (PARTITION BY et ORDER BY t) AS c FROM net),
        |peaks AS (SELECT et, CAST(max(c) AS BIGINT) AS peak FROM cum
        |  GROUP BY et),
        |spans AS (SELECT et, CAST(count(*) AS BIGINT) AS n_spans FROM ev
        |  GROUP BY et)
        |SELECT cum.et AS event_type, n_spans,
        |  peak AS peak_concurrency, CAST(min(t) AS BIGINT) AS peak_at_us
        |FROM cum JOIN peaks ON peaks.et = cum.et AND cum.c = peaks.peak
        |JOIN spans ON spans.et = cum.et
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    // CUSUM changepoint per event type over minute bins: where the
    // cumulative rate deviation peaks, in exact N-scaled integers.
    Gate("q381_rate_changepoint", (s, dir) => {
      Events.rateChangepoint(t(s, dir, "events"), "event_type", "ts",
          binUs = 60L * 1000000L)
        .orderBy("event_type")
    }, oracle =
      s"""WITH ${binGridCtes(60000000L)},
        |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c FROM grid g
        |  LEFT JOIN c ON c.et = g.et AND c.b = g.b),
        |tot AS (SELECT et, CAST(sum(c) AS BIGINT) AS t FROM f GROUP BY et),
        |s AS (SELECT f.et, f.b, tot.t, rng.b1 - rng.b0 + 1 AS nb,
        |    (rng.b1 - rng.b0 + 1)
        |      * sum(f.c) OVER (PARTITION BY f.et ORDER BY f.b)
        |      - row_number() OVER (PARTITION BY f.et ORDER BY f.b) * tot.t
        |      AS s
        |  FROM f CROSS JOIN rng JOIN tot ON tot.et = f.et),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY et ORDER BY abs(s) DESC, b) AS rn FROM s)
        |SELECT et AS event_type, b AS cp_bin, CAST(s AS BIGINT)
        |    AS cusum_scaled,
        |  CAST(sign(s) AS BIGINT) AS direction, nb AS n_bins,
        |  t AS n_events
        |FROM r WHERE rn = 1 ORDER BY et""".stripMargin),

    // Hourly latency percentile bands: exact nearest-rank p50/p95/p99
    // of value (in cents) per (event_type, hour) — the SLO dashboard.
    Gate("q388_latency_bands", (s, dir) => {
      Events.latencyBands(t(s, dir, "events"), "event_type", "ts",
          "value", binUs = 3600L * 1000000L)
        .orderBy("event_type", "bin")
    }, oracle =
      """WITH base AS (SELECT event_type AS et,
        |    epoch_us(ts) // 3600000000 AS b,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |rk AS (SELECT et, b, cents,
        |    row_number() OVER (PARTITION BY et, b ORDER BY cents) AS r,
        |    CAST(count(*) OVER (PARTITION BY et, b) AS BIGINT) AS n
        |  FROM base)
        |SELECT et AS event_type, b AS bin, max(n) AS n,
        |  max(CASE WHEN r = (n * 50 + 99) // 100 THEN cents END) AS p50_c,
        |  max(CASE WHEN r = (n * 95 + 99) // 100 THEN cents END) AS p95_c,
        |  max(CASE WHEN r = (n * 99 + 99) // 100 THEN cents END) AS p99_c
        |FROM rk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ROLLUP revenue report: Catalyst's native grouping-sets operator
    // over (returnflag, linestatus) with subtotal and grand-total rows,
    // quantized-sum exact.
    Gate("q389_revenue_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          qsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle =
      s"""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
         |  ${qsumSql("l_extendedprice * (1 - l_discount)")} AS rev
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY 1, 2""".stripMargin),

    // Salted skew join: events (hot event_type keys) joined to the
    // per-type stats dim on (key, salt) — result EXACTLY the plain
    // join (shared-oracle contract), skew spread 4-fold.
    Gate("q390_salted_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.groupBy("event_type")
        .agg(count(lit(1)).as("type_n"),
          sum(round(col("value") * lit(100.0)).cast("long")).as("type_cents"))
      graft.ops.Scale.saltedJoin(ev, dim, "event_type", "event_id", 4)
        .select(col("event_id"), col("event_type"), col("type_n"),
          col("type_cents"))
        .orderBy("event_id")
    }, oracle =
      """WITH dim AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS type_n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS type_cents
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, dim.type_n, dim.type_cents
        |FROM events e JOIN dim USING (event_type)
        |ORDER BY e.event_id""".stripMargin),

    // Time-weighted mean vs naive mean per type: gauge averaging where
    // each sample holds until the next one (banded lead, exact
    // cents x microsecond arithmetic).
    Gate("q391_time_weighted_mean", (s, dir) => {
      Events.timeWeightedMean(t(s, dir, "events"), "event_type", "ts",
          "value", "event_id")
        .orderBy("event_type")
    }, oracle =
      """WITH base AS (SELECT event_type AS et, epoch_us(ts) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    event_id AS eid FROM events),
        |led AS (SELECT et, t, cents,
        |    lead(t) OVER (PARTITION BY et ORDER BY t, eid) AS nt
        |  FROM base),
        |a AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
        |    max(t) - min(t) AS span_us,
        |    CAST(sum(cents * coalesce(nt - t, 0)) AS BIGINT) AS wsum,
        |    CAST(sum(cents) AS BIGINT) AS csum
        |  FROM led GROUP BY et)
        |SELECT et AS event_type, n, span_us,
        |  CASE WHEN span_us > 0 THEN wsum // span_us END AS twa_c,
        |  csum // n AS mean_c FROM a ORDER BY et""".stripMargin),

    // Time-to-convert per funnel stage: doubled-median + mean wait
    // between consecutive stage conversions (view->click->purchase).
    Gate("q392_funnel_times", (s, dir) => {
      Events.funnelTimes(t(s, dir, "events"), "user_id", "event_type",
          "ts", Seq("view", "click", "purchase"), windowSec = 7L * 86400L)
        .orderBy("stage")
    }, oracle =
      s"""WITH $funnelCtes,
        |d1 AS (SELECT c1.tk - s0.t0 AS dt FROM c1 JOIN s0 ON s0.u = c1.u),
        |d2 AS (SELECT c2.tk - c1.tk AS dt FROM c2 JOIN c1 ON c1.u = c2.u),
        |r1 AS (SELECT dt, row_number() OVER (ORDER BY dt) AS r,
        |    CAST(count(*) OVER () AS BIGINT) AS n FROM d1),
        |m1 AS (SELECT max(n) AS n, CAST(
        |    sum(CASE WHEN r = (n + 1) // 2 THEN dt END)
        |    + sum(CASE WHEN r = (n + 2) // 2 THEN dt END) AS BIGINT) AS med2,
        |    CAST(sum(dt) AS BIGINT) AS s FROM r1),
        |r2 AS (SELECT dt, row_number() OVER (ORDER BY dt) AS r,
        |    CAST(count(*) OVER () AS BIGINT) AS n FROM d2),
        |m2 AS (SELECT max(n) AS n, CAST(
        |    sum(CASE WHEN r = (n + 1) // 2 THEN dt END)
        |    + sum(CASE WHEN r = (n + 2) // 2 THEN dt END) AS BIGINT) AS med2,
        |    CAST(sum(dt) AS BIGINT) AS s FROM r2)
        |SELECT CAST(1 AS BIGINT) AS stage, 'click' AS event_type,
        |  n AS n_users, med2 AS med2_dt_us, s // n AS mean_dt_us
        |FROM m1 WHERE n IS NOT NULL
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'purchase', n, med2, s // n
        |FROM m2 WHERE n IS NOT NULL
        |ORDER BY stage""".stripMargin),

    // Theil-Sen robust trend per event type over 6-hour buckets:
    // median pairwise slope, outlier-resistant drift detection.
    Gate("q393_sen_trend", (s, dir) => {
      Events.senTrend(t(s, dir, "events"), "event_type", "ts",
          binUs = 6L * 3600L * 1000000L)
        .orderBy("event_type")
    }, oracle =
      s"""WITH ${binGridCtes(21600000000L)},
        |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c FROM grid g
        |  LEFT JOIN c ON c.et = g.et AND c.b = g.b),
        |p AS (SELECT a.et, a.b AS bi, a.c AS ci, j.b AS bj, j.c AS cj,
        |    CAST(j.c - a.c AS DOUBLE) / (j.b - a.b) AS slope
        |  FROM f a JOIN f j ON j.et = a.et AND a.b < j.b),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY et ORDER BY slope, bi, bj) AS r,
        |    CAST(count(*) OVER (PARTITION BY et) AS BIGINT) AS n FROM p),
        |m AS (SELECT et, max(n) AS n_pairs,
        |    sum(CASE WHEN r = (n + 1) // 2 THEN slope END)
        |    + sum(CASE WHEN r = (n + 2) // 2 THEN slope END) AS m2
        |  FROM r GROUP BY et)
        |SELECT et AS event_type, rng.b1 - rng.b0 + 1 AS n_bins, n_pairs,
        |  round(m2 / 2.0, 6) + 0.0 AS sen_slope,
        |  CAST(sign(m2) AS BIGINT) AS direction
        |FROM m CROSS JOIN rng ORDER BY et""".stripMargin),

    // Cumulative + trailing 24-hour moving sum/average of hourly cents
    // per type over the zero-filled grid — the dashboard timeseries.
    Gate("q394_moving_stats", (s, dir) => {
      Events.movingStats(t(s, dir, "events"), "event_type", "ts",
          "value", binUs = 3600L * 1000000L, window = 24)
        .orderBy("event_type", "bin")
    }, oracle =
      """WITH base AS (SELECT event_type AS et,
        |    epoch_us(ts) // 3600000000 AS b,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |rng AS (SELECT min(b) AS b0, max(b) AS b1 FROM base),
        |grid AS (SELECT et, gb.b FROM (SELECT DISTINCT et FROM base)
        |  CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS b FROM rng) gb),
        |s AS (SELECT et, b, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS c_sum FROM base GROUP BY 1, 2),
        |f AS (SELECT g.et, g.b, coalesce(s.n, 0) AS n,
        |    coalesce(s.c_sum, 0) AS c_sum FROM grid g
        |  LEFT JOIN s ON s.et = g.et AND s.b = g.b)
        |SELECT et AS event_type, b AS bin, n, c_sum,
        |  CAST(sum(c_sum) OVER (PARTITION BY et ORDER BY b) AS BIGINT)
        |    AS cum_sum,
        |  CAST(sum(c_sum) OVER (PARTITION BY et ORDER BY b
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma_sum,
        |  CAST(sum(c_sum) OVER (PARTITION BY et ORDER BY b
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) // 24
        |    AS ma_avg
        |FROM f ORDER BY et, b""".stripMargin),

    // Weekly growth accounting: new / retained / resurrected actives
    // plus the churned count landing the week after last activity.
    Gate("q395_growth_accounting", (s, dir) => {
      Events.growthAccounting(t(s, dir, "events"), "user_id", "ts")
        .orderBy("week")
    }, oracle =
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |l AS (SELECT u, wk,
        |    min(wk) OVER (PARTITION BY u) AS fw,
        |    lag(wk) OVER (PARTITION BY u ORDER BY wk) AS pw,
        |    lead(wk) OVER (PARTITION BY u ORDER BY wk) AS nw
        |  FROM uw),
        |act AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN wk = fw THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN pw = wk - 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_retained,
        |    CAST(sum(CASE WHEN wk <> fw
        |        AND (pw IS NULL OR pw <> wk - 1) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM l GROUP BY wk),
        |ch AS (SELECT wk + 1 AS wk, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM l WHERE nw IS NULL OR nw <> wk + 1 GROUP BY 1)
        |SELECT coalesce(act.wk, ch.wk) AS week,
        |  coalesce(n_active, 0) AS n_active, coalesce(n_new, 0) AS n_new,
        |  coalesce(n_retained, 0) AS n_retained,
        |  coalesce(n_resurrected, 0) AS n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned
        |FROM act FULL OUTER JOIN ch ON act.wk = ch.wk
        |ORDER BY week""".stripMargin),

    // Ingest-time transition pairs (per-user last-event state) replayed
    // AvailableNow, then the shared count/ppm tail: identical matrix to
    // the batch q379 window — shares its oracle verbatim.
    Gate("q396_streaming_transitions", (s, dir) => {
      val pairs = replayPaths(s, dir, 2)
        .select(element_at(col("steps"), 1).as("from_type"),
          element_at(col("steps"), 2).as("to_type"))
      Events.transitionReport(pairs).orderBy("from_type", "to_type")
    }, oracle =
      // Streaming state == batch window: the ingest-time pair stream
      // aggregates to the identical matrix (q379's oracle verbatim).
      q379OracleSql),

    // Ingest-time trigram windows (per-user sliding-window state) ->
    // the shared top-paths tail: shares q387's oracle.
    Gate("q397_streaming_paths", (s, dir) => {
      val paths = replayPaths(s, dir, 3)
        .select(concat_ws(">", col("steps")).as("path"))
      Events.pathReport(paths, 10)
    }, oracle =
      // Streaming trigram stream == batch lead-chain top paths.
      q387OracleSql),

    // Hysteresis alerting on the per-shard hourly error rate: ON above
    // 30%, OFF at/below 15%, dead band keeps prior state — flap-free
    // alert + fired/cleared edges, window-expressed (no UDF state).
    Gate("q398_alert_hysteresis", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("shard", pmod(col("user_id"), lit(4L)))
      graft.ops.Alerts.alertHysteresis(
          graft.ops.Alerts.errorRates(ev, "shard", "ts",
            col("event_type") === "error", binUs = 3600L * 1000000L),
          hiPpm = 300000L, loPpm = 150000L)
        .orderBy("k", "b")
    }, oracle =
      s"""WITH $ratesCtes,
         |st AS (SELECT k, b, n, n_err, err_ppm,
         |    coalesce(last_value(CASE WHEN err_ppm > 300000 THEN 1
         |        WHEN err_ppm <= 150000 THEN 0 END IGNORE NULLS)
         |      OVER (PARTITION BY k ORDER BY b
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
         |      AS alert
         |  FROM rates)
         |SELECT k, b, n, n_err, err_ppm, CAST(alert AS BIGINT) AS alert,
         |  CAST(CASE WHEN alert = 1 AND coalesce(lag(alert)
         |      OVER (PARTITION BY k ORDER BY b), 0) = 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS fired,
         |  CAST(CASE WHEN alert = 0 AND coalesce(lag(alert)
         |      OVER (PARTITION BY k ORDER BY b), 0) = 1
         |    THEN 1 ELSE 0 END AS BIGINT) AS cleared
         |FROM st ORDER BY k, b""".stripMargin),

    // Multi-window SLO burn rate (75% target): trailing 6h + 24h
    // windows per shard, burn x100 integers (100 = exactly on budget).
    Gate("q399_burn_rate", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("shard", pmod(col("user_id"), lit(4L)))
      graft.ops.Alerts.burnRate(
          graft.ops.Alerts.errorRates(ev, "shard", "ts",
            col("event_type") === "error", binUs = 3600L * 1000000L),
          sloPpm = 750000L, windows = Seq(6, 24))
        .orderBy("k", "b")
    }, oracle =
      s"""WITH $ratesCtes
         |SELECT k, b, err_ppm,
         |  CASE WHEN CAST(sum(n) OVER w6 AS BIGINT) > 0
         |    THEN CAST(sum(n_err) OVER w6 AS BIGINT) * 100000000
         |      // (CAST(sum(n) OVER w6 AS BIGINT) * 250000)
         |    ELSE 0 END AS burn6_x100,
         |  CASE WHEN CAST(sum(n) OVER w24 AS BIGINT) > 0
         |    THEN CAST(sum(n_err) OVER w24 AS BIGINT) * 100000000
         |      // (CAST(sum(n) OVER w24 AS BIGINT) * 250000)
         |    ELSE 0 END AS burn24_x100
         |FROM rates
         |WINDOW w6 AS (PARTITION BY k ORDER BY b
         |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
         |  w24 AS (PARTITION BY k ORDER BY b
         |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
         |ORDER BY k, b""".stripMargin),

    // Apdex per (event_type, hour): T = 1 s, exact
    // (2*sat + tol)*1e6 // (2*n) ppm.
    Gate("q400_apdex", (s, dir) => {
      graft.ops.Alerts.apdex(t(s, dir, "events"), "event_type", "ts",
          "value", tCents = 100L, binUs = 3600L * 1000000L)
        .orderBy("k", "b")
    }, oracle =
      """WITH d AS (SELECT event_type AS k,
        |    epoch_us(ts) // 3600000000 AS b,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events)
        |SELECT k, b, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN c <= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_satisfied,
        |  CAST(sum(CASE WHEN c > 100 AND c <= 400 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_tolerating,
        |  (CAST(sum(CASE WHEN c <= 100 THEN 1 ELSE 0 END) AS BIGINT) * 2
        |    + CAST(sum(CASE WHEN c > 100 AND c <= 400 THEN 1 ELSE 0 END)
        |        AS BIGINT)) * 1000000
        |    // (CAST(count(*) AS BIGINT) * 2) AS apdex_ppm
        |FROM d GROUP BY k, b ORDER BY k, b""".stripMargin),

    // Latency heatmap: (event_type, 6-hour bucket, 20s-value cell)
    // density with per-column ppm share; overflow cell capped.
    Gate("q401_latency_heatmap", (s, dir) => {
      graft.ops.Alerts.latencyHeatmap(t(s, dir, "events"), "event_type",
          "ts", "value", binUs = 6L * 3600L * 1000000L,
          cellCents = 2000L, maxBucket = 20)
        .orderBy("k", "b", "vb")
    }, oracle =
      """WITH d AS (SELECT event_type AS k,
        |    epoch_us(ts) // 21600000000 AS b,
        |    least(CAST(round(value * 100) AS BIGINT) // 2000, 20) AS vb
        |  FROM events),
        |cell AS (SELECT k, b, vb, CAST(count(*) AS BIGINT) AS n FROM d
        |  GROUP BY 1, 2, 3),
        |tot AS (SELECT k, b, CAST(sum(n) AS BIGINT) AS t FROM cell
        |  GROUP BY 1, 2)
        |SELECT k, b, vb, n, n * 1000000 // t AS share_ppm
        |FROM cell JOIN tot USING (k, b) ORDER BY k, b, vb""".stripMargin),

    // DAU / WAU / MAU + stickiness over the zero-filled day grid:
    // bounded per-(user, day) fan-out, no sliding-distinct window.
    Gate("q402_active_users", (s, dir) => {
      Events.activeUsers(t(s, dir, "events"), "user_id", "ts")
        .orderBy("day")
    }, oracle =
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |    epoch_us(ts) // 86400000000 AS d FROM events
        |  WHERE user_id IS NOT NULL),
        |rng AS (SELECT min(d) AS d0, max(d) AS d1 FROM ud),
        |days AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM rng),
        |dau AS (SELECT d AS day, CAST(count(*) AS BIGINT) AS dau FROM ud
        |  GROUP BY 1),
        |wau AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS wau FROM
        |  (SELECT u, unnest(range(d, least(d + 7, d1 + 1))) AS day
        |   FROM ud, rng) GROUP BY day),
        |mau AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS mau FROM
        |  (SELECT u, unnest(range(d, least(d + 28, d1 + 1))) AS day
        |   FROM ud, rng) GROUP BY day)
        |SELECT days.day, coalesce(dau, 0) AS dau, coalesce(wau, 0) AS wau,
        |  coalesce(mau, 0) AS mau,
        |  CASE WHEN coalesce(mau, 0) > 0
        |    THEN coalesce(dau, 0) * 1000000 // mau ELSE 0 END
        |    AS stickiness_ppm
        |FROM days LEFT JOIN dau USING (day) LEFT JOIN wau USING (day)
        |LEFT JOIN mau USING (day) ORDER BY days.day""".stripMargin),

    // Cohort LTV curve: per (first-week cohort, offset) period + the
    // running cumulative revenue and per-user LTV, integer cents.
    Gate("q403_cohort_ltv", (s, dir) => {
      Events.cohortLtv(t(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("cohort_week", "week_offset")
    }, oracle =
      """WITH base AS (SELECT user_id AS u,
        |    epoch_us(ts) // 604800000000 AS wk,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |coh AS (SELECT u, min(wk) AS cw FROM base GROUP BY u),
        |cells AS (SELECT cw, wk - cw AS off,
        |    CAST(sum(cents) AS BIGINT) AS rev_c,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM base JOIN coh USING (u) GROUP BY 1, 2),
        |mx AS (SELECT max(wk) AS m FROM base),
        |grid AS (SELECT cw, unnest(range(0, m - cw + 1)) AS off
        |  FROM (SELECT DISTINCT cw FROM coh) CROSS JOIN mx),
        |sizes AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users FROM coh
        |  GROUP BY cw),
        |f AS (SELECT g.cw, g.off, coalesce(c.rev_c, 0) AS rev_c,
        |    coalesce(c.n_events, 0) AS n_events
        |  FROM grid g LEFT JOIN cells c ON c.cw = g.cw AND c.off = g.off)
        |SELECT f.cw AS cohort_week, f.off AS week_offset, n_users,
        |  n_events, rev_c,
        |  CAST(sum(rev_c) OVER (PARTITION BY f.cw ORDER BY f.off)
        |    AS BIGINT) AS cum_rev_c,
        |  CAST(sum(rev_c) OVER (PARTITION BY f.cw ORDER BY f.off)
        |    AS BIGINT) // n_users AS ltv_per_user_c
        |FROM f JOIN sizes ON sizes.cw = f.cw
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // Per-source length percentile of every document — the in-slice
    // position signal curation thresholds key on; banded in-group rank.
    Gate("q404_source_percentile", (s, dir) => {
      graft.ops.Corpus.groupPercentile(t(s, dir, "documents"), "source",
          "doc_id", col("n_chars"), bandWidth = 64L)
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS score
        |  FROM documents),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM d)
        |SELECT source, doc_id, score,
        |  CASE WHEN n > 1 THEN (rn - 1) * 1000000 // (n - 1)
        |    ELSE 0 END AS pct_ppm
        |FROM r ORDER BY doc_id""".stripMargin),

    // Last-touch attribution: each purchase as-of-joins (backward,
    // user-keyed) its latest preceding click/view; revenue and share
    // per touch type, 'none' for unattributed — q242's as-of machinery
    // composed into the classic marketing read.
    Gate("q405_attribution", (s, dir) => {
      // null users are excluded on BOTH legs: the window-based as-of
      // would group NULL user_ids into one partition and attribute
      // them to each other, while the oracle's correlated equality
      // predicate never matches NULL (round-8c review)
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          round(col("value") * lit(100.0)).cast("long").as("cents"),
          col("event_id"))
      val touches = ev.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts"),
          col("event_type").as("touch_type"), col("event_id"))
      val att = graft.ops.AsOf.joinBackward(purchases, touches,
        Seq("user_id"), "ts", "ts", "t_", Some("event_id"))
      val counts = att
        .groupBy(coalesce(col("t_touch_type"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("rev_c"))
      val total = counts.agg(sum(col("n")).as("__t"))
      counts.crossJoin(broadcast(total))
        .select(col("touch_type"), col("n"), col("rev_c"),
          graft.functions.PixieFunctions.idiv(col("n") * 1000000L,
            col("__t")).as("share_ppm"))
        .orderBy("touch_type")
    }, oracle =
      """WITH p AS (SELECT user_id, epoch_us(ts) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS cents, event_id
        |  FROM events WHERE event_type = 'purchase'
        |    AND user_id IS NOT NULL),
        |tch AS (SELECT user_id, epoch_us(ts) AS t,
        |    event_type AS tt, event_id AS eid FROM events
        |  WHERE event_type IN ('click', 'view')
        |    AND user_id IS NOT NULL),
        |att AS (SELECT p.cents,
        |    (SELECT tt FROM tch
        |     WHERE tch.user_id = p.user_id AND tch.t <= p.t
        |     ORDER BY tch.t DESC, tch.eid DESC LIMIT 1) AS touch_type
        |  FROM p),
        |c AS (SELECT coalesce(touch_type, 'none') AS touch_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS rev_c
        |  FROM att GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
        |SELECT touch_type, n, rev_c, n * 1000000 // t AS share_ppm
        |FROM c, tot ORDER BY touch_type""".stripMargin),

    // Seasonal-baseline deviation: top-5 hours per type most deviant
    // from their own hour-of-day baseline — "busier than 3am usually
    // is", milli-scaled exact integers.
    Gate("q408_seasonal_deviation", (s, dir) => {
      Events.seasonalDeviation(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600L * 1000000L, topK = 5)
        .orderBy("event_type", "rank")
    }, oracle =
      s"""WITH ${binGridCtes(3600000000L)},
        |f AS (SELECT g.et, g.b, g.b % 24 AS hod, coalesce(c.c, 0) AS c
        |  FROM grid g LEFT JOIN c ON c.et = g.et AND c.b = g.b),
        |bl AS (SELECT et, hod,
        |    CAST(sum(c) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT)
        |      AS baseline_milli
        |  FROM f GROUP BY 1, 2),
        |d AS (SELECT f.et, f.b, f.hod, f.c, bl.baseline_milli,
        |    f.c * 1000 - bl.baseline_milli AS dev_milli
        |  FROM f JOIN bl ON bl.et = f.et AND bl.hod = f.hod),
        |r AS (SELECT *, row_number() OVER (PARTITION BY et
        |    ORDER BY abs(dev_milli) DESC, b) AS rank FROM d)
        |SELECT et AS event_type, CAST(rank AS INTEGER) AS rank,
        |  b AS bin, hod, c, baseline_milli, dev_milli
        |FROM r WHERE rank <= 5 ORDER BY et, rank""".stripMargin),

    // Bounded BFS: hop distances from the lexicographically-least
    // source over the profile graph, 3 Pregel rounds.
    Gate("q409_graph_hops", (s, dir) => {
      graft.ops.Graph.hopDistances(
          graft.ops.Graph.profileEdges(t(s, dir, "documents"), "text",
            "source"),
          "src", "dst", min(col("src")), maxHops = 3)
        .orderBy("node")
    }, oracle = {
      val step = (h: Int) =>
        s"""n$h AS (SELECT e.dst AS node, CAST($h AS BIGINT) AS hop
           |  FROM e JOIN h${h - 1} p ON e.src = p.node
           |  WHERE p.hop = ${h - 1}),
           |h$h AS (SELECT node, min(hop) AS hop FROM
           |  (SELECT * FROM h${h - 1} UNION ALL SELECT * FROM n$h)
           |  GROUP BY node)""".stripMargin
      s"""WITH $profileGraphCtes,
         |h0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS hop FROM e),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT node, hop FROM h3 ORDER BY node""".stripMargin
    }),

    // MAD-robust rate anomalies: top-5 most deviant hour buckets per
    // event type, z-scores as exact doubled-integer order statistics.
    Gate("q386_rate_anomalies", (s, dir) => {
      Events.rateAnomalies(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600L * 1000000L, topK = 5)
        .orderBy("event_type", "rank")
    }, oracle =
      s"""WITH ${binGridCtes(3600000000L)},
        |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c,
        |    rng.b1 - rng.b0 + 1 AS n
        |  FROM grid g LEFT JOIN c ON c.et = g.et AND c.b = g.b
        |  CROSS JOIN rng),
        |rc AS (SELECT *, row_number()
        |    OVER (PARTITION BY et ORDER BY c, b) AS r FROM f),
        |med AS (SELECT et, CAST(
        |    sum(CASE WHEN r = (n + 1) // 2 THEN c END)
        |    + sum(CASE WHEN r = (n + 2) // 2 THEN c END) AS BIGINT) AS med2
        |  FROM rc GROUP BY et),
        |d AS (SELECT f.et, f.b, f.c, f.n, med.med2,
        |    abs(f.c * 2 - med.med2) AS dev
        |  FROM f JOIN med ON med.et = f.et),
        |rd AS (SELECT *, row_number()
        |    OVER (PARTITION BY et ORDER BY dev, b) AS r FROM d),
        |mad AS (SELECT et, CAST(
        |    sum(CASE WHEN r = (n + 1) // 2 THEN dev END)
        |    + sum(CASE WHEN r = (n + 2) // 2 THEN dev END) AS BIGINT) AS mad4
        |  FROM rd GROUP BY et),
        |rk AS (SELECT d.et, d.b, d.c, d.med2, mad.mad4, d.dev,
        |    row_number() OVER (PARTITION BY d.et ORDER BY d.dev DESC, d.b)
        |      AS rank
        |  FROM d JOIN mad ON mad.et = d.et)
        |SELECT et AS event_type, CAST(rank AS INTEGER) AS rank, b AS bin,
        |  c, med2, mad4,
        |  CASE WHEN mad4 > 0 THEN dev * 2000000 // mad4 END AS z_ppm
        |FROM rk WHERE rank <= 5 ORDER BY et, rank""".stripMargin),

    // Top 3-event user journeys with corpus share — the path-analysis
    // companion to q379's one-step transition matrix.
    Gate("q387_top_paths", (s, dir) => {
      Events.topPaths(t(s, dir, "events"), "user_id", "event_type",
        "ts", "event_id", pathLen = 3, topK = 10)
    }, oracle = q387OracleSql),

    // Ingest-time hysteresis alerting: per-shard open-bin state with
    // gap zero-fill, replayed AvailableNow — the q398 detector
    // restricted to each key's [first, last) observed bins (the final
    // open bin is never emitted; a key's stream begins at its first
    // bin — shared base CTEs by construction).
    Gate("q453_streaming_alerts", (s, dir) => {
      import s.implicits._
      val stream = graft.core.Tables.stream(s, dir, "events")
        .where(col("user_id").isNotNull)
        .select(pmod(col("user_id"), lit(4L)).as("k"),
          graft.functions.PixieFunctions.nsToUs(col("ts")).as("ts_us"),
          (col("event_type") === "error").cast("long").as("e"))
        .as[graft.streaming.Streaming.AlertEvent]
      val alerts = graft.streaming.Streaming
        .streamingAlerts(stream, binUs = 3600L * 1000000L,
          hiPpm = 300000L, loPpm = 150000L)
      drainMemory(s, alerts, "append")(_.orderBy("k", "b"))
    }, oracle =
      // The q398 detector over the SAME shared rate CTEs, restricted to
      // each key's [first, last) observed bins — the streaming append
      // contract (final open bin unemitted; stream begins at the key's
      // first bin). Bins before a key's first event carry alert 0 in the
      // batch grid, so the restriction never changes a surviving row.
      s"""WITH $ratesCtes,
         |kb AS (SELECT k, min(b) AS kb0, max(b) AS kb1 FROM base
         |  GROUP BY 1),
         |st AS (SELECT k, b, n, n_err, err_ppm,
         |    coalesce(last_value(CASE WHEN err_ppm > 300000 THEN 1
         |        WHEN err_ppm <= 150000 THEN 0 END IGNORE NULLS)
         |      OVER (PARTITION BY k ORDER BY b
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
         |      AS alert
         |  FROM rates),
         |fin AS (SELECT k, b, n, n_err, err_ppm,
         |    CAST(alert AS BIGINT) AS alert,
         |    CAST(CASE WHEN alert = 1 AND coalesce(lag(alert)
         |        OVER (PARTITION BY k ORDER BY b), 0) = 0
         |      THEN 1 ELSE 0 END AS BIGINT) AS fired,
         |    CAST(CASE WHEN alert = 0 AND coalesce(lag(alert)
         |        OVER (PARTITION BY k ORDER BY b), 0) = 1
         |      THEN 1 ELSE 0 END AS BIGINT) AS cleared
         |  FROM st)
         |SELECT fin.* FROM fin JOIN kb ON kb.k = fin.k
         |WHERE fin.b >= kb.kb0 AND fin.b < kb.kb1
         |ORDER BY fin.k, fin.b""".stripMargin),

    // One-sided CUSUM drift alarms per event type over the hourly
    // count grid — the sequential detector in closed form (running
    // sum + running min), milli-scaled integers end-to-end.
    Gate("q412_cusum_drift", (s, dir) => {
      Events.cusumDrift(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600000000L, slackDen = 4L, hMult = 3L)
        .orderBy("event_type", "bin")
    }, oracle = q412OracleSql),

    // OLS trend per event type over the zero-filled hourly grid —
    // slope/intercept/r2 from exact integer sums (the parametric
    // companion of q393's Theil-Sen on the same grid).
    Gate("q415_ols_trend", (s, dir) => {
      Events.olsTrend(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600000000L)
        .orderBy("event_type")
    }, oracle =
      s"""WITH $hourlyGridCtes,
        |raw AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
        |    CAST(min(b) AS BIGINT) AS b0, CAST(sum(b) AS BIGINT) AS sb,
        |    CAST(sum(c) AS BIGINT) AS sy,
        |    CAST(sum(b * c) AS BIGINT) AS sbc,
        |    CAST(sum(b * b) AS BIGINT) AS sbb,
        |    CAST(sum(c * c) AS BIGINT) AS syy
        |  FROM f GROUP BY 1),
        |sh AS (SELECT et, n, sy, syy, sb - n * b0 AS sx,
        |    sbc - b0 * sy AS sxy,
        |    sbb - 2 * b0 * sb + n * b0 * b0 AS sxx FROM raw),
        |d AS (SELECT et, n, n * sxx - sx * sx AS dxx,
        |    n * syy - sy * sy AS dyy, n * sxy - sx * sy AS dxy,
        |    sy * sxx - sx * sxy AS inum FROM sh)
        |SELECT et AS event_type, n AS n_bins,
        |$olsFitCols
        |FROM d ORDER BY event_type""".stripMargin),

    // Spark's NATIVE session_window operator must reproduce q63's
    // window-function sessionization exactly (shared oracle BY
    // CONSTRUCTION). session_window merges on `delta <= gap`
    // (an event landing exactly on the previous window's end joins
    // it — Round8cSpec pins this), which is precisely the island
    // labeling's `delta <= gap` merge — same 1h gap on both paths.
    Gate("q418_session_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id"),
        nsToUs(col("ts")).as("ts_us"))
      ev.withColumn("__t", timestamp_micros(col("ts_us")))
        .groupBy(col("user_id"),
          session_window(col("__t"), "3600000000 microsecond"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
        .withColumn("session_no", row_number().over(
          Window.partitionBy("user_id").orderBy("start_us")).cast("long"))
        .select("user_id", "session_no", "n_events", "start_us", "end_us")
        .orderBy("user_id", "session_no")
    }, oracle =
      // shared oracle BY CONSTRUCTION: the native session_window path
      // must equal the q63 island labeling exactly
      Extended.q63OracleSql),

    // Leading-edge debounce of the event stream: per (user, type),
    // events within 24h of their predecessor chain into a burst and
    // only the first survives — the retry/duplicate-webhook cleaner.
    Gate("q419_debounce", (s, dir) => {
      Events.debounce(t(s, dir, "events"),
          Seq("user_id", "event_type"), "ts", "event_id",
          gapUs = 86400000000L)
        .orderBy("user_id", "event_type", "burst_no")
    }, oracle =
      s"""WITH $burstCtes
        |SELECT user_id, event_type, burst_no, ts_us, event_id,
        |  burst_size, burst_size - 1 AS n_suppressed
        |FROM (SELECT user_id, event_type, burst_no, t AS ts_us, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type, burst_no
        |      ORDER BY t, event_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id, event_type,
        |      burst_no) AS BIGINT) AS burst_size
        |  FROM g)
        |WHERE rn = 1
        |ORDER BY user_id, event_type, burst_no""".stripMargin),

    // Mutual information between event type and hour-of-day (nats,
    // with both marginal entropies) — the feature-dependence audit.
    Gate("q425_mutual_info", (s, dir) => {
      val proj = t(s, dir, "events").select(col("event_type"),
        (idiv(nsToUs(col("ts")), 3600000000L) % 24L).as("hod"))
      Quality.mutualInfo(proj, "event_type", "hod")
    }, oracle =
      """WITH e AS (SELECT event_type AS a,
        |    epoch_us(ts) // 3600000000 % 24 AS b FROM events),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM e
        |  GROUP BY 1, 2),
        |ca AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cells
        |  GROUP BY 1),
        |cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells
        |  GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM cells),
        |mi AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(sum(CAST(floor((CAST(c AS DOUBLE) / CAST(N AS DOUBLE))
        |      * ln((CAST(c AS DOUBLE) * CAST(N AS DOUBLE))
        |        / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
        |      * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS mi
        |  FROM cells JOIN ca USING (a) JOIN cb USING (b), n),
        |ha AS (SELECT CAST(sum(CAST(floor(
        |    (CAST(ca AS DOUBLE) / CAST(N AS DOUBLE))
        |    * ln(CAST(N AS DOUBLE) / CAST(ca AS DOUBLE))
        |    * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ha FROM ca, n),
        |hb AS (SELECT CAST(sum(CAST(floor(
        |    (CAST(cb AS DOUBLE) / CAST(N AS DOUBLE))
        |    * ln(CAST(N AS DOUBLE) / CAST(cb AS DOUBLE))
        |    * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS hb FROM cb, n)
        |SELECT n_cells, round(mi / 1e9, 6) + 0.0 AS mi_nats,
        |  round(ha / 1e9, 6) AS h_a_nats, round(hb / 1e9, 6) AS h_b_nats
        |FROM mi, ha, hb""".stripMargin),

    // Triangle counts over the kNN-sparsified source-affinity graph
    // via degree orientation — each triangle generated exactly once
    // at its lowest-ranked vertex, wedge fan-out sqrt(E)-bounded.
    Gate("q427_triangles", (s, dir) => {
      val knn = graft.ops.Graph.knnEdges(
        graft.ops.Graph.profileEdges(t(s, dir, "documents"), "text",
          "source"), "src", "dst", "w", k = 3)
      graft.ops.Graph.triangleCounts(knn, "a", "b")
        .orderBy("node")
    }, oracle =
      s"""WITH ${profileGraphCtes},
        |knn AS (SELECT src, dst FROM (SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY w DESC, dst)
        |      AS r FROM e) WHERE r <= 3),
        |und AS (SELECT DISTINCT least(src, dst) AS a,
        |    greatest(src, dst) AS b FROM knn WHERE src <> dst),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
        |  GROUP BY 1),
        |wd AS (SELECT und.a, und.b, da.d AS da, db.d AS db FROM und
        |  JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b),
        |o AS (SELECT CASE WHEN da < db OR (da = db AND a < b)
        |      THEN a ELSE b END AS u,
        |    CASE WHEN da < db OR (da = db AND a < b)
        |      THEN b ELSE a END AS v,
        |    CASE WHEN da < db OR (da = db AND a < b)
        |      THEN db ELSE da END AS dv FROM wd),
        |wedge AS (SELECT o1.u, o1.v, o2.v AS w FROM o o1
        |  JOIN o o2 ON o1.u = o2.u
        |  WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
        |tri AS (SELECT wedge.u, wedge.v, wedge.w FROM wedge
        |  JOIN o ON o.u = wedge.v AND o.v = wedge.w)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM
        |  (SELECT unnest([u, v, w]) AS node FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin),

    // STL-lite residual anomalies: trend removed, then hour-of-day
    // baseline of the DETRENDED series — exact rational integers,
    // one final double formula; top-5 residuals per type.
    Gate("q429_residual_anomalies", (s, dir) => {
      Events.residualAnomalies(t(s, dir, "events"), "event_type",
          "ts", binUs = 3600000000L, topK = 5)
        .orderBy("event_type", "rank")
    }, oracle = q429OracleSql),

    // Lead-lag cross-correlation between type count series (lags
    // -6..6 hours): the "errors follow clicks by N hours" scan, with
    // the lag-0 Pearson matrix embedded and each pair's best |r|
    // flagged.
    Gate("q430_lead_lag", (s, dir) => {
      Events.seriesCorrelation(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600000000L, maxLag = 6)
        .orderBy("et_a", "et_b", "lag")
    }, oracle = q430OracleSql),

    // RFM segmentation over the event log: per-user recency/frequency/
    // monetary quintiles (banded ranks — no corpus-wide window) and
    // the classic 3-digit segment cell.
    Gate("q431_rfm_segments", (s, dir) => {
      Events.rfm(t(s, dir, "events"), "user_id", "ts", "value",
          nowUs = Q.tailNowNs(s, dir) / 1000L)
        .orderBy("user_id")
    }, oracle =
      """WITH anchor AS (SELECT max(epoch_us(ts)) + 1 AS nowus FROM events),
        |u AS (SELECT user_id,
        |    nowus - max(epoch_us(ts)) AS rec_us,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS mon_cents
        |  FROM events, anchor WHERE user_id IS NOT NULL
        |  GROUP BY user_id, nowus),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        |q AS (SELECT user_id, rec_us, freq, mon_cents,
        |    row_number() OVER (ORDER BY rec_us, user_id) AS rr,
        |    row_number() OVER (ORDER BY freq, user_id) AS rf,
        |    row_number() OVER (ORDER BY mon_cents, user_id) AS rm
        |  FROM u),
        |p AS (SELECT user_id, rec_us, freq, mon_cents,
        |    CASE WHEN n > 1 THEN (rr - 1) * 1000000 // (n - 1) ELSE 0 END
        |      AS pr,
        |    CASE WHEN n > 1 THEN (rf - 1) * 1000000 // (n - 1) ELSE 0 END
        |      AS pf,
        |    CASE WHEN n > 1 THEN (rm - 1) * 1000000 // (n - 1) ELSE 0 END
        |      AS pm
        |  FROM q, n)
        |SELECT user_id, rec_us, freq, mon_cents,
        |  6 - (least(4, pr * 5 // 1000000) + 1) AS r_score,
        |  least(4, pf * 5 // 1000000) + 1 AS f_score,
        |  least(4, pm * 5 // 1000000) + 1 AS m_score,
        |  (6 - (least(4, pr * 5 // 1000000) + 1)) * 100
        |    + (least(4, pf * 5 // 1000000) + 1) * 10
        |    + least(4, pm * 5 // 1000000) + 1 AS segment
        |FROM p ORDER BY user_id""".stripMargin),

    // Burstiness per type: Fano factor + CV^2 of the hourly counts —
    // Poisson-vs-bursty traffic shape from exact integer sums.
    Gate("q432_burstiness", (s, dir) => {
      Events.burstiness(t(s, dir, "events"), "event_type", "ts",
          binUs = 3600000000L)
        .orderBy("event_type")
    }, oracle = q432OracleSql),

    // Composed incident panel — ONE row per event type joining four
    // round-8c detectors: traffic shape (Fano/CV2), CUSUM alarm count
    // + peak, the top STL residual, and the best lead-lag partner
    // (both directions of the unordered pairs, lag sign flipped for
    // the reversed view). The flagship read an on-call engineer
    // actually wants; every leg is the already-gated operator, and
    // the oracle is ASSEMBLED from the legs' oracle strings.
    Gate("q433_ops_panel", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
      val burst = Events.burstiness(ev, "event_type", "ts", 3600000000L)
      val cusum = Events.cusumDrift(ev, "event_type", "ts",
          3600000000L, 4L, 3L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_alarms"), max(col("s_milli")).as("max_s"))
      val resid = Events.residualAnomalies(ev, "event_type", "ts",
          3600000000L, 1)
        .select(col("event_type"), col("bin").as("resid_bin"),
          col("dev_milli").as("resid_dev"))
      val ll = Events.seriesCorrelation(ev, "event_type", "ts",
        3600000000L, 6)
      val both = ll.select(col("et_a").as("event_type"),
          col("et_b").as("partner"), col("lag"), col("r"))
        .unionByName(ll.select(col("et_b").as("event_type"),
          col("et_a").as("partner"), (-col("lag")).as("lag"), col("r")))
      val partner = both.withColumn("__rk", row_number().over(
          Window.partitionBy("event_type").orderBy(
            coalesce(abs(col("r")), lit(-2.0d)).desc, col("partner"),
            col("lag"))))
        .where(col("__rk") === 1)
        .select(col("event_type"), col("partner"),
          col("lag").as("partner_lag"), col("r").as("partner_r"))
      burst.join(cusum, Seq("event_type"), "left")
        .join(resid, Seq("event_type"), "left")
        .join(partner, Seq("event_type"), "left")
        .na.fill(0L, Seq("n_alarms", "max_s"))
        .orderBy("event_type")
    }, oracle =
      s"""WITH bs AS (SELECT * FROM ($q432OracleSql)),
         |ca AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_alarms,
         |    max(s_milli) AS max_s
         |  FROM ($q412OracleSql) GROUP BY 1),
         |ra AS (SELECT event_type, bin AS resid_bin,
         |    dev_milli AS resid_dev
         |  FROM ($q429OracleSql)
         |  WHERE rank = 1),
         |lr AS (SELECT * FROM ($q430OracleSql)),
         |bo AS (SELECT et_a AS event_type, et_b AS partner, lag, r
         |    FROM lr
         |  UNION ALL SELECT et_b, et_a, -lag, r FROM lr),
         |pt AS (SELECT event_type, partner, lag AS partner_lag,
         |    r AS partner_r, row_number() OVER (PARTITION BY event_type
         |      ORDER BY coalesce(abs(r), -2.0) DESC, partner, lag) AS rk
         |  FROM bo)
         |SELECT bs.event_type, bs.n_bins, bs.mean_milli, bs.fano, bs.cv2,
         |  coalesce(ca.n_alarms, 0) AS n_alarms,
         |  coalesce(ca.max_s, 0) AS max_s,
         |  ra.resid_bin, ra.resid_dev,
         |  pt.partner, pt.partner_lag, pt.partner_r
         |FROM bs LEFT JOIN ca ON ca.event_type = bs.event_type
         |LEFT JOIN ra ON ra.event_type = bs.event_type
         |LEFT JOIN pt ON pt.event_type = bs.event_type AND pt.rk = 1
         |ORDER BY bs.event_type""".stripMargin),

    // Ingest-time leading-edge debounce replayed over the file stream
    // (AvailableNow): closed bursts only — each key's final burst
    // stays open in state, and the oracle drops it the same way (the
    // q94 append-mode contract). Same 24h gap as batch q419.
    Gate("q426_streaming_debounce", (s, dir) => {
      import s.implicits._
      val stream = graft.core.Tables.stream(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          nsToUs(col("ts")).as("ts_us"), col("event_id"))
        .as[graft.streaming.Streaming.DebEvent]
      val bursts = graft.streaming.Streaming
        .streamingDebounce(stream, gapUs = 86400000000L)
      drainMemory(s, bursts, "append")(
        _.orderBy("user_id", "event_type", "burst_no"))
    }, oracle =
      s"""WITH $burstCtes,
        |bursts AS (SELECT user_id, event_type, burst_no, ts_us,
        |    event_id, burst_size, burst_size - 1 AS n_suppressed
        |  FROM (SELECT user_id, event_type, burst_no, t AS ts_us,
        |      event_id,
        |      row_number() OVER (PARTITION BY user_id, event_type,
        |        burst_no ORDER BY t, event_id) AS rn,
        |      CAST(count(*) OVER (PARTITION BY user_id, event_type,
        |        burst_no) AS BIGINT) AS burst_size
        |    FROM g)
        |  WHERE rn = 1),
        |mx AS (SELECT user_id, event_type, max(burst_no) AS mb
        |  FROM bursts GROUP BY 1, 2)
        |SELECT b.* FROM bursts b JOIN mx
        |  ON mx.user_id = b.user_id AND mx.event_type = b.event_type
        |WHERE b.burst_no < mx.mb
        |ORDER BY b.user_id, b.event_type, b.burst_no""".stripMargin),

    // Association rules over user baskets of event types: directed
    // a -> b rules with >= 5 co-occurring users — support/confidence
    // in exact ppm, lift milli-scaled, all truncating integer
    // division (the "users who error also purchase?" miner).
    Gate("q439_assoc_rules", (s, dir) => {
      Events.assocRules(t(s, dir, "events"), "user_id", "event_type",
          minBaskets = 5L)
        .orderBy("antecedent", "consequent")
    }, oracle =
      """WITH it AS (SELECT DISTINCT user_id AS b, event_type AS i
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM it),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS c
        |  FROM it GROUP BY 1),
        |p AS (SELECT x.i AS antecedent, y.i AS consequent,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM it x JOIN it y USING (b)
        |  WHERE x.i <> y.i GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT antecedent, consequent, n_both,
        |  (n_both * 1000000) // nb AS support_ppm,
        |  (n_both * 1000000) // ca.c AS confidence_ppm,
        |  (n_both * nb * 1000) // (ca.c * cb.c) AS lift_milli
        |FROM p JOIN ic ca ON ca.i = p.antecedent
        |JOIN ic cb ON cb.i = p.consequent CROSS JOIN n
        |ORDER BY antecedent, consequent""".stripMargin),

    // Pareto/ABC revenue concentration by part: cent-quantized
    // revenue, rank + running share over the PER-KEY aggregate
    // (dimension-sized window), classic 80/95 class cut.
    Gate("q441_pareto_abc", (s, dir) => {
      Quality.paretoAbc(t(s, dir, "lineitem"), "l_partkey",
          col("l_extendedprice") * (lit(1) - col("l_discount")))
        .orderBy("rank")
    }, oracle =
      """WITH per AS (SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
        |      * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM per),
        |r AS (SELECT l_partkey, cents,
        |    CAST(row_number() OVER (ORDER BY cents DESC, l_partkey)
        |      AS BIGINT) AS rank,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM per)
        |SELECT l_partkey, rank, cents,
        |  (cum * 1000000) // total AS cum_ppm,
        |  CASE WHEN (cum * 1000000) // total <= 800000 THEN 'A'
        |       WHEN (cum * 1000000) // total <= 950000 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin),

    // Pairwise Pearson correlation matrix over the lineitem numerics
    // from ONE scan of exact decimal moments — the collinearity /
    // leaky-proxy audit before any model fit.
    Gate("q442_corr_matrix", (s, dir) => {
      graft.ops.Fit.corrMatrix(t(s, dir, "lineitem"), Seq(
          ("l_quantity", col("l_quantity"), 1.0),
          ("l_extendedprice", col("l_extendedprice"), 100.0),
          ("l_discount", col("l_discount"), 10000.0),
          ("l_tax", col("l_tax"), 10000.0)))
        .orderBy("col_a", "col_b")
    }, oracle = {
      val pairs = Seq(("qa", "l_quantity"), ("qb", "l_extendedprice"),
        ("qc", "l_discount"), ("qd", "l_tax"))
      val blocks = pairs.combinations(2).map { case Seq((a, na), (b, nb)) =>
        s"""SELECT '$na' AS col_a, '$nb' AS col_b, n,
           |  CASE WHEN n*ss$a - s$a*s$a > 0 AND n*ss$b - s$b*s$b > 0 THEN
           |    round(CAST(n*sp$a$b - s$a*s$b AS DOUBLE)
           |      / (sqrt(CAST(n*ss$a - s$a*s$a AS DOUBLE))
           |         * sqrt(CAST(n*ss$b - s$b*s$b AS DOUBLE))), 6) + 0.0
           |  END AS r FROM s""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH q AS (SELECT
         |    CAST(floor(l_quantity * 1.0 + 0.5) AS BIGINT) AS qa,
         |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS qb,
         |    CAST(floor(l_discount * 10000.0 + 0.5) AS BIGINT) AS qc,
         |    CAST(floor(l_tax * 10000.0 + 0.5) AS BIGINT) AS qd
         |  FROM lineitem
         |  WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
         |    AND l_extendedprice IS NOT NULL
         |    AND NOT isnan(l_extendedprice)
         |    AND l_discount IS NOT NULL AND NOT isnan(l_discount)
         |    AND l_tax IS NOT NULL AND NOT isnan(l_tax)),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(qa) AS sqa, sum(qb) AS sqb, sum(qc) AS sqc,
         |    sum(qd) AS sqd,
         |    sum(CAST(qa AS HUGEINT)*qa) AS ssqa,
         |    sum(CAST(qb AS HUGEINT)*qb) AS ssqb,
         |    sum(CAST(qc AS HUGEINT)*qc) AS ssqc,
         |    sum(CAST(qd AS HUGEINT)*qd) AS ssqd,
         |    sum(CAST(qa AS HUGEINT)*qb) AS spqaqb,
         |    sum(CAST(qa AS HUGEINT)*qc) AS spqaqc,
         |    sum(CAST(qa AS HUGEINT)*qd) AS spqaqd,
         |    sum(CAST(qb AS HUGEINT)*qc) AS spqbqc,
         |    sum(CAST(qb AS HUGEINT)*qd) AS spqbqd,
         |    sum(CAST(qc AS HUGEINT)*qd) AS spqcqd
         |  FROM q)
         |SELECT * FROM ($blocks) ORDER BY col_a, col_b""".stripMargin
    }),

    // ROC-AUC of value as a purchase classifier via the exact
    // rank-sum identity (doubled average ranks over distinct
    // micro-quantized scores — no per-row window, ties exact).
    Gate("q443_roc_auc", (s, dir) => {
      graft.ops.Classify.rocAuc(t(s, dir, "events"), col("value"),
        col("event_type") === "purchase")
    }, oracle = q443OracleSql),

    // Kaplan-Meier time-to-first-purchase per user (log domain:
    // nano-quantized per-factor logs, exact cumulative sums; exp is
    // the caller's — libm exp is not IEEE-pinned across engines).
    Gate("q444_kaplan_meier", (s, dir) => {
      Events.kaplanMeier(t(s, dir, "events"), "user_id", "ts",
          "event_type", "purchase")
        .orderBy("dur_us")
    }, oracle =
      """WITH per AS (SELECT user_id, min(epoch_us(ts)) AS t0,
        |    max(epoch_us(ts)) AS tmax,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS tevt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |dd AS (SELECT dur_us, obs FROM (SELECT
        |      coalesce(tevt - t0, tmax - t0) AS dur_us,
        |      CASE WHEN tevt IS NOT NULL THEN 1 ELSE 0 END AS obs
        |    FROM per) WHERE dur_us IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM dd),
        |byt AS (SELECT dur_us, CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(obs) AS BIGINT) AS d FROM dd GROUP BY 1),
        |r AS (SELECT dur_us, total, d, CAST(sum(total) OVER
        |    (ORDER BY dur_us ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS cumtot FROM byt),
        |ev AS (SELECT dur_us, nn - (cumtot - total) AS n_risk, d
        |  FROM r CROSS JOIN n WHERE d > 0),
        |tm AS (SELECT dur_us, n_risk, d,
        |    CASE WHEN n_risk > d THEN CAST(floor(
        |      ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END AS term,
        |    CASE WHEN n_risk = d THEN 1 ELSE 0 END AS z FROM ev),
        |c AS (SELECT dur_us, n_risk, d,
        |    CAST(sum(term) OVER w AS BIGINT) AS cum,
        |    CAST(max(z) OVER w AS BIGINT) AS zs
        |  FROM tm WINDOW w AS (ORDER BY dur_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT dur_us, n_risk, d,
        |  CASE WHEN zs = 0 THEN
        |    round(CAST(cum AS DOUBLE) / 1000000000.0, 6) + 0.0
        |  END AS log_survival,
        |  zs = 1 AS survival_zero
        |FROM c ORDER BY dur_us""".stripMargin),

    // Temporal sequence rules: a FOLLOWED BY b within 6 h, support =
    // distinct users — the "what does an error lead to" miner between
    // co-occurrence (q439) and strict adjacency (q379).
    Gate("q447_seq_rules", (s, dir) => {
      Events.seqRules(t(s, dir, "events"), "user_id", "event_type",
          "ts", gapUs = 21600000000L, minUsers = 5L)
        .orderBy("antecedent", "consequent")
    }, oracle =
      """WITH e AS (SELECT user_id AS u, event_type AS et,
        |    epoch_us(ts) AS t FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nn FROM e),
        |p AS (SELECT DISTINCT x.u, x.et AS antecedent,
        |    y.et AS consequent
        |  FROM e x JOIN e y ON x.u = y.u
        |  WHERE x.et <> y.et AND y.t > x.t
        |    AND y.t <= x.t + 21600000000),
        |r AS (SELECT antecedent, consequent,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM p GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT antecedent, consequent, n_users,
        |  (n_users * 1000000) // nn AS support_ppm
        |FROM r CROSS JOIN n ORDER BY antecedent, consequent""".stripMargin),

    // A/B readout: user_id-parity variants, purchase conversion, the
    // exact 2x2 chi-square closed form + the SRM guardrail chi-square.
    Gate("q448_ab_chi_square", (s, dir) => {
      Events.abChiSquare(t(s, dir, "events"), "user_id",
        pmod(col("user_id"), lit(2L)), "event_type", "purchase")
    }, oracle = q448OracleSql),

    // CUPED variance reduction: pre-period (before Jan 16) spend as
    // the covariate, theta from exact decimal moments, per-variant
    // raw vs adjusted post-period means.
    Gate("q449_cuped", (s, dir) => {
      Events.cuped(t(s, dir, "events"), "user_id",
          pmod(col("user_id"), lit(2L)), col("value"), "ts",
          graft.functions.PixieFunctions.tsNsLit("2024-01-16"))
        .orderBy("variant")
    }, oracle = q449OracleSql),

    // Composed experiment readout: one row per variant stitching the
    // CUPED means, the per-variant conversion rate, the chi-square +
    // SRM guardrails, and the value-as-classifier AUC — the panel an
    // experimentation platform renders per test. The oracle is
    // ASSEMBLED from the legs' oracle strings (the q433 pattern) so
    // the panel SQL can never drift from the detectors.
    Gate("q450_experiment_panel", (s, dir) => {
      val variant = pmod(col("user_id"), lit(2L))
      val ev = t(s, dir, "events")
      val cu = Events.cuped(ev, "user_id", variant, col("value"), "ts",
        graft.functions.PixieFunctions.tsNsLit("2024-01-16"))
      val ab = Events.abChiSquare(ev, "user_id", variant,
        "event_type", "purchase")
      val auc = graft.ops.Classify.rocAuc(ev, col("value"),
        col("event_type") === "purchase")
      cu.crossJoin(broadcast(ab.select(col("rate_a_ppm"),
          col("rate_b_ppm"), col("chi2"), col("srm_chi2"))))
        .crossJoin(broadcast(auc.select(col("auc"))))
        .select(col("variant"), col("n_subjects"),
          when(col("variant") === 0, col("rate_a_ppm"))
            .otherwise(col("rate_b_ppm")).as("rate_ppm"),
          col("mean_post"), col("mean_adjusted"),
          col("chi2"), col("srm_chi2"), col("auc"))
        .orderBy("variant")
    }, oracle =
      s"""WITH cu AS (SELECT * FROM ($q449OracleSql)),
         |ab AS (SELECT * FROM ($q448OracleSql)),
         |au AS (SELECT * FROM ($q443OracleSql))
         |SELECT cu.variant, cu.n_subjects,
         |  CASE WHEN cu.variant = 0 THEN ab.rate_a_ppm
         |       ELSE ab.rate_b_ppm END AS rate_ppm,
         |  cu.mean_post, cu.mean_adjusted, ab.chi2, ab.srm_chi2,
         |  au.auc
         |FROM cu CROSS JOIN ab CROSS JOIN au
         |ORDER BY cu.variant""".stripMargin),

    // 30-minute gap sessions per user — one row per session.
    Gate("q456_sessionize", (s, dir) =>
      Events.sessionize(t(s, dir, "events"), "user_id", "ts", 1800000000L)
        .orderBy("user_id", "session_id"), oracle =
      s"$sessionSql ORDER BY user_id, session_id"),

    // Winsorized mean of value per event type, capped at the exact
    // [p05, p95] cent order statistics.
    Gate("q457_winsorized_mean", (s, dir) =>
      Quality.winsorizedMean(
          t(s, dir, "events").where(col("event_type").isNotNull),
          "event_type", col("value"))
        .orderBy("event_type"), oracle =
      s"""WITH $centCountCtes,
        |ct AS (SELECT g, c, k,
        |    ${cumCountCols("    ")}
        |  FROM k),
        |b AS (SELECT g, max(n) AS n,
        |    min(CASE WHEN cum >= (n * 50000 + 999999) // 1000000
        |      THEN c END) AS lo,
        |    min(CASE WHEN cum >= (n * 950000 + 999999) // 1000000
        |      THEN c END) AS hi
        |  FROM ct GROUP BY g)
        |SELECT k.g AS event_type, b.n, b.lo AS lo_cents,
        |  b.hi AS hi_cents,
        |  round(CAST(sum(k.k * k.c) AS DOUBLE) / 100.0 / b.n, 6) + 0.0
        |    AS mean_raw,
        |  round(CAST(sum(k.k * greatest(least(k.c, b.hi), b.lo))
        |    AS DOUBLE) / 100.0 / b.n, 6) + 0.0 AS mean_winsorized
        |FROM k JOIN b ON k.g = b.g
        |GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin),

    // Session-length histogram + engagement shares over the q456
    // session table (oracle composed from the q456 SQL — the q433
    // pattern, so the rollup cannot drift from the session
    // definition).
    Gate("q459_session_stats", (s, dir) => {
      val sess = Events.sessionize(t(s, dir, "events"), "user_id", "ts",
        1800000000L)
      val bucket = when(col("n_events") === 1, lit("1"))
        .when(col("n_events") <= 2, lit("2"))
        .when(col("n_events") <= 5, lit("3-5"))
        .when(col("n_events") <= 10, lit("6-10"))
        .otherwise(lit("11+"))
      val h = sess.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          sum(col("dur_us")).as("total_dur_us"))
      h.crossJoin(broadcast(h.agg(sum(col("n_sessions")).as("__t"))))
        .select(col("bucket"), col("n_sessions"), col("n_events"),
          col("total_dur_us"),
          idiv(col("n_sessions") * 1000000L, col("__t")).as("share_ppm"))
        .orderBy("bucket")
    }, oracle =
      s"""WITH sess AS ($sessionSql),
         |h AS (SELECT CASE WHEN n_events = 1 THEN '1'
         |    WHEN n_events <= 2 THEN '2'
         |    WHEN n_events <= 5 THEN '3-5'
         |    WHEN n_events <= 10 THEN '6-10' ELSE '11+' END AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_sessions,
         |    CAST(sum(n_events) AS BIGINT) AS n_events,
         |    CAST(sum(dur_us) AS BIGINT) AS total_dur_us
         |  FROM sess GROUP BY 1),
         |t AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS tot FROM h)
         |SELECT bucket, n_sessions, n_events, total_dur_us,
         |  n_sessions * 1000000 // tot AS share_ppm
         |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin),

    // Bounded 12-round 3-core peel of the co-purchase part graph
    // (parts sharing >= 2 orders) — hub communities vs incidental
    // pairs; round-12 survivor semantics on both sides.
    Gate("q461_kcore", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .where(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = l.toDF("o", "a").join(l.toDF("o", "b"), "o")
        .where(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("w"))
        .where(col("w") >= 2)
      Graph.kcorePeel(edges, "a", "b", k = 3).orderBy("node")
    }, oracle = kcoreSql),

    // EWMA anomaly bins (exact binary half-life, 40-bucket horizon).
    Gate("q463_ewma_anomaly", (s, dir) =>
      Events.ewmaAnomalies(t(s, dir, "events"), "event_type", "ts",
          3600000000L)
        .orderBy("event_type", "rank"), oracle = {
      val lags = (1 to 40).map(i =>
        s"coalesce(lag(c, $i) OVER w, 0) * ${1L << (40 - i)}")
        .mkString("\n      |      + ")
      s"""WITH $hourGridCtes,
         |c AS (SELECT et, b, CAST(count(*) AS BIGINT) AS c FROM base
         |  GROUP BY 1, 2),
         |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c FROM grid g
         |  LEFT JOIN c ON c.et = g.et AND c.b = g.b),
         |wsum AS (SELECT et, b, c,
         |    $lags AS w
         |  FROM f WINDOW w AS (PARTITION BY et ORDER BY b)),
         |sc AS (SELECT et, b, c,
         |    (w // 1099511627775) * 1000
         |      + (w % 1099511627775) * 1000 // 1099511627775
         |      AS ewma_milli
         |  FROM wsum CROSS JOIN rng WHERE b >= rng.b0 + 40),
         |rk AS (SELECT et, b, c, ewma_milli,
         |    c * 1000 - ewma_milli AS dev_milli,
         |    CAST(row_number() OVER (PARTITION BY et
         |      ORDER BY abs(c * 1000 - ewma_milli) DESC, b)
         |      AS INTEGER) AS rank
         |  FROM sc)
         |SELECT et AS event_type, rank, b AS bin, c, ewma_milli,
         |  dev_milli
         |FROM rk WHERE rank <= 5 ORDER BY et, rank""".stripMargin
    }),

    // Within-session signup -> purchase funnel (30-min gap sessions).
    Gate("q464_session_funnel", (s, dir) =>
      Events.sessionFunnel(t(s, dir, "events"), "user_id", "ts",
        "event_type", 1800000000L, "signup", "purchase"), oracle =
      s"""WITH sev AS ($sessionEventsSql),
         |per AS (SELECT user_id, session_id,
         |    min(CASE WHEN event_type = 'signup' THEN tus END) AS a,
         |    max(CASE WHEN event_type = 'purchase' THEN tus END) AS pb
         |  FROM sev GROUP BY 1, 2)
         |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_with_first,
         |  CAST(sum(CASE WHEN a IS NOT NULL AND pb >= a THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_converted,
         |  CASE WHEN sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) > 0
         |    THEN CAST(sum(CASE WHEN a IS NOT NULL AND pb >= a THEN 1
         |        ELSE 0 END) AS BIGINT) * 1000000
         |      // CAST(sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END)
         |        AS BIGINT)
         |    END AS conv_ppm
         |FROM per""".stripMargin),

    // Streaming sessionize replay == the batch session table on CLOSED
    // sessions (append mode cannot flush each user's open tail — the
    // q453 restriction pattern: the oracle drops every user's last
    // session).
    Gate("q465_streaming_sessions", (s, dir) => {
      import s.implicits._
      // Durable parquet sink (the recovery-spec pattern): the result
      // never materializes on the driver — the stream writes to a
      // scratch parquet dir, the post-processing reads it back as a
      // distributed frame, and the eager localCheckpoint pins the
      // answer before the scratch dir is deleted.
      Fixture.scratch("graft_q465_sink_") { p =>
        val in = graft.core.Tables.stream(s, dir, "events")
          .where(col("user_id").isNotNull)
          .select(col("user_id"), col("ts").as("ts_ns"))
          .as[graft.streaming.Streaming.SessionEvent]
        val q = graft.streaming.Streaming.sessionize(in, 1800000000000L)
          .toDF().writeStream.format("parquet")
          .option("path", s"$p/out")
          .option("checkpointLocation", s"$p/cp")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try {
          q.awaitTermination()
          val rows = s.read.schema(org.apache.spark.sql.Encoders
              .product[graft.streaming.Streaming.Session].schema)
            .parquet(s"$p/out")
          import org.apache.spark.sql.expressions.Window
          rows.select(col("user_id"),
              idiv(col("start_ns"), 1000L).as("start_us"),
              idiv(col("end_ns"), 1000L).as("end_us"), col("n_events"))
            .withColumn("session_id", row_number().over(
              Window.partitionBy("user_id").orderBy("start_us")).cast("long"))
            .select(col("user_id"), col("session_id"), col("n_events"),
              col("start_us"), col("end_us"),
              (col("end_us") - col("start_us")).as("dur_us"))
            .orderBy("user_id", "session_id")
        } finally if (q.isActive) q.stop()
      }
    }, oracle =
      s"""WITH sess AS ($sessionSql),
         |mx AS (SELECT user_id, max(session_id) AS m FROM sess
         |  GROUP BY 1)
         |SELECT s.user_id, s.session_id, s.n_events, s.start_us,
         |  s.end_us, s.dur_us
         |FROM sess s JOIN mx ON mx.user_id = s.user_id
         |WHERE s.session_id < mx.m
         |ORDER BY s.user_id, s.session_id""".stripMargin),

    // Hour-of-day x event-type pivot matrix (Dataset pivot API).
    Gate("q466_pivot_matrix", (s, dir) =>
      t(s, dir, "events").where(col("event_type").isNotNull)
        .withColumn("hod",
          pmod(idiv(graft.functions.PixieFunctions.nsToUs(col("ts")),
            3600000000L), lit(24L)).as("hod"))
        .groupBy("hod")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("hod"), oracle =
      """SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS view
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY 1 ORDER BY hod""".stripMargin),

    // Incremental sessionization: state (closed sessions + open tails)
    // from events before Jan 15, fold the rest — sessions that span
    // the cut must MERGE at the fold boundary. Output == a from-scratch
    // sessionize (shares q456's oracle shape over ALL events).
    Gate("q469_session_state_fold", (s, dir) => {
      val cutNs = 1705276800000000000L // 2024-01-15T00:00:00Z
      val ev = t(s, dir, "events")
      Fixture.scratch("graft_session_state_") { p =>
        Events.writeSessionState(ev.where(col("ts") < cutNs), "user_id",
          "ts", 1800000000L, p)
        Events.foldSessionState(s, p, ev.where(col("ts") >= cutNs),
            "user_id", "ts", 1800000000L)
          .orderBy("user_id", "session_id")
      }
    }, oracle =
      s"$sessionSql ORDER BY user_id, session_id"),

    // Pre-join explosion audit: top-10 user keys by self-join output
    // cardinality (the salting/broadcast decision input).
    Gate("q470_join_explosion", (s, dir) => {
      val ev = t(s, dir, "events")
      Scale.joinExplosionAudit(ev, ev, "user_id", 10)
    }, oracle =
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS n FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1),
        |p AS (SELECT key, n AS n_a, n AS n_b,
        |    CAST(n AS HUGEINT) * n AS rows_out FROM c),
        |t AS (SELECT sum(rows_out) AS tot FROM p)
        |SELECT key, n_a, n_b,
        |  CAST(least(rows_out, CAST(9223372036854775807 AS HUGEINT))
        |    AS BIGINT) AS rows_out,
        |  CAST(rows_out * 1000000 // tot AS BIGINT) AS share_ppm
        |FROM p CROSS JOIN t
        |ORDER BY rows_out DESC, key LIMIT 10""".stripMargin),

    // Seasonal-naive weekly backtest on the hourly count grid: the
    // baseline error every forecaster must beat (MAE milli, WAPE ppm,
    // ratio vs lag-1 persistence).
    Gate("q477_seasonal_naive", (s, dir) =>
      Events.seasonalNaiveError(t(s, dir, "events"), "event_type", "ts",
          3600000000L)
        .orderBy("event_type"), oracle =
      s"""WITH $hourGridCtes,
        |c AS (SELECT et, b, CAST(count(*) AS BIGINT) AS c FROM base
        |  GROUP BY 1, 2),
        |f AS (SELECT g.et, g.b, coalesce(c.c, 0) AS c FROM grid g
        |  LEFT JOIN c ON c.et = g.et AND c.b = g.b),
        |l AS (SELECT et, b, c,
        |    lag(c, 168) OVER w AS ps, lag(c, 1) OVER w AS p1
        |  FROM f WINDOW w AS (PARTITION BY et ORDER BY b)),
        |sc AS (SELECT et,
        |    CAST(count(*) AS BIGINT) AS n_bins,
        |    CAST(sum(c) AS BIGINT) AS actual,
        |    CAST(sum(abs(c - ps)) AS BIGINT) AS es,
        |    CAST(sum(abs(c - p1)) AS BIGINT) AS e1
        |  FROM l CROSS JOIN rng WHERE b >= rng.b0 + 168 GROUP BY et)
        |SELECT et AS event_type, n_bins,
        |  es * 1000 // n_bins AS mae_milli,
        |  CASE WHEN actual > 0 THEN es * 1000000 // actual END
        |    AS wape_ppm,
        |  CASE WHEN e1 > 0 THEN es * 1000000 // e1 END
        |    AS vs_naive1_ppm
        |FROM sc ORDER BY event_type""".stripMargin),

    // Weekday/weekend traffic profile per event type: counts, weekend
    // share, and the weekend-vs-weekday DAILY-rate ratio (normalized
    // by each class's distinct day count — raw counts would conflate
    // the 5:2 day imbalance with actual intensity).
    Gate("q480_weekday_profile", (s, dir) => {
      import graft.functions.PixieFunctions.nsToUs
      // epoch day 0 = Thursday; days 2,3 (mod 7) = Saturday, Sunday
      val ev = t(s, dir, "events").where(col("event_type").isNotNull)
        .withColumn("__d", idiv(nsToUs(col("ts")), 86400000000L))
        .withColumn("__we", pmod(col("__d"), lit(7L)).isin(2L, 3L))
      val days = ev.select("__d", "__we").distinct()
        .agg(sum(when(col("__we"), 1L).otherwise(0L)).as("__wed"),
          sum(when(!col("__we"), 1L).otherwise(0L)).as("__wdd"))
      ev.groupBy("event_type")
        .agg(sum(when(!col("__we"), 1L).otherwise(0L)).as("n_weekday"),
          sum(when(col("__we"), 1L).otherwise(0L)).as("n_weekend"))
        .crossJoin(broadcast(days))
        .select(col("event_type"), col("n_weekday"), col("n_weekend"),
          idiv(col("n_weekend") * 1000000L,
            greatest(col("n_weekday") + col("n_weekend"), lit(1L)))
            .as("weekend_share_ppm"),
          when(col("n_weekday") > 0 && col("__wed") > 0,
            idiv(col("n_weekend") * col("__wdd") * 1000000L,
              col("n_weekday") * col("__wed"))).as("rate_ratio_ppm"))
        .orderBy("event_type")
    }, oracle =
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS d,
        |    (epoch_us(ts) // 86400000000) % 7 IN (2, 3) AS we
        |  FROM events WHERE event_type IS NOT NULL),
        |days AS (SELECT
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS wed,
        |    CAST(sum(CASE WHEN we THEN 0 ELSE 1 END) AS BIGINT) AS wdd
        |  FROM (SELECT DISTINCT d, we FROM e)),
        |c AS (SELECT event_type,
        |    CAST(sum(CASE WHEN we THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_weekday,
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_weekend
        |  FROM e GROUP BY 1)
        |SELECT event_type, n_weekday, n_weekend,
        |  n_weekend * 1000000
        |    // greatest(n_weekday + n_weekend, 1) AS weekend_share_ppm,
        |  CASE WHEN n_weekday > 0 AND wed > 0 THEN
        |    n_weekend * wdd * 1000000 // (n_weekday * wed)
        |  END AS rate_ratio_ppm
        |FROM c CROSS JOIN days ORDER BY event_type""".stripMargin),

    // User-activity histogram: users bucketed by their event count on
    // an exact power-of-two ladder (no log2 floats — boundary-exact in
    // both engines), with user and event shares.
    Gate("q482_user_activity_histogram", (s, dir) => {
      val per = t(s, dir, "events").where(col("user_id").isNotNull)
        .groupBy("user_id").agg(count(lit(1)).as("__n"))
      val bucket = when(col("__n") <= 8, "001-8")
        .when(col("__n") <= 16, "009-16")
        .when(col("__n") <= 32, "017-32")
        .when(col("__n") <= 48, "033-48")
        .when(col("__n") <= 64, "049-64")
        .when(col("__n") <= 96, "065-96")
        .when(col("__n") <= 128, "097-128")
        .otherwise("129+")
      val h = per.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_users"), sum(col("__n")).as("n_events"))
      h.crossJoin(broadcast(h.agg(sum(col("n_users")).as("__tu"),
          sum(col("n_events")).as("__te"))))
        .select(col("bucket"), col("n_users"), col("n_events"),
          idiv(col("n_users") * 1000000L, col("__tu"))
            .as("user_share_ppm"),
          idiv(col("n_events") * 1000000L, col("__te"))
            .as("event_share_ppm"))
        .orderBy("bucket")
    }, oracle =
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |h AS (SELECT CASE WHEN n <= 8 THEN '001-8'
        |    WHEN n <= 16 THEN '009-16' WHEN n <= 32 THEN '017-32'
        |    WHEN n <= 48 THEN '033-48' WHEN n <= 64 THEN '049-64'
        |    WHEN n <= 96 THEN '065-96' WHEN n <= 128 THEN '097-128'
        |    ELSE '129+' END AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(n) AS BIGINT) AS n_events
        |  FROM per GROUP BY 1),
        |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu,
        |    CAST(sum(n_events) AS BIGINT) AS te FROM h)
        |SELECT bucket, n_users, n_events,
        |  n_users * 1000000 // tu AS user_share_ppm,
        |  n_events * 1000000 // te AS event_share_ppm
        |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin),

    // Mann-Whitney / common-language effect size matrix: for every
    // event-type pair, P(value_a > value_b) + half-ties via the exact
    // rank-sum identity — rocAuc restricted to the pair with "is type
    // a" as the label (the pairwise "are these metric populations
    // different" read; 0.5 = indistinguishable).
    Gate("q485_mann_whitney", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = t(s, dir, "events")
      types.combinations(2).map { case Seq(a, b) =>
        graft.ops.Classify.rocAuc(
            ev.where(col("event_type").isin(a, b)),
            col("value"), col("event_type") === a)
          .select(lit(a).as("type_a"), lit(b).as("type_b"),
            col("n_pos").as("n_a"), col("n_neg").as("n_b"),
            col("auc").as("cles"))
      }.reduce(_ unionByName _).orderBy("type_a", "type_b")
    }, oracle = {
      def one(a: String, b: String) =
        s"""SELECT '$a' AS type_a, '$b' AS type_b, n_pos AS n_a,
           |  n_neg AS n_b,
           |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           |    round(CAST(r2 - n_pos*(n_pos+1) AS DOUBLE)
           |      / (2.0 * n_pos * n_neg), 6) END AS cles
           |FROM (SELECT CAST(sum(p * (2*(cum - c) + c + 1)) AS BIGINT)
           |      AS r2,
           |    CAST(sum(p) AS BIGINT) AS n_pos,
           |    CAST(sum(c - p) AS BIGINT) AS n_neg
           |  FROM (SELECT *, CAST(sum(c) OVER (ORDER BY s
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum
           |    FROM (SELECT s, CAST(count(*) AS BIGINT) AS c,
           |        CAST(sum(y) AS BIGINT) AS p
           |      FROM (SELECT
           |          CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS s,
           |          CASE WHEN event_type = '$a' THEN 1 ELSE 0 END AS y
           |        FROM events
           |        WHERE event_type IN ('$a', '$b')
           |          AND value IS NOT NULL AND NOT isnan(value))
           |      GROUP BY 1)))""".stripMargin
      Seq("click", "error", "purchase", "signup", "view")
        .combinations(2)
        .map { case Seq(a, b) => one(a, b) }
        .mkString("\nUNION ALL\n") + "\nORDER BY type_a, type_b"
    }),

    // Count autocorrelation at lags 1 / 24 / 168 over the hourly grid
    // — daily and weekly seasonality strength per type (the signal
    // q477's seasonal-naive baseline exploits), with the q430 exact
    // moment staging.
    Gate("q486_count_acf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.PixieFunctions.nsToUs
      val base = t(s, dir, "events").select(
        col("event_type").as("et"),
        idiv(nsToUs(col("ts")), 3600000000L).as("b"))
      val counts = base.groupBy("et", "b").agg(count(lit(1)).as("c"))
      val rng = counts.agg(min(col("b")).as("__b0"),
        max(col("b")).as("__b1"))
      val grid = counts.select("et").distinct()
        .crossJoin(broadcast(rng))
        .select(col("et"), explode(sequence(col("__b0"), col("__b1")))
          .as("b"), col("__b0"))
        .join(counts, Seq("et", "b"), "left")
        .na.fill(0L, Seq("c"))
      val w = Window.partitionBy("et").orderBy("b")
      Seq(1, 24, 168).map { l =>
        grid.withColumn("__p", lag(col("c"), l).over(w))
          .where(col("b") >= col("__b0") + l.toLong)
          .groupBy(col("et").as("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("__sy"),
            sum(col("__p")).as("__sx"),
            sum(col("c") * col("__p")).as("__sxy"),
            sum(col("__p") * col("__p")).as("__sxx"),
            sum(col("c") * col("c")).as("__syy"))
          .select(col("event_type"), lit(l.toLong).as("lag"), col("n"),
            {
              val dxx = col("n") * col("__sxx") - col("__sx") * col("__sx")
              val dyy = col("n") * col("__syy") - col("__sy") * col("__sy")
              val dxy = col("n") * col("__sxy") - col("__sx") * col("__sy")
              when(dxx > 0L && dyy > 0L,
                graft.core.Exact.zround(dxy.cast("double")
                  / sqrt(dxx.cast("double") * dyy.cast("double")), 6))
                .as("r")
            })
      }.reduce(_ unionByName _).orderBy("event_type", "lag")
    }, oracle = {
      def one(l: Int) =
        s"""SELECT et AS event_type, CAST($l AS BIGINT) AS lag, n,
           |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
           |  THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
           |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
           |        * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0
           |  END AS r
           |FROM (SELECT et, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(p) AS BIGINT) AS sx, CAST(sum(c) AS BIGINT) AS sy,
           |    CAST(sum(c * p) AS BIGINT) AS sxy,
           |    CAST(sum(p * p) AS BIGINT) AS sxx,
           |    CAST(sum(c * c) AS BIGINT) AS syy
           |  FROM (SELECT et, b, c, lag(c, $l) OVER w AS p FROM f
           |        CROSS JOIN rng WINDOW w AS (PARTITION BY et ORDER BY b))
           |    CROSS JOIN rng
           |  WHERE b >= rng.b0 + $l AND p IS NOT NULL GROUP BY et)""".stripMargin
      s"""WITH $hourGridCtes,
         |cc AS (SELECT et, b, CAST(count(*) AS BIGINT) AS c FROM base
         |  GROUP BY 1, 2),
         |f AS (SELECT g.et, g.b, coalesce(cc.c, 0) AS c FROM grid g
         |  LEFT JOIN cc ON cc.et = g.et AND cc.b = g.b)
         |${one(1)}
         |UNION ALL
         |${one(24)}
         |UNION ALL
         |${one(168)}
         |ORDER BY event_type, lag""".stripMargin
    }),

    // Inter-arrival gap ladder per event type ((type, user)-keyed
    // consecutive gaps, fixed human-scale integer boundaries).
    Gate("q496_inter_arrival", (s, dir) =>
      graft.ops.Events.interArrival(t(s, dir, "events"), "user_id",
          "event_type", "ts")
        .orderBy("event_type", "bucket"), oracle =
      """WITH e AS (SELECT event_type, user_id, epoch_us(ts) AS tus,
        |    event_id FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT event_type,
        |    tus - lag(tus) OVER (PARTITION BY event_type, user_id
        |      ORDER BY tus, event_id) AS gap
        |  FROM e),
        |b AS (SELECT event_type,
        |    CASE WHEN gap < 1000000 THEN 'a_lt_1s'
        |      WHEN gap < 10000000 THEN 'b_1s_10s'
        |      WHEN gap < 60000000 THEN 'c_10s_1m'
        |      WHEN gap < 600000000 THEN 'd_1m_10m'
        |      WHEN gap < 3600000000 THEN 'e_10m_1h'
        |      WHEN gap < 21600000000 THEN 'f_1h_6h'
        |      WHEN gap < 86400000000 THEN 'g_6h_1d'
        |      ELSE 'h_ge_1d' END AS bucket
        |  FROM g WHERE gap IS NOT NULL),
        |c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2)
        |SELECT event_type, bucket, n,
        |  n * 1000000 // (CAST(sum(n) OVER (PARTITION BY event_type)
        |    AS BIGINT)) AS share_ppm
        |FROM c ORDER BY event_type, bucket""".stripMargin),

    // The frontier k-core peel under the RELIABLE checkpoint swap
    // (graft.reliableCkpt=1 + a real checkpoint dir): byte-identical
    // answer to q461's localCheckpoint mode — the cluster swap as a
    // GATE row, not just a spec (two engine MODES, one oracle: the
    // q483 pattern applied to execution infrastructure).
    Gate("q501_kcore_reliable_ckpt", (s, dir) => {
      val ck = Fixture.tempIndexDir("graft_reliable_ckpt_")
      // the checkpoint dir CANNOT be unset on a SparkContext, so when
      // none was set before, the dir must stay valid for the session
      // (a later checkpoint() would otherwise write into a deleted
      // path) — defer cleanup to JVM exit instead of the finally
      sys.addShutdownHook(Fixture.deleteDir(ck))
      val prev = s.sparkContext.getCheckpointDir
      s.sparkContext.setCheckpointDir(ck)
      try {
        // LEXICALLY SCOPED swap (graft.core.Ckpt.withReliable) — no
        // process-global sys.props write, so a parallel query runner
        // cannot observe this query's dispatch (r10 verdict hygiene).
        graft.core.Ckpt.withReliable() {
          val l = t(s, dir, "lineitem")
            .where(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
            .distinct()
          val edges = l.toDF("o", "a").join(l.toDF("o", "b"), "o")
            .where(col("a") < col("b"))
            .groupBy("a", "b").agg(count(lit(1)).as("w"))
            .where(col("w") >= 2)
          graft.ops.Graph.kcorePeel(edges, "a", "b", k = 3)
            .orderBy("node")
            .localCheckpoint(true) // decouple from the ckpt files below
        }
      } finally prev.foreach(s.sparkContext.setCheckpointDir)
    }, oracle =
      // the swap changes execution infrastructure, never the answer
      kcoreSql),

    // OTel export oracle gate: per-(event_type, day) grid -> Gauge
    // datapoints (daily counts) + Spans (day activity intervals with
    // md5-bound trace/span ids) -> OTLP wire bytes -> independent
    // decode -> one frame. The export runs executor-side
    // (foreachPartition); the captured wire bytes are MODEL-sized
    // (the 5x30 grid, never corpus rows) — in production the same
    // bytes stream to a collector per partition and no decode side
    // exists.
    Gate("q487_otel_roundtrip", (s, dir) => {
      import s.implicits._
      import graft.streaming.{OtelSink, OtlpWireCapture, OtlpProtoReader => R}
      val dayNs = 86400000000000L
      val grid = t(s, dir, "events")
        .where(col("event_type").isNotNull)
        .groupBy(col("event_type"), idiv(col("ts"), dayNs).as("day"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("t0"),
          max(col("ts")).as("t1"))
        .select(col("event_type"), col("n"),
          (col("day") * dayNs).as("t_ns"),
          col("n").cast("double").as("value"),
          col("t0"), col("t1"),
          md5(concat(col("event_type"), lit(":"),
            col("day").cast("string"))).as("trace_id"),
          substring(md5(concat(col("event_type"), lit(":"),
            col("day").cast("string"))), 1, 16).as("span_id"),
          col("n").cast("string").as("n_str"))
      val gaugeWire = new OtlpWireCapture()
      val spanWire = new OtlpWireCapture()
      try {
        OtelSink.exportGauges(grid, OtelSink.GaugeSpec(
          "events.daily.count", "value", "t_ns", Seq("event_type")),
          gaugeWire)
        OtelSink.exportSpans(grid, OtelSink.SpanSpec(
          "event_type", "t0", "t1", Some("trace_id"), Some("span_id"),
          Seq("n_str")), spanWire)
        def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
        def str(b: Array[Byte]) = new String(b, "UTF-8")
        val gauges = for {
          env <- gaugeWire.captured.toArray(Array.empty[Array[Byte]]).toSeq
          rm <- R.messages(env, 1); sc <- R.messages(rm, 2)
          m <- R.messages(sc, 2)
          dp <- R.messages(R.firstMessage(m, 5), 1)
        } yield ("gauge", str(R.firstBytes(m, 1)),
          R.keyValues(dp, 7)("event_type"),
          R.firstFixed64(dp, 3), None: Option[Long],
          Some(java.lang.Double.longBitsToDouble(R.firstFixed64(dp, 4))),
          None: Option[String], None: Option[String])
        val spans = for {
          env <- spanWire.captured.toArray(Array.empty[Array[Byte]]).toSeq
          rs <- R.messages(env, 1); sc <- R.messages(rs, 2)
          sp <- R.messages(sc, 2)
        } yield ("span", str(R.firstBytes(sp, 5)),
          R.keyValues(sp, 9)("n_str"),
          R.firstFixed64(sp, 7), Some(R.firstFixed64(sp, 8)),
          None: Option[Double],
          Some(hex(R.firstBytes(sp, 1))), Some(hex(R.firstBytes(sp, 2))))
        (gauges ++ spans)
          .toDF("signal", "name", "attr", "t0_ns", "t1_ns", "value",
            "trace_id", "span_id")
          .orderBy("signal", "name", "attr", "t0_ns")
      } finally { gaugeWire.close(); spanWire.close() }
    }, oracle =
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT 'gauge' AS signal, 'events.daily.count' AS name,
        |    event_type AS attr, day * 86400000000000 AS t0_ns,
        |    CAST(NULL AS BIGINT) AS t1_ns, CAST(n AS DOUBLE) AS value,
        |    CAST(NULL AS VARCHAR) AS trace_id,
        |    CAST(NULL AS VARCHAR) AS span_id
        |  FROM g
        |  UNION ALL
        |  SELECT 'span', event_type, CAST(n AS VARCHAR), t0 * 1000,
        |    t1 * 1000, CAST(NULL AS DOUBLE),
        |    md5(event_type || ':' || CAST(day AS VARCHAR)),
        |    substr(md5(event_type || ':' || CAST(day AS VARCHAR)), 1, 16)
        |  FROM g)
        |ORDER BY signal, name, attr, t0_ns""".stripMargin),

    // OTel Summary + Log wire roundtrip — the two signal shapes q487
    // left spec-only, now oracle-gated with the same machinery: a
    // deterministic frame (per-type exact p50/p90 summaries; per-
    // (type, day) log records) exports executor-side through
    // OtelSink, the captured OTLP/HTTP protobuf bytes are decoded by
    // the INDEPENDENT wire reader, and the decoded frame hash-matches
    // a DuckDB re-derivation. Closes plan.proto:363-549's four-signal
    // surface on the official gate.
    Gate("q514_otel_summary_log", (s, dir) => {
      import s.implicits._
      import graft.streaming.{OtelSink, OtlpWireCapture, OtlpProtoReader => R}
      import graft.functions.PixieFunctions.idiv
      val dayNs = 86400000000000L
      val e = typedEvents(s, dir)
      val q = Scale.histQuantiles(
        Scale.centHist(e, "event_type", graft.ops.CurationDay.guardedValue),
        "event_type", Seq("q50c" -> 500000L, "q90c" -> 900000L))
      val sumIn = q
        .join(e.groupBy("event_type").agg(max(col("ts")).as("t_ns")),
          "event_type")
        .select(col("event_type"), col("t_ns"), col("n_rows").as("cnt"),
          (col("q50c").cast("double") / 100.0).as("q50"),
          (col("q90c").cast("double") / 100.0).as("q90"))
      val logIn = e
        .groupBy(col("event_type"), idiv(col("ts"), dayNs).as("day"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), (col("day") * dayNs).as("t_ns"),
          when(col("event_type") === "error", "ERROR").otherwise("INFO")
            .as("severity"),
          concat(col("event_type"), lit(":"), col("n").cast("string"))
            .as("body"))
      val sw = new OtlpWireCapture()
      val lw = new OtlpWireCapture()
      try {
        OtelSink.exportSummaries(sumIn, OtelSink.SummarySpec(
          "events.value.summary", "t_ns", "cnt",
          Map(0.5 -> "q50", 0.9 -> "q90"), Seq("event_type")), sw)
        OtelSink.exportLogs(logIn, OtelSink.LogSpec(
          "t_ns", "severity", "body", Seq("event_type")), lw)
        def str(b: Array[Byte]) = new String(b, "UTF-8")
        def dbl(l: Long) = java.lang.Double.longBitsToDouble(l)
        val summaries = for {
          env <- sw.captured.toArray(Array.empty[Array[Byte]]).toSeq
          rm <- R.messages(env, 1); sc <- R.messages(rm, 2)
          m <- R.messages(sc, 2)
          dp <- R.messages(R.firstMessage(m, 11), 1)
        } yield {
          val qs = R.messages(dp, 6)
            .map(qv => dbl(R.firstFixed64(qv, 1)) -> dbl(R.firstFixed64(qv, 2)))
            .toMap
          ("summary", str(R.firstBytes(m, 1)),
            R.keyValues(dp, 7)("event_type"), R.firstFixed64(dp, 3),
            Some(R.firstFixed64(dp, 4)): Option[Long],
            Some(qs(0.5)): Option[Double], Some(qs(0.9)): Option[Double],
            None: Option[String], None: Option[String])
        }
        val logs = for {
          env <- lw.captured.toArray(Array.empty[Array[Byte]]).toSeq
          rl <- R.messages(env, 1); sc <- R.messages(rl, 2)
          lr <- R.messages(sc, 2)
        } yield ("log", "events.log",
          R.keyValues(lr, 6)("event_type"), R.firstFixed64(lr, 1),
          None: Option[Long], None: Option[Double], None: Option[Double],
          Some(str(R.firstBytes(lr, 3))): Option[String],
          Some(str(R.firstBytes(R.firstMessage(lr, 5), 1))): Option[String])
        (summaries ++ logs)
          .toDF("signal", "name", "attr", "t_ns", "cnt", "q50", "q90",
            "severity", "body")
          .orderBy("signal", "attr", "t_ns")
      } finally { sw.close(); lw.close() }
    }, oracle =
      """WITH base AS (SELECT event_type, epoch_us(ts) * 1000 AS tns,
        |    CASE WHEN value IS NULL OR isnan(value) THEN NULL
        |      ELSE value END AS v
        |  FROM events WHERE event_type IS NOT NULL),
        |c AS (SELECT event_type,
        |    CAST(floor(v * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM base WHERE v IS NOT NULL),
        |k AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS k
        |  FROM c GROUP BY 1, 2),
        |ct AS (SELECT event_type, c, k,
        |    CAST(sum(k) OVER (PARTITION BY event_type ORDER BY c)
        |      AS BIGINT) AS cum,
        |    CAST(sum(k) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM k),
        |q AS (SELECT event_type, CAST(max(n) AS BIGINT) AS cnt,
        |    min(CASE WHEN cum * 1000000 >= 500000 * n THEN c END) AS q50c,
        |    min(CASE WHEN cum * 1000000 >= 900000 * n THEN c END) AS q90c
        |  FROM ct GROUP BY 1),
        |tm AS (SELECT event_type, CAST(max(tns) AS BIGINT) AS t_ns
        |  FROM base GROUP BY 1),
        |lg AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT 'summary' AS signal, 'events.value.summary' AS name,
        |    q.event_type AS attr, t_ns, cnt,
        |    CAST(q50c AS DOUBLE) / 100.0 AS q50,
        |    CAST(q90c AS DOUBLE) / 100.0 AS q90,
        |    CAST(NULL AS VARCHAR) AS severity,
        |    CAST(NULL AS VARCHAR) AS body
        |  FROM q JOIN tm ON tm.event_type = q.event_type
        |  UNION ALL
        |  SELECT 'log', 'events.log', event_type,
        |    day * 86400000000000, CAST(NULL AS BIGINT),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |    CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'INFO' END,
        |    event_type || ':' || CAST(n AS VARCHAR)
        |  FROM lg)
        |ORDER BY signal, attr, t_ns""".stripMargin)
  )
}
