package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Corpus, Quality, Scale}
import Q._

/** Sketch and fold-state gates: HLL and count-min sketches, sharded
  * distinct keys, cent-histogram quantile state, window-count and
  * incremental-aggregate state — each bootstrapped, folded or appended
  * through a persisted round trip, compacted and audited, then checked
  * against a full recompute.
  */
object Sketches extends Gates {

  private val q446OracleSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  round(CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 100.0 / count(*), 6) + 0.0 AS mean
      |FROM events WHERE event_id IS NOT NULL
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  private val q454OracleSql: String =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique
      |FROM events
      |WHERE event_id IS NOT NULL AND user_id IS NOT NULL
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** q462's trailing-window rollup, shared by the q476 panel. */
  private val windowStateSql: String =
    """WITH b AS (SELECT event_type,
      |    epoch_us(ts) // 3600000000 AS b FROM events),
      |hi AS (SELECT max(b) AS hi FROM b),
      |w AS (SELECT event_type, b.b, CAST(count(*) AS BIGINT) AS c
      |  FROM b CROSS JOIN hi WHERE b.b > hi.hi - 168 GROUP BY 1, 2)
      |SELECT event_type, CAST(sum(c) AS BIGINT) AS window_events,
      |  CAST(count(*) AS BIGINT) AS buckets_live,
      |  CAST(max(c) AS BIGINT) AS peak_bucket_events
      |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Per-type value histogram in integer cents: v(g, c), k(g, c, k). */
  private[queries] val centCountCtes: String =
    """v AS (SELECT event_type AS g,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
      |  FROM events WHERE event_type IS NOT NULL
      |    AND value IS NOT NULL AND NOT isnan(value)),
      |k AS (SELECT g, c, CAST(count(*) AS BIGINT) AS k FROM v
      |  GROUP BY 1, 2)""".stripMargin

  /** The running (`cum`) and total (`n`) counts over `k(g, c, k)`,
    * ordered by `c` within each group `g` — the input every exact
    * quantile oracle thresholds. Lines after the first carry `ind`.
    */
  private[queries] def cumCountCols(ind: String): String =
    s"""CAST(sum(k) OVER (PARTITION BY g ORDER BY c
       |$ind  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |$ind  AS BIGINT) AS cum,
       |${ind}CAST(sum(k) OVER (PARTITION BY g) AS BIGINT) AS n""".stripMargin

  /** The cents histogram's cumulative counts and its p50/p90/p99. */
  private val centQuantileCols: String =
    """ct AS (SELECT g, c, k,
      |    CAST(sum(k) OVER (PARTITION BY g ORDER BY c) AS BIGINT)
      |      AS cum,
      |    CAST(sum(k) OVER (PARTITION BY g) AS BIGINT) AS n FROM k)
      |SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n_rows,
      |  min(CASE WHEN cum * 1000000 >= 500000 * n THEN c END)
      |    AS p50_cents,
      |  min(CASE WHEN cum * 1000000 >= 900000 * n THEN c END)
      |    AS p90_cents,
      |  min(CASE WHEN cum * 1000000 >= 990000 * n THEN c END)
      |    AS p99_cents""".stripMargin

  /** 2024-01-05T00:00:00Z — chosen so the post-cut delta introduces
    * genuinely NEW (event_type, user_id) keys at every sf (115 at
    * sf0.01, 13 at sf0.001; later cuts add none — a torn keys append
    * that adds no keys would detect nothing and the gate would pass
    * vacuously).
    */
  private val AuditCut = 1704412800000000000L

  /** 2024-01-15T00:00:00Z — second append boundary for q512/q513. */
  private val MidCut = 1705276800000000000L

  private[queries] def typedEvents(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "events").where(col("event_type").isNotNull)

  private val distinctOracle: String =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique
      |FROM events
      |WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      |GROUP BY 1""".stripMargin

  lazy val gates: Seq[Gate] = Seq(
    // Count-Min-Sketch heavy-hitter contract: exact top-20 words +
    // the engine-evaluated claim that the eps=0.001 sketch estimate
    // lands inside [true, true + eps*N]. Completes the sketch family
    // (t-digest q22, bloom q248, HLL q274).
    Gate("q278_cms_heavy_hitters", (s, dir) => {
      Corpus.heavyHittersCms(t(s, dir, "documents"), "text", 20, 0.001)
    }, oracle =
      """WITH wd AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |top AS (SELECT word, count(*) AS n_exact FROM wd GROUP BY word
        |        ORDER BY n_exact DESC, word LIMIT 20)
        |SELECT word, n_exact, TRUE AS within_tol FROM top
        |ORDER BY word""".stripMargin),

    Gate("q274_hll_distinct", (s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.02).as("__n_approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("__n_approx") - col("n_exact")) <=
            col("n_exact") * 0.1).as("within_tol"))
        .orderBy("event_type")
    }, oracle =
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Distinct users per event type via key-space sharding (64-way
    // hash shards dedup locally, cardinalities SUM — exact because
    // shards partition the key space); the oracle is the plain
    // count(DISTINCT) the sharded plan must equal. n_shards_hit is
    // hash-dependent diagnostics, selected away from the gated
    // surface (Round8dSpec pins it instead).
    Gate("q440_sharded_distinct", (s, dir) => {
      Scale.shardedDistinct(t(s, dir, "events"), "event_type",
          "user_id", nShards = 64)
        .select("event_type", "n_unique")
        .orderBy("event_type")
    }, oracle =
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Incremental aggregate maintenance: per-type (count, sum) state
    // persisted from the event_id%5!=0 snapshot, the %5==0 delta
    // folded WITHOUT rescanning the snapshot — result must equal the
    // full-corpus GROUP BY (the IVM member of the persisted-index
    // family; q269/q283/q338 pattern).
    Gate("q446_incremental_agg", (s, dir) => {
      // null event_ids would land in NEITHER split (pmod(null) fails
      // both predicates) while the full-corpus oracle keeps them —
      // exclude explicitly on both engine sides (null-parity contract)
      val ev = t(s, dir, "events").where(col("event_id").isNotNull)
      val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
      val delta = ev.where(pmod(col("event_id"), lit(5L)) === 0)
      Fixture.scratch("graft_agg_state_") { statePath =>
        Scale.aggState(snap, "event_type", col("value"))
          .write.parquet(statePath)
        Scale.foldAggState(s.read.parquet(statePath), delta,
            "event_type", col("value"))
          .orderBy("event_type")
      }
    }, oracle = q446OracleSql),

    // Incremental DISTINCT-count maintenance: shard-partitioned key
    // state + per-shard cardinality summary persisted from the
    // event_id%5!=0 snapshot; the %5==0 delta folds via a
    // PARTITION-PRUNED read of only its shards (untouched shards
    // contribute through the summary alone) — result must equal the
    // full count(DISTINCT) (the distinct edition of q446's IVM).
    Gate("q454_incremental_distinct", (s, dir) => {
      val ev = t(s, dir, "events").where(col("event_id").isNotNull)
      val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
      val delta = ev.where(pmod(col("event_id"), lit(5L)) === 0)
      Fixture.scratch("graft_distinct_state_") { statePath =>
        Scale.writeDistinctState(snap, "event_type", "user_id",
          nShards = 16, statePath)
        Scale.foldDistinctState(s, statePath, delta, "event_type",
            "user_id", nShards = 16)
          .orderBy("event_type")
      }
    }, oracle = q454OracleSql),

    // HLL distinct-state fold: bootstrap sketches from the snapshot,
    // fold two disjoint deltas in BOTH orders (each through a persisted
    // round-trip), and report the calibration row: the exact
    // cardinality (oracle-checked), the 5%-tolerance contract on the
    // folded estimate, and fold-order invariance (register-wise max is
    // batch-invariant; the HIP estimator a one-pass sketch serves is
    // not — the q440 caveat — so the pin is fold-vs-fold, never
    // fold-vs-one-pass).
    Gate("q455_hll_distinct_fold", (s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_id").isNotNull && col("user_id").isNotNull)
      val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
      val d1 = ev.where(pmod(col("event_id"), lit(10L)) === 0)
      val d2 = ev.where(pmod(col("event_id"), lit(10L)) === 5)
      Fixture.scratch("graft_hll_") { root =>
        val (p0, p12, p21) = (s"$root/a", s"$root/b", s"$root/c")
        Scale.writeHllState(snap, "event_type", "user_id", 16, p0)
        Scale.foldHllState(s, p0, d1, "event_type", "user_id", 16)
          .write.parquet(s"$p12/sketches")
        val est12 = Scale.hllEstimate(
          Scale.foldHllState(s, p12, d2, "event_type", "user_id", 16),
          "event_type")
        Scale.foldHllState(s, p0, d2, "event_type", "user_id", 16)
          .write.parquet(s"$p21/sketches")
        val est21 = Scale.hllEstimate(
          Scale.foldHllState(s, p21, d1, "event_type", "user_id", 16),
          "event_type")
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"))
        exact
          .join(est12.select(col("event_type"),
            col("n_unique_est").as("__e12")), "event_type")
          .join(est21.select(col("event_type"),
            col("n_unique_est").as("__e21")), "event_type")
          .select(col("event_type"), col("n_exact"),
            (abs(col("__e12") - col("n_exact")) * 20L <= col("n_exact"))
              .as("est_err_ok"),
            (col("__e12") === col("__e21")).as("fold_order_invariant"))
          .orderBy("event_type")
      }
    }, oracle =
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  true AS est_err_ok, true AS fold_order_invariant
        |FROM events
        |WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Count-min sketch frequency state: bootstrap from the snapshot,
    // fold the delta, probe a deterministic key sample. Cells are
    // exact integer sums, so fold == rebuild ROW-IDENTICAL (asserted
    // into the fold_eq_rebuild column — the property HLL's estimator
    // can't give) and est >= exact deterministically (collisions only
    // add); exact calibration counts are the oracle-checked column.
    Gate("q458_cms_heavy_hitters", (s, dir) => {
      // event_type is a JOIN key below (probes/exact/estimates): a null
      // type would silently drop rows the oracle's GROUP BY keeps
      val ev = t(s, dir, "events")
        .where(col("event_id").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull)
      val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
      val delta = ev.where(pmod(col("event_id"), lit(5L)) === 0)
      val folded = Scale.foldCms(
        Scale.cmsSketch(snap, "event_type", "user_id"),
        Scale.cmsSketch(delta, "event_type", "user_id"), "event_type")
        .localCheckpoint(true)
      val rebuild = Scale.cmsSketch(ev, "event_type", "user_id")
      val foldEq = folded.exceptAll(rebuild).isEmpty &&
        rebuild.exceptAll(folded).isEmpty
      val probes = ev.where(pmod(col("user_id"), lit(97L)) === 0)
        .select("event_type", "user_id").distinct()
      val exact = ev.groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n_exact"))
      probes
        .join(exact, Seq("event_type", "user_id"))
        .join(Scale.cmsEstimate(folded, probes, "event_type", "user_id"),
          Seq("event_type", "user_id"))
        .select(col("event_type"), col("user_id"), col("n_exact"),
          (col("cms_est") >= col("n_exact")).as("est_ge_exact"),
          lit(foldEq).as("fold_eq_rebuild"))
        .orderBy("event_type", "user_id")
    }, oracle =
      """SELECT event_type, user_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  true AS est_ge_exact, true AS fold_eq_rebuild
        |FROM events
        |WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type IS NOT NULL AND user_id % 97 = 0
        |GROUP BY 1, 2 ORDER BY event_type, user_id""".stripMargin),

    // Sliding 7-day window count state: bootstrap from events before
    // Jan 28, fold the rest (watermark-ordered split), report per-type
    // trailing-window totals — the FORGETTING member of the persisted
    // state family. Both branches carry the answer: the window spans
    // the state/delta cut, and the Jan 1-23 state buckets must expire.
    Gate("q462_window_count_state", (s, dir) => {
      val cutNs = 1706400000000000000L // 2024-01-28T00:00:00Z
      val ev = t(s, dir, "events")
      Fixture.scratch("graft_window_state_") { p =>
        Scale.writeWindowState(ev.where(col("ts") < cutNs), "event_type",
          "ts", 3600000000L, 168, p)
        Scale.windowTotals(
            Scale.foldWindowState(s, p, ev.where(col("ts") >= cutNs),
              "event_type", "ts", 3600000000L, 168),
            "event_type")
          .orderBy("event_type")
      }
    }, oracle = windowStateSql),

    // Exact p25/p50/p75/p90/p99 value bands per event type.
    Gate("q467_quantile_bands", (s, dir) =>
      Quality.quantileBands(t(s, dir, "events"), "event_type",
          col("value"))
        .orderBy("event_type"), oracle =
      s"""WITH $centCountCtes,
        |ct AS (SELECT g, c, k,
        |    ${cumCountCols("    ")}
        |  FROM k)
        |SELECT g AS event_type, max(n) AS n,
        |  min(CASE WHEN cum >= (n * 250000 + 999999) // 1000000
        |    THEN c END) AS p25_cents,
        |  min(CASE WHEN cum >= (n * 500000 + 999999) // 1000000
        |    THEN c END) AS p50_cents,
        |  min(CASE WHEN cum >= (n * 750000 + 999999) // 1000000
        |    THEN c END) AS p75_cents,
        |  min(CASE WHEN cum >= (n * 900000 + 999999) // 1000000
        |    THEN c END) AS p90_cents,
        |  min(CASE WHEN cum >= (n * 990000 + 999999) // 1000000
        |    THEN c END) AS p99_cents
        |FROM ct GROUP BY g ORDER BY event_type""".stripMargin),

    // State-panel capstone: ONE ops dashboard row per event type
    // assembled from THREE independent persisted-state folds — the
    // all-time aggregate (q446 aggState), the exact distinct count
    // (q454 sharded keys), and the 7-day sliding window (q462) — all
    // incremental, none rescanning the snapshot. Oracle composed from
    // the three leg oracles (the q450 pattern).
    Gate("q476_state_panel", (s, dir) => {
      val ev = t(s, dir, "events").where(col("event_id").isNotNull)
      val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
      val delta = ev.where(pmod(col("event_id"), lit(5L)) === 0)
      val cutNs = 1706400000000000000L // q462's watermark cut
      Fixture.scratch("graft_panel_") { root =>
        val (pa, pd, pw) = (s"$root/agg", s"$root/distinct", s"$root/window")
        Scale.aggState(snap, "event_type", col("value"))
          .write.parquet(pa)
        val aggLeg = Scale.foldAggState(s.read.parquet(pa), delta,
          "event_type", col("value"))
        Scale.writeDistinctState(snap.where(col("user_id").isNotNull),
          "event_type", "user_id", nShards = 16, pd)
        val distinctLeg = Scale.foldDistinctState(s, pd,
          delta.where(col("user_id").isNotNull), "event_type",
          "user_id", nShards = 16)
        // the window leg mirrors q462 exactly: UNFILTERED events (its
        // oracle has no event_id predicate, unlike the agg/distinct legs)
        val evAll = t(s, dir, "events")
        Scale.writeWindowState(evAll.where(col("ts") < cutNs),
          "event_type", "ts", 3600000000L, 168, pw)
        val windowLeg = Scale.windowTotals(
          Scale.foldWindowState(s, pw, evAll.where(col("ts") >= cutNs),
            "event_type", "ts", 3600000000L, 168), "event_type")
        aggLeg.select("event_type", "n_rows", "mean")
          .join(distinctLeg, "event_type")
          .join(windowLeg.select("event_type", "window_events"),
            "event_type")
          .orderBy("event_type")
      }
    }, oracle =
      s"""WITH ag AS (SELECT * FROM
         |    (${q446OracleSql})),
         |di AS (SELECT * FROM
         |    (${q454OracleSql})),
         |wi AS (SELECT * FROM ($windowStateSql))
         |SELECT ag.event_type, ag.n_rows, ag.mean, di.n_unique,
         |  wi.window_events
         |FROM ag JOIN di USING (event_type) JOIN wi USING (event_type)
         |ORDER BY event_type""".stripMargin),

    // Persisted quantile (cent-histogram) state: bootstrap from the
    // pre-Jan-28 events, fold the rest, read exact p50/p90/p99 off
    // the FOLDED state — the quantile member completing the
    // persisted-state family (agg q446, distinct q454, HLL q455,
    // CMS q458, window q462, session q469). Fold == rebuild by
    // construction (additive counts); the oracle is the full
    // order-statistic recompute over all events.
    Gate("q504_quantile_state", (s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_type").isNotNull && col("value").isNotNull &&
          !isnan(col("value")))
      val cut = 1706400000000000000L // 2024-01-28T00:00:00Z
      Fixture.scratch("graft_cent_hist_") { p =>
        Scale.writeCentHist(ev.where(col("ts") < cut), "event_type",
          col("value"), p)
        Scale.histQuantiles(
            Scale.foldCentHist(s, p, ev.where(col("ts") >= cut),
              "event_type", col("value")),
            "event_type",
            Seq("p50_cents" -> 500000L, "p90_cents" -> 900000L,
              "p99_cents" -> 990000L))
          .orderBy("event_type")
      }
    }, oracle =
      s"""WITH ${centCountCtes},
        |$centQuantileCols
        |FROM ct GROUP BY g ORDER BY event_type""".stripMargin),

    // Torn-append audit + recovery, end to end in one gate row:
    // bootstrap the sharded distinct state, leave a delta append
    // INSIDE the crash window (keys written, summary stale — the
    // exposed first half), verify the audit flags it, re-run the SAME
    // append (the documented recovery), verify the audit is clean,
    // and read the healed per-group cardinalities — which must equal
    // a full count(DISTINCT) recompute.
    Gate("q511_distinct_state_audit", (s, dir) => {
      Fixture.scratch("graft_distinct_audit_") { root =>
        val p = s"$root/state"
        val e = typedEvents(s, dir)
        val delta = e.where(col("ts") >= AuditCut)
        Scale.writeDistinctState(e.where(col("ts") < AuditCut),
          "event_type", "user_id", 8, p)
        Scale.appendDistinctKeys(s, p, delta, "event_type", "user_id", 8)
        val torn = Scale.verifyDistinctState(s, p, "event_type")
          .where(!col("ok")).count() > 0
        Scale.appendDistinctState(s, p, delta, "event_type", "user_id", 8)
        val healed = Scale.verifyDistinctState(s, p, "event_type")
          .where(!col("ok")).count() == 0
        Scale.distinctStateCard(s, p, "event_type")
          .withColumn("torn_detected", lit(if (torn) "1" else "0"))
          .withColumn("audit_after_retry_ok",
            lit(if (healed) "1" else "0"))
          .orderBy("event_type")
      }
    }, oracle =
      s"""SELECT event_type, n_unique, '1' AS torn_detected,
         |  '1' AS audit_after_retry_ok
         |FROM ($distinctOracle) ORDER BY event_type""".stripMargin),

    // Cent-histogram compaction: bootstrap + two in-place appends
    // (duplicate (group, cent) rows by design), compact to one file,
    // then exact quantiles off the COMPACTED state == the full
    // order-statistic recompute. File count pinned shrinking to 1.
    Gate("q512_cent_state_compaction", (s, dir) => {
      Fixture.scratch("graft_cent_compact_") { root =>
        val p = s"$root/state"
        val e = typedEvents(s, dir)
        // NaN-guarded (the q481 house rule): a raw NaN cast to long
        // would throw under ANSI / silently zero without it
        val v = graft.ops.CurationDay.guardedValue
        Scale.writeCentHist(e.where(col("ts") < AuditCut), "event_type",
          v, p)
        Scale.appendCentHist(e.where(col("ts") >= AuditCut &&
          col("ts") < MidCut), "event_type", v, p)
        Scale.appendCentHist(e.where(col("ts") >= MidCut), "event_type",
          v, p)
        val before = Scale.parquetFileCount(s, p)
        Scale.compactCentHist(s, p)
        val after = Scale.parquetFileCount(s, p)
        Scale.histQuantiles(s.read.parquet(p), "event_type",
            Seq("p50_cents" -> 500000L, "p90_cents" -> 900000L,
              "p99_cents" -> 990000L))
          .withColumn("files_reduced",
            lit(if (after < before) "1" else "0"))
          .withColumn("single_file", lit(if (after == 1L) "1" else "0"))
          .orderBy("event_type")
      }
    }, oracle =
      s"""WITH ${centCountCtes},
        |${centQuantileCols},
        |  '1' AS files_reduced, '1' AS single_file
        |FROM ct GROUP BY g ORDER BY event_type""".stripMargin),

    // Distinct-keys compaction: bootstrap + two appends (a file batch
    // per touched shard each), compact to one file per shard, audit
    // still clean, cardinalities invariant == full recompute.
    Gate("q513_distinct_state_compaction", (s, dir) => {
      Fixture.scratch("graft_distinct_compact_") { root =>
        val p = s"$root/state"
        val e = typedEvents(s, dir)
        Scale.writeDistinctState(e.where(col("ts") < AuditCut),
          "event_type", "user_id", 8, p)
        Scale.appendDistinctState(s, p, e.where(col("ts") >= AuditCut &&
          col("ts") < MidCut), "event_type", "user_id", 8)
        Scale.appendDistinctState(s, p, e.where(col("ts") >= MidCut),
          "event_type", "user_id", 8)
        val before = Scale.parquetFileCount(s, s"$p/keys")
        Scale.compactDistinctState(s, p)
        val after = Scale.parquetFileCount(s, s"$p/keys")
        val auditOk = Scale.verifyDistinctState(s, p, "event_type")
          .where(!col("ok")).count() == 0
        Scale.distinctStateCard(s, p, "event_type")
          .withColumn("files_reduced",
            lit(if (after < before) "1" else "0"))
          .withColumn("one_file_per_shard",
            lit(if (after <= 8L) "1" else "0"))
          .withColumn("audit_ok", lit(if (auditOk) "1" else "0"))
          .orderBy("event_type")
      }
    }, oracle =
      s"""SELECT event_type, n_unique, '1' AS files_reduced,
         |  '1' AS one_file_per_shard, '1' AS audit_ok
         |FROM ($distinctOracle) ORDER BY event_type""".stripMargin)
  )
}
