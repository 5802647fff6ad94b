package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Exact.zround
import graft.functions.PixieFunctions.idiv

/** Behavioral event analytics over a `(user, event_type, ts)` stream —
  * the product-analytics operators an observability platform runs next
  * to its infra queries (funnels, retention cohorts). Reference scope:
  * pixie's event tables expose exactly this shape through PxL
  * (`src/carnot/docstring` examples group http_events by attributes and
  * time); the funnel/retention layer is the standard downstream read.
  *
  * Scale design: everything is keyed by user — per-stage min-aggregates
  * and user-keyed joins, so a 100 TB event log shuffles each stage's
  * MATCHING events once on `user`, never materializes per-user event
  * arrays, and the outputs are O(#stages) / O(#cohorts x #offsets).
  *
  * Determinism contract ([[Corpus]] rules): timestamp comparisons and
  * counts only; ratios are ppm-quantized integer divisions
  * (`a * 1000000 div b`) so every engine computes the identical value.
  */
object Events {

  /** The per-stage conversion chain shared by [[funnel]] and
    * [[funnelTimes]]: frame k holds one row per user converted through
    * stage k — `(u, t0, tk)`.
    */
  private def funnelChain(df: DataFrame, userCol: String, typeCol: String,
                          tsCol: String, stages: Seq[String],
                          windowSec: Long): Seq[DataFrame] = {
    require(stages.nonEmpty, "funnel: at least one stage")
    // epoch-micros longs end-to-end: comparisons and the window bound
    // are integer arithmetic, identical in any engine (no interval
    // types, no timezone re-interpretation). Input is the engine's
    // TIME64NS convention (epoch-ns long, [[graft.core.Tables]]).
    val base = df.select(col(userCol).as("u"), col(typeCol).as("et"),
      graft.functions.PixieFunctions.nsToUs(col(tsCol)).as("ts"))
    // stage 0: first entry per user
    val s0 = base.where(col("et") === stages.head)
      .groupBy("u").agg(min(col("ts")).as("t0"))
    // chain: conv(k) = min ts of stage-k events STRICTLY after t(k-1),
    // within window of t0; each step carries (u, t0, tk). Stage k's
    // lineage contains the whole k-step chain (k is the funnel length,
    // 3-5 — the re-scan cost is k filtered scans of the log, each
    // pruned to one event_type before its user-keyed aggregate).
    stages.zipWithIndex.tail.scanLeft(
        s0.select(col("u"), col("t0"), col("t0").as("tk"))) {
      case (prev, (st, _)) =>
        base.where(col("et") === st)
          .join(prev, "u")
          .where(col("ts") > col("tk") &&
            col("ts") <= col("t0") + lit(windowSec * 1000000L))
          .groupBy("u").agg(min(col("t0")).as("t0"), min(col("ts")).as("tk"))
    }
  }

  /** Strict ordered funnel: a user converts to stage k when an event of
    * `stages(k)` exists STRICTLY AFTER their stage-(k-1) conversion and
    * within `windowSec` of their stage-0 entry (the classic "complete
    * the journey within N days" constraint; stage 0 has no window).
    *
    * Output: one row per stage — `stage` (0-based), `event_type`,
    * `n_users`, ppm conversion vs previous stage and vs stage 0.
    *
    * Shape: one filtered scan per stage, each aggregated to one row per
    * user BEFORE the user-keyed equi-join with the previous stage's
    * conversions — the join inputs are already user-unique, so fan-out
    * is impossible and the widest shuffle is |users| rows. The
    * stage-k result reuses the stage-(k-1) frame (a linear chain, not
    * k self-joins of the raw log).
    */
  def funnel(df: DataFrame, userCol: String, typeCol: String,
             tsCol: String, stages: Seq[String],
             windowSec: Long): DataFrame = {
    val convs = funnelChain(df, userCol, typeCol, tsCol, stages, windowSec)
    val counts = convs.zip(stages).zipWithIndex.map {
      case ((c, st), i) =>
        c.agg(count(lit(1)).as("n_users"))
          .select(lit(i.toLong).as("stage"), lit(st).as("event_type"),
            col("n_users").cast("long").as("n_users"))
    }.reduce(_.unionByName(_))
    // single tiny frame (|stages| rows): a window over it is fine —
    // the single-partition exchange moves k rows, not data
    val w = org.apache.spark.sql.expressions.Window.orderBy("stage")
    val first = first_value(col("n_users")).over(
      w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
    val prev = lag(col("n_users"), 1).over(w)
    counts.select(col("stage"), col("event_type"), col("n_users"),
      when(prev.isNull, lit(1000000L))
        .otherwise(when(prev === 0, lit(0L))
          .otherwise(idiv(col("n_users") * 1000000L, prev)))
        .as("conv_prev_ppm"),
      when(first === 0, lit(0L))
        .otherwise(idiv(col("n_users") * 1000000L, first))
        .as("conv_first_ppm"))
  }

  /** Banded doubled-median per key: `med2 = x_((n+1)/2) + x_((n+2)/2)`
    * (1-indexed order statistics, = 2x the median, exact in integers)
    * over a `(key, v)` frame whose per-key population is DATA-sized —
    * the global rank comes from the banded two-level prefix
    * ([[graft.ops.Corpus]] shard pattern: per-(key, v-range-band)
    * windows + an O(#keys x #bands) offsets frame broadcast back), so
    * no per-key corpus-wide window exists. Returns
    * (key, n, med2, vsum) — the sum rides the same terminal aggregate
    * so a caller wanting mean + median pays ONE pass over the values.
    */
  private def bandedMed2(df: DataFrame, keyCol: String, vCol: String,
                         bandWidth: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = df.select(col(keyCol).as("k"), col(vCol).as("v"))
      .withColumn("__band", idiv(col("v"), lit(bandWidth)))
    val wOff = Window.partitionBy("k").orderBy("__band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = banded.groupBy("k", "__band").agg(count(lit(1)).as("__c"))
      .withColumn("__off", sum(col("__c")).over(wOff) - col("__c"))
      .withColumn("__n", sum(col("__c")).over(
        Window.partitionBy("k").orderBy("__band").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("__c")
    val wIn = Window.partitionBy("k", "__band").orderBy(col("v"))
    val k1 = idiv(col("__n") + 1, lit(2L)); val k2 = idiv(col("__n") + 2, lit(2L))
    banded.join(broadcast(offsets), Seq("k", "__band"))
      .withColumn("__r", col("__off") + row_number().over(wIn))
      .groupBy(col("k").as(keyCol))
      .agg(max(col("__n")).as("n"),
        (sum(when(col("__r") === k1, col("v"))) +
          sum(when(col("__r") === k2, col("v")))).as("med2"),
        sum(col("v")).as("vsum"))
  }

  /** Zero-filled per-type count grid over the GLOBAL bucket range —
    * the shared scaffolding of [[rateChangepoint]], [[rateAnomalies]]
    * and [[senTrend]]: one keyed count, a (types x sequence) grid over
    * [min, max] buckets (TIME-bound, not data-bound), missing buckets
    * as 0. Returns `(et, b, c, __N)` with `__N` = the grid width
    * `b1 - b0 + 1` on every row.
    */
  private def countGrid(df: DataFrame, typeCol: String, tsCol: String,
                        binUs: Long): DataFrame = {
    require(binUs > 0, "countGrid: binUs > 0")
    val counts = df.select(col(typeCol).as("et"),
        idiv(graft.functions.PixieFunctions.nsToUs(col(tsCol)),
          lit(binUs)).as("b"))
      .groupBy("et", "b").agg(count(lit(1)).as("c"))
    Grids.zeroFill(counts, "et", "b", Seq("c"))
  }

  /** Time-to-convert per funnel stage: for every user who reached
    * stage k, the wait `tk - t(k-1)`; reported as the count, the
    * doubled median `med2_dt_us` (exact order statistics — the q386
    * convention), and the integer mean. The stage-k and stage-(k-1)
    * frames are both user-unique, so the join cannot fan out; the
    * median is the BANDED doubled-median (hour-wide value bands), so
    * a stage with millions of converters never needs a single global
    * ordered window.
    */
  def funnelTimes(df: DataFrame, userCol: String, typeCol: String,
                  tsCol: String, stages: Seq[String],
                  windowSec: Long): DataFrame = {
    require(stages.size >= 2, "funnelTimes: at least two stages")
    val convs = funnelChain(df, userCol, typeCol, tsCol, stages, windowSec)
    convs.zip(convs.tail).zip(stages.tail).zipWithIndex.map {
      case (((prev, cur), st), i) =>
        val dts = cur.select(col("u"), col("tk"))
          .join(prev.select(col("u"), col("tk").as("__pt")), "u")
          .select((col("tk") - col("__pt")).as("dt"))
          .withColumn("__stage", lit(i + 1L))
        // median + mean ride ONE bandedMed2 pass — a second aggregate
        // would re-execute the whole k-stage chain lineage
        bandedMed2(dts, "__stage", "dt", 3600L * 1000000L)
          .select(col("__stage").as("stage"), lit(st).as("event_type"),
            col("n").as("n_users"), col("med2").as("med2_dt_us"),
            idiv(col("vsum"), col("n")).as("mean_dt_us"))
    }.reduce(_ unionByName _)
  }

  /** Theil-Sen robust trend per event type: the median of all pairwise
    * slopes `(c_j - c_i) / (b_j - b_i)` over the zero-filled bucket
    * grid — the breakdown-resistant "is this rate drifting" estimator
    * a mean-squares fit can't give you (up to ~29% outliers tolerated).
    * Slopes are IEEE doubles of exact integers (identical in every
    * engine); the median is the doubled order statistic rounded at
    * 1e-6. Output per type: n_bins, n_pairs, sen_slope (events per
    * bucket per bucket step), direction.
    *
    * Scale: the pair set is O(#bins^2) per type — TIME-bound, not
    * data-bound (the counts grid is; e.g. a 30-day minute grid is
    * 43k bins -> 9.3e8 pairs; use hour bins for long ranges). The
    * count grid arrives via one keyed aggregate.
    */
  def senTrend(df: DataFrame, typeCol: String, tsCol: String,
               binUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val filled = countGrid(df, typeCol, tsCol, binUs)
    val pairs = filled
      .select(col("et"), col("b").as("bi"), col("c").as("ci"), col("__N"))
      .join(filled.select(col("et"), col("b").as("bj"), col("c").as("cj")),
        "et")
      .where(col("bi") < col("bj"))
      .withColumn("slope",
        (col("cj") - col("ci")).cast("double") / (col("bj") - col("bi")))
    val w = Window.partitionBy("et").orderBy(col("slope"), col("bi"), col("bj"))
    val n = Window.partitionBy("et")
    // NB: named __np, not __n — Spark resolution is case-insensitive,
    // so __n would capture countGrid's __N grid-width column
    val ranked = pairs.withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__np", count(lit(1)).over(n))
    val k1 = idiv(col("__np") + 1, lit(2L)); val k2 = idiv(col("__np") + 2, lit(2L))
    ranked.groupBy(col("et").as("event_type"))
      .agg(max(col("__N")).as("n_bins"), max(col("__np")).as("n_pairs"),
        (sum(when(col("__r") === k1, col("slope"))) +
          sum(when(col("__r") === k2, col("slope")))).as("__m2"))
      .select(col("event_type"), col("n_bins"), col("n_pairs"),
        zround(col("__m2") / 2.0, 6).as("sen_slope"),
        signum(col("__m2")).cast("long").as("direction"))
  }

  /** Per-bucket series smoothing: the cumulative sum and the trailing
    * `window`-bucket moving sum/average of the per-bucket cents total,
    * over the zero-filled grid — the dashboard timeseries read
    * (cumulative revenue, 7-day moving average). All integer cents;
    * windows run over the TIME-bound bucket grid.
    */
  def movingStats(df: DataFrame, typeCol: String, tsCol: String,
                  valCol: String, binUs: Long, window: Int): DataFrame = {
    require(binUs > 0 && window >= 1, "movingStats: binUs > 0, window >= 1")
    import org.apache.spark.sql.expressions.Window
    val sums = df.select(col(typeCol).as("et"),
        idiv(graft.functions.PixieFunctions.nsToUs(col(tsCol)),
          lit(binUs)).as("b"),
        round(col(valCol) * lit(100.0)).cast("long").as("cents"))
      .groupBy("et", "b")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c_sum"))
    val filled = Grids.zeroFill(sums, "et", "b", Seq("n", "c_sum"))
    val ord = Window.partitionBy("et").orderBy("b")
    filled
      .withColumn("cum_sum", sum(col("c_sum")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ma_sum", sum(col("c_sum")).over(
        ord.rowsBetween(-(window - 1), Window.currentRow)))
      .select(col("et").as("event_type"), col("b").as("bin"), col("n"),
        col("c_sum"), col("cum_sum"), col("ma_sum"),
        idiv(col("ma_sum"), lit(window.toLong)).as("ma_avg"))
  }

  /** The distinct (user `u`, epoch week `wk`) pairs of an event frame. */
  private def userWeeks(df: DataFrame, userCol: String,
                        tsCol: String): DataFrame =
    df.select(col(userCol).as("u"),
        idiv(graft.functions.PixieFunctions.nsToUs(col(tsCol)),
          lit(604800L * 1000000L)).as("wk"))
      .distinct()

  /** Growth accounting over weekly activity: every active (user, week)
    * is exactly one of NEW (first-ever week), RETAINED (also active
    * the previous week), or RESURRECTED (active before, but not last
    * week); CHURNED counts land on the week AFTER a user's last
    * consecutive activity (active in w-1, silent in w). The standard
    * startup growth ledger, all exact integers.
    *
    * Shape: distinct (user, week) pairs, one user-keyed lag/lead
    * window (bounded per user), then a week-keyed count; the churn
    * column arrives by a full-outer week join (a churn week need not
    * have any activity).
    */
  def growthAccounting(df: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uw = userWeeks(df, userCol, tsCol)
    val w = Window.partitionBy("u").orderBy("wk")
    val lagged = uw
      .withColumn("__first", min(col("wk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__prev", lag(col("wk"), 1).over(w))
      .withColumn("__next", lead(col("wk"), 1).over(w))
    val active = lagged.groupBy(col("wk"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("wk") === col("__first"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__prev") === col("wk") - 1, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("wk") =!= col("__first") &&
          (col("__prev").isNull || col("__prev") =!= col("wk") - 1), 1L)
          .otherwise(0L)).as("n_resurrected"))
    val churned = lagged
      .where(col("__next").isNull || col("__next") =!= col("wk") + 1)
      .groupBy((col("wk") + 1).as("wk"))
      .agg(count(lit(1)).as("n_churned"))
    active.join(churned, Seq("wk"), "full_outer")
      .na.fill(0L, Seq("n_active", "n_new", "n_retained", "n_resurrected",
        "n_churned"))
      .select(col("wk").as("week"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"))
  }

  /** Seasonal-baseline deviation: each (type, hour) bucket scored
    * against the type's OWN hour-of-day baseline — "is 3 am busier
    * than 3 am usually is" — the seasonality-aware companion to the
    * global-median [[rateAnomalies]]. Baseline for hour-of-day h is
    * the type's total count at h divided by how often h occurs in the
    * grid range (`occ`, an exact integer — zero-filled grid, so quiet
    * recurrences count); deviation is milli-scaled integer
    * `c*1000 - T*1000//occ`. Returns the `topK` most deviant buckets
    * per type.
    *
    * Shape: [[countGrid]] + two keyed aggregates over the grid +
    * per-type rank windows over the TIME-bound grid.
    */
  def seasonalDeviation(df: DataFrame, typeCol: String, tsCol: String,
                        binUs: Long, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val filled = countGrid(df, typeCol, tsCol, binUs)
      .withColumn("hod", pmod(col("b"), lit(binsPerDay(binUs))))
    val base = filled.groupBy("et", "hod")
      .agg(sum(col("c")).as("__T"), count(lit(1)).as("__occ"))
      .withColumn("baseline_milli", idiv(col("__T") * 1000L, col("__occ")))
    val dev = filled.join(broadcast(base), Seq("et", "hod"))
      .withColumn("dev_milli",
        col("c") * 1000L - col("baseline_milli"))
    val wr = Window.partitionBy("et")
      .orderBy(abs(col("dev_milli")).desc, col("b").asc)
    dev.withColumn("rank", row_number().over(wr))
      .where(col("rank") <= topK)
      .select(col("et").as("event_type"), col("rank"), col("b").as("bin"),
        col("hod"), col("c"), col("baseline_milli"), col("dev_milli"))
  }

  /** Sliding active-user counts: per day, the distinct users active
    * that day (DAU) and in the trailing 7 / 28 days (WAU / MAU), plus
    * the DAU/MAU "stickiness" ppm — the standard engagement panel.
    *
    * Distinct-over-sliding-window can't ride a running sum, so each
    * (user, active-day) pair FANS OUT to the trailing days it keeps
    * the user active in (<= 28 rows per pair — bounded fan-out, keyed
    * count after), over the zero-filled day grid; no corpus-wide
    * window anywhere. Output is O(#days).
    */
  def activeUsers(df: DataFrame, userCol: String,
                  tsCol: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    // null user ids are not users: dropped up front so every count
    // agrees with a COUNT(DISTINCT user) re-derivation (which skips
    // nulls) — and so dau/wau/mau stay mutually consistent
    val ud = df.where(col(userCol).isNotNull)
      .select(col(userCol).as("u"),
        idiv(graft.functions.PixieFunctions.nsToUs(col(tsCol)),
          lit(dayUs)).as("d"))
      .distinct()
    val rng = ud.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val days = ud.sparkSession.range(1).crossJoin(broadcast(rng))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    def window(w: Int, name: String) = ud.crossJoin(broadcast(rng))
      .select(col("u"),
        explode(sequence(col("d"), least(col("d") + (w - 1), col("d1"))))
          .as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as(name))
    // DAU needs no fan-out: ud is already distinct (user, day) pairs
    val dau = ud.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
    val wau = window(7, "wau")
    val mau = window(28, "mau")
    days.join(dau, Seq("day"), "left").join(wau, Seq("day"), "left")
      .join(mau, Seq("day"), "left")
      .na.fill(0L, Seq("dau", "wau", "mau"))
      .withColumn("stickiness_ppm",
        when(col("mau") > 0, idiv(col("dau") * 1000000L, col("mau")))
          .otherwise(lit(0L)))
  }

  /** Cohort LTV curve: users cohorted by first-event epoch week; per
    * (cohort, week offset) the period revenue (cents) and the RUNNING
    * cumulative revenue per cohort — the payback-curve read next to
    * [[retention]]. All integer cents; the cumulative window runs per
    * cohort over the TIME-bound offset grid (zero-filled so every
    * cohort reports every elapsed offset).
    */
  def cohortLtv(df: DataFrame, userCol: String, tsCol: String,
                valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wkUs = 604800L * 1000000L
    val base = df.select(col(userCol).as("u"),
      idiv(graft.functions.PixieFunctions.nsToUs(col(tsCol)),
        lit(wkUs)).as("wk"),
      round(col(valCol) * lit(100.0)).cast("long").as("cents"))
    val cohort = base.groupBy("u").agg(min(col("wk")).as("cw"))
    val cells = base.join(cohort, "u")
      .groupBy(col("cw"), (col("wk") - col("cw")).as("off"))
      .agg(sum(col("cents")).as("rev_c"),
        count(lit(1)).as("n_events"))
    val maxWk = base.agg(max(col("wk")).as("__m"))
    val grid = cohort.select(col("cw")).distinct()
      .crossJoin(broadcast(maxWk))
      .select(col("cw"),
        explode(sequence(lit(0L), col("__m") - col("cw"))).as("off"))
    val filled = grid.join(cells, Seq("cw", "off"), "left")
      .na.fill(0L, Seq("rev_c", "n_events"))
    val sizes = cohort.groupBy("cw").agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy("cw").orderBy("off")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled.join(broadcast(sizes), "cw")
      .withColumn("cum_rev_c", sum(col("rev_c")).over(w))
      .select(col("cw").as("cohort_week"), col("off").as("week_offset"),
        col("n_users"), col("n_events"), col("rev_c"), col("cum_rev_c"),
        idiv(col("cum_rev_c"), col("n_users")).as("ltv_per_user_c"))
  }

  /** Markov transition matrix over each user's event sequence: for
    * every ordered adjacent pair of events (by timestamp, event-id
    * tiebreak) count the `(from_type, to_type)` transition and its
    * ppm probability conditional on `from_type` — the "what do users
    * do next" read that turns a raw event log into a navigable product
    * graph.
    *
    * Shape: the lead() window is USER-keyed (bounded by one user's
    * activity, never corpus-wide), the count is a keyed aggregate, and
    * the per-from-type totals frame is O(#types) — broadcast back. A
    * 100 TB log shuffles once on user and once on the pair key.
    */
  def transitionMatrix(df: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("ts"), col("eid"))
    val pairs = df.select(col(userCol).as("u"), col(typeCol).as("et"),
        graft.functions.PixieFunctions.nsToUs(col(tsCol)).as("ts"),
        col(idCol).as("eid"))
      .select(col("et").as("from_type"),
        lead(col("et"), 1).over(w).as("to_type"))
      .where(col("to_type").isNotNull)
    transitionReport(pairs)
  }

  /** Count/probability tail of [[transitionMatrix]] over a
    * `(from_type, to_type)` pair frame — shared with the streaming
    * path (q396), so the two can't drift.
    */
  def transitionReport(pairs: DataFrame): DataFrame = {
    val counts = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum(col("n")).as("__t"))
    counts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        idiv(col("n") * 1000000L, col("__t")).as("p_ppm"))
  }

  /** Peak concurrency per event type: treat each event as a span
    * `[ts, ts + durUs)` and sweep — the classic "max in-flight
    * requests" observability read. Returns one row per type:
    * `n_spans`, `peak_concurrency`, and `peak_at_us` (the EARLIEST
    * instant attaining the peak).
    *
    * Determinism: deltas are aggregated per (type, instant) BEFORE the
    * prefix sum, so intra-instant event order cannot matter — at a
    * shared instant the net (+starts −ends) applies atomically, and
    * the transient "ends released first" dip is never a maximum, so
    * `max(cumsum(net))` is the exact peak under the
    * end-before-start-at-equal-time convention.
    *
    * Scale: the running sum is the banded two-level prefix
    * ([[Corpus.curriculumShards]] pattern) — per-(type, hour-band)
    * windows plus an O(#types x #bands) offsets frame broadcast back;
    * #bands is bounded by the TIME SPAN, not the data size, so no
    * corpus-wide single-partition window exists at any scale.
    */
  def spanConcurrency(df: DataFrame, typeCol: String, tsCol: String,
                      durUs: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ts = graft.functions.PixieFunctions.nsToUs(col(tsCol))
    val starts = df.select(col(typeCol).as("et"), ts.as("t"),
      lit(1L).as("d"))
    val ends = df.select(col(typeCol).as("et"), (ts + durUs).as("t"),
      lit(-1L).as("d"))
    val net = starts.unionByName(ends).groupBy("et", "t")
      .agg(sum(col("d")).as("net"))
      .withColumn("__band", idiv(col("t"), lit(3600L * 1000000L)))
    val wOff = Window.partitionBy("et").orderBy("__band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = net.groupBy("et", "__band").agg(sum(col("net")).as("__s"))
      .withColumn("__off", sum(col("__s")).over(wOff) - col("__s"))
      .drop("__s")
    val wIn = Window.partitionBy("et", "__band").orderBy("t")
    val cum = net.join(broadcast(offsets), Seq("et", "__band"))
      .withColumn("c", col("__off") + sum(col("net")).over(wIn))
    val peaks = cum.groupBy("et").agg(max(col("c")).as("peak"))
    val spans = df.groupBy(col(typeCol).as("et"))
      .agg(count(lit(1)).as("n_spans"))
    cum.join(broadcast(peaks), "et").where(col("c") === col("peak"))
      .groupBy("et").agg(min(col("t")).as("peak_at_us"))
      .join(broadcast(peaks), "et").join(broadcast(spans), "et")
      .select(col("et").as("event_type"), col("n_spans"),
        col("peak").as("peak_concurrency"), col("peak_at_us"))
  }

  /** CUSUM changepoint per event type: bin the log into fixed
    * `binUs`-wide buckets over the GLOBAL time range (empty buckets
    * count 0), and locate the bucket where the cumulative deviation
    * from the type's mean rate is largest — the standard "when did the
    * rate shift" detector over a metric stream.
    *
    * Exactness: the classic CUSUM `S_i = sum(c_j - T/N)` is kept in
    * integer units scaled by N: `S_i * N = N * prefix_i - i * T`
    * (N buckets, T events) — no division, every engine computes the
    * identical value. Output per type: the changepoint bucket
    * (earliest on |S| ties), `cusum_scaled` there, its sign
    * (+1 = rate ran above mean before the point, i.e. a drop follows;
    * -1 = a surge follows), and the bucket/event totals.
    *
    * Scale: the per-type prefix window runs over the BUCKET GRID,
    * whose size is bounded by the time span / binUs — independent of
    * data volume; counts reach the grid via one keyed aggregate.
    */
  def rateChangepoint(df: DataFrame, typeCol: String, tsCol: String,
                      binUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid0 = countGrid(df, typeCol, tsCol, binUs)
    val tot = grid0.groupBy("et").agg(sum(col("c")).as("__T"))
    val w = Window.partitionBy("et").orderBy("b")
    val filled = grid0.join(broadcast(tot), "et")
      .withColumn("__pre",
        sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("s",
        col("__N") * col("__pre") - row_number().over(w).cast("long") * col("__T"))
    val wr = Window.partitionBy("et").orderBy(abs(col("s")).desc, col("b").asc)
    filled.withColumn("__rn", row_number().over(wr)).where(col("__rn") === 1)
      .select(col("et").as("event_type"), col("b").as("cp_bin"),
        col("s").as("cusum_scaled"),
        signum(col("s")).cast("long").as("direction"),
        col("__N").as("n_bins"), col("__T").as("n_events"))
  }

  /** Robust rate-anomaly ranking per event type: bin the log into
    * `binUs` buckets over the global range (empty buckets count 0) and
    * score each bucket by the MAD z-score `|c - median| / MAD` — the
    * median-based detector that, unlike mean/stddev, a single huge
    * spike cannot poison. Returns the `topK` most anomalous buckets
    * per type.
    *
    * Exactness: order statistics instead of interpolation — every
    * quantity is kept in DOUBLED integer units (`med2` = sum of the
    * two middle counts = 2*median, `dev = |2c - med2|` = 4*|c-median|
    * ... scaled consistently), so `z_ppm = dev * 2e6 // mad4` is exact
    * integer arithmetic end-to-end; rank ties break to the earlier
    * bucket. `mad4 = 0` (over half the buckets share the median count)
    * yields null z but still ranks by raw deviation.
    *
    * Scale: identical shape to [[rateChangepoint]] — all windows run
    * per type over the TIME-bound bucket grid, counts arrive via one
    * keyed aggregate, and output is O(#types x topK).
    */
  def rateAnomalies(df: DataFrame, typeCol: String, tsCol: String,
                    binUs: Long, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val filled = countGrid(df, typeCol, tsCol, binUs)
    // doubled median of `c` per type: ranks (n+1)/2 and (n+2)/2 —
    // odd n picks the middle twice, even n the two middles once each
    val k1 = idiv(col("__N") + 1, lit(2L)); val k2 = idiv(col("__N") + 2, lit(2L))
    val wc = Window.partitionBy("et").orderBy(col("c"), col("b"))
    val med = filled.withColumn("__r", row_number().over(wc).cast("long"))
      .groupBy("et").agg(
        (sum(when(col("__r") === k1, col("c"))) +
          sum(when(col("__r") === k2, col("c")))).as("med2"))
    val dev = filled.join(broadcast(med), "et")
      .withColumn("dev", abs(col("c") * 2 - col("med2")))
    val wd = Window.partitionBy("et").orderBy(col("dev"), col("b"))
    val mad = dev.withColumn("__r", row_number().over(wd).cast("long"))
      .groupBy("et").agg(
        (sum(when(col("__r") === k1, col("dev"))) +
          sum(when(col("__r") === k2, col("dev")))).as("mad4"))
    val wr = Window.partitionBy("et").orderBy(col("dev").desc, col("b").asc)
    dev.join(broadcast(mad), "et")
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= topK)
      .select(col("et").as("event_type"), col("rank"), col("b").as("bin"),
        col("c"), col("med2"), col("mad4"),
        when(col("mad4") > 0, idiv(col("dev") * 2000000L, col("mad4")))
          .as("z_ppm"))
  }

  /** Top event paths: the `pathLen`-event journeys (per-user adjacent
    * windows ordered by (ts, event-id)) ranked by frequency — the
    * "what are users actually doing" companion to
    * [[transitionMatrix]]'s one-step view. Output: the `topK` most
    * common paths with counts and corpus share.
    *
    * Shape: the lead chain is one user-keyed window (bounded per
    * user), the count is path-keyed, and the top-k is a sort-limit
    * (TakeOrdered — no global sort); share denominator is a broadcast
    * 1-row total.
    */
  def topPaths(df: DataFrame, userCol: String, typeCol: String,
               tsCol: String, idCol: String, pathLen: Int,
               topK: Int): DataFrame = {
    require(pathLen >= 2, "topPaths: pathLen >= 2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("ts"), col("eid"))
    val steps = col("et") +: (1 until pathLen)
      .map(i => lead(col("et"), i).over(w))
    // EVERY step must be non-null — concat_ws silently skips nulls, so
    // gating on the last lead alone would let a null event_type row
    // collapse "a>NULL>c" into a 2-segment path counted as a 3-gram
    val paths = df.select(col(userCol).as("u"), col(typeCol).as("et"),
        graft.functions.PixieFunctions.nsToUs(col(tsCol)).as("ts"),
        col(idCol).as("eid"))
      .select(concat_ws(">", steps: _*).as("path"),
        steps.map(_.isNotNull).reduce(_ && _).as("__full"))
      .where(col("__full"))
    pathReport(paths, topK)
  }

  /** Count/share/top-k tail of [[topPaths]] over a `path` frame —
    * shared with the streaming path (q397), so the two can't drift.
    */
  def pathReport(paths: DataFrame, topK: Int): DataFrame = {
    val counts = paths.groupBy("path").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__t"))
    counts.crossJoin(broadcast(total))
      .select(col("path"), col("n"),
        idiv(col("n") * 1000000L, col("__t")).as("share_ppm"))
      .orderBy(col("n").desc, col("path"))
      .limit(topK)
  }

  /** Hourly latency percentile bands: per (type, time bucket) the
    * exact nearest-rank p50/p95/p99 of `valCol` — the SLO dashboard
    * read. Values are held in CENTS (`round(value*100)`, exact for
    * 2-decimal metrics), ranks are `ceil(p*n/100)` integers, so both
    * engines agree bit-for-bit with zero interpolation.
    *
    * Shape: one ranking window per (type, bucket) cell — each cell is
    * one type's one hour, the granularity exact percentiles cost
    * everywhere; the sketch path for corpus-wide quantiles at 100 TB
    * is the t-digest family (q19/q22 contract).
    */
  def latencyBands(df: DataFrame, typeCol: String, tsCol: String,
                   valCol: String, binUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(typeCol).as("et"),
      idiv(graft.functions.PixieFunctions.nsToUs(col(tsCol)),
        lit(binUs)).as("b"),
      round(col(valCol) * lit(100.0)).cast("long").as("cents"))
    val ranked = base
      .withColumn("__r", row_number().over(
        Window.partitionBy("et", "b").orderBy(col("cents"))).cast("long"))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy("et", "b")))
    def kOf(p: Int) = idiv(col("__n") * p + 99L, lit(100L))
    ranked.groupBy(col("et").as("event_type"), col("b").as("bin"))
      .agg(max(col("__n")).as("n"),
        max(when(col("__r") === kOf(50), col("cents"))).as("p50_c"),
        max(when(col("__r") === kOf(95), col("cents"))).as("p95_c"),
        max(when(col("__r") === kOf(99), col("cents"))).as("p99_c"))
  }

  /** Time-weighted mean per type — the gauge-averaging read where each
    * sample holds its value until the next sample (last sample weighs
    * zero), vs the naive mean that over-counts burst periods. Exact:
    * cents x microsecond longs, `twa_c = sum(cents*dt) // span`.
    *
    * Scale: the "next sample" lookup is a BANDED lead — lead within
    * (type, hour band) plus an O(#types x #bands) band-level frame
    * (the next non-empty band's first sample, broadcast back) patching
    * each band's last row — so no per-type corpus-wide window exists;
    * the band frame is bounded by the time span.
    */
  def timeWeightedMean(df: DataFrame, typeCol: String, tsCol: String,
                       valCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(typeCol).as("et"),
        graft.functions.PixieFunctions.nsToUs(col(tsCol)).as("t"),
        round(col(valCol) * lit(100.0)).cast("long").as("cents"),
        col(idCol).as("eid"))
      .withColumn("__band", idiv(col("t"), lit(3600L * 1000000L)))
    val wIn = Window.partitionBy("et", "__band").orderBy(col("t"), col("eid"))
    val led = base.withColumn("__nt", lead(col("t"), 1).over(wIn))
    val wB = Window.partitionBy("et").orderBy("__band")
    val bandNext = base.groupBy("et", "__band")
      .agg(min(struct(col("t"), col("eid"))).as("__f"))
      .withColumn("__nbt", lead(col("__f.t"), 1).over(wB))
      .select(col("et"), col("__band"), col("__nbt"))
    led.join(broadcast(bandNext), Seq("et", "__band"))
      .withColumn("__dt",
        coalesce(coalesce(col("__nt"), col("__nbt")) - col("t"), lit(0L)))
      .groupBy(col("et").as("event_type"))
      .agg(count(lit(1)).as("n"),
        (max(col("t")) - min(col("t"))).as("span_us"),
        sum(col("cents") * col("__dt")).as("__wsum"),
        sum(col("cents")).as("__csum"))
      .select(col("event_type"), col("n"), col("span_us"),
        when(col("span_us") > 0, idiv(col("__wsum"), col("span_us")))
          .as("twa_c"),
        idiv(col("__csum"), col("n")).as("mean_c"))
  }

  /** Weekly retention cohort matrix: users are cohorted by the epoch
    * week (`floor(unix_seconds / 604800)`) of their FIRST event; each
    * (cohort, week-offset) cell counts the distinct users active that
    * week. `retained_ppm` is the cell vs the cohort's own size
    * (offset 0 is 1e6 by construction).
    *
    * Shape: one scan -> (user, week) distinct pairs -> a user-keyed
    * min-aggregate for the cohort -> one user-keyed join back -> a
    * (cohort, offset)-keyed count. Epoch-week arithmetic (not
    * date_trunc) keeps the bucketing engine-independent.
    */
  def retention(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val uw = userWeeks(df, userCol, tsCol)
    val cohort = uw.groupBy("u").agg(min(col("wk")).as("cw"))
    val cells = uw.join(cohort, "u")
      .groupBy(col("cw").as("cohort_week"),
        (col("wk") - col("cw")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = cells.where(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("__c0"))
    cells.join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        idiv(col("n_users") * 1000000L, col("__c0")).as("retained_ppm"))
  }

  /** Per-type exact OLS sums over the count grid, with x shifted to
    * `b - b0` WITHOUT a second pass (the shifted sums are exact
    * integer functions of the raw ones). Shared by [[olsTrend]] and
    * [[residualAnomalies]].
    */
  private def olsSums(g: DataFrame): DataFrame = {
    // RAW-b moments accumulate in DECIMAL(38,0) (the corrMatrix
    // contract; DuckDB mirrors with HUGEINT): b is an epoch-scale
    // bucket index (~3e7 for minute bins in 2026), so a long
    // sum(b*b) exceeds Long.MaxValue within ~25 days of minute grid
    // (~4.3e4 bins × 8.8e14) and silently wraps in non-ANSI Spark.
    // The SHIFTED sums (exact integer functions of the raw ones) are
    // small — they cast back to long exactly, so the staged-integer
    // consumers (residualAnomalies' idiv path) are unchanged. syy
    // stays decimal: sum(c²) is data-bound, not grid-bound.
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    def d(c: Column) = c.cast(dec)
    g.groupBy("et")
      .agg(count(lit(1)).as("n"),
        min(col("b")).as("b0"),
        sum(d(col("b"))).as("__sb"),
        sum(col("c")).as("sy"),
        sum(d(col("b")) * d(col("c"))).as("__sbc"),
        sum(d(col("b")) * d(col("b"))).as("__sbb"),
        sum(d(col("c")) * d(col("c"))).as("syy"))
      .select(col("et"), col("n"), col("b0"), col("sy"), col("syy"),
        (col("__sb") - d(col("n")) * d(col("b0"))).cast("long").as("sx"),
        (col("__sbc") - d(col("b0")) * d(col("sy"))).cast("long").as("sxy"),
        (col("__sbb") - d(lit(2L)) * d(col("b0")) * col("__sb")
          + d(col("n")) * d(col("b0")) * d(col("b0"))).cast("long").as("sxx"))
  }

  /** Ordinary-least-squares trend per event type over the zero-filled
    * count grid — the parametric companion of [[senTrend]] (same grid,
    * same x = relative bucket index): slope/intercept from the five
    * exact integer sums (n, Sx, Sy, Sxy, Sxx) via the closed-form
    * normal equations, plus r-squared from Syy. Each output value is
    * ONE final double formula over exact longs, rounded at 1e-6, so
    * every engine computes the identical number; a constant series
    * (zero variance in x or y) reports null slope/r2 rather than a
    * division blow-up.
    *
    * Scale: one keyed count aggregate + one O(#types) reduce — the
    * sums are order-independent longs, so the grid can live on any
    * partitioning; nothing here is data-bound beyond the count grid.
    */
  def olsTrend(df: DataFrame, typeCol: String, tsCol: String,
               binUs: Long): DataFrame = {
    val rel = olsSums(countGrid(df, typeCol, tsCol, binUs))
    rel.select(Seq(col("et").as("event_type"), col("n").as("n_bins")) ++
      Fit.olsSelect(col("n"), col("sx"), col("sy"), col("sxy"),
        col("sxx"), col("syy")): _*)
  }

  /** STL-lite residual anomalies: remove the per-type OLS TREND, then
    * the hour-of-day SEASONAL baseline of the detrended series, and
    * rank what remains — the detector that neither q386 (global
    * median) nor q408 (seasonal only) is: a slow ramp no longer
    * poisons the hour baselines, and a daily rhythm no longer poisons
    * the trend residuals. The trend is evaluated in EXACT truncated
    * milli-events by staged integer division (both engines truncate
    * toward zero — verified on negatives), the hod residual is scaled
    * by the hod count only, and ONE final double formula `r / cnt`
    * (rounded 1e-6) reports milli-events. Integer envelope: the
    * largest product is |inum| ~ |sy|.sxx < 2^63 — safe to ~a year of
    * hourly bins at ~1e3 events/bin or 90 days at ~1e4 (beyond that,
    * widen bins; the n^3 growth of sxx is the binding term).
    *
    * Scale: the count grid's keyed aggregate + O(#types x #bins)
    * grid-bound arithmetic; windows partition by type. Degenerate
    * single-bin types (dxx = 0) drop out, documented.
    */
  def residualAnomalies(df: DataFrame, typeCol: String, tsCol: String,
                        binUs: Long, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = countGrid(df, typeCol, tsCol, binUs)
    val sums = olsSums(g)
      .select(col("et"), col("b0"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("dxx"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("dxy"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("inum"))
      .where(col("dxx") =!= 0L)
    // fitted trend at bin b, in EXACT truncated milli-events, via
    // staged integer division: q = a div dxx, r = a - q*dxx, milli =
    // q*1000 + (r*1000 div dxx). Spark's `div` and DuckDB's `//` both
    // truncate toward zero (verified on negatives), and with
    // sign(r) == sign(a) the staging identity trunc(a*1000/d) ==
    // q*1000 + trunc(r*1000/d) holds exactly — so no *1000 on the
    // full numerator (the r7-era overflow shape) and no dxx-scaled
    // residuals (the round-8c review's year-grid overflow cliff).
    val a = col("inum") + col("dxy") * (col("b") - col("b0"))
    val detr = g.join(sums, "et")
      .withColumn("hod", pmod(col("b"), lit(binsPerDay(binUs))))
      .withColumn("__q", idiv(a, col("dxx")))
      .withColumn("__ds", col("c") * 1000L - (col("__q") * 1000L
        + idiv((a - col("__q") * col("dxx")) * 1000L, col("dxx"))))
    val base = detr.groupBy("et", "hod")
      .agg(sum(col("__ds")).as("__bn"), count(lit(1)).as("__cnt"))
    val dev = col("__r").cast("double") / col("__cnt").cast("double")
    detr.join(base, Seq("et", "hod"))
      .withColumn("__r", col("__ds") * col("__cnt") - col("__bn"))
      .withColumn("rank", row_number().over(Window.partitionBy("et")
        .orderBy(abs(dev).desc, col("b"))).cast("int"))
      .where(col("rank") <= topK)
      .select(col("et").as("event_type"), col("rank"), col("b").as("bin"),
        col("hod"), col("c"), zround(dev, 6).as("dev_milli"))
  }


  private def binsPerDay(binUs: Long): Long = {
    require(86400000000L % binUs == 0, "binUs must divide a day")
    86400000000L / binUs
  }

  /** Lead-lag cross-correlation between the count series of every
    * type pair: Pearson r of `a(t)` vs `b(t+lag)` for lags in
    * [-maxLag, maxLag], from exact integer sums over the overlapping
    * grid bins — "errors follow clicks by two hours" reads directly
    * off the best row. Pairs are unordered (a < b); negative lags
    * cover the reverse direction. r is ONE final double formula
    * `dxy / sqrt(dxx . dyy)` (the product formed in double, then one
    * IEEE sqrt — identical in every engine), rounded 1e-6; `best`
    * flags each pair's max |r| (row_number ties to the smallest lag).
    *
    * Scale: the joins are BIN-keyed over the count grid — O(#types x
    * #bins x #lags) rows, TIME-bound, never event-bound.
    */
  def seriesCorrelation(df: DataFrame, typeCol: String, tsCol: String,
                        binUs: Long, maxLag: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxLag >= 0, "seriesCorrelation: maxLag >= 0")
    val g = countGrid(df, typeCol, tsCol, binUs)
    val a = g.select(col("et").as("et_a"), col("b"), col("c").as("ca"))
      .withColumn("lag", explode(sequence(lit(-maxLag.toLong),
        lit(maxLag.toLong))))
      .withColumn("__bb", col("b") + col("lag"))
    val bb = g.select(col("et").as("et_b"), col("b").as("__bb"),
      col("c").as("cb"))
    val sums = a.join(bb, "__bb")
      .where(col("et_a") < col("et_b"))
      .groupBy("et_a", "et_b", "lag")
      .agg(count(lit(1)).as("n"), sum(col("ca")).as("sx"),
        sum(col("cb")).as("sy"), sum(col("ca") * col("cb")).as("sxy"),
        sum(col("ca") * col("ca")).as("sxx"),
        sum(col("cb") * col("cb")).as("syy"))
    val dxx = col("n") * col("sxx") - col("sx") * col("sx")
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    val dxy = col("n") * col("sxy") - col("sx") * col("sy")
    val scored = sums.select(col("et_a"), col("et_b"), col("lag"),
      col("n").as("n_bins"),
      when(dxx > 0L && dyy > 0L,
        zround(dxy.cast("double")
          / sqrt(dxx.cast("double") * dyy.cast("double")), 6)).as("r"))
    // nulls-LAST: coalesce(abs(r), -2) — abs(coalesce(r, -2)) would
    // rank a degenerate zero-variance lag (r null -> |-2| = 2) ABOVE
    // every real |r| <= 1 (round-8c second review)
    scored.withColumn("best", row_number().over(
      Window.partitionBy("et_a", "et_b")
        .orderBy(coalesce(abs(col("r")), lit(-2.0d)).desc, col("lag")))
      === 1)
  }

  /** RFM customer segmentation: recency / frequency / monetary per
    * user, each mapped to its corpus quintile (1-5, higher = better —
    * most RECENT gets R5) via [[Corpus.groupPercentile]]'s banded
    * rank — no corpus-wide window even with one giant "all users"
    * group. Monetary is per-row cent-quantized BEFORE the sum; the
    * three-digit `segment` (R.F.M) is the classic marketing cell.
    */
  def rfm(df: DataFrame, userCol: String, tsCol: String,
          valueCol: String, nowUs: Long): DataFrame = {
    // null subjects are excluded EXPLICITLY (not dropped as a join
    // side effect): an equi-join on the user key would silently lose
    // them while an oracle's global rank kept them, shifting every
    // nearby quintile (round-8c review)
    val base = df.where(col(userCol).isNotNull)
      .groupBy(col(userCol).as("u"))
      .agg((lit(nowUs) - max(graft.functions.PixieFunctions
        .nsToUs(col(tsCol)))).as("rec_us"),
        count(lit(1)).as("freq"),
        sum(floor(col(valueCol) * 100.0 + 0.5).cast("long")).as("mon_cents"))
      // pmod(u, 1) == 0 for every row but is NOT constant-foldable:
      // a lit(0) group gets folded OUT of the window partition specs,
      // which turns groupPercentile's O(#bands) offsets window into an
      // unpartitioned one (same tiny frame, but the plan loses the
      // partition column and Spark warns "No Partition Defined")
      .withColumn("__g", pmod(col("u"), lit(1L)))
    def quintile(score: org.apache.spark.sql.Column, bandWidth: Long,
                 name: String) =
      Corpus.groupPercentile(base, "__g", "u", score, bandWidth)
        .select(col("u"),
          (least(lit(4L), idiv(col("pct_ppm") * 5L, lit(1000000L))) + 1L)
            .as(name))
    base.join(quintile(col("rec_us"), 86400000000L, "__qr"), "u")
      .join(quintile(col("freq"), 10L, "__qf"), "u")
      .join(quintile(col("mon_cents"), 100000L, "__qm"), "u")
      .select(col("u").as(userCol), col("rec_us"), col("freq"),
        col("mon_cents"),
        (lit(6L) - col("__qr")).as("r_score"),
        col("__qf").as("f_score"), col("__qm").as("m_score"))
      .withColumn("segment", col("r_score") * 100L + col("f_score") * 10L
        + col("m_score"))
  }

  /** Burstiness per type over the count grid: Fano factor
    * (variance / mean — 1 for Poisson arrivals, >> 1 for bursty) and
    * squared coefficient of variation, each ONE final double formula
    * over the exact integer sums. The traffic-shape read next to the
    * anomaly detectors.
    */
  def burstiness(df: DataFrame, typeCol: String, tsCol: String,
                 binUs: Long): DataFrame = {
    val sums = olsSums(countGrid(df, typeCol, tsCol, binUs))
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    sums.select(col("et").as("event_type"), col("n").as("n_bins"),
      idiv(col("sy") * 1000L, col("n")).as("mean_milli"),
      when(col("sy") > 0L,
        round(dyy.cast("double")
          / (col("n") * col("sy")).cast("double"), 6)).as("fano"),
      when(col("sy") > 0L,
        round(dyy.cast("double")
          / (col("sy") * col("sy")).cast("double"), 6)).as("cv2"))
  }

  /** One-sided CUSUM drift detector per event type over the hourly
    * count grid, in closed form: with drift allowance k (slack) the
    * classic recursion S_i = max(0, S_{i-1} + x_i - k) equals
    * U_i - min(0, min_{j<=i} U_j) for the cumulative sum U of
    * (x - k) — so the sequential detector becomes two window
    * functions (running sum + running min) instead of an
    * unexpressible recursion. All values milli-scaled integers:
    * the per-type mean is `total*1000 div n`, slack = mean/slackDen,
    * alarm threshold h = mean * hMult. Emits only alarm bins
    * (s_milli >= h) with their per-type alarm rank.
    *
    * Scale: windows are partitioned BY TYPE over the time grid —
    * bin-count-bound, never corpus-wide; the grid itself is one keyed
    * aggregate.
    */
  def cusumDrift(df: DataFrame, typeCol: String, tsCol: String,
                 binUs: Long, slackDen: Long = 4L,
                 hMult: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(slackDen > 0 && hMult > 0, "cusumDrift: positive tuning")
    val g = countGrid(df, typeCol, tsCol, binUs)
    val means = g.groupBy("et")
      .agg(idiv(sum(col("c")) * 1000L, count(lit(1))).as("__mean_milli"))
    val w = Window.partitionBy("et").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = g.join(means, "et")
      .withColumn("__x", col("c") * 1000L - col("__mean_milli")
        - idiv(col("__mean_milli"), lit(slackDen)))
      .withColumn("__u", sum(col("__x")).over(w))
      .withColumn("__s", col("__u") - least(min(col("__u")).over(w), lit(0L)))
    scored.where(col("__s") >= col("__mean_milli") * hMult)
      .withColumn("alarm_no", row_number().over(
        Window.partitionBy("et").orderBy("b")).cast("long"))
      .select(col("et").as("event_type"), col("alarm_no"), col("b").as("bin"),
        col("c"), col("__mean_milli").as("mean_milli"),
        col("__s").as("s_milli"))
  }

  /** Leading-edge debounce: within each key, events arriving within
    * `gapUs` of their predecessor chain into a BURST, and only the
    * burst's first event survives — the telemetry/retry/duplicate-
    * webhook cleaning pass a pipeline runs before counting anything.
    * Burst membership is the gap-island labeling (`delta > gapUs`
    * opens a burst), so "within gap of the previously KEPT event" and
    * "within gap of the previous event" agree for chains — the
    * standard sessionize-then-take-first contract, deterministic via
    * the (ts, id) ordering.
    *
    * Scale: one key-keyed window (lag + running flag sum) + one
    * burst-keyed aggregate — each key's events shuffle once; output
    * is one row per kept (leading) event.
    */
  def debounce(df: DataFrame, keyCols: Seq[String], tsCol: String,
               idCol: String, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty && gapUs > 0, "debounce: keys and gap")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*)
      .orderBy(col("__ts_us"), col(idCol))
    val e = df.select(keys :+ col(idCol) :+
        graft.functions.PixieFunctions.nsToUs(col(tsCol)).as("__ts_us"): _*)
      .withColumn("__new", when(lag(col("__ts_us"), 1).over(w).isNull ||
        col("__ts_us") - lag(col("__ts_us"), 1).over(w) > gapUs, 1L)
        .otherwise(0L))
      .withColumn("burst_no", sum(col("__new")).over(w))
    e.groupBy(keys :+ col("burst_no"): _*)
      .agg(min(struct(col("__ts_us"), col(idCol))).as("__lead"),
        count(lit(1)).as("burst_size"))
      .select(keys ++ Seq(col("burst_no"),
        col("__lead").getField("__ts_us").as("ts_us"),
        col("__lead").getField(idCol).as(idCol),
        col("burst_size"),
        (col("burst_size") - 1L).as("n_suppressed")): _*)
  }

  /** Kaplan-Meier survival curve (log domain) for time-to-`target`
    * per subject: each subject's clock starts at their first event;
    * subjects reaching `target` contribute an OBSERVED duration (first
    * target − first event), the rest are right-CENSORED at their last
    * event. At each observed duration t: n_risk = subjects with
    * duration ≥ t (censored ones count until they drop), d = events at
    * t, and ln S(t) = Σ_{t_j ≤ t} ln((n_j − d_j)/n_j).
    *
    * Exactness: each factor's log is nano-quantized (the KL/PSI
    * per-term contract) and the cumulative sum is exact integer — the
    * gate compares LOG-survival; exponentiation is left to the caller
    * because libm exp() is not IEEE-pinned across engines (unlike
    * sqrt). Rows after survival hits zero (n_risk == d) report null
    * log_survival with the zero carried by `survival_zero`.
    *
    * Scale: one subject-keyed aggregate collapses the corpus to one
    * row per subject; the risk-set window runs over DISTINCT
    * durations (subject-table-sized — banded prefix swap past ~1e8).
    */
  def kaplanMeier(df: DataFrame, subjectCol: String, tsCol: String,
                  typeCol: String, target: String): DataFrame = {
    import graft.functions.PixieFunctions.nsToUs
    import org.apache.spark.sql.expressions.Window
    val us = nsToUs(col(tsCol))
    val per = df.where(col(subjectCol).isNotNull)
      .groupBy(col(subjectCol))
      .agg(min(us).as("__t0"), max(us).as("__tmax"),
        min(when(col(typeCol) === target, us)).as("__tevt"))
      .select(coalesce(col("__tevt") - col("__t0"),
          col("__tmax") - col("__t0")).as("dur_us"),
        col("__tevt").isNotNull.cast("long").as("__obs"))
      // a subject with all-null timestamps has no defined duration and
      // never enters the risk set — and a null dur_us row would sort
      // NULLS FIRST in Spark's window vs NULLS LAST in DuckDB's,
      // shifting every n_risk (the pinned window null-parity trap)
      .where(col("dur_us").isNotNull)
    val n = broadcast(per.agg(count(lit(1)).as("__n")))
    val byT = per.groupBy("dur_us")
      .agg(count(lit(1)).as("__total"), sum(col("__obs")).as("d"))
    val w = Window.orderBy("dur_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = byT
      .withColumn("__cumtot", sum(col("__total")).over(w))
      .crossJoin(n)
      .withColumn("n_risk",
        col("__n") - (col("__cumtot") - col("__total")))
      .where(col("d") > 0)
    risk
      .withColumn("__term", when(col("n_risk") > col("d"),
        floor(log((col("n_risk") - col("d")).cast("double")
          / col("n_risk").cast("double")) * 1e9 + 0.5).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("__cum", sum(col("__term")).over(w))
      .withColumn("survival_zero",
        max(when(col("n_risk") === col("d"), 1L).otherwise(0L)).over(w) === 1L)
      .select(col("dur_us"), col("n_risk"), col("d"),
        when(!col("survival_zero"),
          zround(col("__cum").cast("double") / 1e9, 6)).as("log_survival"),
        col("survival_zero"))
  }

  /** Association rules over co-occurrence baskets (Agrawal et al.,
    * SIGMOD 1993, restricted to the 1-item antecedent/consequent rules
    * a telemetry feed supports): baskets are `basketCol` values, items
    * the distinct `itemCol` values seen in each basket; every directed
    * pair a→b with at least `minBaskets` co-occurrences reports
    * support, confidence, and lift — the "users who error also
    * purchase?" dependency mining [[graft.ops.Quality.mutualInfo]]
    * reduces to one scalar.
    *
    * Exactness: support/confidence are ppm via truncating integer
    * division on positive operands (`div` == DuckDB `//`); lift is
    * milli-scaled c_ab·N·1000 div (c_a·c_b) — exact integers
    * end-to-end, no doubles anywhere. c_ab·N·1000 bounds the exact
    * path to ~3e7 baskets; beyond that, rescale to c_ab·1e3 div
    * (c_a·c_b div N) (same truncation contract).
    *
    * Scale: one (basket,item) distinct, a basket-keyed self-join whose
    * per-basket fan-out is bounded by the item-vocabulary size (not
    * basket size), two item-keyed count joins, and a broadcast 1-row
    * N; output is O(#items²) rules.
    */
  def assocRules(df: DataFrame, basketCol: String, itemCol: String,
                 minBaskets: Long = 1L): DataFrame = {
    import graft.functions.PixieFunctions.idiv
    val items = df.where(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()
    val n = broadcast(items.select("__b").distinct()
      .agg(count(lit(1)).as("__n")))
    val itemCounts = items.groupBy("__i").agg(count(lit(1)).as("__c"))
    val pairs = items.select(col("__b"), col("__i").as("antecedent"))
      .join(items.select(col("__b"), col("__i").as("consequent")), "__b")
      .where(col("antecedent") =!= col("consequent"))
      .groupBy("antecedent", "consequent")
      .agg(count(lit(1)).as("n_both"))
      .where(col("n_both") >= minBaskets)
    pairs
      .join(itemCounts.select(col("__i").as("antecedent"),
        col("__c").as("__ca")), "antecedent")
      .join(itemCounts.select(col("__i").as("consequent"),
        col("__c").as("__cb")), "consequent")
      .crossJoin(n)
      .select(col("antecedent"), col("consequent"), col("n_both"),
        idiv(col("n_both") * 1000000L, col("__n")).as("support_ppm"),
        idiv(col("n_both") * 1000000L, col("__ca")).as("confidence_ppm"),
        idiv(col("n_both") * col("__n") * 1000L,
          col("__ca") * col("__cb")).as("lift_milli"))
  }

  /** Temporal sequence rules — the FOLLOWED-BY companion of
    * [[assocRules]] (co-occurrence) and [[transitionMatrix]] (strict
    * adjacency): a user supports a→b when ANY b event lands strictly
    * after an a event within `gapUs`. Support counts users, ppm via
    * truncating division over the distinct-user N.
    *
    * Scale: the pair join is USER-KEYED, so fan-out is bounded by
    * per-user activity² — fine for bounded per-user event rates; a
    * heavy-tailed log should pre-cap per-user events (or dedup to one
    * event per (user, type, gap/2 bucket), an exists-preserving
    * witness up to bucket rounding) before this op. The distinct on
    * (user, a, b) collapses the fan-out BEFORE the global rule
    * aggregate, so only |users|·|types|² rows reach the final shuffle.
    */
  def seqRules(df: DataFrame, userCol: String, typeCol: String,
               tsCol: String, gapUs: Long, minUsers: Long = 1L): DataFrame = {
    import graft.functions.PixieFunctions.nsToUs
    val e = df.where(col(userCol).isNotNull && col(typeCol).isNotNull)
      .select(col(userCol).as("__u"), col(typeCol).as("__et"),
        nsToUs(col(tsCol)).as("__ts"))
    val n = broadcast(e.select("__u").distinct()
      .agg(count(lit(1)).as("__n")))
    val pairs = e.select(col("__u"), col("__et").as("antecedent"),
        col("__ts").as("__ta"))
      .join(e.select(col("__u"), col("__et").as("consequent"),
        col("__ts").as("__tb")), "__u")
      .where(col("antecedent") =!= col("consequent") &&
        col("__tb") > col("__ta") && col("__tb") <= col("__ta") + gapUs)
      .select("__u", "antecedent", "consequent").distinct()
      .groupBy("antecedent", "consequent")
      .agg(count(lit(1)).as("n_users"))
      .where(col("n_users") >= minUsers)
    pairs.crossJoin(n)
      .select(col("antecedent"), col("consequent"), col("n_users"),
        idiv(col("n_users") * 1000000L, col("__n")).as("support_ppm"))
  }

  /** Two-proportion A/B report with the χ² test statistic in its
    * exact 2×2 closed form χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) —
    * conversion = the subject emitted `target` at least once; variant
    * from `variantCol` (deterministic hash/parity assignment). Also
    * reports the SRM (sample-ratio-mismatch) χ² of the observed split
    * vs 50/50, the guardrail every experiment readout checks first.
    *
    * Exactness: a/b/c/d are exact longs from one subject-keyed
    * aggregate; (ad−bc) is exact in long (bounded by N²/4 —
    * ~6e9 subjects before it needs decimal); both χ² values are ONE
    * fixed double formula over the exact counts. Rates in ppm via
    * truncating division.
    */
  def abChiSquare(df: DataFrame, subjectCol: String, variantCol: Column,
                  typeCol: String, target: String): DataFrame = {
    // the variant is part of the GROUP key (not a first() pick): it
    // must be functionally dependent on the subject, and grouping on
    // it keeps the op deterministic by construction
    val per = df.where(col(subjectCol).isNotNull)
      .withColumn("__v", variantCol)
      .groupBy(col(subjectCol), col("__v"))
      .agg(max(when(col(typeCol) === target, 1L).otherwise(0L))
        .as("__conv"))
    val cells = per.agg(
      sum(when(col("__v") === 0 && col("__conv") === 1, 1L)
        .otherwise(0L)).as("__a"),
      sum(when(col("__v") === 0 && col("__conv") === 0, 1L)
        .otherwise(0L)).as("__b"),
      sum(when(col("__v") =!= 0 && col("__conv") === 1, 1L)
        .otherwise(0L)).as("__c"),
      sum(when(col("__v") =!= 0 && col("__conv") === 0, 1L)
        .otherwise(0L)).as("__d"))
    val na = col("__a") + col("__b"); val nb = col("__c") + col("__d")
    val nn = na + nb
    val det = col("__a") * col("__d") - col("__b") * col("__c")
    // denominator factors multiply in DOUBLE: the long product is N^4
    // and would overflow past ~55k subjects; det stays long-exact
    // (bounded N²/4, ~6e9 subjects)
    val den = na.cast("double") * nb.cast("double") *
      (col("__a") + col("__c")).cast("double") *
      (col("__b") + col("__d")).cast("double")
    cells.select(
      na.as("n_a"), nb.as("n_b"),
      col("__a").as("conv_a"), col("__c").as("conv_b"),
      when(na > 0, idiv(col("__a") * 1000000L, na)).as("rate_a_ppm"),
      when(nb > 0, idiv(col("__c") * 1000000L, nb)).as("rate_b_ppm"),
      when(na > 0 && nb > 0 && col("__a") + col("__c") > 0 &&
          col("__b") + col("__d") > 0,
        round(nn.cast("double") * det.cast("double")
          * det.cast("double") / den, 6)).as("chi2"),
      when(nn > 0, round((na - nb).cast("double")
        * (na - nb).cast("double") / nn.cast("double"), 6))
        .as("srm_chi2"))
  }

  /** CUPED variance reduction (Deng et al., WSDM 2013): the adjusted
    * post-period metric Y − θ·(X − mean(X)) with θ = cov(X,Y)/var(X)
    * from the PRE-period covariate X — the industry-standard
    * experiment readout that removes pre-existing user variance.
    * Reports per-variant n, raw post mean, and adjusted mean.
    *
    * Exactness: per-subject pre/post totals are cent-quantized exact
    * longs; θ's covariance/variance come from DECIMAL(38) moments
    * (the [[Fit.corrMatrix]] contract — products overflow long), and
    * the adjusted mean per variant is the closed form
    * mean(Y|v) − θ·(mean(X|v) − mean(X)) — a fixed double expression
    * over exact sums, no per-subject double stage at all.
    *
    * Scale: one subject-keyed aggregate, one global moment aggregate
    * (O(1) row), one variant-keyed aggregate — three keyed shuffles,
    * output O(#variants).
    */
  def cuped(df: DataFrame, subjectCol: String, variantCol: Column,
            valueCol: Column, tsCol: String, splitNs: Long): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val cents = floor(valueCol * 100.0 + 0.5).cast("long")
    // NaN rows are dropped like rocAuc does: the non-ANSI cast would
    // silently count NaN spend as 0 cents while the oracle's CAST
    // raises — engine/oracle divergence either way (null values are
    // fine: conditional sums skip them identically on both engines)
    val per = df.where(col(subjectCol).isNotNull &&
        !isnan(valueCol.cast("double")))
      .withColumn("variant", variantCol)
      .groupBy(col(subjectCol), col("variant"))
      .agg(coalesce(sum(when(col(tsCol) < splitNs, cents)), lit(0L))
          .as("__x"),
        coalesce(sum(when(col(tsCol) >= splitNs, cents)), lit(0L))
          .as("__y"))
    val m = broadcast(per.agg(count(lit(1)).as("__nn"),
      sum(col("__x").cast(dec)).as("__sx"),
      sum(col("__y").cast(dec)).as("__sy"),
      sum((col("__x").cast(dec)) * col("__x").cast(dec)).as("__sxx"),
      sum((col("__x").cast(dec)) * col("__y").cast(dec)).as("__sxy")))
    val dxx = col("__nn") * col("__sxx") - col("__sx") * col("__sx")
    val dxy = col("__nn") * col("__sxy") - col("__sx") * col("__sy")
    val theta = when(dxx > 0,
      dxy.cast("double") / dxx.cast("double")).otherwise(lit(0.0d))
    per.groupBy("variant")
      .agg(count(lit(1)).as("n_subjects"),
        sum(col("__x")).as("__sxv"), sum(col("__y")).as("__syv"))
      .crossJoin(m)
      .select(col("variant"), col("n_subjects"),
        zround(col("__syv").cast("double") / 100.0 / col("n_subjects"), 6)
          .as("mean_post"),
        zround((col("__syv").cast("double") / col("n_subjects")
          - theta * (col("__sxv").cast("double") / col("n_subjects")
            - col("__sx").cast("double") / col("__nn"))) / 100.0, 6)
          .as("mean_adjusted"))
  }

  /** Gap-based sessionization: consecutive events of a user more than
    * `gapUs` apart open a new session (the classic 30-minute web
    * session; the island-labeling view of [[debounce]]'s burst rule,
    * but returning the SESSION TABLE itself — one row per session with
    * its event count, start/end, and duration). Session ids are
    * 1-based per user in start-time order, so they are stable across
    * engines and partitionings; ts ties cannot flip a boundary (a zero
    * delta never exceeds a positive gap) and session stats are
    * order-independent aggregates.
    *
    * Scale: both windows are USER-keyed (partitionBy user) — state is
    * one user's events, never a global sort; the session rollup is one
    * keyed aggregate. The canonical pre-step for session-level features
    * (funnel-within-session, dwell time, engagement depth).
    */
  def sessionize(df: DataFrame, userCol: String, tsCol: String,
                 gapUs: Long): DataFrame =
    sessionAssign(df, userCol, tsCol, gapUs)
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("__tus")).as("start_us"), max(col("__tus")).as("end_us"))
      .withColumn("dur_us", col("end_us") - col("start_us"))

  /** Per-EVENT session assignment — [[sessionize]] before its rollup:
    * the input rows (plus the internal `__tus` microsecond column)
    * with each row's 1-based `session_id`. The building block for any
    * within-session analysis (session funnels, dwell sequences,
    * engagement depth). Same user-keyed windows; null users dropped.
    */
  def sessionAssign(df: DataFrame, userCol: String, tsCol: String,
                    gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gapUs > 0, "sessionAssign: gapUs > 0")
    val w = Window.partitionBy(userCol).orderBy("__tus")
    df.where(col(userCol).isNotNull)
      .withColumn("__tus",
        graft.functions.PixieFunctions.nsToUs(col(tsCol)))
      .withColumn("__new",
        when(col("__tus") - lag(col("__tus"), 1).over(w) <= gapUs, 0L)
          .otherwise(1L))
      .withColumn("session_id", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new")
  }

  /** Within-session two-stage funnel: of the sessions whose events
    * include stage A, the share that also contain stage B at-or-after
    * the session's FIRST A — the "did they convert in the same visit"
    * read the user-level funnel ([[funnelTimes]]) deliberately isn't.
    * One [[sessionAssign]] pass + one (user, session)-keyed aggregate;
    * output is ONE row (counts + ppm).
    */
  def sessionFunnel(df: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, gapUs: Long,
                    stageA: String, stageB: String): DataFrame = {
    val per = sessionAssign(df, userCol, tsCol, gapUs)
      .groupBy(col(userCol), col("session_id"))
      .agg(min(when(col(typeCol) === stageA, col("__tus"))).as("__a"),
        max(when(col(typeCol) === stageB, col("__tus"))).as("__b"))
    per.agg(count(lit(1)).as("n_sessions"),
        sum(when(col("__a").isNotNull, 1L).otherwise(0L))
          .as("n_with_first"),
        sum(when(col("__a").isNotNull && col("__b") >= col("__a"), 1L)
          .otherwise(0L)).as("n_converted"))
      .select(col("n_sessions"), col("n_with_first"), col("n_converted"),
        when(col("n_with_first") > 0,
          idiv(col("n_converted") * 1000000L, col("n_with_first")))
          .as("conv_ppm"))
  }

  /** EWMA anomaly bins with an EXACT binary half-life: the smoothing
    * weight for the count `i` buckets back is `2^(40-i)` over a
    * 40-bucket horizon, so the weighted history
    * `W(b) = Σ_{i=1..40} c(b-i) · 2^(40-i)` is a plain integer sum
    * (denominator `2^40 − 1`), and `ewma_milli = W·1000 // (2^40−1)`
    * is truncating integer division — bit-identical in any engine, no
    * libm, no float accumulation (the α=1/2 EWMA every cross-engine
    * float recursion gets wrong). Emits each type's top-`topK` bins by
    * |c·1000 − ewma_milli| among FULL-horizon bins (b ≥ b0+40).
    *
    * Scale: the 40 lags run per type over the TIME-bound zero-filled
    * grid ([[countGrid]]), never over raw events.
    */
  def ewmaAnomalies(df: DataFrame, typeCol: String, tsCol: String,
                    binUs: Long, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val horizon = 40
    val denom = (1L << horizon) - 1L
    val g = countGrid(df, typeCol, tsCol, binUs)
    val w = Window.partitionBy("et").orderBy("b")
    val weighted = (1 to horizon).map(i =>
      shiftleft(coalesce(lag(col("c"), i).over(w), lit(0L)), horizon - i))
      .reduce(_ + _)
    val b0 = Window.partitionBy("et")
    val scored = g
      .withColumn("__w", weighted)
      .withColumn("__b0", min(col("b")).over(b0))
      .where(col("b") >= col("__b0") + horizon)
      // staged division (both engines truncate nonneg identically):
      // W*1000 would overflow long once per-bucket counts pass ~8e6
      // (W ≤ max_c·(2^40−1) ≈ max_c·1.1e12); W%denom < 2^40 keeps the
      // scaled remainder term under 1.1e15 at ANY count scale
      .withColumn("ewma_milli",
        idiv(col("__w"), lit(denom)) * 1000L +
          idiv(pmod(col("__w"), lit(denom)) * 1000L, lit(denom)))
      .withColumn("dev_milli", col("c") * 1000L - col("ewma_milli"))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("et")
        .orderBy(abs(col("dev_milli")).desc, col("b"))).cast("int"))
      .where(col("rank") <= topK)
      .select(col("et").as("event_type"), col("rank"), col("b").as("bin"),
        col("c"), col("ewma_milli"), col("dev_milli"))
  }

  /** Seasonal-naive forecast backtest: predict each bucket's count
    * with the SAME BUCKET ONE SEASON AGO (lag `season`, e.g. 168 for
    * weekly seasonality on an hourly grid) and report the error the
    * cheapest competent forecaster makes — the baseline every real
    * forecasting effort must beat, and the drift read when it suddenly
    * degrades. Errors are exact integers: MAE in milli-events
    * (staged division), WAPE in ppm (Σ|err| / Σ actual), and the
    * MASE-style ratio vs the lag-1 naive in ppm (< 1e6 means the
    * seasonal model beats last-bucket persistence). Only full-horizon
    * bins (b ≥ b0 + season) are scored.
    *
    * Scale: two lags over the TIME-bound zero-filled grid + one keyed
    * aggregate — nothing data-bound beyond the count grid.
    */
  def seasonalNaiveError(df: DataFrame, typeCol: String, tsCol: String,
                         binUs: Long, season: Int = 168): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(season >= 2, "seasonalNaiveError: season >= 2")
    val w = Window.partitionBy("et").orderBy("b")
    val g = countGrid(df, typeCol, tsCol, binUs)
      .withColumn("__ps", lag(col("c"), season).over(w))
      .withColumn("__p1", lag(col("c"), 1).over(w))
      .withColumn("__b0", min(col("b")).over(Window.partitionBy("et")))
      .where(col("b") >= col("__b0") + season.toLong)
    g.groupBy(col("et").as("event_type"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("c")).as("__actual"),
        sum(abs(col("c") - col("__ps"))).as("__es"),
        sum(abs(col("c") - col("__p1"))).as("__e1"))
      .select(col("event_type"), col("n_bins"),
        idiv(col("__es") * 1000L, col("n_bins")).as("mae_milli"),
        when(col("__actual") > 0,
          idiv(col("__es") * 1000000L, col("__actual"))).as("wape_ppm"),
        when(col("__e1") > 0,
          idiv(col("__es") * 1000000L, col("__e1"))).as("vs_naive1_ppm"))
  }

  /** Persisted SESSIONIZATION state — the batch-IVM twin of
    * [[graft.streaming.Streaming.sessionize]]: `path/closed` holds the
    * finished sessions (append-only at scale; session rows, never raw
    * events), `path/open` holds each user's open tail
    * (start/last/count — O(users)). The gap width travels with the
    * state and a mismatched fold is refused (a different gap would
    * merge sessions the writer split).
    */
  def writeSessionState(df: DataFrame, userCol: String, tsCol: String,
                        gapUs: Long, path: String): Unit = {
    val sess = sessionize(df, userCol, tsCol, gapUs)
    val mx = sess.groupBy(col(userCol)).agg(max("session_id").as("__mx"))
    val withMx = sess.join(mx, userCol)
    withMx.where(col("session_id") === col("__mx"))
      .select(col(userCol), col("start_us"), col("end_us").as("last_us"),
        col("n_events"))
      .withColumn("__gapus", lit(gapUs))
      .write.parquet(s"$path/open")
    withMx.where(col("session_id") < col("__mx"))
      .select(col(userCol), col("start_us"), col("end_us"),
        col("n_events"))
      .write.parquet(s"$path/closed")
  }

  /** Fold a delta into persisted [[writeSessionState]] WITHOUT
    * rescanning old events — the hard IVM case of the state family
    * (sessions MERGE at the fold boundary): the delta sessionizes on
    * its own, each user's FIRST delta session either extends the
    * stored open tail (gap bridged) or closes it, and everything else
    * passes through. Returns the full session table — row-identical to
    * a from-scratch [[sessionize]] over state ∪ delta (q469's oracle)
    * — with session ids re-ranked per user at read time (one
    * user-keyed window over SESSION rows, not events).
    *
    * Watermark contract: every delta event of a user must be at or
    * after the user's stored `last_us` (time-cut deltas satisfy this);
    * out-of-order history would need re-sessionizing the affected
    * users from raw events — by design not this op's path.
    */
  def foldSessionState(spark: org.apache.spark.sql.SparkSession,
                       path: String, delta: DataFrame, userCol: String,
                       tsCol: String, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = sessionize(delta, userCol, tsCol, gapUs)
    val uf = d.schema.fields.find(_.name == userCol).get
    def schemaOf(names: Seq[String]) =
      org.apache.spark.sql.types.StructType(uf +: names.map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType)))
    val open = spark.read
      .schema(schemaOf(Seq("start_us", "last_us", "n_events", "__gapus")))
      .parquet(s"$path/open")
    open.select("__gapus").take(1).foreach { r =>
      require(r.getLong(0) == gapUs,
        s"foldSessionState: state written with gapUs=${r.getLong(0)}, " +
          s"folded with $gapUs")
    }
    val closed = spark.read
      .schema(schemaOf(Seq("start_us", "end_us", "n_events")))
      .parquet(s"$path/closed")
    val d1 = d.where(col("session_id") === 1)
      .select(col(userCol), col("start_us").as("__ds"),
        col("end_us").as("__de"), col("n_events").as("__dn"))
    val rest = d.where(col("session_id") > 1)
      .select(col(userCol), col("start_us"), col("end_us"),
        col("n_events"))
    val o = open.select(col(userCol), col("start_us").as("__os"),
      col("last_us").as("__ol"), col("n_events").as("__on"))
    val head = o.join(d1, Seq(userCol), "full_outer")
      .select(col(userCol), explode(
        when(col("__ds").isNull, array(struct(col("__os").as("s"),
          col("__ol").as("e"), col("__on").as("n"))))
        .when(col("__os").isNull, array(struct(col("__ds").as("s"),
          col("__de").as("e"), col("__dn").as("n"))))
        .when(col("__ds") - col("__ol") <= gapUs,
          array(struct(col("__os").as("s"), col("__de").as("e"),
            (col("__on") + col("__dn")).as("n"))))
        .otherwise(array(
          struct(col("__os").as("s"), col("__ol").as("e"),
            col("__on").as("n")),
          struct(col("__ds").as("s"), col("__de").as("e"),
            col("__dn").as("n"))))).as("t"))
      .select(col(userCol), col("t.s").as("start_us"),
        col("t.e").as("end_us"), col("t.n").as("n_events"))
    closed.unionByName(head).unionByName(rest)
      .withColumn("session_id", row_number().over(
        Window.partitionBy(userCol).orderBy("start_us")).cast("long"))
      .select(col(userCol), col("session_id"), col("n_events"),
        col("start_us"), col("end_us"),
        (col("end_us") - col("start_us")).as("dur_us"))
  }

  /** Inter-arrival time distribution: per event type, the gaps
    * between a user's CONSECUTIVE events of that type, bucketed on a
    * fixed human-scale ladder (<1s, 1s-10s, 10s-1m, 1m-10m, 10m-1h,
    * 1h-6h, 6h-1d, >=1d) — the burstiness/cadence card behind
    * session-gap and rate-limit tuning. Exact integer boundaries
    * (no log floats); one (type, user)-keyed lag window + a
    * grid-sized aggregate. Bucket labels carry an ordering prefix so
    * a plain string sort is the ladder order.
    */
  def interArrival(df: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, tieCol: String = "event_id"): DataFrame = {
    import graft.functions.PixieFunctions.nsToUs
    import org.apache.spark.sql.expressions.Window
    val gaps = df
      .where(col(userCol).isNotNull && col(typeCol).isNotNull)
      .select(col(typeCol).as("event_type"), col(userCol),
        nsToUs(col(tsCol)).as("__tus"), col(tieCol).as("__tie"))
      .withColumn("__gap", col("__tus") -
        lag(col("__tus"), 1).over(Window.partitionBy("event_type", userCol)
          .orderBy(col("__tus"), col("__tie"))))
      .where(col("__gap").isNotNull)
    val b = col("__gap")
    val bucket = when(b < 1000000L, "a_lt_1s")
      .when(b < 10000000L, "b_1s_10s")
      .when(b < 60000000L, "c_10s_1m")
      .when(b < 600000000L, "d_1m_10m")
      .when(b < 3600000000L, "e_10m_1h")
      .when(b < 21600000000L, "f_1h_6h")
      .when(b < 86400000000L, "g_6h_1d")
      .otherwise("h_ge_1d")
    gaps.withColumn("bucket", bucket)
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("share_ppm", idiv(col("n") * 1000000L,
        sum(col("n")).over(Window.partitionBy("event_type"))))
  }
}
