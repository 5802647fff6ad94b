package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Exact.zround

/** Data-quality assertion suite — the dbt/Great-Expectations-style
  * check layer a pipeline runs before promoting a snapshot: not-null,
  * uniqueness, accepted ranges, and referential integrity, each
  * reported as one (check, target, n_violations, n_total, pass) row.
  * All counts are exact keyed aggregates; a full suite over N tables
  * is N scans regardless of how many checks share a table's frame
  * (Catalyst collapses same-frame checks into shared scans under the
  * union).
  */
object Quality {

  private def report(check: String, target: String, violations: Column,
                     df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_total"),
        sum(violations.cast("long")).as("n_violations"))
      .select(lit(check).as("check"), lit(target).as("target"),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"),
        col("n_total"),
        (coalesce(col("n_violations"), lit(0L)) === 0).as("pass"))

  /** Rows where `colName` is null. */
  def notNull(df: DataFrame, table: String, colName: String): DataFrame =
    report("not_null", s"$table.$colName", col(colName).isNull, df)

  /** Rows beyond the first occurrence of their key tuple (0 iff the
    * key is unique); counted via one key-keyed aggregate.
    */
  def unique(df: DataFrame, table: String, cols: Seq[String]): DataFrame = {
    // a unique key implies PRESENCE: every row with any null key
    // column is a violation - the count(*) - count(DISTINCT key)
    // accounting the SQL oracle uses, where DISTINCT drops null
    // tuples entirely, so a null-key group contributes c, not c - 1
    // (round-8c second review)
    val anyNull = cols.map(col(_).isNull).reduce(_ || _)
    val dups = df.groupBy((cols.map(col) :+ anyNull.as("__nk")): _*)
      .agg(count(lit(1)).as("__c"))
      .select(when(col("__nk"), col("__c"))
        .otherwise(col("__c") - 1).as("__extra"), col("__c"))
    dups.agg(sum(col("__extra")).as("n_violations"),
        sum(col("__c")).as("n_total"))
      .select(lit("unique").as("check"),
        lit(s"$table.(${cols.mkString(",")})").as("target"),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"),
        coalesce(col("n_total"), lit(0L)).as("n_total"),
        (coalesce(col("n_violations"), lit(0L)) === 0).as("pass"))
  }

  /** Rows whose value falls outside the CLOSED range [lo, hi] (nulls
    * count as violations — a range check implies presence).
    */
  def acceptedRange(df: DataFrame, table: String, colName: String,
                    lo: Double, hi: Double): DataFrame =
    report("accepted_range", s"$table.$colName",
      col(colName).isNull || col(colName) < lo || col(colName) > hi, df)

  /** Child rows whose key has no match in the parent (orphans); null
    * child keys are orphans too. One left join keyed by the key —
    * broadcast-eligible when the parent key set is dimension-sized.
    */
  def referential(child: DataFrame, childTable: String, childKey: String,
                  parent: DataFrame, parentKey: String): DataFrame = {
    val p = parent.select(col(parentKey).as("__pk")).distinct()
      .withColumn("__hit", lit(1L))
    report("referential", s"$childTable.$childKey",
      col("__hit").isNull,
      child.select(col(childKey).as("__pk")).join(p, Seq("__pk"), "left"))
  }

  /** Union a suite of check reports into the promotion gate table. */
  def suite(checks: Seq[DataFrame]): DataFrame =
    checks.reduce(_ unionByName _)

  /** K-anonymity audit: quasi-identifier combinations observed for
    * fewer than k distinct subjects — the re-identification risk
    * report a release gate runs before publishing event-level data
    * (Sweeney 2002). Emits one row per VIOLATING combination with its
    * subject and row counts; an empty result means the projection is
    * k-anonymous as-is.
    *
    * Scale: one aggregate keyed by the QI tuple (count-distinct over
    * subjects inside each group is Spark's two-level partial
    * aggregate); output is bounded by the violating combinations, not
    * the data.
    */
  def kAnonymity(df: DataFrame, subjectCol: String, qiCols: Seq[String],
                 k: Long): DataFrame = {
    require(qiCols.nonEmpty && k >= 2, "kAnonymity: QI cols and k >= 2")
    df.groupBy(qiCols.map(col): _*)
      .agg(countDistinct(col(subjectCol)).as("n_subjects"),
        count(lit(1)).as("n_rows"))
      .where(col("n_subjects") < k)
  }

  /** Benford first-significant-digit audit per group: observed digit
    * share (ppm) vs the Benford expectation log10(1 + 1/d) — the
    * fabricated-numbers screen for ingested numeric feeds. The
    * leading digit comes from a fixed threshold LADDER over
    * [0.001, 10000): divide for v >= 1, MULTIPLY for v < 1 (identical
    * IEEE arithmetic in every engine, and no 0.3/0.1-style floor
    * misdigit — the division form gets sub-unit digits wrong); values outside the ladder or
    * non-positive are excluded from the digit population. Expected
    * shares are precomputed ppm literals, so dev_ppm is exact integer
    * arithmetic end-to-end. One keyed aggregate; 9 rows per group.
    */
  def benford(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol)
    // sub-unit scales MULTIPLY (floor(v*10)) instead of dividing:
    // 0.3/0.1 is the IEEE classic 2.9999999999999996 whose floor is
    // the WRONG digit, while 0.3*10 rounds to exactly 3.0 — the
    // round-8c review measured 8/10000 fixture values misdigited by
    // the division form (the oracle mirrored it, so the gate was
    // blind). Divisions by 10/100/1000 on v >= 1 are exact at the
    // digit boundaries (integer quotients are representable).
    val digit = Seq(1000.0, 100.0, 10.0, 1.0)
      .foldLeft(lit(null).cast("long")) { (acc, scale) =>
        when(v >= scale && v < scale * 10, floor(v / scale).cast("long"))
          .otherwise(acc)
      }
    val digit2 = Seq((0.1, 10.0), (0.01, 100.0), (0.001, 1000.0))
      .foldLeft(digit) { case (acc, (lo, mult)) =>
        when(v >= lo && v < lo * 10, floor(v * mult).cast("long"))
          .otherwise(acc)
      }
    val digits = df.where(v.isNotNull && v > 0)
      .select(col(groupCol).as("grp"), digit2.as("d"))
      .where(col("d").isNotNull)
    val totals = digits.groupBy("grp").agg(count(lit(1)).as("__n"))
    digits.groupBy("grp", "d").agg(count(lit(1)).as("n"))
      .join(totals, "grp")
      .select(col("grp"), col("d"), col("n"),
        graft.functions.PixieFunctions.idiv(col("n") * 1000000L, col("__n"))
          .as("share_ppm"),
        benfordPpm(col("d")).as("benford_ppm"))
      .withColumn("dev_ppm", col("share_ppm") - col("benford_ppm"))
  }

  /** round(log10(1 + 1/d) * 1e6) for d = 1..9 — fixed literals shared
    * with the oracle SQL (no runtime logarithms on either side).
    */
  val benfordPpmTable: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L,
      51153L, 45757L)

  private def benfordPpm(d: Column): Column =
    benfordPpmTable.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (ppm, i)) => when(d === (i + 1).toLong, lit(ppm)).otherwise(acc)
    }

  /** Gini concentration coefficient of per-key mass (docs per domain,
    * tokens per source): `(2.Sum(rank.x) - (n+1).Sum(x)) / (n.Sum(x))`
    * over keys ranked ascending by (mass, key) — 0 = perfectly even,
    * ->1 = one key holds everything. The diversity topline a mixture
    * report quotes next to the per-domain caps. Staged-integer ppm
    * (`div 1000` twice) so no intermediate exceeds `1000 x Sum(rank.x)`
    * — exact at any corpus size.
    *
    * Scale: one keyed count + one rank window over the KEY table
    * (O(#keys), not data-bound; a 1e9-domain run swaps in the banded
    * rank of [[Corpus.groupPercentile]]).
    */
  def gini(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = df.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("__x"))
      .withColumn("__r", row_number().over(
        Window.orderBy(col("__x"), col("__k"))).cast("long"))
    x.agg(count(lit(1)).as("n_keys"), sum(col("__x")).as("total"),
        sum(col("__r") * col("__x")).as("__rx"))
      .select(col("n_keys"), col("total"),
        graft.functions.PixieFunctions.idiv(
          graft.functions.PixieFunctions.idiv(
            (lit(2L) * col("__rx") - (col("n_keys") + 1L) * col("total"))
              * 1000L, col("n_keys")) * 1000L, col("total"))
          .as("gini_ppm"))
  }

  /** The (group, half, band) count frame shared by [[psiDrift]] and
    * [[ksDrift]]: rows split into time halves at the global µs
    * midpoint (broadcast 1-row bound), values banded by `bandWidth`.
    */
  private def halvedBands(df: DataFrame, groupCol: String, tsCol: String,
                          valueCol: String, bandWidth: Double) = {
    val us = graft.functions.PixieFunctions.nsToUs(col(tsCol))
    val rng = df.agg(min(us).as("__lo"), max(us).as("__hi"))
      .select(graft.functions.PixieFunctions
        .idiv(col("__lo") + col("__hi"), 2L).as("__mid"))
    // null values carry no band: excluded on BOTH engine sides (a
    // NULL band would sort NULLS FIRST in Spark windows but NULLS
    // LAST in DuckDB - round-8c second review)
    df.where(col(valueCol).isNotNull).crossJoin(broadcast(rng))
      .select(col(groupCol).as("grp"),
        when(us <= col("__mid"), 0L).otherwise(1L).as("half"),
        floor(col(valueCol) / bandWidth).cast("long").as("band"))
      .groupBy("grp", "half", "band").agg(count(lit(1)).as("c"))
  }

  /** Population Stability Index per group between the two time halves
    * of a numeric feed — the ML-monitoring drift score
    * `Sum_b (pA_b - pB_b).ln(pA_b / pB_b)` over value bands, Laplace-
    * smoothed over the FIXED band support of exactly `bands` bands
    * (outliers clamp into the edge bands). The FULL support is
    * materialized: under smoothing a band empty in BOTH halves still
    * contributes (1/(ta+B) - 1/(tb+B)).ln((tb+B)/(ta+B)) whenever the
    * half sizes differ — the round-8c review caught the
    * observed-bands-only shortcut silently understating drift.
    * Per-band terms are nano-quantized BEFORE the per-group sum (the
    * [[Corpus.sourceDrift]] contract); the headline is the rounded
    * nat value. PSI > 0.25 is the conventional "investigate" line.
    *
    * Scale: two keyed aggregates + one band-keyed join; output is
    * O(#groups).
    */
  def psiDrift(df: DataFrame, groupCol: String, tsCol: String,
               valueCol: String, bandWidth: Double,
               bands: Int): DataFrame = {
    require(bands >= 2, "psiDrift: bands >= 2")
    val cells = halvedBands(df, groupCol, tsCol, valueCol, bandWidth)
      // the FIXED support is exactly `bands` bands: outliers clamp
      // into the edge bands so the Laplace denominator t + bands is
      // consistent with the materialized support
      .withColumn("band", least(lit(bands.toLong - 1),
        greatest(lit(0L), col("band"))))
      .groupBy("grp", "half", "band").agg(sum(col("c")).as("c"))
    val support = cells.select("grp").distinct()
      .select(col("grp"), explode(sequence(lit(0L),
        lit(bands.toLong - 1))).as("band"))
    val (a, b) = halves(cells)
    val totals = cells.groupBy("grp").agg(
      sum(when(col("half") === 0, col("c"))).as("ta"),
      sum(when(col("half") === 1, col("c"))).as("tb"))
    val pa = (coalesce(col("ca"), lit(0L)) + 1.0) / (col("ta") + bands.toDouble)
    val pb = (coalesce(col("cb"), lit(0L)) + 1.0) / (col("tb") + bands.toDouble)
    support.join(a, Seq("grp", "band"), "left")
      .join(b, Seq("grp", "band"), "left")
      .join(totals.na.fill(0L, Seq("ta", "tb")), "grp")
      .withColumn("__term", psiTerm(pa, pb))
      .groupBy("grp")
      .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
        sum(col("__term")).as("__s"))
      .select(col("grp"), col("n_a"), col("n_b"),
        round(col("__s").cast("double") / 1e9, 6).as("psi"))
  }


  /** Per (grp, band) counts of the first (`ca`) and second (`cb`) half. */
  private def halves(cells: DataFrame): (DataFrame, DataFrame) =
    (cells.where(col("half") === 0)
      .select(col("grp"), col("band"), col("c").as("ca")),
     cells.where(col("half") === 1)
      .select(col("grp"), col("band"), col("c").as("cb")))

  /** Two-sample Kolmogorov-Smirnov drift per group between the two
    * time halves: `D = sup_v |CDF_A(v) - CDF_B(v)|`, evaluated at the
    * observed value bands (both CDFs are step functions, so the sup
    * over jump points IS the sup) in exact integer ppm. Reports D,
    * its location (lowest band on ties), and both sample sizes — the
    * distribution-shape companion of the binned [[psiDrift]].
    *
    * Scale: one keyed aggregate + per-group windows over the BAND
    * grid (value-range-bound, never row-bound).
    */
  def ksDrift(df: DataFrame, groupCol: String, tsCol: String,
              valueCol: String, bandWidth: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = halvedBands(df, groupCol, tsCol, valueCol, bandWidth)
    val (a, b) = halves(cells)
    val w = Window.partitionBy("grp").orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = a.join(b, Seq("grp", "band"), "full_outer")
      .select(col("grp"), col("band"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .withColumn("__cuma", sum(col("ca")).over(w))
      .withColumn("__cumb", sum(col("cb")).over(w))
    val totals = cum.groupBy("grp").agg(sum(col("ca")).as("ta"),
      sum(col("cb")).as("tb"))
    val d = cum.join(totals.where(col("ta") > 0 && col("tb") > 0), "grp")
      .withColumn("__d", abs(
        graft.functions.PixieFunctions.idiv(col("__cuma") * 1000000L,
          col("ta")) -
        graft.functions.PixieFunctions.idiv(col("__cumb") * 1000000L,
          col("tb"))))
      .withColumn("__r", row_number().over(Window.partitionBy("grp")
        .orderBy(col("__d").desc, col("band"))))
    d.where(col("__r") === 1)
      .select(col("grp"), col("ta").as("n_a"), col("tb").as("n_b"),
        col("__d").as("d_ppm"), col("band").as("d_band"))
  }

  /** Mutual information between two categorical columns in nats, with
    * both marginal entropies — the feature-dependence audit ("does
    * hour-of-day carry information about event type") a monitoring
    * stack runs next to the drift detectors. Zero-count cells
    * contribute exactly 0 (0.ln(0) limit), so only OBSERVED cells
    * materialize and no smoothing is needed; per-cell terms are
    * nano-nat quantized BEFORE the sums (the [[Corpus.sourceDrift]]
    * contract), entropies use the p.ln(N/c) >= 0 form.
    *
    * Scale: one (a,b)-keyed count + two marginal aggregates + keyed
    * joins; N travels as a broadcast 1-row frame. Output is one row.
    */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("c"))
    val ca = cells.groupBy("a").agg(sum(col("c")).as("ca"))
    val cb = cells.groupBy("b").agg(sum(col("c")).as("cb"))
    val n = cells.agg(sum(col("c")).as("N"))
    def nanoTerm(p: Column, logArg: Column): Column =
      floor(p * log(logArg) * 1e9 + 0.5).cast("long")
    val mi = cells.join(ca, "a").join(cb, "b").crossJoin(broadcast(n))
      .agg(count(lit(1)).as("n_cells"),
        sum(nanoTerm(col("c").cast("double") / col("N").cast("double"),
          (col("c").cast("double") * col("N").cast("double"))
            / (col("ca").cast("double") * col("cb").cast("double"))))
          .as("__mi"))
    def entropy(m: DataFrame, cc: String, name: String) =
      m.crossJoin(broadcast(n))
        .agg(sum(nanoTerm(col(cc).cast("double") / col("N").cast("double"),
          col("N").cast("double") / col(cc).cast("double"))).as(name))
    mi.crossJoin(entropy(ca, "ca", "__ha"))
      .crossJoin(entropy(cb, "cb", "__hb"))
      .select(col("n_cells"),
        zround(col("__mi").cast("double") / 1e9, 6).as("mi_nats"),
        round(col("__ha").cast("double") / 1e9, 6).as("h_a_nats"),
        round(col("__hb").cast("double") / 1e9, 6).as("h_b_nats"))
  }

  /** L-diversity audit (Machanavajjhala et al., ICDE 2006) — the
    * companion of [[kAnonymity]]: a QI class can be k-anonymous and
    * still leak if every member shares ONE sensitive value, so classes
    * whose distinct-sensitive count falls below `l` are the disclosure
    * report. Null sensitive values are excluded up front on BOTH
    * engine sides (count(DISTINCT) drops them anyway — the null-parity
    * contract), so a null never masquerades as diversity. One keyed
    * aggregate; output is only the violating classes.
    */
  def lDiversity(df: DataFrame, sensitiveCol: String, qiCols: Seq[String],
                 l: Long): DataFrame = {
    require(qiCols.nonEmpty && l >= 2, "lDiversity: QI cols and l >= 2")
    df.where(col(sensitiveCol).isNotNull)
      .groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .where(col("n_sensitive") < l)
  }

  /** T-closeness audit (Li et al., ICDE 2007), total-variation form:
    * per QI class, TVD = ½·Σ_s |p_class(s) − p_global(s)| between the
    * class's sensitive-value distribution and the corpus-wide one —
    * the refinement that catches classes whose values are diverse but
    * SKEWED (e.g. 90% one diagnosis where the population has 10%).
    *
    * Exactness: probabilities are nano-quantized via truncating
    * integer division ((c·1e9) div n — positive operands, so `div` and
    * DuckDB `//` agree exactly); sensitive values ABSENT from a class
    * contribute their global mass through the closed form
    * Σ_absent p_g = G − Σ_present p_g with G = Σ_all p_g_nano a 1-row
    * broadcast constant — so the class×sensitive support is never
    * materialized (no cross join, sparse cells only). ONE final double
    * division maps nano-TVD to [0,1].
    *
    * Scale: three keyed aggregates over the sparse (class, s) cells +
    * one s-keyed join + a broadcast scalar; output is one row per QI
    * class. c·1e9 bounds the exact path to ~9e9 rows per sensitive
    * value; beyond that drop to 1e6 quantization (same formula).
    */
  def tCloseness(df: DataFrame, sensitiveCol: String,
                 qiCols: Seq[String]): DataFrame = {
    require(qiCols.nonEmpty, "tCloseness: QI cols required")
    import graft.functions.PixieFunctions.idiv
    // null-QI rows are excluded EXPLICITLY: the keyed joins below
    // cannot carry a null class (equi-joins drop null keys), so
    // without this filter a null class would survive the groupBy but
    // silently vanish at the join — unlike [[kAnonymity]]/[[lDiversity]],
    // which are pure GROUP BYs and retain null classes. Pre-coalesce
    // nulls to a sentinel for a unified view across the ladder.
    val qiNotNull = qiCols.map(col(_).isNotNull).reduce(_ && _)
    val base = df.where(col(sensitiveCol).isNotNull && qiNotNull)
    val cells = base
      .groupBy((qiCols.map(col) :+ col(sensitiveCol).as("__s")): _*)
      .agg(count(lit(1)).as("__c"))
    val classes = cells.groupBy(qiCols.map(col): _*)
      .agg(sum(col("__c")).as("n_q"))
    val nn = cells.agg(sum(col("__c")).as("__n"))
    val global = cells.groupBy("__s").agg(sum(col("__c")).as("__cg"))
      .crossJoin(broadcast(nn))
      .select(col("__s"), idiv(col("__cg") * 1000000000L, col("__n"))
        .as("__pg"))
    val gTotal = broadcast(global.agg(sum(col("__pg")).as("__g")))
    cells.join(classes, qiCols).join(global, "__s")
      .select((qiCols.map(col) :+ col("n_q") :+
        idiv(col("__c") * 1000000000L, col("n_q")).as("__pq") :+
        col("__pg")): _*)
      .groupBy((qiCols.map(col) :+ col("n_q")): _*)
      .agg(sum(abs(col("__pq") - col("__pg"))).as("__present"),
        sum(col("__pg")).as("__pgSum"))
      .crossJoin(gTotal)
      .select((qiCols.map(col) :+ col("n_q") :+
        round((col("__present") + col("__g") - col("__pgSum"))
          .cast("double") / 2e9, 6).as("tvd")): _*)
  }

  /** Pareto / ABC concentration report — the per-key companion of
    * [[gini]]'s scalar: keys ranked by value, cumulative share in ppm,
    * and the classic A (≤ `aPpm`), B (≤ `bPpm`), C classification the
    * 80/20 inventory rule uses. Values are cent-quantized PER ROW
    * before the keyed sum (the engine-exactness contract), the rank
    * tie-breaks key-ascending, and the running sum uses an explicit
    * ROWS frame (a RANGE frame would pool tied values and both engines
    * would still agree — but ROWS + total order is the deterministic
    * contract everywhere else in this repo).
    *
    * Scale: the fact table collapses to one row per key FIRST (keyed
    * agg), so the rank/cumsum window runs over the dimension, not the
    * corpus. The window is globally ordered — fine to ~1e8 keys;
    * beyond that swap in the banded two-level prefix sum of
    * [[graft.ops.Corpus.groupPercentile]]. cum_cents·1e6 bounds the
    * exact path to ~9e12 total cents; rescale to basis points past it.
    */
  def paretoAbc(df: DataFrame, keyCol: String, valueCol: Column,
                aPpm: Long = 800000L, bPpm: Long = 950000L): DataFrame = {
    import graft.functions.PixieFunctions.idiv
    import org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(keyCol))
      .agg(sum(floor(valueCol * 100.0 + 0.5).cast("long")).as("cents"))
    val tot = broadcast(per.agg(sum(col("cents")).as("__total")))
    // the key tie-break pins nulls LAST: Spark's default asc is
    // NULLS FIRST while DuckDB's oracle ORDER BY is NULLS LAST — a
    // null key group tying on cents would otherwise swap ranks
    val w = Window.orderBy(col("cents").desc, col(keyCol).asc_nulls_last)
    per.crossJoin(tot)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__cum", sum(col("cents")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col(keyCol), col("rank"), col("cents"),
        idiv(col("__cum") * 1000000L, col("__total")).as("cum_ppm"))
      .withColumn("abc_class", when(col("cum_ppm") <= aPpm, "A")
        .when(col("cum_ppm") <= bPpm, "B").otherwise("C"))
  }

  /** Population Stability Index — the standard day-over-day drift
    * monitor an ingest pipeline alarms on (PSI ≥ 0.25 = population
    * shift; the credit-scoring/ML-monitoring convention): over a
    * categorical column, PSI = Σ_bins (p − q)·ln(p/q) between the
    * BASE and CURRENT distributions, add-one smoothed over the union
    * of observed categories so a category seen on only one side
    * contributes a finite term instead of ±∞.
    *
    * Exactness contract: p and q are exact integer-count ratios; each
    * bin's term is quantized to 1e-9 BEFORE the sum (the
    * [[graft.ops.Corpus.lmScore]] micro-nat pattern), so the result
    * is identical at any partitioning and re-derivable by any engine
    * from the same counts. Scale: two category-keyed aggregates (each
    * one shuffle of category-cardinality size) + one model-sized
    * outer join — the scan dominates, as it must.
    */
  def psi(base: DataFrame, cur: DataFrame, catCol: String): DataFrame = {
    def cnt(df: DataFrame, n: String) =
      df.where(col(catCol).isNotNull).groupBy(catCol)
        .agg(count(lit(1)).as(n))
    val j = cnt(base, "__b").join(cnt(cur, "__c"), Seq(catCol), "full")
      .na.fill(0L, Seq("__b", "__c"))
    val tot = j.agg(sum(col("__b")).as("__tb"), sum(col("__c")).as("__tc"),
      count(lit(1)).as("__k"))
    j.crossJoin(broadcast(tot))
      .select(psiShares: _*)
      .select(psiTerm(col("p"), col("q")).as("t_q"))
      .agg(psiBins.head, psiBins.tail: _*)
  }

  /** Add-one smoothed shares `p` (base) and `q` (current) of a bin. */
  private def psiShares: Seq[Column] = Seq(
    ((col("__b") + 1.0) / (col("__tb") + col("__k"))).as("p"),
    ((col("__c") + 1.0) / (col("__tc") + col("__k"))).as("q"))

  /** One bin's PSI term (p − q)·ln(p / q), nano-quantized before any
    * sum so the total is exact at any partitioning.
    */
  private def psiTerm(p: Column, q: Column): Column =
    floor((p - q) * log(p / q) * 1e9 + 0.5).cast("long")

  /** The bin count and the PSI total of the `t_q` terms. */
  private def psiBins: Seq[Column] = Seq(count(lit(1)).as("n_bins"),
    graft.core.Exact.zround(sum(col("t_q")) / 1e9, 6).as("psi"))

  /** [[psi]] against MANY comparison periods in ONE pass over each
    * input (the daily drift panel a monitor actually renders): the
    * base contributes one category aggregate, the current side one
    * (period, category) aggregate, and everything after — per-period
    * category alignment (base cats appear in every period, add-one
    * smoothing needs the union), totals, quantized terms — is joins
    * over MODEL-sized count tables. The N-period panel costs the same
    * two scans as one [[psi]] call, not 2N.
    */
  def psiPanel(base: DataFrame, cur: DataFrame, catCol: String,
               periodCol: String): DataFrame = {
    val bc = base.where(col(catCol).isNotNull).groupBy(catCol)
      .agg(count(lit(1)).as("__b"))
    val cc = cur.where(col(catCol).isNotNull && col(periodCol).isNotNull)
      .groupBy(periodCol, catCol).agg(count(lit(1)).as("__c"))
    val frame = cc.select(periodCol).distinct()
      .crossJoin(broadcast(bc.select(catCol)))
      .unionByName(cc.select(periodCol, catCol)).distinct()
    val j = frame.join(broadcast(bc), Seq(catCol), "left")
      .join(broadcast(cc), Seq(periodCol, catCol), "left")
      .na.fill(0L, Seq("__b", "__c"))
    val tot = j.groupBy(periodCol)
      .agg(sum(col("__b")).as("__tb"), sum(col("__c")).as("__tc"),
        count(lit(1)).as("__k"))
    j.join(broadcast(tot), Seq(periodCol))
      .select(col(periodCol) +: psiShares: _*)
      .select(col(periodCol), psiTerm(col("p"), col("q")).as("t_q"))
      .groupBy(periodCol)
      .agg(psiBins.head, psiBins.tail: _*)
  }

  /** Per (group `__g`, cent value `__c`) counts `__k` of the non-null,
    * non-NaN values, and the same rows with the cumulative count
    * `__cum` in cent order and the group size `__n`.
    */
  private def centCounts(df: DataFrame, groupCol: String,
                         valueCol: Column): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val g = df
      .where(col(groupCol).isNotNull &&
        valueCol.isNotNull && !isnan(valueCol.cast("double")))
      .select(col(groupCol).as("__g"),
        floor(valueCol * 100.0 + 0.5).cast("long").as("__c"))
      .groupBy("__g", "__c").agg(count(lit(1)).as("__k"))
    val w = Window.partitionBy("__g").orderBy("__c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (g, g
      .withColumn("__cum", sum(col("__k")).over(w))
      .withColumn("__n", sum(col("__k")).over(Window.partitionBy("__g"))))
  }

  /** The rank ceil(ppm·n / 1e6) of quantile `ppm` in a group of `__n`. */
  private def centRank(ppm: Long): Column =
    graft.functions.PixieFunctions.idiv(col("__n") * ppm + 999999L,
      lit(1000000L))

  /** Winsorized (outlier-capped) mean per group: values clamp to the
    * exact [pLo, pHi] order statistics before averaging — the robust
    * metric read that one fat-fingered 1e9 row cannot move, reported
    * next to the raw mean so the gap itself is the outlier signal.
    *
    * Exactness: values are cent-quantized; the percentile bounds are
    * ORDER STATISTICS at ranks ceil(p·n)/1e6 (the smallest cent value
    * whose cumulative count reaches the rank — integer arithmetic, no
    * interpolation), so both bounds and the clamped sum are exact
    * integers in any engine.
    *
    * Scale: one (group, cents) keyed aggregate; the cumulative window
    * runs over the DISTINCT-cents table per group (the ROC rank-sum
    * shape), never over raw rows; the clamped sum re-aggregates the
    * same distinct table against the broadcast O(#groups) bounds.
    */
  def winsorizedMean(df: DataFrame, groupCol: String, valueCol: Column,
                     loPpm: Long = 50000L, hiPpm: Long = 950000L): DataFrame = {
    require(0 <= loPpm && loPpm < hiPpm && hiPpm <= 1000000L,
      "winsorizedMean: 0 <= loPpm < hiPpm <= 1e6")
    // centCounts excludes null groups EXPLICITLY: the bounds join below
    // is an equi-join, which silently drops null keys a groupBy would
    // keep (the tCloseness lesson) — make the contract loud instead.
    val (g, cum) = centCounts(df, groupCol, valueCol)
    val bounds = cum.groupBy(col("__g"))
      .agg(max(col("__n")).as("n"),
        min(when(col("__cum") >= centRank(loPpm), col("__c"))).as("__lo"),
        min(when(col("__cum") >= centRank(hiPpm), col("__c"))).as("__hi"))
    g.join(bounds, "__g")
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("n")).as("n"),
        max(col("__lo")).as("lo_cents"), max(col("__hi")).as("hi_cents"),
        sum(col("__k") * col("__c")).as("__raw"),
        sum(col("__k") *
          greatest(least(col("__c"), col("__hi")), col("__lo"))).as("__win"))
      .select(col(groupCol), col("n"), col("lo_cents"), col("hi_cents"),
        zround(col("__raw").cast("double") / 100.0 / col("n"), 6)
          .as("mean_raw"),
        zround(col("__win").cast("double") / 100.0 / col("n"), 6)
          .as("mean_winsorized"))
  }

  /** Exact percentile bands per group — the metrics-dashboard quantile
    * row (p25/p50/p75/p90/p99) as true order statistics over
    * cent-quantized values: band `p` is the smallest cent value whose
    * cumulative count reaches rank ceil(p·n) (the [[winsorizedMean]]
    * rank convention — integer arithmetic, no interpolation, so both
    * engines agree bit for bit; the t-digest UDA is the sketched
    * sibling when exactness can be traded for one pass).
    *
    * Scale: one (group, cents) aggregate; the cumulative window runs
    * over the DISTINCT-cents table per group, never raw rows.
    */
  def quantileBands(df: DataFrame, groupCol: String, valueCol: Column,
                    bands: Seq[(String, Long)] = Seq(
                      "p25" -> 250000L, "p50" -> 500000L,
                      "p75" -> 750000L, "p90" -> 900000L,
                      "p99" -> 990000L)): DataFrame = {
    require(bands.nonEmpty &&
      bands.forall { case (_, p) => p > 0 && p <= 1000000L },
      "quantileBands: band ppms in (0, 1e6]")
    val (_, cum) = centCounts(df, groupCol, valueCol)
    cum.groupBy(col("__g").as(groupCol))
      .agg(max(col("__n")).as("n"),
        bands.map { case (nm, p) =>
          min(when(col("__cum") >= centRank(p), col("__c")))
            .as(s"${nm}_cents")
        }: _*)
  }

  /** Column profile — the Deequ-style per-column stats card (row/null
    * counts, null share, exact distinct count, quantized min/max) a
    * pipeline snapshots before and after every promotion so schema
    * drift is a diff, not a surprise. Each entry supplies its own
    * LONG-quantized view (ids as-is, doubles as cents, timestamps as
    * epoch-us, strings typically as lengths); a null quantized value
    * counts as null (so a NaN-mapping quantizer reports NaNs in
    * null_count — the caller's documented choice).
    *
    * Shape: ONE aggregate over all columns' stats at once (a single
    * scan of the input regardless of how many columns are profiled —
    * the multiple distinct counts become one Expand + aggregate, not
    * N scans), then the single stats row is exploded into one output
    * row per profiled column.
    */
  def columnProfile(df: DataFrame,
                    cols: Seq[(String, Column)]): DataFrame = {
    import graft.functions.PixieFunctions.idiv
    require(cols.nonEmpty, "columnProfile: at least one column")
    val perCol = cols.zipWithIndex.flatMap { case ((_, q), i) => Seq(
      sum(when(q.isNull, 1L).otherwise(0L)).as(s"__null_$i"),
      countDistinct(q).as(s"__nd_$i"),
      min(q).as(s"__min_$i"), max(q).as(s"__max_$i")) }
    val one = df.agg(count(lit(1)).as("__n_rows"), perCol: _*)
    one.select(explode(array(cols.zipWithIndex.map { case ((nm, _), i) =>
        struct(lit(nm).as("column"), col("__n_rows").as("n_rows"),
          coalesce(col(s"__null_$i"), lit(0L)).as("n_null"),
          col(s"__nd_$i").as("n_distinct"),
          col(s"__min_$i").as("min_q"), col(s"__max_$i").as("max_q"))
      }: _*)).as("__r"))
      .select(col("__r.column"), col("__r.n_rows"), col("__r.n_null"),
        idiv(col("__r.n_null") * 1000000L,
          greatest(col("__r.n_rows"), lit(1L))).as("null_ppm"),
        col("__r.n_distinct"), col("__r.min_q"), col("__r.max_q"))
  }
}
