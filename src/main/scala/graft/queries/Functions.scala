package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.PixieFunctions._
import graft.functions.Aggregators
import Q._

/** SURVEY §2.4/§2.5 function-surface coverage: px.bin windows, json pluck,
  * string/math/regex/conditional ops, time math, quantiles (exact +
  * t-digest UDA), deterministic sample UDA. All integer-typed outputs are
  * long (DuckDB returns BIGINT); ulp-sensitive transcendentals are cast to
  * float32 on both sides.
  */
object Functions extends Gates {

  lazy val gates: Seq[Gate] = Seq(
    // px.bin(time_, 1h) + two aggregates — the canonical windowing idiom
    // (http_request_stats.pxl lines 20-49; bin is modulo math in the
    // reference's math_ops).
    Gate("q13_bin", (s, dir) => {
      t(s, dir, "events")
        .withColumn("bucket", timeBinNs(col("ts"), 3600))
        .groupBy("bucket", "event_type")
        .agg(count(lit(1)).as("n"), qsum(col("value")).as("sum_value"))
        .orderBy("bucket", "event_type")
    }, oracle =
      s"""SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket, event_type,
         |  count(*) AS n, ${qsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin),

    // json_ops pluck / pluck_int64 / pluck_float64 over the STRUCTURED
    // props column.
    Gate("q14_pluck", (s, dir) => {
      t(s, dir, "events").select(
        col("event_id"),
        pluck(col("props"), "k").as("k_str"),
        pluckInt64(col("props"), "k").as("k_int"),
        pluckFloat64(col("props"), "k").as("k_dbl")
      ).orderBy("event_id")
    }, oracle =
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
        |  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_dbl
        |FROM events ORDER BY event_id""".stripMargin),

    // string_ops: tolower/toupper/substring/length/contains/find/
    // strip_prefix/atoi.
    Gate("q15_strings", (s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        substring(col("c_name"), 1, 8).as("prefix"),
        length(col("c_name")).cast("long").as("name_len"),
        col("c_name").contains("99").as("has99"),
        (locate("9", col("c_name")) - 1).cast("long").as("find9"),
        atoi(stripPrefix("Customer#", col("c_name"))).as("custnum")
      ).orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, upper(c_name) AS uname, substr(c_name, 1, 8) AS prefix,
        |  length(c_name) AS name_len, contains(c_name, '99') AS has99,
        |  instr(c_name, '9') - 1 AS find9,
        |  CAST(CASE WHEN starts_with(c_name, 'Customer#')
        |            THEN substr(c_name, 10) ELSE c_name END AS BIGINT) AS custnum
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // math_ops: abs/ceil/floor/pow/modulo/sqrt/ln/round (transcendentals
    // float32-normalized for cross-engine parity).
    Gate("q16_math", (s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("abs_disc"),
        ceil(col("l_extendedprice")).cast("long").as("ceil_price"),
        floor(col("l_extendedprice")).cast("long").as("floor_price"),
        pow(col("l_quantity"), 2).as("qty_sq"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod"),
        sqrt(col("l_quantity")).cast("float").as("qty_sqrt"),
        log(col("l_extendedprice")).cast("float").as("ln_price")
      ).orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_disc,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
        |  pow(l_quantity, 2) AS qty_sq,
        |  l_orderkey % 7 AS key_mod,
        |  CAST(sqrt(l_quantity) AS REAL) AS qty_sqrt,
        |  CAST(ln(l_extendedprice) AS REAL) AS ln_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // regex_ops: regex_match (rlike) filter + regex replace.
    Gate("q17_regex", (s, dir) => {
      t(s, dir, "part")
        .filter(regexMatch("^(red|blue) .*(bolt|widget)$", col("p_name")))
        .select(
          col("p_partkey"),
          col("p_name"),
          regexReplace("[aeiou]", col("p_name"), "_").as("devoweled")
        ).orderBy("p_partkey")
    }, oracle =
      """SELECT p_partkey, p_name,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
        |FROM part WHERE regexp_matches(p_name, '^(red|blue) .*(bolt|widget)$')
        |ORDER BY p_partkey""".stripMargin),

    // conditionals.select + px.equals_any.
    Gate("q18_conditionals", (s, dir) => {
      t(s, dir, "events").select(
        col("event_id"),
        select3(col("value") > 150, lit("high"),
          select3(col("value") > 50, lit("mid"), lit("low"))).as("tier"),
        equalsAny(col("event_type"), Seq("click", "view")).as("is_passive")
      ).orderBy("event_id")
    }, oracle =
      """SELECT event_id,
        |  CASE WHEN value > 150 THEN 'high' WHEN value > 50 THEN 'mid'
        |       ELSE 'low' END AS tier,
        |  event_type IN ('click', 'view') AS is_passive
        |FROM events ORDER BY event_id""".stripMargin),

    // Exact interpolated quantiles (float32-normalized); the t-digest
    // variant is q22 (sketch output, rows-only check).
    Gate("q19_quantiles", (s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, 0.25)").cast("float").as("p25"),
        expr("percentile(l_quantity, 0.5)").cast("float").as("p50"),
        expr("percentile(l_quantity, 0.75)").cast("float").as("p75")
      ).orderBy("l_returnflag")
    }, oracle =
      """SELECT l_returnflag,
        |  CAST(quantile_cont(l_quantity, 0.25) AS REAL) AS p25,
        |  CAST(quantile_cont(l_quantity, 0.5) AS REAL) AS p50,
        |  CAST(quantile_cont(l_quantity, 0.75) AS REAL) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // `any` UDA (collections.h:79-96): arbitrary value per group — pinned
    // to single-valued groups so the choice is well-defined for the oracle.
    Gate("q20_any", (s, dir) => {
      t(s, dir, "nation").groupBy("n_nationkey")
        .agg(any_value(col("n_name")).as("a_name"))
        .orderBy("n_nationkey")
    }, oracle =
      """SELECT n_nationkey, min(n_name) AS a_name FROM nation
        |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin),

    // int64-ns time math: spans, distinct active hours per user.
    Gate("q21_time_math", (s, dir) => {
      t(s, dir, "events").groupBy("user_id").agg(
        count(lit(1)).as("n"),
        nsToUs(min(col("ts"))).as("first_us"),
        nsToUs(max(col("ts"))).as("last_us"),
        (nsToUs(max(col("ts"))) - nsToUs(min(col("ts")))).as("span_us"),
        countDistinct(idiv(col("ts"), 3600000000000L)).as("active_hours")
      ).orderBy("user_id")
    }, oracle =
      """SELECT user_id, count(*) AS n,
        |  epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us,
        |  count(DISTINCT epoch_us(ts) // 3600000000) AS active_hours
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // t-digest quantiles UDA (sketch JSON, ST_QUANTILES analog). The
    // sketch's values are approximation-specific, so the gate is a
    // TOLERANCE contract made exact-hash-checkable: the query emits the
    // EXACT quantiles (percentile == DuckDB quantile_cont, q19
    // invariant) plus a boolean asserting every sketch estimate lies
    // within eps of its exact value — the oracle re-derives the exact
    // columns and expects `true`, so a sketch regression flips the hash.
    // eps = span * (1% + 4/sqrt(n)): t-digest (compression=100) bounds
    // RANK error, which translates to a small fraction of the value span
    // at every emitted quantile once groups are non-trivial (measured
    // worst deviation at sf0.01: 0.33% of span, 15x inside the bound);
    // the 4/sqrt(n) term absorbs sparse-tail interpolation-convention
    // differences in tiny groups, where both engines' "exact" answers
    // already disagree structurally (math_sketches.h documents the same
    // approximate contract).
    Gate("q22_tdigest", (s, dir) => {
      val qs = Seq("p01" -> 0.01, "p10" -> 0.10, "p25" -> 0.25,
        "p50" -> 0.50, "p75" -> 0.75, "p90" -> 0.90, "p99" -> 0.99)
      val g = t(s, dir, "events").groupBy("event_type").agg(
        Aggregators.quantiles(col("value")).as("qj"),
        expr(s"percentile(value, array(${qs.map(_._2).mkString(",")}))")
          .as("ex"),
        (max(col("value")) - min(col("value"))).as("span"),
        count(lit(1)).as("n"))
      val exactCols = qs.zipWithIndex.map { case ((p, _), i) =>
        element_at(col("ex"), i + 1).cast("float").as(p) }
      val tol = col("span") * (lit(0.01) + lit(4.0) / sqrt(col("n"))) + lit(1e-9)
      val ok = qs.zipWithIndex.map { case ((p, _), i) =>
        abs(get_json_object(col("qj"), "$." + p).cast("double") -
          element_at(col("ex"), i + 1)) <= tol
      }.reduce(_ && _)
      g.select(col("event_type") +: exactCols :+ ok.as("sketch_within_tol"): _*)
        .orderBy("event_type")
    }, oracle =
      // Tolerance contract: the oracle re-derives the exact quantiles and
      // expects the sketch-within-eps boolean to be uniformly true; a
      // sketch regression flips it and fails the hash.
      """SELECT event_type,
        |  CAST(quantile_cont(value, 0.01) AS REAL) AS p01,
        |  CAST(quantile_cont(value, 0.10) AS REAL) AS p10,
        |  CAST(quantile_cont(value, 0.25) AS REAL) AS p25,
        |  CAST(quantile_cont(value, 0.50) AS REAL) AS p50,
        |  CAST(quantile_cont(value, 0.75) AS REAL) AS p75,
        |  CAST(quantile_cont(value, 0.90) AS REAL) AS p90,
        |  CAST(quantile_cont(value, 0.99) AS REAL) AS p99,
        |  true AS sketch_within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Deterministic `sample` UDA: bottom-k by LCG hash, order-independent
    // and exactly reproducible in SQL.
    Gate("q23_sample", (s, dir) => {
      t(s, dir, "events").groupBy("event_type")
        .agg(Aggregators.sampleK(col("user_id"), 5).as("sampled"))
        .select(col("event_type"), explode(col("sampled")).as("user_id"))
        .orderBy("event_type", "user_id")
    }, oracle =
      s"""SELECT event_type, user_id FROM (
         |  SELECT DISTINCT event_type, user_id, $sampleHash AS h FROM events)
         |QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) <= 5
         |ORDER BY event_type, user_id""".stripMargin)
  )

  private val sampleHash = Aggregators.SampleAgg.hashSql("user_id")
}
