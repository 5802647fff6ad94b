package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.PxTable
import Q._

/** SURVEY §2.1 physical-operator coverage: MemorySource (time-range scan),
  * Map, Filter, Aggregate (grouped/global/distinct), Limit, Join
  * (inner/left/right/full via PxTable.merge), Union (append, time-ordered).
  * Every query carries a total ORDER BY so results are deterministic sets
  * AND sequences; every double aggregate uses the quantized-sum parity
  * pattern (see Q).
  */
object Relational extends Gates {

  lazy val gates: Seq[Gate] = Seq(
    // 1. MemorySource: named-table scan + column projection + time range
    //    (plan.proto:156-175). Filter + pruning reach the parquet scan.
    Gate("q01_source_timerange", (s, dir) => {
      PxTable.timeRange(s, dir, "events", "ts", "2024-01-05", "2024-01-10")
        .keep("event_id", "user_id", "event_type").df
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, user_id, event_type FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-10'
        |ORDER BY event_id""".stripMargin),

    // 2. Map: N scalar expressions -> N output columns (plan.proto:233-239).
    Gate("q02_map", (s, dir) => {
      PxTable(t(s, dir, "lineitem")).mapCols(
        "l_orderkey" -> col("l_orderkey"),
        "l_linenumber" -> col("l_linenumber"),
        "charge" -> col("l_extendedprice") * (lit(1.0) + col("l_tax")) * (lit(1.0) - col("l_discount")),
        "qty_class" -> when(col("l_quantity") >= 25, lit("bulk")).otherwise(lit("small"))
      ).df.orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 + l_tax) * (1.0 - l_discount) AS charge,
        |  CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS qty_class
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // 3. Filter: compacting boolean filter (plan.proto:268-273).
    Gate("q03_filter", (s, dir) => {
      PxTable(t(s, dir, "lineitem"))
        .where(col("l_quantity") > 45 && col("l_returnflag") === "R" && col("l_discount") <= 0.05)
        .keep("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag").df
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'R' AND l_discount <= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // 4. Aggregate, grouped (TPC-H Q1 shape): blocking hash agg with
    //    sum/mean/min/max/count UDAs (plan.proto:244-266, math_ops UDAs).
    Gate("q04_agg", (s, dir) => {
      PxTable(t(s, dir, "lineitem")).groupbyAgg(
        Seq("l_returnflag", "l_linestatus"),
        "sum_qty" -> qsum(col("l_quantity")),
        "sum_price" -> qsum(col("l_extendedprice")),
        "avg_disc" -> qavg(col("l_discount")),
        "min_qty" -> min(col("l_quantity")),
        "max_qty" -> max(col("l_quantity")),
        "n_rows" -> count(lit(1))
      ).df.orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      s"""SELECT l_returnflag, l_linestatus,
         |  ${qsumSql("l_quantity")} AS sum_qty,
         |  ${qsumSql("l_extendedprice")} AS sum_price,
         |  ${qavgSql("l_discount")} AS avg_disc,
         |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         |  count(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // 5. Aggregate, no grouping keys (global agg emits one row at eos).
    Gate("q05_agg_global", (s, dir) => {
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_orders"),
        qsum(col("o_totalprice")).as("sum_total"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
    }, oracle =
      s"""SELECT count(*) AS n_orders, ${qsumSql("o_totalprice")} AS sum_total,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key FROM orders""".stripMargin),

    // 6. agg() with no aggregates on grouped data = distinct groups
    //    (dataframe.h:230-248).
    Gate("q06_distinct", (s, dir) => {
      PxTable(t(s, dir, "customer")).distinctGroups("c_mktsegment", "c_nationkey")
        .df.orderBy("c_mktsegment", "c_nationkey")
    }, oracle =
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin),

    // 7. Limit over a deterministic total order (plan.proto:276-287;
    //    Spark's LocalLimit/GlobalLimit + early stop subsumes
    //    abortable-source termination).
    Gate("q07_limit", (s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(25)
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""".stripMargin),

    // 8. Inner equijoin chain + agg: revenue per nation. Dimension sides
    //    are small -> Catalyst auto-broadcasts (verify in explain).
    Gate("q08_join_inner", (s, dir) => {
      val o = PxTable(t(s, dir, "orders"))
      val c = PxTable(t(s, dir, "customer"))
      val n = PxTable(t(s, dir, "nation"))
      o.merge(c, "inner", Seq("o_custkey"), Seq("c_custkey"))
        .merge(n, "inner", Seq("c_nationkey"), Seq("n_nationkey"))
        .groupbyAgg(Seq("n_name"),
          "n_orders" -> count(lit(1)),
          "sum_total" -> qsum(col("o_totalprice")))
        .df.orderBy("n_name")
    }, oracle =
      s"""SELECT n_name, count(*) AS n_orders, ${qsumSql("o_totalprice")} AS sum_total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // 9. Left outer join: customers keep rows with no orders
    //    (COUNT of the right key counts only matches).
    Gate("q09_join_left", (s, dir) => {
      val c = PxTable(t(s, dir, "customer"))
      val o = PxTable(t(s, dir, "orders"))
      c.merge(o, "left", Seq("c_custkey"), Seq("o_custkey"))
        .groupbyAgg(Seq("c_custkey"),
          "n_orders" -> count(col("o_orderkey")),
          "sum_total" -> coalesce(qsum(col("o_totalprice")), lit(0.0)))
        .df.orderBy("c_custkey")
    }, oracle =
      s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
         |  coalesce(${qsumSql("o_totalprice")}, 0.0) AS sum_total
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    // 10. Right join exercises the reference's RIGHT->LEFT rewrite
    //     (setup_join_type_rule.h): PxTable.merge swaps inputs.
    Gate("q10_join_right", (s, dir) => {
      val o = PxTable(t(s, dir, "orders"))
      val c = PxTable(t(s, dir, "customer"))
      o.merge(c, "right", Seq("o_custkey"), Seq("c_custkey"))
        .keep("c_custkey", "o_orderkey").df
        .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
    }, oracle =
      """SELECT c_custkey, o_orderkey
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin),

    // 11. Full outer join between two aggregates (unmatched rows from both
    //     sides, null keys on either side).
    Gate("q11_join_outer", (s, dir) => {
      val hi = PxTable(t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("n_cust")))
      val lo = PxTable(t(s, dir, "supplier").filter(col("s_acctbal") < 500)
        .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp")))
      hi.merge(lo, "outer", Seq("ck"), Seq("sk")).df
        .orderBy(col("ck").asc_nulls_first, col("sk").asc_nulls_first)
    }, oracle =
      """WITH hi AS (SELECT c_nationkey AS ck, count(*) AS n_cust FROM customer
        |            WHERE c_acctbal > 9000 GROUP BY c_nationkey),
        |     lo AS (SELECT s_nationkey AS sk, count(*) AS n_supp FROM supplier
        |            WHERE s_acctbal < 500 GROUP BY s_nationkey)
        |SELECT ck, n_cust, sk, n_supp FROM hi FULL OUTER JOIN lo ON ck = sk
        |ORDER BY ck ASC NULLS FIRST, sk ASC NULLS FIRST""".stripMargin),

    // 12. Union/append: n-ary union by name; the reference's time_-order
    //     contract (plan.proto:302) is materialized as an explicit sort at
    //     the observation point (SURVEY §2.8 policy).
    Gate("q12_union", (s, dir) => {
      val wk1 = PxTable.timeRange(s, dir, "events", "ts", "2024-01-01", "2024-01-08")
        .where(col("event_type") === "click")
      val wk2 = PxTable.timeRange(s, dir, "events", "ts", "2024-01-08", "2024-01-15")
        .where(col("event_type") === "error")
      wk1.append(wk2)
        .mapCols(
          "event_id" -> col("event_id"),
          "ts_us" -> graft.functions.PixieFunctions.nsToUs(col("ts")),
          "event_type" -> col("event_type"))
        .df.orderBy("ts_us", "event_id")
    }, oracle =
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM (
        |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-01'
        |    AND ts < TIMESTAMP '2024-01-08' AND event_type = 'click'
        |  UNION ALL
        |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-08'
        |    AND ts < TIMESTAMP '2024-01-15' AND event_type = 'error')
        |ORDER BY ts_us, event_id""".stripMargin)
  )
}
