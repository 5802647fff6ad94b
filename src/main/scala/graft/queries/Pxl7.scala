package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._
import PxlGate._

/** Round-5 verbatim-script tranche 4: the normalized-SQL LET scripts
  * (sql_queries, sql_query — px.normalize_pgsql/mysql struct plucking
  * over a two-table append), jvm_data, and agent_status_diagnostics —
  * each executed UNMODIFIED from the reference checkout and
  * hash-checked against a DuckDB oracle.
  *
  * Scale notes: the SQL LET path is two protocol scans appended then
  * one (window, query) aggregation — the normalizer is a per-row scalar
  * (no shuffle), and the append is a union, not a join.
  */
object Pxl7 extends Gates {

  val SqlQueriesPath = s"$RefPx/sql_queries/normed_sql_queries.pxl"
  val SqlQueryPath = s"$RefPx/sql_query/normed_sql_query.pxl"
  val JvmDataPath = s"$RefPx/jvm_data/stats.pxl"
  val AgentDiagPath = s"$RefPx/agent_status_diagnostics/agent_status.pxl"

  lazy val gates: Seq[Gate] = Seq(
    // sql_queries: normalize pgsql Query/Execute + mysql COM_QUERY/
    // COM_STMT_EXECUTE traffic, append, LET per (window, normed query).
    Gate("q158_pxl_sql_queries", (s, dir) =>
      PxlRunner.runFunction(script(SqlQueriesPath), Pxl.env(s, dir, nowNs),
          "pod_sql_let", Seq("-45d", "pod"))
        .orderBy("time_", "normed_query"), oracle =
      s"""WITH $eventsCte,
         |$sqlStreamsCte
         |SELECT ts_bin AS time_, normed_query,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99,
         |  count(latency) / 10000000000 AS request_throughput
         |FROM u GROUP BY 1, 2 ORDER BY time_, normed_query""".stripMargin),

    // sql_query: the same pipeline grouped by (query, params) and
    // filtered to one normalized query.
    Gate("q159_pxl_sql_query", (s, dir) =>
      PxlRunner.runFunction(script(SqlQueryPath), Pxl.env(s, dir, nowNs),
          "pod_sql_let", Seq("-45d", "pod", "SELECT * FROM rel3 WHERE id=$1"))
        .orderBy("time_", "params"), oracle =
      s"""WITH $eventsCte,
         |$sqlStreamsCte
         |SELECT ts_bin AS time_, normed_query, params,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99,
         |  count(latency) / 10000000000 AS request_throughput
         |FROM u WHERE normed_query = 'SELECT * FROM rel3 WHERE id=$$1'
         |GROUP BY 1, 2, 3 ORDER BY time_, params""".stripMargin),

    // jvm_data: raw JVM heap viewer over the -1m tail with
    // upid_to_pid/cmdline scalars.
    Gate("q160_pxl_jvm_data", (s, dir) =>
      PxlRunner.run(script(JvmDataPath),
          Pxl.env(s, dir, tailNowNs(s, dir)))("output")
        .orderBy("time_", "pid"), oracle =
      s"""WITH mx AS (SELECT max(epoch_us(ts)) * 1000 + 1000 AS now_ns
         |      FROM events),
         |e AS (SELECT epoch_us(ts) * 1000 AS t, user_id, event_id
         |      FROM events, mx
         |      WHERE epoch_us(ts) * 1000 >= mx.now_ns - 60000000000
         |        AND epoch_us(ts) * 1000 < mx.now_ns)
         |SELECT t AS time_, user_id * 2 AS pid,
         |  (100 + event_id % 400) * 1048576 AS used_heap_size,
         |  (600 + user_id % 100) * 1048576 AS total_heap_size,
         |  CAST(1073741824 AS BIGINT) AS max_heap_size,
         |  '/bin/app --id=' || user_id AS cmdline
         |FROM e ORDER BY time_, pid""".stripMargin),

    // agent_status_diagnostics: UDTF source with a bool arg + global agg.
    Gate("q161_pxl_agent_diag", (s, dir) =>
      PxlRunner.run(script(AgentDiagPath), Pxl.env(s, dir, nowNs))("output"), oracle =
      "SELECT CAST(1.0 AS DOUBLE) AS headers_installed_percent")
  )

  // ---- oracle fragments ----------------------------------------------

  /** pg + mysql normalized-query streams (sql_queries/sql_query shape).
    * The synth queries carry one id literal, so normalization yields
    * `... WHERE id=$$1` / `... WHERE id=?` with params ["<id>"].
    */
  private[queries] val sqlStreamsCte =
    s"""pg AS (SELECT t - t % 10000000000 AS ts_bin,
       |        'SELECT * FROM rel' || (event_id % 7) || ' WHERE id=$$1'
       |          AS normed_query,
       |        '["' || (event_id % 100) || '"]' AS params,
       |        value AS latency
       |      FROM e WHERE event_id % 4 IN (0, 1)),
       |my AS (SELECT t - t % 10000000000 AS ts_bin,
       |        'SELECT * FROM t' || (event_id % 5) || ' WHERE id=?'
       |          AS normed_query,
       |        '["' || (event_id % 100) || '"]' AS params,
       |        value AS latency
       |      FROM e WHERE event_id % 32 IN (3, 23)),
       |u AS (SELECT * FROM pg UNION ALL SELECT * FROM my)""".stripMargin
}
