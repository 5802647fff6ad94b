package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import graft.sources.CatalogUdtfs
import Q._
import PxlGate._

/** Round-4 verbatim-script tranche 2: the UDTF-driven admin scripts
  * (agent_status, schemas, funcs, tracepoint_status), the Stirling
  * diagnostics scripts (stirling_errors), and the http-family quick
  * filters (http_data_filtered, http_post_requests), plus upids.pxl —
  * each executed UNMODIFIED from the reference checkout through the PxL
  * runner and checked against a DuckDB oracle.
  *
  * Scale notes: the UDTF relations are tiny driver-side catalogs (same
  * in the reference — md_udtfs run on the Kelvin/metadata plane, not the
  * data plane); the stirling_error / http filter scripts are scan →
  * broadcast-dim as-of join → filter, nothing shuffles the fact table.
  */
object Pxl3 extends Gates {

  val AgentStatusPath = s"$RefPx/agent_status/agent_status.pxl"
  val SchemasPath = s"$RefPx/schemas/schemas.pxl"
  val FuncsPath = s"$RefPx/funcs/funcs.pxl"
  val TracepointsPath = s"$RefPx/tracepoint_status/tracepoint_status.pxl"
  val StirlingErrorsPath = s"$RefPx/stirling_errors/stirling_errors.pxl"
  val HttpFilteredPath = s"$RefPx/http_data_filtered/data.pxl"
  val HttpPostPath = s"$RefPx/http_post_requests/data.pxl"
  val UpidsPath = s"$RefPx/upids/upids.pxl"

  lazy val gates: Seq[Gate] = Seq(
    // agent_status.pxl: top-level px.display(px.GetAgentStatus()).
    Gate("q109_pxl_agent_status", (s, dir) =>
      PxlRunner.run(script(AgentStatusPath), Pxl.env(s, dir, nowNs))("output"), oracle = (
      "SELECT '00000000-0000-0000-0000-000000000001' AS agent_id, " +
        "CAST(1 AS BIGINT) AS asid, 'host-local' AS hostname, " +
        "'10.11.1.1:8080' AS ip_address, 'AGENT_STATE_HEALTHY' AS agent_state, " +
        "CAST(1700000000000000000 AS BIGINT) AS create_time, " +
        "CAST(5000000 AS BIGINT) AS last_heartbeat_ns, " +
        "true AS kernel_headers_installed")),

    // schemas.pxl `table_desc` / `table_schema`: the datasource catalog.
    Gate("q110_pxl_schemas_tables", (s, dir) =>
      PxlRunner.runFunction(script(SchemasPath), Pxl.env(s, dir, nowNs),
          "table_desc", Seq())
        .orderBy("table_name"), oracle = (
      s"""SELECT table_name, CAST(n_cols AS BIGINT) AS n_cols
         |FROM ${valuesSql(Ml.schemaRows.map { case (t, cs) => s"('$t',${cs.size})" },
            "table_name, n_cols")}
         |ORDER BY table_name""".stripMargin)),
    Gate("q111_pxl_schemas_cols", (s, dir) =>
      PxlRunner.runFunction(script(SchemasPath), Pxl.env(s, dir, nowNs),
          "table_schema", Seq())
        .orderBy("table_name", "column_index"), oracle = (
      s"""SELECT table_name, column_name,
         |  CAST(column_index AS BIGINT) AS column_index, data_type
         |FROM ${Ml.schemaValues}
         |ORDER BY table_name, column_index""".stripMargin)),

    // funcs.pxl: the registered scalar/aggregate/table function surface.
    Gate("q112_pxl_funcs_udf", (s, dir) =>
      PxlRunner.runFunction(script(FuncsPath), Pxl.env(s, dir, nowNs),
          "map_funcs", Seq())
        .orderBy("name"), oracle = (
      s"""SELECT name, module FROM ${valuesSql(
            CatalogUdtfs.udfNames.map { case (n, m) => s"('$n','$m')" },
            "name, module")} ORDER BY name""".stripMargin)),
    Gate("q113_pxl_funcs_uda", (s, dir) =>
      PxlRunner.runFunction(script(FuncsPath), Pxl.env(s, dir, nowNs),
          "agg_funcs", Seq())
        .orderBy("name"), oracle = (
      s"""SELECT name, module FROM ${valuesSql(
            CatalogUdtfs.udaNames.map { case (n, m) => s"('$n','$m')" },
            "name, module")} ORDER BY name""".stripMargin)),
    Gate("q114_pxl_funcs_udtf", (s, dir) =>
      PxlRunner.runFunction(script(FuncsPath), Pxl.env(s, dir, nowNs),
          "table_funcs", Seq())
        .orderBy("name"), oracle = (
      s"""SELECT name FROM ${valuesSql(
            CatalogUdtfs.udtfNames.map(n => s"('$n')"), "name")}
         |ORDER BY name""".stripMargin)),

    // tracepoint_status.pxl `running_tracepoints`: UDTF source + filter;
    // no dynamic tracepoints are deployed, so this checks the 0-row
    // schema round-trip (q78 convention) INCLUDING the filter pushback.
    Gate("q115_pxl_tracepoints", (s, dir) =>
      PxlRunner.runFunction(script(TracepointsPath), Pxl.env(s, dir, nowNs),
          "running_tracepoints", Seq()), oracle = (
      """SELECT '' AS tracepoint_id, '' AS name, '' AS state, '' AS status,
        |  '' AS output_tables WHERE false""".stripMargin)),

    // stirling_errors.pxl `stirling_error` / `probe_status`: node-scoped
    // diagnostics with ctx['node'] resolution and a contains filter.
    Gate("q116_pxl_stirling_error", (s, dir) =>
      PxlRunner.runFunction(script(StirlingErrorsPath), Pxl.env(s, dir, nowNs),
          "stirling_error", Seq("-45d", "", "1000000"))
        .orderBy("time_", "error"), oracle = (
      s"""WITH $eventsCte
         |SELECT t AS time_, 'node-' || (user_id % 5) AS node,
         |  CASE event_id % 5 WHEN 0 THEN 'socket_tracer'
         |       WHEN 1 THEN 'perf_profiler' WHEN 2 THEN 'jvm_stats'
         |       WHEN 3 THEN 'process_stats' ELSE 'dns_probe'
         |  END AS source_connector,
         |  $statusSql AS status, $errorSql AS error,
         |  '{"probe":"p' || (event_id % 10) || '"}' AS context
         |FROM e ORDER BY time_, error""".stripMargin)),
    Gate("q117_pxl_probe_status", (s, dir) =>
      PxlRunner.runFunction(script(StirlingErrorsPath), Pxl.env(s, dir, nowNs),
          "probe_status", Seq("-45d", "", "1000000"))
        .orderBy("time_", "error"), oracle = (
      s"""WITH $eventsCte
         |SELECT t AS time_, 'node-' || (user_id % 5) AS node,
         |  'tp-' || (event_id % 8) AS tracepoint,
         |  $statusSql AS status, $errorSql AS error,
         |  '{"binary":"/bin/app' || (event_id % 4) || '"}' AS info
         |FROM e ORDER BY time_, error""".stripMargin)),

    // http_data_filtered/data.pxl `http_data`: status-code equality plus
    // three contains filters; status 200 keeps the row count under the
    // script's own head cap so the limit never binds.
    Gate("q118_pxl_http_filtered", (s, dir) =>
      PxlRunner.runFunction(script(HttpFilteredPath), Pxl.env(s, dir, nowNs),
          "http_data", Seq("-45d", "", "", "", "200"))
        .orderBy("time_"), oracle = (
      s"""WITH $eventsCte
         |SELECT t AS time_,
         |  CASE WHEN event_id % 5 = 0 THEN '-'
         |       ELSE '10.' || (10 + g) || '.' || (user_id % 250) || '.'
         |            || (1 + user_id // 250) END AS remote_addr,
         |  1024 + event_id % 32768 AS remote_port,
         |  CASE event_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
         |       WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS req_method,
         |  CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |       WHEN event_id % 25 = 1 THEN '/readyz'
         |       ELSE '/api/v1/users/' || user_id END AS req_path,
         |  CAST(200 AS BIGINT) AS resp_status,
         |  'resp-' || event_id AS resp_body,
         |  value AS latency,
         |  'svc-' || (user_id % 10) AS svc,
         |  'pod-' || user_id || '-gen' || g AS pod
         |FROM e WHERE event_id % 460 = 100 ORDER BY time_""".stripMargin)),

    // http_post_requests/data.pxl: top-level script with a hardcoded
    // '-30s' window — empty at the fixture's frozen now, so this gates
    // the schema round-trip of the whole map/ctx/filter chain.
    Gate("q119_pxl_http_post", (s, dir) =>
      PxlRunner.run(script(HttpPostPath), Pxl.env(s, dir, nowNs))("output"), oracle = (
      """SELECT CAST(0 AS BIGINT) AS time_, '' AS remote_addr,
        |  CAST(0 AS BIGINT) AS remote_port, '' AS req_method,
        |  '' AS req_path, CAST(0 AS BIGINT) AS resp_status,
        |  '' AS resp_body, CAST(0 AS DOUBLE) AS latency, '' AS service
        |WHERE false""".stripMargin)),

    // upids.pxl `upids_for_namespace`: groupby over the raw binary upid.
    // The script runs verbatim; the gate canonicalizes the upid column to
    // its string form post-hoc ONLY because the oracle hash cannot
    // represent a 16-byte binary (same reason pod.pxl `processes` is
    // spec-gated) — values are still fully checked.
    Gate("q120_pxl_upids", (s, dir) =>
      PxlRunner.runFunction(script(UpidsPath), Pxl.env(s, dir, nowNs),
          "upids_for_namespace", Seq("-45d", "ns1"))
        .withColumn("upid", graft.types.Upid.upidToString(col("upid")))
        .orderBy("upid"), oracle = (
      s"""WITH $eventsCte
         |SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |  'ctr-' || user_id || '-g' || g AS container,
         |  user_id || ':' || event_id || ':' || us AS upid,
         |  '/bin/app --id=' || user_id AS cmdline,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS pod_create_time
         |FROM e WHERE (user_id % 10) % 3 = 1 ORDER BY upid""".stripMargin))
  )

  // ---- oracle fragments ----------------------------------------------

  private def valuesSql(rows: Seq[String], cols: String): String =
    rows.mkString(s"(VALUES ", ", ", s") AS v($cols)")

  private val statusSql =
    """CASE event_id % 3 WHEN 0 THEN 'OK' WHEN 1 THEN 'INTERNAL'
      |     ELSE 'FAILED_PRECONDITION' END""".stripMargin
  private val errorSql =
    "CASE WHEN event_id % 3 = 0 THEN '' ELSE 'error-' || event_id END"
}
