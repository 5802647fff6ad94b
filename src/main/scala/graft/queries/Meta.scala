package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.PixieFunctions._
import graft.meta.K8sMetadata
import graft.types.Upid
import Q._

/** UPID/UINT128 semantics + the k8s metadata (`ctx`) resolution layer
  * (SURVEY §2.5 metadata_ops, §2.9).
  */
object Meta extends Gates {

  private val SplitTs = "2024-01-15"

  lazy val gates: Seq[Gate] = Seq(
    // UINT128/UPID: construct binary(16), round-trip every helper, and
    // produce the canonical string form. start_ts uses µs (DuckDB's ns
    // view of the nanos column is µs-truncated).
    Gate("q37_upid", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("upid",
          Upid.makeUpid(col("user_id"), col("event_id"), nsToUs(col("ts"))))
      ev.select(
        col("event_id"),
        lower(hex(col("upid"))).as("upid_hex"),
        Upid.upidToAsid(col("upid")).as("asid"),
        Upid.upidToPid(col("upid")).as("pid"),
        Upid.upidToStartTs(col("upid")).as("start_us"),
        Upid.upidToString(col("upid")).as("upid_str")
      ).orderBy("event_id")
    }, oracle =
      """SELECT event_id,
        |  printf('%08x%08x%016x', user_id, event_id, epoch_us(ts)) AS upid_hex,
        |  user_id AS asid, event_id AS pid, epoch_us(ts) AS start_us,
        |  user_id || ':' || event_id || ':' || epoch_us(ts) AS upid_str
        |FROM events ORDER BY event_id""".stripMargin),

    // ctx metadata resolution: point-in-time broadcast as-of join against
    // a 2-generation dimension — the same key resolves to gen0 before the
    // split and gen1 after (the reference's agent-snapshot semantics).
    Gate("q38_metadata_asof", (s, dir) => {
      val ev = t(s, dir, "events")
      val dim = K8sMetadata.syntheticPodDim(ev, tsNsLit(SplitTs))
      K8sMetadata.resolveAsOf(ev, dim, "user_id", "owner_id", "ts",
          Seq("pod_name", "service_name"))
        .select("event_id", "pod_name", "service_name")
        .orderBy("event_id")
    }, oracle =
      s"""WITH $dimSql
         |SELECT e.event_id, d.pod_name,
         |  'svc-' || (e.user_id % 10) AS service_name
         |FROM events e LEFT JOIN dim d ON e.user_id = d.owner_id
         |  AND epoch_ns(e.ts) >= d.start_ns AND epoch_ns(e.ts) < d.stop_ns
         |ORDER BY event_id""".stripMargin),

    // The FULL metadata_ops registry swept in one query: every binding
    // family (upid_*, pod_id/name_*, container_*, replicaset_*,
    // deployment_*, service_*, namespace, ip_*, has_*, constants)
    // resolves through its keyed broadcast lookup against the full
    // entity dimension, and every attribute formula is value-checked.
    Gate("q64_metadata_sweep", (s, dir) => {
      import graft.meta.MetadataOps
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val dim = MetadataOps.fullEntityDim(ev, tsNsLit(SplitTs))
      // upid family: upid -> asid -> point-in-time pod incarnation
      val withUpid = ev
        .withColumn("upid", Upid.makeUpid(col("user_id"), col("event_id"), nsToUs(col("ts"))))
        .withColumn("asid", Upid.upidToAsid(col("upid")))
      val p0 = K8sMetadata.resolveAsOf(withUpid, dim, "asid", "owner_id", "ts",
        Seq("pod_id", "pod_qos", "cmdline", "hostname", "container_id"))
      val p1 = MetadataOps.resolveMany(p0, dim, "pod_id", "pod_id", Seq(
        "pod_name" -> "pod_name", "namespace" -> "namespace",
        "node_name" -> "node_name", "service_id" -> "service_id",
        "replicaset_id" -> "replicaset_id", "pod_labels" -> "pod_labels",
        "owner_references" -> "owner_references", "start_ns" -> "pod_start_ns"))
      val p2 = MetadataOps.resolveMany(p1, dim, "pod_name", "pod_name", Seq(
        "pod_ip" -> "pod_ip", "pod_status" -> "pod_status",
        "deployment_id" -> "deployment_id"))
      val p3 = MetadataOps.resolveMany(p2, dim, "replicaset_id", "replicaset_id", Seq(
        "replicaset_name" -> "replicaset_name",
        "deployment_name" -> "deployment_name", "rs_status" -> "rs_status"))
      val p4 = MetadataOps.resolveMany(p3, dim, "deployment_name", "deployment_name",
        Seq("dep_status" -> "dep_status", "dep_start_ns" -> "dep_start_ns"))
      val p5 = MetadataOps.resolveMany(p4, dim, "service_id", "service_id", Seq(
        "service_name" -> "service_name", "cluster_ip" -> "cluster_ip",
        "external_ips" -> "external_ips"))
      val p6 = MetadataOps.resolveMany(p5, dim, "namespace", "namespace",
        Seq("namespace_id" -> "namespace_id"))
      val p7 = MetadataOps.resolveMany(p6, dim, "pod_ip", "pod_ip",
        Seq("pod_id" -> "pod_id_from_ip"))
      val p8 = MetadataOps.resolveMany(p7, dim, "container_id", "container_id", Seq(
        "container_name" -> "container_name",
        "container_status" -> "container_status", "start_ns" -> "container_start_ns"))
      // has_service_id over a partial service dim (null path exercised)
      val svcDim = dim.filter(pmod(col("owner_id"), lit(10)) < 7)
        .select(col("pod_id"), col("service_id").as("__svcid"))
      val p9 = K8sMetadata.lookupAttr(p8, svcDim, "pod_id", "pod_id", Seq("__svcid"))
        .withColumn("has_service_id", col("__svcid").isNotNull).drop("__svcid")
      p9
        .withColumn("vizier_name", MetadataOps.constants("vizier_name"))
        .withColumn("num_cpus", MetadataOps.constants("_exec_host_num_cpus"))
        .select("event_id", "pod_id", "pod_qos", "cmdline", "hostname",
          "container_id", "pod_name", "namespace", "node_name", "service_id",
          "replicaset_id", "pod_labels", "owner_references", "pod_start_ns",
          "pod_ip", "pod_status", "deployment_id", "replicaset_name",
          "deployment_name", "rs_status", "dep_status", "dep_start_ns",
          "service_name", "cluster_ip", "external_ips", "namespace_id",
          "pod_id_from_ip", "container_name", "container_status",
          "container_start_ns", "has_service_id", "vizier_name", "num_cpus")
        .orderBy("event_id")
    }, oracle =
      // Every attribute is a pure function of (user_id, generation) by the
      // fullEntityDim construction, so the oracle re-derives the whole
      // sweep without a dimension join.
      s"""WITH e AS (SELECT event_id, user_id,
         |    CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g,
         |    user_id % 10 AS s
         |  FROM events)
         |SELECT event_id,
         |  'pid-' || user_id || '-g' || g AS pod_id,
         |  CASE WHEN user_id % 3 = 0 THEN 'Guaranteed'
         |       WHEN user_id % 3 = 1 THEN 'Burstable' ELSE 'BestEffort' END AS pod_qos,
         |  '/bin/app --id=' || user_id AS cmdline,
         |  'host-' || (user_id % 5) AS hostname,
         |  'cid-' || user_id || '-g' || g AS container_id,
         |  'pod-' || user_id || '-gen' || g AS pod_name,
         |  'ns' || (s % 3) AS namespace,
         |  'node-' || (user_id % 5) AS node_name,
         |  'svcid-' || s AS service_id,
         |  'rs-' || s || '-g' || g AS replicaset_id,
         |  '{"app":"app-' || s || '"}' AS pod_labels,
         |  '[{"kind":"ReplicaSet","name":"rsn-' || s || '-g' || g || '"}]' AS owner_references,
         |  CAST(CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS BIGINT) AS pod_start_ns,
         |  '10.' || (10 + g) || '.' || (user_id % 250) || '.' || (1 + user_id // 250) AS pod_ip,
         |  CASE WHEN user_id % 4 = 0 THEN 'Running' WHEN user_id % 4 = 1 THEN 'Pending'
         |       WHEN user_id % 4 = 2 THEN 'Succeeded' ELSE 'Failed' END AS pod_status,
         |  'depid-' || s AS deployment_id,
         |  'rsn-' || s || '-g' || g AS replicaset_name,
         |  'deploy-' || s AS deployment_name,
         |  CASE WHEN s % 2 = 0 THEN 'Ready' ELSE 'ScalingUp' END AS rs_status,
         |  CASE WHEN s % 2 = 0 THEN 'Available' ELSE 'Progressing' END AS dep_status,
         |  CAST(0 AS BIGINT) AS dep_start_ns,
         |  'svc-' || s AS service_name,
         |  '10.2.0.' || s AS cluster_ip,
         |  '["35.0.0.' || s || '"]' AS external_ips,
         |  'nsid-' || (s % 3) AS namespace_id,
         |  'pid-' || user_id || '-g' || g AS pod_id_from_ip,
         |  'ctr-' || user_id || '-g' || g AS container_name,
         |  CASE WHEN user_id % 3 = 0 THEN 'Running'
         |       WHEN user_id % 3 = 1 THEN 'Waiting' ELSE 'Terminated' END AS container_status,
         |  CAST(CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS BIGINT) AS container_start_ns,
         |  (s < 7) AS has_service_id,
         |  'graft-vizier' AS vizier_name,
         |  CAST(32 AS BIGINT) AS num_cpus
         |FROM e ORDER BY event_id""".stripMargin),

    // Per-service rollup through the metadata join (the http_request_stats
    // by-service shape).
    Gate("q39_service_rollup", (s, dir) => {
      val ev = t(s, dir, "events")
      val dim = K8sMetadata.syntheticPodDim(ev, tsNsLit(SplitTs))
      K8sMetadata.resolveAsOf(ev, dim, "user_id", "owner_id", "ts",
          Seq("service_name"))
        .groupBy("service_name")
        .agg(count(lit(1)).as("n"), qsum(col("value")).as("sum_value"))
        .orderBy("service_name")
    }, oracle =
      s"""SELECT 'svc-' || (user_id % 10) AS service_name, count(*) AS n,
         |  ${qsumSql("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY service_name""".stripMargin)
  )

  private val splitNs = graft.functions.PixieFunctions.tsNsLit(SplitTs)
  private val dimSql =
    s"""ids AS (SELECT DISTINCT user_id FROM events),
       |dim AS (
       |  SELECT user_id AS owner_id, 'pod-' || user_id || '-gen0' AS pod_name,
       |         0 AS start_ns, $splitNs AS stop_ns FROM ids
       |  UNION ALL
       |  SELECT user_id, 'pod-' || user_id || '-gen1',
       |         $splitNs, 9223372036854775807 FROM ids)""".stripMargin
}
