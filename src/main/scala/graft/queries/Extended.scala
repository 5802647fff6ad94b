package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.{MlScalars, PixieFunctions}
import graft.functions.PixieFunctions._
import graft.meta.K8sMetadata
import Q._
import graft.ops.Dedup.h60Sql

/** Coverage tail: px time functions, the full k8s entity lookup family,
  * scalar ML surface, and a pxl-script-corpus shape (net_flow_graph).
  */
object Extended extends Gates {

  private val SplitTs = "2024-01-15"

  // q53: entity attributes are pure functions of (user_id, generation);
  // generation flips when ts crosses the split. Spark resolves via the
  // broadcast as-of join against the synthetic dimension; the oracle
  // re-derives the attributes directly.
  private def splitNs = tsNsLit(SplitTs)

  // q54 fixtures: 3 fixed 2-d centroids + a 3-template endpoint set.
  private val cents = Seq((0.0, 0.0), (0.5, -0.5), (-0.5, 0.5))
  private val templates = Seq("/healthz", "/api/v1/users/*/posts/*")

  lazy val gates: Seq[Gate] = Seq(
    // Backward as-of join (one keyed shuffle + window, no BNLJ): each
    // purchase picks up the user's latest preceding click.
    Gate("q242_asof_join", (s, dir) => {
      // µs-truncate BEFORE the as-of compare (the oracle's timestamps
      // are µs-resolution; q94/q95 precedent), emit µs at the end.
      val ev = t(s, dir, "events")
        .withColumn("ts", idiv(col("ts"), 1000L) * 1000L)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      graft.ops.AsOf.joinBackward(purchases, clicks, Seq("user_id"),
          "ts", "ts", rightPrefix = "click_")
        // join at full ns precision; emit µs-aligned (DuckDB reads the
        // fixture's TIMESTAMP(NANOS) truncated to µs)
        .select(col("event_id"), col("user_id"),
          idiv(col("ts"), 1000L).as("ts_us"), col("value"),
          idiv(col("click_ts"), 1000L).as("click_ts_us"), col("click_value"))
        .orderBy("event_id")
    }, oracle =
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
        |  epoch_us(r.ts) AS click_ts_us, r.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin),

    // Bounded range join via exact-int64 time bucketing (equi-join on
    // (user, bucket) + range post-filter, never quadratic): per event,
    // count/sum of the same user's OTHER events in the preceding hour.
    // ts is µs-truncated BEFORE the range compare so the window edges
    // agree with the oracle's µs-resolution timestamps.
    Gate("q243_range_join", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          (idiv(col("ts"), 1000L) * 1000L).as("ts"), col("value"))
      graft.ops.AsOf.rangeJoin(ev,
          ev.withColumnRenamed("event_id", "eid"), Seq("user_id"),
          "ts", "ts", before = 3600L * 1000000000L, after = 0L, rightPrefix = "r_")
        .where(col("r_eid") =!= col("event_id"))
        .groupBy("event_id").agg(
          count(lit(1)).as("n_prior"),
          round(sum(col("r_value")), 6).as("sum_prior"))
        .orderBy("event_id")
    }, oracle =
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) * 1000 AS t, value
        |  FROM events)
        |SELECT l.event_id, count(*) AS n_prior, round(sum(r.value), 6) AS sum_prior
        |FROM e l JOIN e r ON l.user_id = r.user_id
        |  AND r.t BETWEEN l.t - 3600000000000 AND l.t AND r.event_id <> l.event_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // px.strptime / px.format_duration / px.parse_time / px.parse_duration
    // (pixie_module.h:183-247, planner/ir/time.cc).
    Gate("q52_time_fns", (s, dir) => {
      val dateStr = concat(lit("2024-01-"),
        lpad((pmod(col("event_id"), lit(28)) + 1).cast("string"), 2, "0"),
        lit(" 03:04:05"))
      val durNs = (pmod(col("event_id"), lit(200000L)) - 100000L) * 1000000000L
      t(s, dir, "events").select(
        col("event_id"),
        strptime(dateStr, "yyyy-MM-dd HH:mm:ss").as("parsed_ns"),
        formatDuration(durNs).as("dur_str"),
        lit(PixieFunctions.parseTimeNs("-30s", tsNsLit("2024-02-01"))).as("rel_time_ns"),
        lit(PixieFunctions.parseDurationNs("90m")).as("dur_90m_ns")
      ).orderBy("event_id")
    }, oracle = (
      s"""SELECT event_id,
         |  epoch_us(strptime('2024-01-' || lpad(CAST(event_id % 28 + 1 AS VARCHAR), 2, '0')
         |    || ' 03:04:05', '%Y-%m-%d %H:%M:%S')) * 1000 AS parsed_ns,
         |  CASE WHEN abs(event_id % 200000 - 100000) < 1 THEN '0s'
         |       ELSE (CASE WHEN event_id % 200000 - 100000 < 0 THEN '-' ELSE '' END) ||
         |    (CASE WHEN abs(event_id % 200000 - 100000) // 86400 > 0
         |          THEN CAST(abs(event_id % 200000 - 100000) // 86400 AS VARCHAR) || 'd' ELSE '' END) ||
         |    (CASE WHEN (abs(event_id % 200000 - 100000) // 3600) % 24 > 0
         |          THEN CAST((abs(event_id % 200000 - 100000) // 3600) % 24 AS VARCHAR) || 'h' ELSE '' END) ||
         |    (CASE WHEN (abs(event_id % 200000 - 100000) // 60) % 60 > 0
         |          THEN CAST((abs(event_id % 200000 - 100000) // 60) % 60 AS VARCHAR) || 'm' ELSE '' END) ||
         |    (CASE WHEN abs(event_id % 200000 - 100000) % 60 > 0
         |          THEN CAST(abs(event_id % 200000 - 100000) % 60 AS VARCHAR) || 's' ELSE '' END)
         |  END AS dur_str,
         |  CAST(${tsNsLit("2024-02-01") - 30L * 1000000000L} AS BIGINT) AS rel_time_ns,
         |  CAST(${90L * 60L * 1000000000L} AS BIGINT) AS dur_90m_ns
         |FROM events ORDER BY event_id""".stripMargin)),

    // The X_id_to_Y metadata lookup family (metadata_ops.cc) through the
    // synthetic entity dimension: pod/namespace/service/replicaset/
    // deployment/ip resolution + has_service_name over a partial service
    // dim (null path through the left broadcast join).
    Gate("q53_entities", (s, dir) => {
      val ev = t(s, dir, "events")
      val dim = K8sMetadata.syntheticEntityDim(ev, splitNs)
      val resolved = K8sMetadata.resolveAsOf(ev, dim, "user_id", "owner_id", "ts",
        Seq("pod_id", "namespace", "service_id", "replica_set", "deployment", "pod_ip"))
      val svcDim = dim.filter(pmod(col("owner_id"), lit(10)) < 7)
        .select(col("pod_id"), col("service_name"))
      K8sMetadata.hasServiceName(resolved, svcDim, "pod_id", "pod_id")
        .select("event_id", "pod_id", "namespace", "service_id",
          "replica_set", "deployment", "pod_ip", "has_service")
        .orderBy("event_id")
    }, oracle = (
      s"""WITH e AS (SELECT event_id, user_id,
         |  CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS gen
         |  FROM events)
         |SELECT event_id,
         |  'ns' || (user_id % 3) || '/pod-' || user_id || '-g' || gen AS pod_id,
         |  'ns' || (user_id % 3) AS namespace,
         |  'svcid-' || (user_id % 10) AS service_id,
         |  'rs-' || (user_id % 10) || '-g' || gen AS replica_set,
         |  'deploy-' || (user_id % 10) AS deployment,
         |  '10.1.' || (user_id % 250) || '.' || (10 + gen) AS pod_ip,
         |  (user_id % 10 < 7) AS has_service
         |FROM e ORDER BY event_id""".stripMargin)),

    // Scalar ML surface: _kmeans_inference on fixed centroids,
    // _predict_request_path_cluster on a template set, _text_embedding /
    // _encode_sentence_piece deterministic stubs (ml_ops.cc,
    // request_path_ops.cc).
    Gate("q54_ml_scalars", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val v2 = array(element_at(col("embedding"), 1).cast("double"),
        element_at(col("embedding"), 2).cast("double"))
      val centLit = typedLit(cents.map(c => Seq(c._1, c._2)))
      val path = when(pmod(col("vec_id"), lit(3)) === 0, lit("/healthz"))
        .when(pmod(col("vec_id"), lit(3)) === 1,
          concat(lit("/api/v1/users/"), col("vec_id"), lit("/posts/7")))
        .otherwise(concat(lit("/other/"), col("vec_id")))
      emb.select(
        col("vec_id"),
        MlScalars.kmeansInference(v2, centLit).as("cluster"),
        MlScalars.predictRequestPathCluster(path, typedLit(templates)).as("endpoint"),
        element_at(MlScalars.textEmbedding(
          concat(lit("vec"), col("vec_id")), 4), 1).as("e0"),
        element_at(MlScalars.textEmbedding(
          concat(lit("vec"), col("vec_id")), 4), 4).as("e3"),
        to_json(MlScalars.encodeSentencePiece(
          concat(lit("hello worldwide w"), col("vec_id")))).as("pieces")
      ).orderBy("vec_id")
    }, oracle = (
      s"""WITH v AS (SELECT vec_id,
         |    CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y
         |  FROM embeddings),
         |d AS (SELECT vec_id, x, y,
         |${cents.zipWithIndex.map { case ((cx, cy), i) =>
             s"  (x - ($cx)) * (x - ($cx)) + (y - ($cy)) * (y - ($cy)) AS d$i" }
             .mkString(",\n")}
         |  FROM v)
         |SELECT vec_id,
         |  CAST(CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0
         |       WHEN d1 <= d2 THEN 1 ELSE 2 END AS BIGINT) AS cluster,
         |  CASE WHEN vec_id % 3 = 0 THEN '/healthz'
         |       WHEN vec_id % 3 = 1 THEN '/api/v1/users/*/posts/*'
         |       ELSE NULL END AS endpoint,
         |  ${hashedESql(0)} AS e0,
         |  ${hashedESql(3)} AS e3,
         |  to_json(flatten(list_transform(
         |    list_filter(string_split('hello worldwide w' || vec_id, ' '), w -> len(w) > 0),
         |    w -> list_filter(string_split(
         |      ${graft.ops.TextOps.bpeEncodeSql("('▁' || w)",
                  graft.functions.MlScalars.sentencePieceMerges)}, '|'),
         |      t -> t <> '')))) AS pieces
         |FROM d ORDER BY vec_id""".stripMargin)),

    // pxl script-corpus shape (src/pxl_scripts/px/net_flow_graph): edge
    // aggregation src->dst plus per-src fan-out degree — one shuffle for
    // the edge agg, the degree from a second small agg over edges.
    Gate("q56_flow_graph", (s, dir) => {
      val ev = t(s, dir, "events").select(
        concat(lit("u"), pmod(col("user_id"), lit(20))).as("src"),
        concat(lit("svc-"), pmod(col("event_id"), lit(7))).as("dst"),
        col("value"))
      val edges = ev.groupBy("src", "dst")
        .agg(count(lit(1)).as("n_flows"), qsum(col("value")).as("bytes"))
      val degree = edges.groupBy("src").agg(count(lit(1)).as("fan_out"))
      edges.join(broadcast(degree), "src").orderBy("src", "dst")
    }, oracle = (
      s"""WITH ev AS (SELECT 'u' || (user_id % 20) AS src,
         |    'svc-' || (event_id % 7) AS dst, value FROM events),
         |edges AS (SELECT src, dst, COUNT(*) AS n_flows,
         |    ${qsumSql("value")} AS bytes FROM ev GROUP BY src, dst),
         |degree AS (SELECT src, COUNT(*) AS fan_out FROM edges GROUP BY src)
         |SELECT e.src, e.dst, e.n_flows, e.bytes, d.fan_out
         |FROM edges e JOIN degree d ON e.src = d.src
         |ORDER BY e.src, e.dst""".stripMargin)),

    // Sliding event-time windows in batch (PxTable.rollingAgg — the
    // reference declares df.rolling but cannot execute it;
    // ir/rolling_ir.cc:55-56). 2h windows sliding 1h: every event lands
    // in exactly two windows.
    Gate("q57_rolling", (s, dir) => {
      graft.operators.PxTable(t(s, dir, "events"))
        .rollingAgg("ts", 7200, 3600, Seq("event_type"),
          "n" -> count(lit(1)), "sum_value" -> qsum(col("value")))
        .df.orderBy("window_start_ns", "event_type")
    }, oracle = (
      s"""WITH b AS (SELECT event_type, value,
         |    (epoch_us(ts) // 3600000000) * 3600 AS h FROM events),
         |w AS (SELECT event_type, value, (h - 3600) * 1000000000 AS wsn FROM b
         |      UNION ALL
         |      SELECT event_type, value, h * 1000000000 AS wsn FROM b)
         |SELECT wsn AS window_start_ns, event_type, COUNT(*) AS n,
         |       ${qsumSql("value")} AS sum_value
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // http_data script shape (src/pxl_scripts/px/http_data): scan ->
    // status decode -> service resolution -> error filter -> time-ordered
    // capped result.
    Gate("q59_http_data", (s, dir) => {
      val ev = t(s, dir, "events")
      val dim = K8sMetadata.syntheticEntityDim(ev, splitNs)
      val status = (lit(100) + pmod(col("event_id"), lit(460)))
      val withHttp = ev
        .withColumn("status", status)
        .withColumn("msg", graft.functions.ProtocolOps.httpRespMessage.column(status))
      K8sMetadata.resolveAsOf(withHttp, dim, "user_id", "owner_id", "ts",
          Seq("service_name"))
        .where(col("status") >= 400)
        .select("event_id", "status", "msg", "service_name")
        .orderBy("event_id").limit(2000)
    }, oracle = (
      s"""WITH h AS (SELECT event_id, user_id, 100 + event_id % 460 AS status,
         |    CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS gen
         |  FROM events)
         |SELECT event_id, status,
         |  ${graft.functions.ProtocolOps.httpRespMessage.sql("status")} AS msg,
         |  'svc-' || (user_id % 10) AS service_name
         |FROM h WHERE status >= 400 ORDER BY event_id LIMIT 2000""".stripMargin)),

    // UINT128/UPID equality join (SURVEY §1.2: binary(16) keys join
    // exactly): facts and a per-process dimension meet on the composed
    // upid bytes, dimension broadcast.
    Gate("q60_upid_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val mk = (uid: org.apache.spark.sql.Column) =>
        graft.types.Upid.makeUpid(uid, uid * 2, lit(1700000000000000000L))
      val dim = ev.select(col("user_id")).distinct().select(
        mk(col("user_id")).as("upid"),
        concat(lit("owner-"), pmod(col("user_id"), lit(5))).as("owner"))
      ev.select(col("event_id"), mk(col("user_id")).as("upid"))
        .join(broadcast(dim), Seq("upid"))
        .select(col("event_id"), lower(hex(col("upid"))).as("upid_hex"),
          col("owner"))
        .orderBy("event_id")
    }, oracle = (
      """WITH mk AS (SELECT event_id, user_id,
        |    lower(lpad(to_hex(user_id), 8, '0') || lpad(to_hex(user_id * 2), 8, '0') ||
        |          lpad(to_hex(1700000000000000000), 16, '0')) AS upid_hex
        |  FROM events)
        |SELECT event_id, upid_hex, 'owner-' || (user_id % 5) AS owner
        |FROM mk ORDER BY event_id""".stripMargin)),

    // Batch gap sessionization (window-function counterpart of
    // Streaming.sessionize): per-user sessions split on >1h gaps. Time
    // math at µs granularity so both engines see identical deltas (the
    // DuckDB view of the ns column is µs-truncated).
    Gate("q63_sessions", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val gapUs = 3600L * 1000000L
      val w = Window.partitionBy("user_id").orderBy("ts_us")
      val ev = t(s, dir, "events")
        .select(col("user_id"), nsToUs(col("ts")).as("ts_us"))
      ev.withColumn("new_sess",
          when(lag(col("ts_us"), 1).over(w).isNull ||
            col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum(col("new_sess")).over(
          Window.partitionBy("user_id").orderBy("ts_us")))
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
        .orderBy("user_id", "session_no")
    }, oracle = q63OracleSql),

    // Per-protocol stats rollup (the mysql_/pgsql_/cql_/kafka_ stats
    // script family): tumbling bin x protocol decode -> counts, payload
    // sum, error share — one shuffle.
    Gate("q62_protocol_stats", (s, dir) => {
      val proto = graft.functions.ProtocolOps.protocolName
        .column(pmod(col("event_id"), lit(8)))
      val status = lit(100) + pmod(col("event_id"), lit(460))
      t(s, dir, "events")
        .select(timeBinNs(col("ts"), 86400).as("day"), proto.as("protocol"),
          col("value"), (status >= 400).cast("long").as("is_err"))
        .groupBy("day", "protocol")
        .agg(count(lit(1)).as("n"), qsum(col("value")).as("bytes"),
          sum(col("is_err")).as("n_err"))
        .withColumn("err_share",
          round(col("n_err").cast("double") / col("n"), 6))
        .orderBy("day", "protocol")
    }, oracle = (
      s"""WITH ev AS (SELECT (epoch_us(ts) // 86400000000) * 86400 AS day,
         |    ${graft.functions.ProtocolOps.protocolName.sql("(event_id % 8)")} AS protocol,
         |    value,
         |    CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END AS is_err
         |  FROM events)
         |SELECT day, protocol, COUNT(*) AS n, ${qsumSql("value")} AS bytes,
         |  CAST(SUM(is_err) AS BIGINT) AS n_err,
         |  round(CAST(SUM(is_err) AS DOUBLE) / COUNT(*), 6) AS err_share
         |FROM ev GROUP BY day, protocol ORDER BY day, protocol""".stripMargin)),

    // Embedding-cosine near-dup (north-star dedup family): sign-LSH
    // bucket candidates + exact cosine scorer over the embeddings table
    // — no blocked all-pairs join (the 100 TB shape).
    Gate("q61_embed_neardup", (s, dir) =>
      graft.ops.Dedup.embeddingNearDup(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, minCos = 0.2, bitsPerTable = 4, nTables = 8)
        .orderBy("doc_a", "doc_b"), oracle = {
      val bucketCols = (0 until 8)
        .map(t => s"(${graft.ops.Similarity.lshBucketSql("e", 64, t, 4)}) AS b$t")
        .mkString(",\n    ")
      val bucketCase = (0 until 8).map(t => s"WHEN $t THEN b$t").mkString(" ")
      s"""WITH v AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |n AS (SELECT vec_id, e,
         |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
         |bk AS (SELECT vec_id,
         |    $bucketCols
         |  FROM n),
         |cb AS (SELECT vec_id, t.tbl, (CASE t.tbl $bucketCase END) AS bucket
         |  FROM bk, (SELECT unnest(range(8)) AS tbl) t),
         |cand AS (SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
         |  FROM cb a JOIN cb b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |    AND a.vec_id < b.vec_id),
         |s AS (SELECT da, db,
         |    list_sum(list_transform(range(64), i -> na.e[i+1] * nb.e[i+1]))
         |      / (na.nrm * nb.nrm) AS cos
         |  FROM cand JOIN n na ON na.vec_id = da JOIN n nb ON nb.vec_id = db)
         |SELECT da AS doc_a, db AS doc_b, least(da, db) AS keeper_id,
         |  CAST(round(cos, 6) AS REAL) AS cos
         |FROM s WHERE cos >= 0.2 ORDER BY doc_a, doc_b""".stripMargin
    }),

    // Structured Streaming in the ORACLE GATE: the windowed eow-flush
    // aggregation (Streaming.windowedCounts) replayed over the parquet
    // file stream with an AvailableNow trigger into a memory sink — the
    // streaming path must produce exactly the batch answer. Values are
    // pre-quantized (Q.qsum pattern) so the sum is order-independent.
    Gate("q75_streaming_window", (s, dir) => {
      val stream = graft.core.Tables.stream(s, dir, "events")
        .withColumn("value", floor(col("value") * 1000000.0 + 0.5))
      val counts = graft.streaming.Streaming
        .windowedCounts(stream, "ts", 86400, 0, "event_type")
      drainMemory(s, counts, "complete")(_.select(col("bucket"),
          col("event_type"), col("n"), (col("sum_value") / 1000000.0).as("sum_value"))
        .orderBy("bucket", "event_type"))
    }, oracle = (
      s"""SELECT (epoch_us(ts) // 86400000000) * 86400 AS bucket, event_type,
         |  COUNT(*) AS n,
         |  SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0 AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin)),

    // EmptySource (plan.proto:354-360): one empty batch with a schema —
    // the schema must round-trip through the sink even with zero rows.
    Gate("q78_empty_source", (s, dir) =>
      graft.operators.PxTable.empty(s, t(s, dir, "nation").schema).df, oracle = "SELECT * FROM nation WHERE false"),

    // Custom streaming STATE in the oracle gate: gap-sessionization via
    // flatMapGroupsWithState replayed over the file stream. Append mode
    // emits a session only when a LATER event closes it, so each user's
    // final session stays open — the oracle drops it the same way. ts is
    // µs-truncated before the gap math so both engines compare the same
    // values (sub-µs ns parts are invisible to DuckDB).
    Gate("q94_streaming_sessions", (s, dir) => {
      import s.implicits._
      val stream = graft.core.Tables.stream(s, dir, "events")
        .select(col("user_id"),
          (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L)
            .as("ts_ns"))
        .as[graft.streaming.Streaming.SessionEvent]
      val sessions = graft.streaming.Streaming
        .sessionize(stream, gapNs = 3600L * 1000000000L)
      drainMemory(s, sessions, "append")(_.orderBy("user_id", "start_ns"))
    }, oracle =
      """WITH o AS (SELECT user_id, epoch_us(ts) * 1000 AS t FROM events),
        |l AS (SELECT user_id, t,
        |        lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt FROM o),
        |m AS (SELECT *, CASE WHEN pt IS NULL OR t - pt > 3600000000000
        |        THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |g AS (SELECT user_id, sid, min(t) AS start_ns, max(t) AS end_ns,
        |        count(*) AS n_events FROM s GROUP BY 1, 2),
        |r AS (SELECT *, max(sid) OVER (PARTITION BY user_id) AS last_sid FROM g)
        |SELECT user_id, start_ns, end_ns, n_events
        |FROM r WHERE sid < last_sid ORDER BY user_id, start_ns""".stripMargin),

    // Stream-static as-of join in the oracle gate: the streaming fact
    // resolves point-in-time pod metadata against the static two-
    // generation dimension (the ctx-resolution shape, streaming side).
    Gate("q95_streaming_asof", (s, dir) => {
      val splitNs = tsNsLit("2024-01-15")
      val dim = graft.meta.K8sMetadata.syntheticPodDim(t(s, dir, "events"), splitNs)
      val stream = graft.core.Tables.stream(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L)
            .as("ts"))
      val resolved = graft.meta.K8sMetadata.resolveAsOf(
        stream, dim, "user_id", "owner_id", "ts", Seq("pod_name", "service_name"))
      drainMemory(s, resolved, "append")(_.select("event_id", "user_id", "ts",
        "pod_name", "service_name").orderBy("event_id"))
    }, oracle = {
      val split = tsNsLit("2024-01-15")
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) * 1000 AS t,
         |        CASE WHEN epoch_us(ts) * 1000 < $split THEN 0 ELSE 1 END AS g
         |      FROM events)
         |SELECT event_id, user_id, t AS ts,
         |  'pod-' || user_id || '-gen' || g AS pod_name,
         |  'svc-' || (user_id % 10) AS service_name
         |FROM e ORDER BY event_id""".stripMargin
    }),

    // dns_stats script shape (src/pxl_scripts/px/dns_*): tumbling px.bin
    // + protocol decoder rollup with error share.
    Gate("q58_dns_stats", (s, dir) => {
      val rcode = graft.functions.ProtocolOps.dnsRcodeName
        .column(pmod(col("event_id"), lit(6)))
      val ev = t(s, dir, "events")
        .select(timeBinNs(col("ts"), 86400).as("day"), rcode.as("rcode"),
          col("value"))
      ev.groupBy("day", "rcode")
        .agg(count(lit(1)).as("n"), qsum(col("value")).as("sum_value"))
        .withColumn("is_error", col("rcode") =!= "NOERROR")
        .orderBy("day", "rcode")
    }, oracle = (
      s"""WITH ev AS (SELECT (epoch_us(ts) // 86400000000) * 86400 AS day,
         |    ${graft.functions.ProtocolOps.dnsRcodeName.sql("(event_id % 6)")} AS rcode,
         |    value FROM events)
         |SELECT day, rcode, COUNT(*) AS n, ${qsumSql("value")} AS sum_value,
         |       (rcode <> 'NOERROR') AS is_error
         |FROM ev GROUP BY day, rcode ORDER BY day, rcode""".stripMargin))
  )

  /** Hashing-trick embedding component i of the single-token q54 input
    * 'vecN' at dim=4: the token's one ±1 lands in bucket h%4 with sign
    * by h%2, the L2 norm of a one-hot ±1 vector is exactly 1 — so
    * component i is ±1 when i is the bucket, else 0 (MlScalars
    * .textEmbeddingHashed re-derived for a single token).
    */
  private def hashedESql(i: Int): String = {
    val h = h60Sql("'vec' || vec_id")
    s"CASE WHEN ($h) % 4 = $i THEN " +
      s"(CASE WHEN ($h) % 2 = 0 THEN 1.0 ELSE -1.0 END) ELSE 0.0 END"
  }

  /** q63's oracle, shared verbatim by EventAnalytics' q418 session window. */
  private[queries] val q63OracleSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      |f AS (SELECT user_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
      |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
      |              > 3600000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |g AS (SELECT user_id, ts_us,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us) AS BIGINT) AS session_no
      |  FROM f)
      |SELECT user_id, session_no, COUNT(*) AS n_events,
      |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
      |FROM g GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin
}
