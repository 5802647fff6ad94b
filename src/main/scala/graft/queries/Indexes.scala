package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Dedup.h60Sql
import graft.ops.{Dedup, Similarity, Scale, SemIndex}
import MediaLifecycle.{semCtes, semLife}
import NorthStar.{K, BANDS, NGRAM}
import Q._

/** Index-maintenance gates: the persisted SQ8 and dedup indexes
  * (append, compact, delete, stats), z-order layout and zone-map
  * skipping, shard-resize audits, LSH bucket caps, and the semantic
  * index's compaction, occupancy card and refits.
  */
object Indexes extends Gates {

  /** The SQ8 ANN re-derivation, parameterized by the codes-side
    * predicate: q326 serves ALL codes ("TRUE"); q385 serves the
    * post-delete index, i.e. the same BUILD-TIME bounds (computed over
    * the full corpus `v`) with deleted ids filtered OUT of the code
    * table only — exactly [[graft.ops.Similarity.deleteFromSq8Index]]'s
    * retained-bounds tombstone contract.
    */
  private[queries] def sq8OracleSql(codesPred: String): String =
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |mm AS (SELECT d, min(x) AS lo, max(x) AS hi
       |  FROM (SELECT unnest(e) AS x, unnest(range(64)) AS d FROM v)
       |  GROUP BY d),
       |p AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi
       |  FROM mm),
       |codes AS (SELECT vec_id AS nid, list_transform(range(64), j ->
       |    CASE WHEN hi[j+1] = lo[j+1] THEN 0
       |    ELSE least(255, CAST(floor((e[j+1] - lo[j+1])
       |      / (hi[j+1] - lo[j+1]) * 256.0) AS BIGINT)) END) AS cd
       |  FROM v, p WHERE $codesPred),
       |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 10),
       |s AS (SELECT qid, nid, list_sum(list_transform(range(64), j ->
       |    (qe[j+1] - (lo[j+1] + (cd[j+1] + 0.5) * (hi[j+1] - lo[j+1]) / 256.0))
       |    * (qe[j+1] - (lo[j+1] + (cd[j+1] + 0.5) * (hi[j+1] - lo[j+1]) / 256.0))
       |    )) AS dist
       |  FROM q, codes, p WHERE nid <> qid),
       |r AS (SELECT qid AS query_id, nid AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nid)
       |      AS INTEGER) AS rank,
       |    round(dist, 6) AS adc_dist FROM s)
       |SELECT query_id, neighbor_id, rank, adc_dist FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** q383's predicate rectangles (xlo, xhi, ylo, yhi) over
    * (l_partkey, l_suppkey) — narrow-x, narrow-y, narrow-both, and a
    * wide box; sf-stable (key ranges only grow with scale factor).
    */
  private val zonePreds: Seq[(Long, Long, Long, Long)] = Seq(
    (100L, 299L, 0L, 10000000L),
    (0L, 10000000L, 10L, 29L),
    (100L, 299L, 10L, 29L),
    (0L, 999L, 0L, 49L))

  /** SQL mirror of [[graft.ops.Scale.interleaveBits]] — generated from
    * the same bit loop so the two can't drift.
    */
  private def interleaveSql(bx: String, by: String, bits: Int): String =
    (0 until bits).map { k =>
      s"((($bx >> $k) & 1) << ${2 * k}) + ((($by >> $k) & 1) << ${2 * k + 1})"
    }.mkString(" + ")

  /** Shared layout CTE prefix for q382/q383: row id, dims, Morton key
    * over 8-bit equi-width buckets, and the total row count.
    */
  private val zLayoutCtes: String = {
    val z = interleaveSql("bxx", "byy", 8)
    s"""d AS (SELECT l_orderkey * 8 + l_linenumber AS id,
       |    CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
       |  FROM lineitem),
       |mm AS (SELECT min(x) AS x0, max(x) AS x1,
       |    min(y) AS y0, max(y) AS y1 FROM d),
       |g AS (SELECT id, x, y, $z AS zord FROM
       |  (SELECT id, x, y,
       |     (x - x0) // ((x1 - x0 + 256) // 256) AS bxx,
       |     (y - y0) // ((y1 - y0 + 256) // 256) AS byy FROM d, mm)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g)""".stripMargin
  }

  private val zonePredsSql: String =
    zonePreds.zipWithIndex.map { case ((a, b, c, d), i) =>
      s"($i::BIGINT, $a::BIGINT, $b::BIGINT, $c::BIGINT, $d::BIGINT)"
    }.mkString(", ")

  /** 45 distinct pseudo-words — shared boilerplate prefix for the
    * q515 hot-bucket plant (engine and oracle build the same strings
    * from this one constant).
    */
  private val CapPrefix: String =
    (1 to 45).map("p" + _).mkString(" ")

  /** Occupancy-triggered refit, run on a content-identical COPY of
    * the q521 lifecycle's semantic index (the lifecycle root keeps
    * its pinned 8 cells for q521/q522/q525/q526/q529/q532/q535): copy
    * seeds + cell partitions, fire [[SemIndex.refitIfNeeded]] at
    * targetOcc = 16 (the grown index holds ~n_total > 16·8 vectors,
    * so the documented trigger condition is genuinely met, not
    * planted), and keep the returned cell count for the card row.
    */
  private[queries] val refitLife = Fixture.rooted("graft_sem_refitp_") { (s, d, root) =>
    val src = MediaLifecycle.semLife(s, d)._1
    val p = SemIndex.Paths(root)
    s.read.parquet(src.seeds).repartition(1)
      .write.mode("overwrite").parquet(p.seeds)
    s.read.parquet(src.index)
      .select("vec_id", "e", "n", "cell")
      .write.partitionBy("cell").mode("overwrite").parquet(p.index)
    val nc = SemIndex.refitIfNeeded(s, p, targetOcc = 16L)
    require(nc > 0L, "refitLife: occupancy trigger did not fire")
    (p, nc)
  }

  /** The fired-refit re-derivation over the grown index (idx3): the
    * DYNAMIC ⌈n/16⌉ cell count, the q535 init-only seed contract at
    * that count (rank positions over the distinct-sorted 128-cap),
    * and the re-binned index `cellr(vec_id, cell, e, nrm)` — shared
    * by the q549 card and the q556 search.
    */
  private[queries] def refitCtes: String =
    s"""kc AS (SELECT (CAST(count(*) AS BIGINT) + 15) // 16 AS k
       |  FROM idx3),
       |cvr AS (SELECT e, row_number() OVER (ORDER BY e) AS rn
       |  FROM (SELECT DISTINCT e FROM idx3) ORDER BY e LIMIT 128),
       |ccr AS (SELECT count(*) AS c FROM cvr),
       |seedsr AS (SELECT r.i + 1 AS sid,
       |    list_transform(cvr.e, x -> round_even(x * 1000000, 0)
       |      / 1000000) AS se
       |  FROM (SELECT unnest(range(1024)) AS i) r, kc, ccr, cvr
       |  WHERE r.i < kc.k AND cvr.rn = (r.i * ccr.c) // kc.k + 1),
       |snr AS (SELECT sid, se,
       |    sqrt(list_sum(list_transform(se, x -> x * x))) AS snrm
       |  FROM seedsr),
       |csr AS (SELECT idx3.vec_id, sid,
       |    list_sum(list_transform(range(64),
       |      i -> idx3.e[i+1] * se[i+1])) / (idx3.nrm * snrm) AS c
       |  FROM idx3, snr),
       |cellr AS (SELECT b.vec_id, b.cell, idx3.e, idx3.nrm
       |  FROM (SELECT vec_id, CAST(sid AS INT) AS cell FROM
       |    (SELECT *, row_number() OVER (PARTITION BY vec_id
       |       ORDER BY c DESC, sid) AS rn FROM csr) WHERE rn = 1) b
       |  JOIN idx3 ON idx3.vec_id = b.vec_id)""".stripMargin

  /** The first ten vectors' SQ8 top-5, served off the index at `idx`. */
  private def sq8Top5(s: org.apache.spark.sql.SparkSession, idx: String,
                      emb: org.apache.spark.sql.DataFrame) =
    Similarity.sq8TopKIndexed(s, idx, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .orderBy("query_id", "rank")

  lazy val gates: Seq[Gate] = Seq(
    // The persisted-index SQ8 path: codes + bounds written once, the
    // query reads ONLY the index — identical answers to q326 by
    // construction (shares its oracle, the q283 pattern).
    Gate("q338_ann_sq8_indexed", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Fixture.scratch("graft_sq8_index_") { idx =>
        Similarity.writeSq8Index(emb, "vec_id", "embedding", idx)
        sq8Top5(s, idx, emb)
      }
    }, oracle = sq8OracleSql("TRUE")),

    // Incremental SQ8 maintenance: index built on the 80% snapshot, the
    // 20% delta folded in WITHOUT re-encoding the corpus (bounds-drift
    // check -> append with stored bounds, or rebuild if violated).
    // Either path must equal a full rebuild over snapshot+delta — so
    // this shares q326's full-corpus oracle verbatim.
    Gate("q348_sq8_index_append", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(5L)) =!= 0)
      val delta = emb.where(pmod(col("vec_id"), lit(5L)) === 0)
      Fixture.scratch("graft_sq8_append_") { idx =>
        Similarity.writeSq8Index(corpus, "vec_id", "embedding", idx)
        Similarity.appendSq8Index(s, idx, delta, "vec_id", "embedding",
          corpus)
        sq8Top5(s, idx, emb)
      }
    }, oracle = sq8OracleSql("TRUE")),

    // Index compaction after appends: the append leaves small files;
    // compaction rewrites the codes into right-sized partitions and
    // must not change a single answer — shares q326's oracle too.
    Gate("q351_sq8_index_compact", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(5L)) =!= 0)
      val delta = emb.where(pmod(col("vec_id"), lit(5L)) === 0)
      Fixture.scratch("graft_sq8_compact_") { idx =>
        Similarity.writeSq8Index(corpus, "vec_id", "embedding", idx)
        Similarity.appendSq8Index(s, idx, delta, "vec_id", "embedding",
          corpus)
        Similarity.compactSq8Index(s, idx, 4)
        sq8Top5(s, idx, emb)
      }
    }, oracle = sq8OracleSql("TRUE")),

    // Dedup-index append: ingest batch1 into the persisted index, then
    // serve batch2's decisions from the appended index. The oracle
    // re-derives batch2's decisions against the GROWN corpus directly
    // (corpus' = %5 != 1) — proving appended index == rebuilt index.
    Gate("q352_dedup_index_append", (s, dir) => {
      // exchange-bound consumer: spread opt-out (r14 regression +2.3 s)
      val docs = tp(s, dir, "documents")
      val corpus0 = docs.where(pmod(col("doc_id"), lit(5L)).isin(2L, 3L, 4L))
      val batch1 = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
      val batch2 = docs.where(pmod(col("doc_id"), lit(5L)) === 1)
      val grown = docs.where(pmod(col("doc_id"), lit(5L)) =!= 1)
      Fixture.scratch("graft_dedup_append_") { idx =>
        Dedup.writeDedupIndex(corpus0, "text", "doc_id", idx, NGRAM, K,
          BANDS)
        Dedup.appendDedupIndex(batch1, "text", "doc_id", idx, NGRAM, K,
          BANDS)
        Dedup.incrementalDedupIndexed(idx, grown, batch2, "text", "doc_id",
            NGRAM, K, BANDS, 0.8)
          .orderBy("doc_id")
      }
    }, oracle =
      TextCuration.incrementalDedupOracle("doc_id % 5 <> 1", "doc_id % 5 = 1")),

    // Streaming ANN ingest: the snapshot index is built in batch, then
    // the delta slice ARRIVES AS A STREAM and each micro-batch folds
    // into the persisted index via foreachBatch + appendSq8Index (the
    // bounds-drift contract unchanged). After the replay the index
    // must answer exactly like a full rebuild — shares q326's oracle,
    // completing the serving story: batch build -> streaming ingest ->
    // compaction, all decision-identical.
    Gate("q363_streaming_sq8_ingest", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(pmod(col("vec_id"), lit(5L)) =!= 0)
      Fixture.scratch("graft_sq8_stream_") { idx =>
        Similarity.writeSq8Index(corpus, "vec_id", "embedding", idx)
        val deltaStream = graft.core.Tables.stream(s, dir, "embeddings")
          .where(pmod(col("vec_id"), lit(5L)) === 0)
        // the rebuild-path corpus must GROW with each appended batch —
        // otherwise a drifting later batch would rebuild without the
        // earlier deltas (foreachBatch runs sequentially, so the fold
        // is safe; batches are checkpointed before joining the
        // accumulator)
        var corpusAcc = corpus
        val q = deltaStream.writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, _: Long) =>
              if (!batch.isEmpty) {
                val b = batch.localCheckpoint(true)
                Similarity.appendSq8Index(s, idx, b, "vec_id", "embedding",
                  corpusAcc)
                corpusAcc = corpusAcc.unionByName(b)
              }
              ()
          }
          .start()
        q.awaitTermination()
        sq8Top5(s, idx, emb)
      }
    }, oracle =
      // streamed delta ingest == full rebuild, by the append contract
      sq8OracleSql("TRUE")),

    // Dedup-index compaction: append batch1, COMPACT the hash/band
    // tables, then serve batch2 — decisions must still equal the
    // grown-corpus rebuild (shares q352's oracle).
    Gate("q366_dedup_index_compact", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus0 = docs.where(pmod(col("doc_id"), lit(5L)).isin(2L, 3L, 4L))
      val batch1 = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
      val batch2 = docs.where(pmod(col("doc_id"), lit(5L)) === 1)
      val grown = docs.where(pmod(col("doc_id"), lit(5L)) =!= 1)
      Fixture.scratch("graft_dedup_compact_") { idx =>
        Dedup.writeDedupIndex(corpus0, "text", "doc_id", idx, NGRAM, K,
          BANDS)
        Dedup.appendDedupIndex(batch1, "text", "doc_id", idx, NGRAM, K,
          BANDS)
        Dedup.compactDedupIndex(s, idx, 2)
        Dedup.incrementalDedupIndexed(idx, grown, batch2, "text", "doc_id",
            NGRAM, K, BANDS, 0.8)
          .orderBy("doc_id")
      }
    }, oracle =
      // compaction must not change a single decision
      TextCuration.incrementalDedupOracle("doc_id % 5 <> 1", "doc_id % 5 = 1")),

    // SQ8 index health stats: codes count, dim, bounds geometry —
    // everything re-derivable from the raw embeddings by the oracle.
    Gate("q372_sq8_index_stats", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Fixture.scratch("graft_sq8_stats_") { idx =>
        Similarity.writeSq8Index(emb, "vec_id", "embedding", idx)
        Similarity.sq8IndexStats(s, idx)
      }
    }, oracle =
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |dd AS (SELECT u.i AS d, e[u.i + 1] AS x
        |  FROM v, unnest(range(64)) u(i)),
        |b AS (SELECT d, min(x) AS lo, max(x) AS hi FROM dd GROUP BY d)
        |SELECT (SELECT count(*) FROM embeddings) AS n_codes,
        |  count(*) AS dim,
        |  round(min(lo), 6) + 0.0 AS min_lo, round(max(hi), 6) + 0.0 AS max_hi,
        |  round(CAST(sum(CAST(floor((hi - lo) * 1e6 + 0.5) AS BIGINT))
        |    AS DOUBLE) / 1e6 / count(*), 6) AS mean_width
        |FROM b""".stripMargin),

    // Z-order (Morton) layout of lineitem by (l_partkey, l_suppkey)
    // into 64 balanced files + each file's zone map — the min/max
    // stats a reader prunes with.
    Gate("q382_zorder_layout", (s, dir) => {
      Scale.zorderLayout(
          t(s, dir, "lineitem").withColumn("rid",
            col("l_orderkey") * 8L + col("l_linenumber")),
          "l_partkey", "l_suppkey", "rid", bits = 8, nFiles = 64)
        .orderBy("file")
    }, oracle =
      s"""WITH $zLayoutCtes,
         |r AS (SELECT x, y,
         |    (row_number() OVER (ORDER BY zord, id) - 1) * 64 // nn.n
         |      AS file
         |  FROM g, nn)
         |SELECT file, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y
         |FROM r GROUP BY file ORDER BY file""".stripMargin),

    // Zone-map skipping: files scanned under z-order vs linear-by-x
    // for four rectangular predicates, with true selectivities.
    Gate("q383_zonemap_skipping", (s, dir) => {
      Scale.zonemapSkipReport(
          t(s, dir, "lineitem").withColumn("rid",
            col("l_orderkey") * 8L + col("l_linenumber")),
          "l_partkey", "l_suppkey", "rid", bits = 8, nFiles = 64,
          preds = zonePreds)
        .orderBy("pred_id", "layout")
    }, oracle =
      s"""WITH $zLayoutCtes,
         |zf AS (SELECT x, y,
         |    (row_number() OVER (ORDER BY zord, id) - 1) * 64 // nn.n
         |      AS file FROM g, nn),
         |lf AS (SELECT x, y,
         |    (row_number() OVER (ORDER BY x, id) - 1) * 64 // nn.n
         |      AS file FROM g, nn),
         |zz AS (SELECT 'zorder' AS layout, file, min(x) AS min_x,
         |    max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |  FROM zf GROUP BY file
         |  UNION ALL SELECT 'linear', file, min(x), max(x), min(y), max(y)
         |  FROM lf GROUP BY file),
         |p AS (SELECT * FROM (VALUES $zonePredsSql)
         |  AS t(pred_id, xlo, xhi, ylo, yhi)),
         |scans AS (SELECT pred_id, layout,
         |    CAST(sum(CASE WHEN NOT (max_x < xlo OR min_x > xhi
         |        OR max_y < ylo OR min_y > yhi) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS files_scanned,
         |    CAST(count(*) AS BIGINT) AS files_total
         |  FROM zz, p GROUP BY 1, 2),
         |rm AS (SELECT pred_id, CAST(count(*) AS BIGINT) AS rows_matched
         |  FROM d, p WHERE x >= xlo AND x <= xhi AND y >= ylo AND y <= yhi
         |  GROUP BY 1)
         |SELECT s.pred_id, s.layout, files_scanned, files_total,
         |  (files_total - files_scanned) * 1000000 // files_total
         |    AS skip_ppm,
         |  coalesce(rows_matched, 0) AS rows_matched
         |FROM scans s LEFT JOIN rm USING (pred_id)
         |ORDER BY pred_id, layout""".stripMargin),

    // Delete docs from the persisted dedup index (tombstone path),
    // then run the indexed delta: decisions must match the
    // shrunk-corpus oracle — deleted docs no longer block admission.
    Gate("q384_dedup_index_delete", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      val deleted = corpus.where(pmod(col("doc_id"), lit(7L)) === 0)
      val remaining = corpus.where(pmod(col("doc_id"), lit(7L)) =!= 0)
      val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
      Fixture.scratch("graft_dedup_delete_") { idx =>
        graft.ops.Dedup.writeDedupIndex(corpus, "text", "doc_id", idx,
          3, 16, 4)
        graft.ops.Dedup.deleteFromDedupIndex(s, idx, corpus, deleted,
          "text", "doc_id")
        graft.ops.Dedup.incrementalDedupIndexed(idx, remaining, batch,
            "text", "doc_id", 3, 16, 4, 0.8)
          .orderBy("doc_id")
      }
    }, oracle = TextCuration.incrementalDedupOracle(
      "doc_id % 5 <> 0 AND doc_id % 7 <> 0", "doc_id % 5 = 0")),

    // Delete vectors from the persisted SQ8 index (retained-bounds
    // tombstone), then serve: deleted neighbors vanish, survivors
    // keep their build-time codes.
    Gate("q385_sq8_index_delete", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Fixture.scratch("graft_sq8_delete_") { idx =>
        graft.ops.Similarity.writeSq8Index(emb, "vec_id", "embedding", idx)
        graft.ops.Similarity.deleteFromSq8Index(s, idx,
          emb.where(pmod(col("vec_id"), lit(11L)) === 0), "vec_id")
        graft.ops.Similarity.sq8TopKIndexed(s, idx,
            emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
          .orderBy("query_id", "rank")
      }
    }, oracle = sq8OracleSql("vec_id % 11 <> 0")),

    // Shard-resize migration audit over the user key space: a divisor
    // doubling (16 -> 32) scatters each shard into exactly 2
    // destinations; 16 -> 24 scatters into lcm(16,24)/16 = 3 — the
    // measured case for power-of-two resharding of persisted states.
    Gate("q468_shard_split", (s, dir) => {
      val ev = t(s, dir, "events")
      Scale.shardSplitReport(ev, "user_id", 16, 32)
        .withColumn("resize", lit("16->32"))
        .unionByName(Scale.shardSplitReport(ev, "user_id", 16, 24)
          .withColumn("resize", lit("16->24")))
        .orderBy("resize", "old_shard")
    }, oracle = {
      val h = Dedup.h60Sql("CAST(user_id AS VARCHAR)")
      def one(nw: Int, label: String) =
        s"""SELECT '$label' AS resize, h % 16 AS old_shard,
           |  CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(CASE WHEN h % $nw <> h % 16 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_moved,
           |  CAST(count(DISTINCT h % $nw) AS BIGINT) AS n_dest_shards,
           |  CAST(sum(CASE WHEN h % $nw <> h % 16 THEN 1 ELSE 0 END)
           |    AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
           |    AS moved_ppm
           |FROM hs GROUP BY 2""".stripMargin
      s"""WITH hs AS (SELECT DISTINCT ($h) AS h FROM events
         |  WHERE user_id IS NOT NULL)
         |${one(32, "16->32")}
         |UNION ALL
         |${one(24, "16->24")}
         |ORDER BY resize, old_shard""".stripMargin
    }),

    // Dedup-index health card over the q283-split index: hash-set
    // size, band rows, bands/doc, LSH bucket count + hottest bucket
    // (the candidate-explosion early warning an ops dashboard reads
    // before admitting a delta day).
    Gate("q502_dedup_index_stats", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      Fixture.scratch("graft_dedup_stats_") { idx =>
        graft.ops.Dedup.writeDedupIndex(corpus, "text", "doc_id", idx,
          NorthStar.NGRAM, NorthStar.K, NorthStar.BANDS)
        graft.ops.Dedup.dedupIndexStats(s, idx)
      }
    }, oracle =
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
         |${NorthStar.sigCtes("corpus", "c")},
         |bands AS (${NorthStar.bandsSql("c")}),
         |bk AS (SELECT band, bh, CAST(count(*) AS BIGINT) AS c
         |  FROM bands GROUP BY 1, 2)
         |SELECT
         |  (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) FROM corpus)
         |    AS n_hashes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bands) AS n_band_rows,
         |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM bands)
         |    AS n_docs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bk) AS n_buckets,
         |  (SELECT CAST(max(c) AS BIGINT) FROM bk) AS max_bucket,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bands)
         |    // greatest((SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
         |      FROM bands), 1) AS bands_per_doc""".stripMargin),

    // LSH bucket-cap policy on a PLANTED hot bucket: 30 corpus docs
    // sharing a 45-word prefix (the boilerplate-degeneracy shape)
    // drive their shared buckets past the cap; a probe doc with the
    // same prefix arrives in the delta. The capped candidate
    // generator keeps each bucket's 8 lowest-id members, decisions
    // carry the hit_capped_bucket disclosure column, and the oracle
    // re-derives the IDENTICAL rank-cap policy in SQL — capped
    // behavior is gated, not just bounded. Round11Spec additionally
    // pins that the plant really exceeds the cap and the probe really
    // gets flagged (non-vacuity).
    Gate("q515_lsh_bucket_cap", (s, dir) => {
      Fixture.scratch("graft_bucket_cap_") { root =>
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val plantC = s.range(1, 31)
          .select((col("id") + 9300000L).as("doc_id"),
            concat(lit(CapPrefix + " w"), col("id").cast("string"))
              .as("text"))
        val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
          .unionByName(plantC)
        val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
          .unionByName(s.range(1)
            .select(lit(9300100L).as("doc_id"),
              lit(CapPrefix + " probe").as("text")))
        graft.ops.Dedup.writeDedupIndex(corpus, "text", "doc_id", root,
          NorthStar.NGRAM, NorthStar.K, NorthStar.BANDS)
        graft.ops.Dedup.incrementalDedupCapped(root, corpus, batch,
            "text", "doc_id", NorthStar.NGRAM, NorthStar.K,
            NorthStar.BANDS, 0.8, bucketCap = 8)
          .orderBy("doc_id")
      }
    }, oracle =
      s"""WITH plantc AS (SELECT CAST(9300000 + i AS BIGINT) AS doc_id,
         |    '$CapPrefix w' || CAST(i AS VARCHAR) AS text
         |  FROM generate_series(1, 30) t(i)),
         |corpus AS MATERIALIZED (SELECT doc_id, text FROM documents
         |    WHERE doc_id % 5 <> 0
         |  UNION ALL SELECT * FROM plantc),
         |batch AS MATERIALIZED (SELECT doc_id, text FROM documents
         |    WHERE doc_id % 5 = 0
         |  UNION ALL SELECT CAST(9300100 AS BIGINT),
         |    '$CapPrefix probe'),
         |${Lifecycle.dedupDecisionCtes(corpusBandCap = 8)},
         |bsz AS (SELECT band, bh, CAST(count(*) AS BIGINT) AS c
         |  FROM bandsc GROUP BY 1, 2),
         |hot AS (SELECT DISTINCT b.doc_id FROM bandsb b
         |  JOIN bsz ON bsz.band = b.band AND bsz.bh = b.bh
         |  WHERE bsz.c > 8)
         |SELECT d.doc_id, d.decision,
         |  (hot.doc_id IS NOT NULL) AS hit_capped_bucket
         |FROM decisions d LEFT JOIN hot ON hot.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Compaction: rewrite every cell partition to one file; the card
    // after compaction must equal the pre-compaction oracle (contents
    // invariant — only the file layout changes). Content-invariance
    // makes gate ORDER irrelevant (q521/q522/q525/q529 answer the
    // same before or after). Since r12 the rewrite goes through the
    // staging + rename-swap cutover (Layout.swapInto) — no instant
    // leaves half-written data at the live path, closing the r11
    // concurrent-reader disclosure.
    Gate("q526_sem_index_compacted", (s, dir) => {
      val p = semLife(s, dir)._1
      graft.ops.SemIndex.compact(s, p)
      graft.ops.SemIndex.indexStats(s, p).orderBy("cell")
    }, oracle =
      // compaction is content-invariant: the card after equals the
      // same re-derivation that gates q522
      s"""WITH $semCtes
         |SELECT cell, count(*) AS n_vecs,
         |  min(vec_id) AS min_vec, max(vec_id) AS max_vec,
         |  bit_xor(${h60Sql("CAST(vec_id AS VARCHAR)")}) AS checksum
         |FROM idx3 GROUP BY cell ORDER BY cell""".stripMargin),

    // Re-fit at 16 cells + re-index (the occupancy-contract repair
    // when the corpus outgrows its cells): the new index's card ==
    // the oracle's 16-cell quantizer over the same grown vector set.
    // Writes a NEW root; the 8-cell lifecycle index is untouched.
    Gate("q535_sem_refit", (s, dir) => {
      val src = semLife(s, dir)._1
      val dst = SemIndex.Paths(src.root + "_refit16")
      sys.addShutdownHook(Fixture.deleteDir(dst.root))
      graft.ops.SemIndex.refit(s, src, dst, nCells = 16)
      SemIndex.indexStats(s, dst).orderBy("cell")
    }, oracle =
      s"""WITH $semCtes,
         |cvr AS (SELECT e, row_number() OVER (ORDER BY e) AS rn
         |  FROM (SELECT DISTINCT e FROM idx3) ORDER BY e LIMIT 128),
         |ccr AS (SELECT count(*) AS c FROM cvr),
         |seedsr AS (SELECT r.i + 1 AS sid,
         |    list_transform(cvr.e, x -> round_even(x * 1000000, 0) / 1000000)
         |      AS se
         |  FROM range(16) r(i), ccr, cvr
         |  WHERE cvr.rn = (r.i * ccr.c) // 16 + 1),
         |snr AS (SELECT sid, se,
         |    sqrt(list_sum(list_transform(se, x -> x * x))) AS snrm
         |  FROM seedsr),
         |csr AS (SELECT idx3.vec_id, sid,
         |    list_sum(list_transform(range(64), i -> idx3.e[i+1] * se[i+1]))
         |      / (idx3.nrm * snrm) AS c
         |  FROM idx3, snr),
         |cellr AS (SELECT vec_id, CAST(sid AS INT) AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY c DESC, sid) AS rn FROM csr) WHERE rn = 1)
         |SELECT cell, count(*) AS n_vecs,
         |  min(vec_id) AS min_vec, max(vec_id) AS max_vec,
         |  bit_xor(${h60Sql("CAST(vec_id AS VARCHAR)")}) AS checksum
         |FROM cellr GROUP BY cell ORDER BY cell""".stripMargin),

    // The occupancy health card over the grown lifecycle index — the
    // numbers that DECIDE the refit (trigger genuinely firing at
    // target occupancy 16 on the organically grown index).
    Gate("q548_sem_occupancy", (s, dir) =>
      SemIndex.occupancyCard(s, MediaLifecycle.semLife(s, dir)._1, 16L)
        .orderBy("cell"), oracle =
      // The occupancy card over the grown q521 index (idx3) — exact
      // integer arithmetic, trigger genuinely firing at target 16.
      s"""WITH ${MediaLifecycle.semCtes},
         |per AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
         |  FROM idx3 GROUP BY cell),
         |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
         |    CAST(count(*) AS BIGINT) AS n_cells FROM per)
         |SELECT cell, n_vecs, n_total, n_cells,
         |  n_total // n_cells AS mean_occ,
         |  CAST(16 AS BIGINT) AS target_occ,
         |  CAST(CASE WHEN n_total > 16 * n_cells THEN 1 ELSE 0 END
         |    AS BIGINT) AS refit_needed,
         |  (n_total + 15) // 16 AS new_ncells
         |FROM per, tot ORDER BY cell""".stripMargin),

    // The fired refit: the post-cutover index card at the card's own
    // ⌈n/16⌉ cell count, the new count disclosed on every row.
    Gate("q549_sem_refit_fired", (s, dir) => {
      val (p, nc) = refitLife(s, dir)
      SemIndex.indexStats(s, p)
        .withColumn("n_cells_after", lit(nc))
        .orderBy("cell")
    }, oracle =
      // The fired refit at the DYNAMIC ⌈n/16⌉ cell count — the q535
      // re-derivation with the cell count computed from the data.
      s"""WITH ${MediaLifecycle.semCtes},
         |$refitCtes
         |SELECT cell, count(*) AS n_vecs,
         |  min(vec_id) AS min_vec, max(vec_id) AS max_vec,
         |  bit_xor(${h60Sql("CAST(vec_id AS VARCHAR)")}) AS checksum,
         |  (SELECT k FROM kc) AS n_cells_after
         |FROM cellr GROUP BY cell ORDER BY cell""".stripMargin)
  )
}
