package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.MlAggregators
import graft.ops.{Corpus, Dedup, Similarity}
import Q._
import graft.ops.Dedup.h60Sql
import NorthStar.{K, BANDS, NGRAM, sh, sigCtes, bandsSql, candCtes, interCtes, pairsCte,
  reachCtes, compCte}

/** Round-7 curation tranche: incremental (snapshot+delta) dedup, soft
  * dedup reweighting, segment-level boilerplate removal, weighted
  * sampling without replacement, MinHash estimator calibration, and the
  * sketch-cardinality tolerance contract. Oracle SQL is generated from
  * the same constants as the Scala operators (the NorthStar pattern) so
  * both engines evaluate the identical algorithm.
  */
object Curation extends Gates {

  lazy val gates: Seq[Gate] = Seq(
    // Incremental dedup: the corpus is doc_id % 5 != 0, the incoming
    // delta is doc_id % 5 == 0 — a deterministic 80/20 snapshot/delta
    // split both engines re-derive. One decision row per batch doc.
    Gate("q269_incremental_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
      Dedup.incrementalDedup(corpus, batch, "text", "doc_id",
          NGRAM, K, BANDS, 0.8)
        .orderBy("doc_id")
    }, oracle =
      incrementalDedupOracle("doc_id % 5 <> 0", "doc_id % 5 = 0")),

    // The indexed delta path: identical decisions to q269 by
    // construction (shares its oracle — the q248/q237 pattern), but
    // candidate generation reads ONLY the persisted index; the
    // snapshot text is touched just for the candidate verify fetch.
    Gate("q283_incremental_dedup_indexed", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
      val idx = Curation2.tempIndexDir("graft_dedup_index_")
      // build inside the try; materialize before deleting the on-disk
      // index (leak fixes, r8)
      try {
        Dedup.writeDedupIndex(corpus, "text", "doc_id", idx, NGRAM, K,
          BANDS)
        Dedup.incrementalDedupIndexed(idx, corpus, batch, "text", "doc_id",
            NGRAM, K, BANDS, 0.8)
          .orderBy("doc_id")
          .localCheckpoint(true)
      } finally Curation2.deleteDir(idx)
    }, oracle =
      // identical answer by construction: the indexed delta path shares
      // q269's oracle (the q248/q237 sharing pattern)
      incrementalDedupOracle("doc_id % 5 <> 0", "doc_id % 5 = 0")),

    // SoftDeDup: every doc keeps an exact integer micro-weight
    // 1e6 / duplicate-cluster-size; singletons weigh 1.0.
    Gate("q270_soft_dedup", (s, dir) => {
      Dedup.softDedupWeights(t(s, dir, "documents"), "text", "doc_id",
          NGRAM, K, BANDS, 0.8)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH RECURSIVE ${sigCtes("documents", "")},
         |$candCtes,
         |${interCtes("documents")},
         |${pairsCte("pairs")},
         |${reachCtes("pairs")},
         |$compCte,
         |allc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |csize AS (SELECT component, count(*) AS cluster_size
         |  FROM allc GROUP BY component)
         |SELECT a.doc_id, a.component, s.cluster_size,
         |  1000000 // s.cluster_size AS weight_micro
         |FROM allc a JOIN csize s USING (component)
         |ORDER BY a.doc_id""".stripMargin),

    // Leakage-safe split: keyed by duplicate-cluster component, so no
    // exact/near copy ever straddles train/test.
    Gate("q284_leakage_safe_split", (s, dir) => {
      Dedup.leakageSafeSplit(t(s, dir, "documents"), "text", "doc_id",
          valPct = 10, testPct = 10, NGRAM, K, BANDS, 0.8)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH RECURSIVE ${sigCtes("documents", "")},
         |$candCtes,
         |${interCtes("documents")},
         |${pairsCte("pairs")},
         |${reachCtes("pairs")},
         |$compCte,
         |allc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp c USING (doc_id))
         |SELECT doc_id, component,
         |  CASE WHEN h < 10 THEN 'test' WHEN h < 20 THEN 'val'
         |       ELSE 'train' END AS split
         |FROM (SELECT doc_id, component,
         |    (${h60Sql("CAST(component AS VARCHAR)")}) % 100 AS h FROM allc)
         |ORDER BY doc_id""".stripMargin),

    // Segment-level boilerplate removal: fixed 10-word segments, drop
    // any segment recurring in >= 2 distinct docs, reassemble in order.
    Gate("q271_boilerplate_segments", (s, dir) => {
      Corpus.removeRepeatedSegments(t(s, dir, "documents"), "text",
          "doc_id", segWords = 10, minDocs = 2)
        .orderBy("doc_id")
    }, oracle =
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |si AS (SELECT doc_id, w,
        |    unnest(range((len(w) - 1) // 10 + 1)) AS seg_idx FROM ws),
        |segs AS (SELECT doc_id, seg_idx,
        |    array_to_string(w[seg_idx * 10 + 1 : seg_idx * 10 + 10], ' ') AS seg
        |  FROM si),
        |boiler AS (SELECT seg
        |  FROM (SELECT DISTINCT doc_id, seg FROM segs)
        |  GROUP BY seg HAVING count(*) >= 2),
        |kept AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        |  FROM segs WHERE seg NOT IN (SELECT seg FROM boiler)
        |  GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id)
        |SELECT t.doc_id, t.n_segs,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM tot t LEFT JOIN kept k USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin),

    // Efraimidis-Spirakis weighted sampling without replacement:
    // 40 docs, inclusion probability proportional to n_chars.
    Gate("q272_weighted_sample", (s, dir) => {
      Corpus.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars", 40)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH ks AS (SELECT doc_id, n_chars,
         |    CAST(floor(ln(((${h60Sql("CAST(doc_id AS VARCHAR)")}) % $P + 1)
         |      / ${P + 1}.0) / n_chars * 1000000) AS BIGINT) AS es_key
         |  FROM documents),
         |sel AS (SELECT * FROM ks ORDER BY es_key DESC, doc_id LIMIT 40)
         |SELECT doc_id, n_chars, es_key FROM sel ORDER BY doc_id""".stripMargin),

    // MinHash calibration: signature-agreement estimate vs exact
    // Jaccard for every LSH candidate pair, integer micro-units.
    Gate("q273_minhash_calibration", (s, dir) => {
      Dedup.minhashCalibration(t(s, dir, "documents"), "text", "doc_id",
          NGRAM, K, BANDS)
        .orderBy("doc_a", "doc_b")
    }, oracle =
      s"""WITH ${sigCtes("documents", "")},
         |$candCtes,
         |m AS (SELECT cand.da, cand.db,
         |    CAST(${(0 until K).map(i =>
               s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)")
               .mkString(" + ")} AS BIGINT) AS sig_matches
         |  FROM cand JOIN sig sa ON sa.doc_id = cand.da
         |            JOIN sig sb ON sb.doc_id = cand.db),
         |${interCtes("documents")}
         |SELECT doc_a, doc_b, sig_matches, est_micro, jac_micro,
         |  abs(est_micro - jac_micro) AS err_micro
         |FROM (SELECT m.da AS doc_a, m.db AS doc_b, m.sig_matches,
         |    (m.sig_matches * 1000000) // $K AS est_micro,
         |    (coalesce(i.i, 0) * 1000000)
         |      // (sa.n + sb.n - coalesce(i.i, 0)) AS jac_micro
         |  FROM m
         |  LEFT JOIN inter i ON i.da = m.da AND i.db = m.db
         |  JOIN sizes sa ON sa.doc_id = m.da
         |  JOIN sizes sb ON sb.doc_id = m.db)
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Sketch-cardinality tolerance contract (the q22 t-digest pattern):
    // the gate row carries the EXACT per-type distinct-user count plus
    // an engine-evaluated claim that the HLL++ sketch (rsd=0.02) lands
    // within 10% (5 sigma) of it — the oracle pins the claim to TRUE.
    // At 100 TB the sketch is the only viable distinct count; this row
    // proves its error contract instead of assuming it.
    // Curriculum shard layout: exact global rank by (n_chars, doc_id)
    // cut into 8 balanced contiguous shards — easy-to-hard annealing
    // with the banded two-level rank (no global sort).
    Gate("q276_curriculum_shards", (s, dir) => {
      Corpus.curriculumShards(t(s, dir, "documents"), "doc_id", "n_chars",
          nShards = 8, bandWidth = 16.0)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH rk AS (SELECT doc_id, n_chars,
         |    row_number() OVER (ORDER BY n_chars, doc_id) AS r,
         |    count(*) OVER () AS n
         |  FROM documents)
         |SELECT doc_id, n_chars, r AS rank,
         |  ${shardCutSql(8)}
         |FROM rk ORDER BY doc_id""".stripMargin),

    // End-to-end mixture pipeline: temperature-resample the language
    // mix (alpha=0.5, target 250 docs — q247's rule) then lay the kept
    // set out as difficulty-ordered curriculum shards. Proves the
    // mixture ops COMPOSE (the q253 pattern for selection).
    Gate("q277_mixture_pipeline", (s, dir) => {
      val kept = Corpus.temperatureResample(t(s, dir, "documents"),
        "doc_id", "lang", 0.5, 250)
      Corpus.curriculumShards(kept, "doc_id", "n_chars", 4, 16.0)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
         |  FROM documents GROUP BY lang),
         |w AS (SELECT lang, n, pow(n, 0.5) AS wt FROM c),
         |t AS (SELECT sum(wt) AS tot FROM w),
         |f AS (SELECT lang, least(1.0, 250.0 * wt / (tot * n)) AS fr FROM w, t),
         |kept AS (SELECT d.doc_id, d.n_chars FROM documents d JOIN f USING (lang)
         |  WHERE (${Dedup.h60Sql("CAST(doc_id AS VARCHAR)")}) % 10000 <
         |    CAST(floor(fr * 10000.0) AS BIGINT)),
         |rk AS (SELECT doc_id, n_chars,
         |    row_number() OVER (ORDER BY n_chars, doc_id) AS r,
         |    count(*) OVER () AS n
         |  FROM kept)
         |SELECT doc_id, n_chars, r AS rank,
         |  ${shardCutSql(4)}
         |FROM rk ORDER BY doc_id""".stripMargin),

    // IVFADC (q246's PQ composed with coarse cells): cell quantizer and
    // per-subspace RESIDUAL codebooks both follow the init-only
    // kmeansFit contract (iters=0, canonical sorted picks) so the
    // entire index — cells, residuals, codes, probes, ADC — re-derives
    // in SQL. nProbe=2 of 8 cells; parity config, no rerank (the spec
    // exercises the Lloyd-refined + rerank deployment config).
    Gate("q275_ann_ivfpq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (m, sd, ksub, ncell) = (4, 16, 8, 8)
      val cells = MlAggregators.fitCentroids(emb,
        col("embedding").cast("array<double>"), ncell)
      val resid = Similarity.l2Residuals(emb, "vec_id", "embedding", cells)
      val cbRow = resid.agg(
        MlAggregators.kmeansFit(
          slice(col("residual"), 1, sd), ksub, iters = 0).as("m0"),
        (1 until m).map(j => MlAggregators.kmeansFit(
          slice(col("residual"), j * sd + 1, sd), ksub,
          iters = 0).as(s"m$j")): _*).head()
      val cbs = (0 until m).map(j => MlAggregators.kmeansCentroids(cbRow.getString(j)))
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id",
          "embedding", 5, 64, cells, 2, cbs)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy("query_id", "rank")
    }, oracle = {
      // IVFADC oracle: the q246 per-subspace canonical-pick re-derivation,
      // extended with the L2 cell quantizer and residual stage. Every tie
      // break (first-min encode, probe order, rank) and every IEEE sum
      // order (index-ascending within a subspace, subspace-ascending
      // across) mirrors the Spark expressions exactly.
      val m = 4; val sd = 16; val ksub = 8; val ncell = 8; val nprobe = 2
      val subCtes = (0 until m).map { j =>
        s"""rsub$j AS (SELECT vec_id, re[${j * sd + 1}:${(j + 1) * sd}] AS se FROM resid),
           |rcv$j AS (SELECT se, row_number() OVER (ORDER BY se) AS rn
           |  FROM (SELECT DISTINCT se FROM rsub$j) ORDER BY se LIMIT 128),
           |rcc$j AS (SELECT count(*) AS c FROM rcv$j),
           |seed$j AS (SELECT r.i + 1 AS sid,
           |    list_transform(rcv$j.se, x -> round_even(x * 1000000, 0) / 1000000) AS ce
           |  FROM range($ksub) r(i), rcc$j, rcv$j
           |  WHERE rcv$j.rn = (r.i * rcc$j.c) // $ksub + 1),
           |rcd$j AS (SELECT s.vec_id, d.sid,
           |    list_sum(list_transform(range($sd),
           |      i -> (s.se[i+1] - d.ce[i+1]) * (s.se[i+1] - d.ce[i+1]))) AS dist
           |  FROM rsub$j s, seed$j d),
           |code$j AS (SELECT vec_id, sid AS code FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
           |   FROM rcd$j) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val adcJ = (0 until m).map { j =>
        s"""list_sum(list_transform(range($sd),
           |      i -> (cand.re[${j * sd} + i + 1] - s$j.ce[i+1])
           |         * (cand.re[${j * sd} + i + 1] - s$j.ce[i+1])))""".stripMargin
      }.mkString("\n    + ")
      val adcJoins = (0 until m)
        .map(j => s"JOIN seed$j s$j ON s$j.sid = cand.k$j").mkString("\n  ")
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |cv AS (SELECT e, row_number() OVER (ORDER BY e) AS rn
         |  FROM (SELECT DISTINCT e FROM v) ORDER BY e LIMIT 128),
         |cc AS (SELECT count(*) AS c FROM cv),
         |cseed AS (SELECT r.i + 1 AS sid,
         |    list_transform(cv.e, x -> round_even(x * 1000000, 0) / 1000000) AS ce
         |  FROM range($ncell) r(i), cc, cv WHERE cv.rn = (r.i * cc.c) // $ncell + 1),
         |cd AS (SELECT v.vec_id, s.sid,
         |    list_sum(list_transform(range(64),
         |      i -> (v.e[i+1] - s.ce[i+1]) * (v.e[i+1] - s.ce[i+1]))) AS dist
         |  FROM v, cseed s),
         |cellof AS (SELECT vec_id, sid AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
         |   FROM cd) WHERE rn = 1),
         |resid AS (SELECT v.vec_id, c.cell,
         |    list_transform(range(64), i -> v.e[i+1] - s.ce[i+1]) AS re
         |  FROM v JOIN cellof c USING (vec_id) JOIN cseed s ON s.sid = c.cell),
         |$subCtes,
         |codesall AS (SELECT c.vec_id, c.cell,
         |    ${(0 until m).map(j => s"c$j.code AS k$j").mkString(", ")}
         |  FROM cellof c ${(0 until m)
               .map(j => s"JOIN code$j c$j ON c$j.vec_id = c.vec_id")
               .mkString(" ")}),
         |probe AS (SELECT vec_id AS qid, sid AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
         |   FROM cd WHERE vec_id < 10) WHERE rn <= $nprobe),
         |qre AS (SELECT p.qid, p.cell,
         |    list_transform(range(64), i -> v.e[i+1] - s.ce[i+1]) AS re
         |  FROM probe p JOIN v ON v.vec_id = p.qid JOIN cseed s ON s.sid = p.cell),
         |cand AS (SELECT q.qid, q.re, ca.vec_id AS nid,
         |    ${(0 until m).map(j => s"ca.k$j").mkString(", ")}
         |  FROM qre q JOIN codesall ca ON ca.cell = q.cell AND ca.vec_id <> q.qid),
         |adc AS (SELECT cand.qid, cand.nid,
         |    $adcJ AS adist
         |  FROM cand
         |  $adcJoins)
         |SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank
         |      FROM adc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // Length-grouped batching: bucket by token count, batch within
    // bucket, report per-doc padding to the batch max — the layout a
    // trainer uses when packing (q244) isn't applicable.
    Gate("q282_length_batches", (s, dir) => {
      Corpus.lengthBucketBatches(t(s, dir, "documents"), "doc_id", "text",
          bucketWidth = 16, batchSize = 8)
        .orderBy("doc_id")
    }, oracle =
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (SELECT doc_id, n_tok, n_tok // 16 AS bucket,
        |    (row_number() OVER (PARTITION BY n_tok // 16
        |       ORDER BY n_tok, doc_id) - 1) // 8 AS batch_idx
        |  FROM t)
        |SELECT doc_id, n_tok, bucket, batch_idx,
        |  max(n_tok) OVER (PARTITION BY bucket, batch_idx) - n_tok AS pad
        |FROM b ORDER BY doc_id""".stripMargin),

    // The flagship curation DAG as ONE plan: exact dedup -> benchmark
    // decontamination (drop any doc sharing an 8-gram with the src0
    // eval slice) -> temperature-balanced language mixture -> curriculum
    // shard layout. Every stage is individually gated (q24/q237/q247/
    // q276); this row proves the whole pipeline composes end-to-end
    // with one SQL re-derivation.
    Gate("q281_curation_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      val keepers = Dedup.exact(docs, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      val kept = docs.join(keepers, "doc_id")
      val corpus = kept.filter(col("source") =!= "src0")
      val evalSet = docs.filter(col("source") === "src0")
      val cont = Corpus.contamination(corpus, evalSet, "text", "doc_id", 8)
      val clean = corpus.join(
        cont.filter(col("n_contaminated") === 0).select("doc_id"), "doc_id")
      val mixed = Corpus.temperatureResample(clean, "doc_id", "lang", 0.5, 200)
      Corpus.curriculumShards(mixed, "doc_id", "n_chars", 4, 16.0)
        .orderBy("doc_id")
    }, oracle =
      s"""WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |kept AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
         |corpus AS (SELECT * FROM kept WHERE source <> 'src0'),
         |ev AS (SELECT DISTINCT unnest(list_distinct(${Dedup.shinglesSql("text", 8)})) AS g
         |  FROM documents WHERE source = 'src0'),
         |cg AS (SELECT doc_id, unnest(list_distinct(${Dedup.shinglesSql("text", 8)})) AS g
         |  FROM corpus),
         |hit AS (SELECT doc_id, count(*) AS c FROM cg JOIN ev USING (g) GROUP BY doc_id),
         |clean AS (SELECT corpus.* FROM corpus LEFT JOIN hit USING (doc_id)
         |  WHERE hit.c IS NULL),
         |lc AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM clean GROUP BY lang),
         |w AS (SELECT lang, n, pow(n, 0.5) AS wt FROM lc),
         |tt AS (SELECT sum(wt) AS tot FROM w),
         |f AS (SELECT lang, least(1.0, 200.0 * wt / (tot * n)) AS fr FROM w, tt),
         |mixed AS (SELECT cl.doc_id, cl.n_chars FROM clean cl JOIN f USING (lang)
         |  WHERE (${Dedup.h60Sql("CAST(doc_id AS VARCHAR)")}) % 10000 <
         |    CAST(floor(fr * 10000.0) AS BIGINT)),
         |rk AS (SELECT doc_id, n_chars,
         |    row_number() OVER (ORDER BY n_chars, doc_id) AS r,
         |    count(*) OVER () AS n
         |  FROM mixed)
         |SELECT doc_id, n_chars, r AS rank,
         |  ${shardCutSql(4)}
         |FROM rk ORDER BY doc_id""".stripMargin),

    // Per-source corpus report card: the monitoring rollup a curation
    // pipeline publishes per snapshot — volume, token mass, exact-dup
    // rate, and length profile, one partial-agg pass over the corpus.
    Gate("q280_corpus_report", (s, dir) => {
      val d = t(s, dir, "documents")
      d.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_unique"),
          round((col("n_docs") - col("n_unique")).cast("double") /
            col("n_docs"), 6).as("dup_ratio"),
          round(col("n_chars").cast("double") / col("n_docs"), 6)
            .as("mean_chars"))
        .orderBy("source")
    }, oracle =
      """SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  count(DISTINCT md5(text)) AS n_unique,
        |  round(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
        |    / count(*), 6) AS dup_ratio,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // Ingest-time decontamination: the q237 batch answer reproduced by
    // a STATELESS stream-static join + one complete-mode aggregate
    // (AvailableNow replay == batch; shares q237's oracle verbatim).
    Gate("q279_streaming_contamination", (s, dir) => {
      val evalSet = t(s, dir, "documents").filter(col("source") === "src0")
      val stream = graft.core.Tables.stream(s, dir, "documents")
        .filter(col("source") =!= "src0")
      val out = graft.streaming.Streaming
        .streamingContamination(stream, evalSet, "text", "doc_id", 8)
      drainMemory(s, out, "complete")(_.orderBy("doc_id"))
    }, oracle =
      // replay == batch: the streaming row shares q237's oracle verbatim
      graft.queries.NorthStar.contaminationOracle),

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
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  // ---- generated oracle SQL ------------------------------------------

  private val P = Dedup.P

  /** The incremental (snapshot + delta) dedup decision SQL,
    * parameterized by the corpus/batch predicates so the q352
    * index-append gate can re-derive decisions against a GROWN corpus
    * with the exact same algorithm text (r8).
    */
  private[queries] def incrementalDedupOracle(corpusPred: String,
                                              batchPred: String): String =
    s"""WITH corpus AS (SELECT * FROM documents WHERE $corpusPred),
       |batch AS (SELECT * FROM documents WHERE $batchPred),
       |${dedupDecisionCtes()}
       |SELECT doc_id, decision FROM decisions ORDER BY doc_id""".stripMargin

  /** The CTE body of the incremental dedup decision re-derivation,
    * referencing caller-provided corpus/batch CTEs (each with doc_id +
    * text) and ending with a `decisions$sfx(doc_id, decision)` CTE —
    * so the q488 curation-day oracle can continue the pipeline past
    * the decisions, and the q492 two-day oracle can instantiate the
    * SAME algorithm text twice (suffixed CTE names) against a grown
    * corpus, while q269/q283/q352 keep it verbatim.
    */
  private[queries] def dedupDecisionCtes(corpusSrc: String = "corpus",
                                         batchSrc: String = "batch",
                                         sfx: String = "",
                                         corpusBandCap: Int = 0): String = {
    // cap > 0: each corpus LSH bucket contributes its `cap` lowest-id
    // members only — the Dedup.incrementalDedupCapped policy, encoded
    // verbatim (q515); cap = 0 emits the historical text unchanged.
    val candSrc = if (corpusBandCap > 0) s"bandscap$sfx" else s"bandsc$sfx"
    val capCte =
      if (corpusBandCap <= 0) ""
      else
        s"""bandscap$sfx AS (SELECT doc_id, band, bh FROM (
           |  SELECT doc_id, band, bh,
           |    row_number() OVER (PARTITION BY band, bh ORDER BY doc_id)
           |      AS rk
           |  FROM bandsc$sfx) WHERE rk <= $corpusBandCap),
           |""".stripMargin
    s"""bhash$sfx AS (SELECT doc_id, md5(text) AS h FROM $batchSrc),
       |firsts$sfx AS (SELECT h, min(doc_id) AS first_id FROM bhash$sfx GROUP BY h),
       |chash$sfx AS (SELECT DISTINCT md5(text) AS h FROM $corpusSrc),
       |surv$sfx AS MATERIALIZED (SELECT b.doc_id, b.text FROM $batchSrc b
       |  JOIN bhash$sfx ON bhash$sfx.doc_id = b.doc_id
       |  JOIN firsts$sfx f ON f.h = bhash$sfx.h
       |  WHERE b.doc_id = f.first_id
       |    AND bhash$sfx.h NOT IN (SELECT h FROM chash$sfx)),
       |${sigCtes(s"surv$sfx", s"b$sfx")},
       |${sigCtes(corpusSrc, s"c$sfx")},
       |bandsb$sfx AS (${bandsSql(s"b$sfx")}),
       |bandsc$sfx AS (${bandsSql(s"c$sfx")}),
       |${capCte}cand$sfx AS MATERIALIZED (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
       |  FROM bandsb$sfx b JOIN $candSrc c ON b.band = c.band AND b.bh = c.bh),
       |gb$sfx AS (SELECT DISTINCT doc_id, unnest($sh) AS g FROM surv$sfx),
       |gc$sfx AS (SELECT DISTINCT doc_id, unnest($sh) AS g FROM $corpusSrc
       |  WHERE doc_id IN (SELECT corpus_id FROM cand$sfx)),
       |szb$sfx AS (SELECT doc_id, count(*) AS n FROM gb$sfx GROUP BY doc_id),
       |szc$sfx AS (SELECT doc_id, count(*) AS n FROM gc$sfx GROUP BY doc_id),
       |inter$sfx AS (SELECT cand$sfx.batch_id, cand$sfx.corpus_id, count(*) AS i
       |  FROM cand$sfx JOIN gb$sfx ON gb$sfx.doc_id = cand$sfx.batch_id
       |            JOIN gc$sfx ON gc$sfx.doc_id = cand$sfx.corpus_id
       |              AND gc$sfx.g = gb$sfx.g
       |  GROUP BY 1, 2),
       |near$sfx AS (SELECT DISTINCT batch_id FROM inter$sfx
       |  JOIN szb$sfx ON szb$sfx.doc_id = inter$sfx.batch_id
       |  JOIN szc$sfx ON szc$sfx.doc_id = inter$sfx.corpus_id
       |  WHERE CAST(i AS DOUBLE) / (szb$sfx.n + szc$sfx.n - i) >= 0.8),
       |decisions$sfx AS MATERIALIZED (SELECT b.doc_id,
       |  CASE WHEN bhash$sfx.h IN (SELECT h FROM chash$sfx) THEN 'dup_exact_corpus'
       |       WHEN b.doc_id <> f.first_id THEN 'dup_exact_batch'
       |       WHEN b.doc_id IN (SELECT batch_id FROM near$sfx) THEN 'near_dup_corpus'
       |       ELSE 'admitted' END AS decision
       |FROM $batchSrc b
       |JOIN bhash$sfx ON bhash$sfx.doc_id = b.doc_id
       |JOIN firsts$sfx f ON f.h = bhash$sfx.h)""".stripMargin
  }

  /** Balanced contiguous shard cut from a global rank: shard =
    * floor((r-1)·S/n), in-shard pos = (r-1) − ceil(shard·n/S).
    */
  private def shardCutSql(nShards: Int) =
    s"""CAST(((r - 1) * $nShards) // n AS INTEGER) AS shard,
       |  (r - 1) - ((((r - 1) * $nShards) // n) * n + ${nShards - 1}) // $nShards AS pos""".stripMargin
}
