package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.PixieFunctions.idiv
import graft.ops.Dedup.h60Sql
import graft.ops.{Corpus, Dedup, TextOps, UrlOps, Multimodal, Quality}
import EventAnalytics.olsFitCols
import Lifecycle.dedupDecisionCtes
import NorthStar.{K, BANDS, NGRAM, sh, sigCtes, candCtes, interCtes, pairsCte, reachCtes,
  compCte}
import Q._

/** Text-corpus curation gates: exact, MinHash and URL dedup (incremental
  * and streamed), canonical text normalization, n-gram and vocabulary
  * statistics, record linkage, and the data-mix side of a corpus —
  * weighted sampling, DoReMi/token-budget mixtures, curriculum shards
  * and sequence packing. Oracle SQL is generated from the same
  * constants as the Scala operators (the NorthStar pattern).
  */
object TextCuration extends Gates {

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

  /** Balanced contiguous shard cut from a global rank: shard =
    * floor((r-1)·S/n), in-shard pos = (r-1) − ceil(shard·n/S).
    */
  private def shardCutSql(nShards: Int) =
    s"""CAST(((r - 1) * $nShards) // n AS INTEGER) AS shard,
       |  (r - 1) - ((((r - 1) * $nShards) // n) * n + ${nShards - 1}) // $nShards AS pos""".stripMargin

  /** The documents' MinHash signature CTEs (shx, hx, sig). */
  private val docSig = sigCtes("documents", "x", "sig")

  /** Script-injection augment: %5==0 docs get a Cyrillic phrase, %5==1
    * a Han phrase — deterministic multilingual mess both engines
    * re-derive (the corpus fixture is all-ASCII).
    */
  private val cyr = "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440"

  private val han = "\u4f60\u597d\u4e16\u754c"

  /** Deterministic "dirty corpus" augment both engines re-derive:
    * doc_id%3==0 gets a DECOMPOSED accent prefix (e + U+0301), %3==1
    * gets every space doubled, %3==2 gets a TAB-joined tail — the three
    * mess classes (unicode form, run-whitespace, control chars) a crawl
    * normalizer exists for.
    */
  private val decomposed = "cafe\u0301" // e + combining acute (U+0301)

  private val composed = "caf\u00e9" // precomposed e-acute = NFC(decomposed)

  private def dirty(text: org.apache.spark.sql.Column,
                    id: org.apache.spark.sql.Column) =
    when(pmod(id, lit(3L)) === 0, concat(lit(decomposed + " "), text))
      .when(pmod(id, lit(3L)) === 1, regexp_replace(text, " ", "  "))
      .otherwise(concat(text, lit("\ttail")))

  private val dirtySql =
    """CASE WHEN doc_id % 3 = 0 THEN 'cafe' || chr(769) || ' ' || text
      |  WHEN doc_id % 3 = 1 THEN replace(text, ' ', '  ')
      |  ELSE text || chr(9) || 'tail' END""".stripMargin

  private val normalizeSql =
    s"""trim(regexp_replace(regexp_replace(nfc_normalize(dirty),
       |  '[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g'))""".stripMargin

  /** q321's oracle, shared verbatim by the q346 streaming replay. */
  private val q321OracleSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text || ' ' || 'caf' || chr(233) AS dirty
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    replace(text, ' ', '  ') || ' ' || 'cafe' || chr(769)
       |  FROM documents WHERE doc_id % 10 = 0),
       |n AS (SELECT doc_id, $normalizeSql AS norm_text FROM base)
       |SELECT md5(norm_text) AS content_hash, min(doc_id) AS keeper_id,
       |  count(*) AS n_copies
       |FROM n GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** Deterministic messy-URL augment both engines re-derive (the
    * documents fixture has no URL column — same pattern as the q319
    * dirty-corpus augment): scheme/host case mess, www/blog
    * subdomains, default and non-default ports, trailing slashes,
    * tracking params, unsorted params, fragments.
    */
  private[graft] def rawUrlCol = {
    val id = col("doc_id")
    def m(k: Int) = pmod(id, lit(k.toLong))
    concat(
      when(m(5) === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
      when(m(7) < 2, lit("WWW."))
        .when(m(7).isin(2L, 3L), lit("blog.")).otherwise(lit("")),
      when(m(3) === 0, upper(col("source"))).otherwise(col("source")),
      lit(".com"),
      when(m(11) === 0,
          when(m(5) === 0, lit(":80")).otherwise(lit(":443")))
        .when(m(13) === 0, lit(":8080")).otherwise(lit("")),
      lit("/p/"), m(40).cast("string"),
      when(m(2) === 0, lit("/")).otherwise(lit("")),
      when(m(4) === 0, concat(lit("?utm_source=feed&id="),
          m(10).cast("string"), lit("&utm_campaign=x")))
        .when(m(4) === 1, lit("?b=2&a=1")).otherwise(lit("")),
      when(m(6) === 0, lit("#frag")).otherwise(lit("")))
  }

  private val rawUrlSql =
    """(CASE WHEN doc_id % 5 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
      |(CASE WHEN doc_id % 7 < 2 THEN 'WWW.'
      |      WHEN doc_id % 7 IN (2, 3) THEN 'blog.' ELSE '' END) ||
      |(CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END) ||
      |'.com' ||
      |(CASE WHEN doc_id % 11 = 0 THEN
      |        (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE ':443' END)
      |      WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END) ||
      |'/p/' || CAST(doc_id % 40 AS VARCHAR) ||
      |(CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      |(CASE WHEN doc_id % 4 = 0 THEN
      |        '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR) ||
      |        '&utm_campaign=x'
      |      WHEN doc_id % 4 = 1 THEN '?b=2&a=1' ELSE '' END) ||
      |(CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)""".stripMargin

  /** The ANALYTICALLY-derived canonical form of [[rawUrlCol]] — the
    * oracle pins the regex canonicalizer against ground truth computed
    * straight from the synthesis constants, not a second regex
    * implementation: scheme/host lowered, www stripped (blog kept),
    * default ports gone, :8080 kept, trailing slash gone, fragment
    * gone, utm_* stripped, surviving params name-sorted.
    */
  private[queries] val canonUrlSql =
    """(CASE WHEN doc_id % 5 = 0 THEN 'http' ELSE 'https' END) || '://' ||
      |(CASE WHEN doc_id % 7 IN (2, 3) THEN 'blog.' ELSE '' END) ||
      |lower(source) || '.com' ||
      |(CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 = 0
      |      THEN ':8080' ELSE '' END) ||
      |'/p/' || CAST(doc_id % 40 AS VARCHAR) ||
      |(CASE WHEN doc_id % 4 = 0 THEN '?id=' || CAST(doc_id % 10 AS VARCHAR)
      |      WHEN doc_id % 4 = 1 THEN '?a=1&b=2' ELSE '' END)""".stripMargin

  /** MinHash -> LSH bands -> candidate-pair CTEs over `src` (ends with
    * cand(da, db)), regenerated from the same Dedup constants.
    */
  private[queries] def sigBandCtes(src: String): String = {
    val bands = (0 until BANDS).map { b =>
      val cols = (b * (K / BANDS) until (b + 1) * (K / BANDS))
        .map(i => s"CAST(s$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS bh FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""shx AS (SELECT doc_id, unnest(${Dedup.shinglesSql("text", NGRAM)})
       |    AS sh FROM $src),
       |hx AS (SELECT doc_id, (${Dedup.h60Sql("sh")}) % ${Dedup.P} AS h
       |  FROM shx),
       |sig AS (SELECT doc_id,
       |${Dedup.perms(K).zipWithIndex.map { case ((a, b), i) =>
           s"  min(($a * h + $b) % ${Dedup.P}) AS s$i" }.mkString(",\n")}
       |FROM hx GROUP BY doc_id),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
       |    AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** q354's per-doc segment-dup CTEs, ending with
    * sega(doc_id, dup_segment_frac).
    */
  private[queries] val segFracCtes =
    """wl AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |sg AS (SELECT doc_id, ws,
      |    unnest(range(0, CAST(ceil(len(ws) / 20.0) AS INT))) AS seg
      |  FROM wl WHERE len(ws) > 0),
      |st AS (SELECT doc_id, md5(array_to_string(
      |    list_slice(ws, seg * 20 + 1, seg * 20 + 20), ' ')) AS segh
      |  FROM sg),
      |shd AS (SELECT segh, count(DISTINCT doc_id) AS nd FROM st
      |  GROUP BY segh),
      |sega AS (SELECT doc_id,
      |    round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(*), 6) AS dup_segment_frac
      |  FROM st JOIN shd USING (segh) GROUP BY doc_id)""".stripMargin

  /** q353's per-doc duplicate-2-gram CTEs, ending with
    * rep(doc_id, dup_gram_frac).
    */
  private[queries] val repFracCtes =
    s"""g2 AS (SELECT doc_id, unnest(${Dedup.shinglesSql("text", 2)}) AS g
       |  FROM documents),
       |cnt2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
       |rep AS (SELECT doc_id,
       |    round(CAST(sum(c) - count(*) AS DOUBLE)
       |      / greatest(sum(c), 1), 6) AS dup_gram_frac
       |  FROM cnt2 GROUP BY doc_id)""".stripMargin

  private val q349OracleSql =
    s"""WITH u AS (SELECT doc_id, $rawUrlSql AS raw, $canonUrlSql AS cu
       |  FROM documents)
       |SELECT cu AS canonical_url, count(*) AS n_copies,
       |  count(DISTINCT raw) AS n_raw_forms, min(doc_id) AS keeper_id
       |FROM u GROUP BY cu ORDER BY cu""".stripMargin

  /** Per-language token mass and its 30%-capped, redistributed ppm shares. */
  private val budgetCtes: String =
    """per AS (SELECT lang,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
      |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
      |tt AS (SELECT CAST(sum(t) AS BIGINT) AS total FROM per),
      |raw AS (SELECT lang, t, t * 1000000 // total AS raw_ppm,
      |    total FROM per, tt),
      |sums AS (SELECT
      |    CAST(sum(CASE WHEN raw_ppm > 300000 THEN 300000
      |      ELSE raw_ppm END) AS BIGINT) AS assigned,
      |    CAST(sum(CASE WHEN raw_ppm > 300000 THEN 0
      |      ELSE raw_ppm END) AS BIGINT) AS raw_uncapped
      |  FROM raw)""".stripMargin

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
      Fixture.scratch("graft_dedup_index_") { idx =>
        Dedup.writeDedupIndex(corpus, "text", "doc_id", idx, NGRAM, K,
          BANDS)
        Dedup.incrementalDedupIndexed(idx, corpus, batch, "text", "doc_id",
            NGRAM, K, BANDS, 0.8)
          .orderBy("doc_id")
      }
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

    // Canonical normalization over the dirtied corpus: NFC composes the
    // accents, controls become spaces, runs collapse — per-doc report.
    Gate("q319_normalize_text", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), dirty(col("text"), col("doc_id")).as("text"))
      TextOps.normalizeText(docs, "text", "doc_id").orderBy("doc_id")
    }, oracle =
      s"""WITH d AS (SELECT doc_id, $dirtySql AS dirty FROM documents),
         |n AS (SELECT doc_id, dirty, $normalizeSql AS norm_text FROM d)
         |SELECT doc_id, norm_text,
         |  CAST(length(dirty) AS BIGINT) AS n_chars_raw,
         |  CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
         |  norm_text <> dirty AS changed
         |FROM n ORDER BY doc_id""".stripMargin),

    // Normalization composed with exact dedup: a doc and its
    // whitespace-mangled decomposed-accent clone hash identically AFTER
    // normalizeCol — the dup classes raw md5 can never see.
    Gate("q321_normalized_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id"),
        concat(col("text"), lit(" " + composed)).as("text"))
      val clones = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(regexp_replace(col("text"), " ", "  "),
            lit(" " + decomposed)).as("text"))
      val norm = base.unionByName(clones)
        .select(col("doc_id"), TextOps.normalizeCol(col("text")).as("norm_text"))
      Dedup.exact(norm, "norm_text", "doc_id").orderBy("content_hash")
    }, oracle = q321OracleSql),

    // Distinct-n diversity per corpus slice (n = 1, 2, 3).
    Gate("q320_distinct_ngrams", (s, dir) =>
      TextOps.distinctNgramRatio(t(s, dir, "documents"), "text", "source")
        .orderBy("source", "n"), oracle = {
      def one(n: Int) =
        s"""SELECT source, $n AS n, count(*) AS total_grams,
           |  count(DISTINCT g) AS distinct_grams,
           |  round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
           |    AS distinct_ratio
           |FROM (SELECT source, unnest(${Dedup.shinglesSql("text", n)}) AS g
           |      FROM documents)
           |GROUP BY source""".stripMargin
      s"""${one(1)}
         |UNION ALL
         |${one(2)}
         |UNION ALL
         |${one(3)}
         |ORDER BY source, n""".stripMargin
    }),

    // Script/char-class profile over the multilingual-injected corpus.
    Gate("q323_script_profile", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5L)) === 0,
            concat(col("text"), lit(" " + cyr)))
          .when(pmod(col("doc_id"), lit(5L)) === 1,
            concat(col("text"), lit(" " + han)))
          .otherwise(col("text")).as("text"))
      TextOps.scriptProfile(docs, "text", "doc_id").orderBy("doc_id")
    }, oracle = {
      val counts = TextOps.scriptClasses.map { case (nm, _, re2) =>
        s"""  CAST(length(text) - length(regexp_replace(text, '$re2', '', 'g'))
           |    AS BIGINT) AS n_$nm""".stripMargin }.mkString(",\n")
      val shares = TextOps.scriptClasses.map { case (nm, _, _) =>
        s"  round(CAST(n_$nm AS DOUBLE) / greatest(n_chars, 1), 6) AS ${nm}_share"
      }.mkString(",\n")
      s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' $cyr'
         |         WHEN doc_id % 5 = 1 THEN text || ' $han'
         |         ELSE text END AS text
         |  FROM documents),
         |c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |$counts
         |FROM d)
         |SELECT doc_id, n_chars,
         |${TextOps.scriptClasses.map(c => s"  n_${c._1}").mkString(",\n")},
         |$shares
         |FROM c ORDER BY doc_id""".stripMargin
    }),

    // Cross-source syndication: exact-copy groups spanning >1 source.
    // The fixture's exact dups are all within-source, so the corpus is
    // augmented with a deterministic 'mirror' source republishing every
    // 17th doc verbatim — the wire-copy shape the op exists to find.
    Gate("q324_syndication", (s, dir) => {
      val docs = t(s, dir, "documents")
      val mirrored = docs.unionByName(
        docs.where(pmod(col("doc_id"), lit(17L)) === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("source", lit("mirror")))
      graft.ops.Corpus.syndication(mirrored, "text", "doc_id", "source")
        .orderBy("content_hash")
    }, oracle =
      """WITH m AS (SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'mirror' FROM documents
        |  WHERE doc_id % 17 = 0)
        |SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |  count(DISTINCT source) AS n_sources, min(doc_id) AS keeper_id,
        |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
        |FROM m GROUP BY 1
        |HAVING count(DISTINCT source) > 1
        |ORDER BY content_hash""".stripMargin),

    // Best-copy keeper policy: near-dup clusters keep the LONGEST copy
    // (n_chars as the quality score), not the min-id one.
    Gate("q325_keep_best", (s, dir) =>
      Dedup.keepBestQuality(t(s, dir, "documents"), "text", "doc_id",
          "n_chars", NGRAM, K, BANDS)
        .orderBy("doc_id"), oracle =
      s"""WITH RECURSIVE $docSig,
         |$candCtes,
         |${reachCtes("cand")},
         |$compCte,
         |allc AS (SELECT d.doc_id,
         |    coalesce(c.component, d.doc_id) AS component,
         |    CAST(d.n_chars AS DOUBLE) AS score
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |best AS (SELECT component, doc_id AS keeper_id, row_number() OVER
         |    (PARTITION BY component ORDER BY score DESC, doc_id ASC) AS rn
         |  FROM allc)
         |SELECT a.doc_id, a.component, a.score, b.keeper_id,
         |  a.doc_id = b.keeper_id AS keep
         |FROM allc a JOIN best b ON b.component = a.component AND b.rn = 1
         |ORDER BY a.doc_id""".stripMargin),

    // Padding-efficiency report: naive arrival-order batches vs
    // length-grouped batching, one row per strategy.
    Gate("q327_padding_waste", (s, dir) =>
      graft.ops.Corpus.paddingWaste(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("strategy"), oracle =
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |naive AS (SELECT ntok,
        |    (row_number() OVER (ORDER BY doc_id) - 1) // 8 AS batch FROM d),
        |np AS (SELECT ntok,
        |    max(ntok) OVER (PARTITION BY batch) - ntok AS pad FROM naive),
        |bucketed AS (SELECT ntok, ntok // 16 AS bucket,
        |    (row_number() OVER (PARTITION BY ntok // 16
        |       ORDER BY ntok, doc_id) - 1) // 8 AS batch FROM d),
        |bp AS (SELECT ntok,
        |    max(ntok) OVER (PARTITION BY bucket, batch) - ntok AS pad
        |  FROM bucketed),
        |rep AS (
        |  SELECT 'naive' AS strategy, count(*) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS total_tokens,
        |    CAST(sum(pad) AS BIGINT) AS pad_tokens,
        |    round(CAST(sum(pad) AS DOUBLE) / (sum(ntok) + sum(pad)), 6)
        |      AS pad_ratio
        |  FROM np
        |  UNION ALL
        |  SELECT 'length_grouped', count(*),
        |    CAST(sum(ntok) AS BIGINT), CAST(sum(pad) AS BIGINT),
        |    round(CAST(sum(pad) AS DOUBLE) / (sum(ntok) + sum(pad)), 6)
        |  FROM bp)
        |SELECT * FROM rep ORDER BY strategy""".stripMargin),

    // One-round DoReMi-style mixture reweight: target = src0 docs (the
    // q254 fixture convention), slices = the remaining sources.
    Gate("q328_doremi_reweight", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Corpus.doremiReweight(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "text", "doc_id", "source")
        .orderBy("source")
    }, oracle = {
      val sh2 = Dedup.shinglesSql("text", 2)
      val B = 256
      def bkt(part: Int) =
        s"(${Dedup.h60Sql(s"split_part(g, ' ', $part)")}) % $B"
      s"""WITH tg AS (SELECT unnest($sh2) AS g FROM documents
         |  WHERE source = 'src0'),
         |tb2 AS (SELECT ${bkt(1)} AS b1, ${bkt(2)} AS b2 FROM tg
         |  WHERE len(string_split(g, ' ')) = 2),
         |big AS (SELECT b1, b2, count(*) AS c12 FROM tb2 GROUP BY b1, b2),
         |ctx AS (SELECT b1, count(*) AS c1 FROM tb2 GROUP BY b1),
         |rg2 AS (SELECT doc_id, unnest($sh2) AS g
         |  FROM documents WHERE source <> 'src0'),
         |rb2 AS (SELECT doc_id, ${bkt(1)} AS b1, ${bkt(2)} AS b2 FROM rg2
         |  WHERE len(string_split(g, ' ')) = 2),
         |sc2 AS (SELECT doc_id,
         |    CAST(floor((ln(coalesce(c12, 0) + 1.0)
         |      - ln(coalesce(c1, 0) + ${B}.0)) * 1000000.0 + 0.5) AS BIGINT)
         |      AS lp_q
         |  FROM rb2 LEFT JOIN big USING(b1, b2) LEFT JOIN ctx USING(b1)),
         |lm AS (SELECT doc_id, count(*) AS n_bigrams,
         |    CAST(sum(lp_q) AS BIGINT) AS lp_sum_q FROM sc2 GROUP BY doc_id),
         |per AS (SELECT d.source AS src,
         |    CAST(sum(n_bigrams) AS BIGINT) AS nb,
         |    CAST(sum(lp_sum_q) AS BIGINT) AS lps
         |  FROM lm JOIN documents d USING (doc_id) GROUP BY 1),
         |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS tnb,
         |    CAST(sum(lps) AS BIGINT) AS tlps FROM per),
         |w AS (SELECT src, nb,
         |    CAST(nb AS DOUBLE) / tnb AS share,
         |    -CAST(lps AS DOUBLE) / 1000000.0 / nb AS loss_nats,
         |    greatest(-CAST(lps AS DOUBLE) / 1000000.0 / nb
         |      + CAST(tlps AS DOUBLE) / 1000000.0 / tnb, 0.0) AS excess_nats
         |  FROM per, tot),
         |wq AS (SELECT *, CAST(floor(share * (1.0 + 0.5 * excess_nats)
         |    * 1000000000.0 + 0.5) AS BIGINT) AS rwq FROM w),
         |z AS (SELECT CAST(sum(rwq) AS BIGINT) AS z FROM wq)
         |SELECT src AS source, nb AS n_bigrams,
         |  round(share, 6) AS share, round(loss_nats, 6) AS loss_nats,
         |  round(excess_nats, 6) + 0.0 AS excess_nats,
         |  round(CAST(rwq AS DOUBLE) / z, 6) AS new_share
         |FROM wq, z ORDER BY source""".stripMargin
    }),

    // Asymmetric containment: sub-document duplication with direction.
    Gate("q330_containment", (s, dir) =>
      Dedup.containment(t(s, dir, "documents"), "text", "doc_id",
          NGRAM, K, BANDS, 0.5)
        .orderBy("doc_a", "doc_b"), oracle =
      s"""WITH $docSig,
         |$candCtes,
         |${interCtes("documents", "ng")}
         |SELECT da AS doc_a, db AS doc_b, CAST(i AS BIGINT) AS inter_grams,
         |  round(CAST(i AS DOUBLE) / sa.ng, 6) AS containment_a,
         |  round(CAST(i AS DOUBLE) / sb.ng, 6) AS containment_b,
         |  CASE WHEN CAST(i AS DOUBLE) / sa.ng >= CAST(i AS DOUBLE) / sb.ng
         |    THEN da ELSE db END AS contained_doc
         |FROM inter JOIN sizes sa ON da = sa.doc_id
         |           JOIN sizes sb ON db = sb.doc_id
         |WHERE greatest(CAST(i AS DOUBLE) / sa.ng,
         |               CAST(i AS DOUBLE) / sb.ng) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Dedup threshold operating-point sweep over verified candidates.
    Gate("q335_threshold_sweep", (s, dir) =>
      Dedup.dedupThresholdSweep(t(s, dir, "documents"), "text", "doc_id",
          NGRAM, K, BANDS)
        .orderBy("threshold"), oracle = {
      val ths = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
      val values = ths.map(v => s"(CAST($v AS DOUBLE))").mkString(", ")
      s"""WITH $docSig,
         |$candCtes,
         |${interCtes("documents")},
         |sc AS (SELECT da, db, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
         |  FROM inter JOIN sizes sa ON da = sa.doc_id
         |             JOIN sizes sb ON db = sb.doc_id),
         |th(threshold) AS (VALUES $values),
         |pj AS (SELECT threshold, da, db, j FROM sc, th WHERE j >= threshold),
         |pairs AS (SELECT threshold, count(*) AS n_pairs FROM pj GROUP BY 1),
         |docs AS (SELECT threshold, count(DISTINCT d) AS n_docs FROM
         |  (SELECT threshold, unnest([da, db]) AS d FROM pj) GROUP BY 1)
         |SELECT th.threshold,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
         |FROM th LEFT JOIN pairs USING (threshold)
         |        LEFT JOIN docs USING (threshold)
         |ORDER BY threshold""".stripMargin
    }),

    // The dedup decision ledger: per dropped doc, reason + keeper +
    // strongest evidence.
    Gate("q336_dedup_explain", (s, dir) =>
      Dedup.dedupExplain(t(s, dir, "documents"), "text", "doc_id",
          NGRAM, K, BANDS, 0.8)
        .orderBy("doc_id"), oracle =
      s"""WITH RECURSIVE hx0 AS (SELECT doc_id, md5(text) AS h FROM documents),
         |grp AS (SELECT h, min(doc_id) AS keeper FROM hx0 GROUP BY h),
         |ed AS (SELECT doc_id, 'exact' AS reason, keeper AS keeper_id,
         |    CAST(1.0 AS DOUBLE) AS evidence
         |  FROM hx0 JOIN grp USING (h) WHERE doc_id <> keeper),
         |surv AS (SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ed)),
         |${sigCtes("surv", "x", "sig")},
         |$candCtes,
         |${interCtes("surv")},
         |pr AS (SELECT da, db, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
         |  FROM inter JOIN sizes sa ON da = sa.doc_id
         |             JOIN sizes sb ON db = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |${reachCtes("pr")},
         |$compCte,
         |ev AS (SELECT d AS doc_id, max(j) AS evidence FROM
         |  (SELECT da AS d, j FROM pr UNION ALL SELECT db, j FROM pr)
         |  GROUP BY d),
         |nd AS (SELECT c.doc_id, 'near' AS reason,
         |    c.component AS keeper_id, ev.evidence
         |  FROM comp c JOIN ev USING (doc_id) WHERE c.doc_id <> c.component)
         |SELECT doc_id, reason, keeper_id, round(evidence, 6) AS evidence
         |FROM (SELECT * FROM ed UNION ALL SELECT * FROM nd)
         |ORDER BY doc_id""".stripMargin),

    // Per-sequence doc-boundary offsets (cu_seqlens) over the q244
    // packed layout.
    Gate("q342_pack_boundaries", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.ops.Corpus.packBoundaries(docs, "doc_id", "n_tok", "source", 512L)
        .orderBy("seq")
    }, oracle =
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |c AS (SELECT *, CAST(sum(ntok) OVER (ORDER BY source, doc_id) - ntok
        |    AS BIGINT) AS start_tok FROM d),
        |b AS (SELECT start_tok % 512 AS boundary, start_tok // 512 AS seq
        |  FROM c)
        |SELECT seq, count(*) AS n_docs_starting,
        |  array_to_string(list_sort(list(boundary)), ',') AS boundaries
        |FROM b GROUP BY seq ORDER BY seq""".stripMargin),

    // Source-redundancy matrix: pairwise hashed-profile cosine.
    Gate("q343_source_similarity", (s, dir) =>
      graft.ops.Corpus.sourceSimilarity(t(s, dir, "documents"),
          "text", "source")
        .orderBy("src_a", "src_b"), oracle = {
      val b = s"(${Dedup.h60Sql("w")}) % 256"
      s"""WITH prof AS (SELECT src, $b AS b, count(*) AS c FROM
         |  (SELECT source AS src, unnest(string_split(text, ' ')) AS w
         |   FROM documents) WHERE w <> '' GROUP BY 1, 2),
         |norms AS (SELECT src, CAST(sum(c * c) AS BIGINT) AS n2
         |  FROM prof GROUP BY src),
         |d AS (SELECT a.src AS src_a, b2.src AS src_b,
         |    CAST(sum(a.c * b2.c) AS BIGINT) AS dot
         |  FROM prof a JOIN prof b2 ON a.b = b2.b AND a.src < b2.src
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |  round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
         |    AS profile_cosine
         |FROM d JOIN norms na ON na.src = d.src_a
         |       JOIN norms nb ON nb.src = d.src_b
         |ORDER BY src_a, src_b""".stripMargin
    }),

    // Streaming NORMALIZED exact dedup: normalizeCol runs inside the
    // stream (stateless map) before the stateful hash agg, so the
    // ingest-time dedup catches the unicode/whitespace dup classes raw
    // md5 misses — AvailableNow replay over the q321 corpus must equal
    // the batch q321 answer exactly (shared oracle).
    Gate("q346_streaming_norm_dedup", (s, dir) => {
      val docs = graft.core.Tables.stream(s, dir, "documents")
      val base = docs.select(col("doc_id"),
        concat(col("text"), lit(" " + composed)).as("text"))
      val clones = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(regexp_replace(col("text"), " ", "  "),
            lit(" " + decomposed)).as("text"))
      val agg = base.unionByName(clones)
        .select(col("doc_id"),
          TextOps.normalizeCol(col("text")).as("norm_text"))
        .groupBy(md5(col("norm_text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      drainMemory(s, agg, "complete")(_.orderBy("content_hash"))
    }, oracle =
      // the streaming replay must equal the batch q321 answer exactly
      q321OracleSql),

    // Dedup diversity lift: distinct-n per slice BEFORE vs AFTER exact
    // dedup in one report — the "did dedup actually help" number.
    Gate("q347_dedup_diversity", (s, dir) => {
      val docs = t(s, dir, "documents")
      val keepers = Dedup.exact(docs, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      val surv = docs.join(keepers, "doc_id")
      TextOps.distinctNgramRatio(docs, "text", "source")
        .withColumn("stage", lit("raw"))
        .unionByName(TextOps.distinctNgramRatio(surv, "text", "source")
          .withColumn("stage", lit("deduped")))
        .orderBy("stage", "source", "n")
    }, oracle = {
      def one(src: String, stage: String, n: Int) =
        s"""SELECT source, $n AS n, count(*) AS total_grams,
           |  count(DISTINCT g) AS distinct_grams,
           |  round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6)
           |    AS distinct_ratio, '$stage' AS stage
           |FROM (SELECT source, unnest(${Dedup.shinglesSql("text", n)}) AS g
           |      FROM $src)
           |GROUP BY source""".stripMargin
      s"""WITH surv AS (SELECT d.* FROM documents d JOIN
         |  (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
         |  USING (doc_id))
         |${(1 to 3).map(n => one("documents", "raw", n)).mkString("\nUNION ALL\n")}
         |UNION ALL
         |${(1 to 3).map(n => one("surv", "deduped", n)).mkString("\nUNION ALL\n")}
         |ORDER BY stage, source, n""".stripMargin
    }),

    // URL dedup: canonicalize the messy raw forms, one hash agg per
    // canonical key; copies, collapsed raw spellings, min-id keeper.
    Gate("q349_url_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      UrlOps.urlDedup(docs, "url", "doc_id").orderBy("canonical_url")
    }, oracle = q349OracleSql),

    // Per-registered-domain rollup: doc/URL counts, URL-dup rate, and
    // the exact quality mean — the frame domainCap budgets a crawl on.
    Gate("q350_domain_rollup", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      UrlOps.domainQualityRollup(docs, "url", "n_chars").orderBy("domain")
    }, oracle =
      s"""WITH u AS (SELECT doc_id, n_chars,
         |    lower(source) || '.com' AS domain, $canonUrlSql AS cu
         |  FROM documents)
         |SELECT domain, count(*) AS n_docs, count(DISTINCT cu) AS n_urls,
         |  round(1.0 - CAST(count(DISTINCT cu) AS DOUBLE) / count(*), 6)
         |    AS url_dup_rate,
         |  round(CAST(sum(CAST(floor(CAST(n_chars AS DOUBLE) * 1e6 + 0.5)
         |      AS BIGINT)) AS DOUBLE) / 1e6 / count(*), 6) AS mean_quality
         |FROM u GROUP BY domain ORDER BY domain""".stripMargin),

    // Inter-doc segment dedup: 20-word segments, a segment seen in >1
    // doc flags every holder; per-doc duplicated-segment fraction.
    Gate("q354_segment_dup", (s, dir) =>
      TextOps.segmentDupFraction(t(s, dir, "documents"), "text", "doc_id",
          w = 20)
        .orderBy("doc_id"), oracle =
      """WITH wl AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sg AS (SELECT doc_id, ws,
        |    unnest(range(0, CAST(ceil(len(ws) / 20.0) AS INT))) AS seg
        |  FROM wl WHERE len(ws) > 0),
        |st AS (SELECT doc_id, md5(array_to_string(
        |    list_slice(ws, seg * 20 + 1, seg * 20 + 20), ' ')) AS h
        |  FROM sg),
        |sh AS (SELECT h, count(DISTINCT doc_id) AS nd FROM st GROUP BY h)
        |SELECT doc_id, count(*) AS n_segments,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_segments,
        |  round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_segment_frac
        |FROM st JOIN sh USING (h) GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),

    // Streaming ingest-time URL dedup: the canonicalizer is a
    // stateless map inside the stream, the per-canonical rollup is the
    // stateful agg (collect_set for the raw-form count — streaming
    // forbids COUNT DISTINCT, and the set's SIZE equals it exactly).
    // AvailableNow replay == the batch q349 answer, shared oracle.
    Gate("q356_streaming_url_dedup", (s, dir) => {
      val docs = graft.core.Tables.stream(s, dir, "documents")
        .withColumn("url", rawUrlCol)
      val agg = docs
        .select(UrlOps.canonicalUrl(col("url")).as("canonical_url"),
          col("url").as("raw"), col("doc_id"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_copies"),
          size(collect_set(col("raw"))).cast("long").as("n_raw_forms"),
          min(col("doc_id")).as("keeper_id"))
      drainMemory(s, agg, "complete")(_.orderBy("canonical_url"))
    }, oracle =
      // the streaming replay must equal the batch q349 answer exactly
      q349OracleSql),

    // Crawl-frontier seen-URL check: bloom prefilter over the seen
    // canonical set, exact join only for bloom-positives.
    Gate("q357_url_frontier", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      val seen = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
      val frontier = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
      UrlOps.urlSeenFilter(seen, frontier, "url", "doc_id")
        .orderBy("doc_id")
    }, oracle =
      s"""WITH u AS (SELECT doc_id, $canonUrlSql AS cu FROM documents),
         |seen AS (SELECT DISTINCT cu FROM u WHERE doc_id % 5 <> 0)
         |SELECT doc_id, cu AS canonical_url,
         |  cu IN (SELECT cu FROM seen) AS seen
         |FROM u WHERE doc_id % 5 = 0 ORDER BY doc_id""".stripMargin),

    // Per-source redundancy report: exact-text and canonical-URL dup
    // rates plus the micro-quantized means of the per-doc segment-dup
    // and repetition fractions — the "which source is worth paying
    // for" monitoring rollup. All keyed aggs; output O(#sources).
    Gate("q359_redundancy_report", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      val base = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text").cast("binary"))).as("__nt"),
        countDistinct(UrlOps.canonicalUrl(col("url"))).as("__nu"))
      def meanMicro(df: org.apache.spark.sql.DataFrame, c: String,
                    out: String) =
        df.join(docs.select("doc_id", "source"), "doc_id")
          .groupBy("source")
          .agg(sum(floor(col(c) * 1e6 + 0.5).cast("long")).as("__s"),
            count(lit(1)).as("__n"))
          .select(col("source"),
            round(col("__s").cast("double") / 1e6 / col("__n"), 6).as(out))
      base
        .join(meanMicro(TextOps.segmentDupFraction(docs, "text", "doc_id",
          20), "dup_segment_frac", "mean_seg_dup"), "source")
        .join(meanMicro(TextOps.repetitionSignals(docs, "text", "doc_id",
          2), "dup_gram_frac", "mean_rep"), "source")
        .select(col("source"), col("n_docs"),
          round(lit(1.0) - col("__nt").cast("double") / col("n_docs"), 6)
            .as("exact_dup_rate"),
          round(lit(1.0) - col("__nu").cast("double") / col("n_docs"), 6)
            .as("url_dup_rate"),
          col("mean_seg_dup"), col("mean_rep"))
        .orderBy("source")
    }, oracle =
      s"""WITH $segFracCtes,
         |$repFracCtes,
         |u AS (SELECT doc_id, $canonUrlSql AS cu FROM documents),
         |d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
         |base AS (SELECT source, count(*) AS n_docs,
         |    count(DISTINCT h) AS nt, count(DISTINCT cu) AS nu
         |  FROM d JOIN u USING (doc_id) GROUP BY source),
         |segs AS (SELECT source,
         |    CAST(sum(CAST(floor(dup_segment_frac * 1e6 + 0.5) AS BIGINT))
         |      AS BIGINT) AS s, count(*) AS n
         |  FROM sega JOIN documents USING (doc_id) GROUP BY source),
         |reps AS (SELECT source,
         |    CAST(sum(CAST(floor(dup_gram_frac * 1e6 + 0.5) AS BIGINT))
         |      AS BIGINT) AS s, count(*) AS n
         |  FROM rep JOIN documents USING (doc_id) GROUP BY source)
         |SELECT base.source, n_docs,
         |  round(1.0 - CAST(nt AS DOUBLE) / n_docs, 6) AS exact_dup_rate,
         |  round(1.0 - CAST(nu AS DOUBLE) / n_docs, 6) AS url_dup_rate,
         |  round(CAST(segs.s AS DOUBLE) / 1e6 / segs.n, 6) AS mean_seg_dup,
         |  round(CAST(reps.s AS DOUBLE) / 1e6 / reps.n, 6) AS mean_rep
         |FROM base JOIN segs USING (source) JOIN reps USING (source)
         |ORDER BY source""".stripMargin),

    // The ROUND-8 FLAGSHIP: crawl-to-corpus in one plan — URL dedup ->
    // exact text dedup -> repetition filter -> per-domain cap ->
    // shard layout, handed off as the manifest (counts, token mass,
    // id ranges, content checksums per shard). Every stage is
    // individually gated (q349/q24/q353/q301/q362); this row proves
    // the modern pipeline composes end-to-end with one SQL
    // re-derivation.
    Gate("q368_crawl_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", rawUrlCol)
      val urlKeep = docs
        .select(col("doc_id"), UrlOps.canonicalUrl(col("url")).as("cu"))
        .groupBy("cu").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val s1 = docs.join(urlKeep, "doc_id")
      val exKeep = Dedup.exact(s1, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      val s2 = s1.join(exKeep, "doc_id")
      val g = Dedup.shingles(col("text"), 2)
      val s3 = s2.where(round(
        (size(g) - size(array_distinct(g))).cast("double") /
          greatest(size(g), lit(1)), 6) <= 0.3)
      val s4 = graft.ops.Corpus.domainCap(
        s3.withColumn("domain", UrlOps.registeredDomain(col("url"))),
        "doc_id", "domain", "n_chars", 40)
      val sharded = graft.ops.Corpus.shardAssign(s4, "doc_id", 4)
        .select("doc_id", "shard")
        .join(s4.select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_tok")),
          "doc_id")
      graft.core.Layout.shardManifest(sharded, "shard", "doc_id", "n_tok",
          "text")
        .orderBy("shard")
    }, oracle = {
      val hs = Dedup.h60Sql("CAST(doc_id AS VARCHAR)")
      val hc = Dedup.h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")
      s"""WITH u AS (SELECT doc_id, text, n_chars, source, $canonUrlSql AS cu
         |  FROM documents),
         |k1 AS (SELECT min(doc_id) AS doc_id FROM u GROUP BY cu),
         |s1 AS (SELECT u.* FROM u JOIN k1 USING (doc_id)),
         |k2 AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
         |s2 AS (SELECT s1.* FROM s1 JOIN k2 USING (doc_id)),
         |rep AS (SELECT doc_id, round(CAST(total - dist AS DOUBLE)
         |    / greatest(total, 1), 6) AS f FROM
         |  (SELECT doc_id, CAST(len(grams) AS BIGINT) AS total,
         |     CAST(len(list_distinct(grams)) AS BIGINT) AS dist FROM
         |    (SELECT doc_id, ${Dedup.shinglesSql("text", 2)} AS grams
         |     FROM s2))),
         |s3 AS (SELECT s2.* FROM s2 JOIN rep USING (doc_id)
         |  WHERE f <= 0.3),
         |d3 AS (SELECT *, lower(source) || '.com' AS domain FROM s3),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY domain
         |    ORDER BY n_chars DESC, doc_id) AS rn FROM d3),
         |s4 AS (SELECT * FROM rk WHERE rn <= 40),
         |sh AS (SELECT doc_id, CAST(($hs) % 4 AS INT) AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    ($hc) AS h
         |  FROM s4)
         |${Lifecycle.manifestCols}
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin
    }),

    // Packing-efficiency sweep: per candidate seqLen, sequence counts
    // and pad shares under pad-per-doc vs concatenate-and-chunk.
    Gate("q364_packing_sweep", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      graft.ops.Corpus.packingSweep(docs, "n_tok",
          Seq(64L, 128L, 256L, 512L))
        .orderBy("seq_len")
    }, oracle =
      """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS tok FROM documents),
        |x AS (SELECT CAST(L AS BIGINT) AS seq_len, tok
        |  FROM d, unnest([64, 128, 256, 512]) u(L)),
        |a AS (SELECT seq_len, count(*) AS n_docs,
        |    CAST(sum(tok) AS BIGINT) AS tokens_total,
        |    CAST(sum((tok + seq_len - 1) // seq_len) AS BIGINT)
        |      AS n_seq_padded
        |  FROM x GROUP BY seq_len),
        |b AS (SELECT *, CAST((tokens_total + seq_len - 1) // seq_len
        |    AS BIGINT) AS n_seq_packed FROM a)
        |SELECT seq_len, n_docs, tokens_total, n_seq_padded,
        |  round(CAST(n_seq_padded * seq_len - tokens_total AS DOUBLE)
        |    / (n_seq_padded * seq_len), 6) AS pad_share_padded,
        |  n_seq_packed,
        |  round(CAST(n_seq_packed * seq_len - tokens_total AS DOUBLE)
        |    / (n_seq_packed * seq_len), 6) AS pad_share_packed
        |FROM b ORDER BY seq_len""".stripMargin),

    // Dedup detection scorecard vs PLANTED ground truth: every %10==0
    // doc gets a 3-word-suffix clone; the near-dup pipeline
    // (MinHash-LSH candidates -> exact Jaccard >= 0.8) is scored on
    // how many planted pairs it finds (recall — short docs whose
    // Jaccard legitimately falls under the threshold are counted
    // against it, deterministically) and how many clone-touching
    // pairs are spurious (precision). One row.
    Gate("q365_dedup_scorecard", (s, dir) => {
      val docs = t(s, dir, "documents")
      val clones = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" planted clone marker")).as("text"))
      val aug = docs.select("doc_id", "text").unionByName(clones)
      val pairs = Dedup.ngramJaccard(aug, "text", "doc_id",
        NGRAM, K, BANDS, 0.8)
      val clonePairs = pairs.where(col("doc_a") >= 1000000L ||
        col("doc_b") >= 1000000L)
      val nP = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
        .agg(count(lit(1)).as("n_planted"))
      val det = clonePairs
        .where(col("doc_b") === col("doc_a") + 1000000L)
        .agg(count(lit(1)).as("n_detected"))
      val cp = clonePairs.agg(count(lit(1)).as("n_clone_pairs"))
      nP.crossJoin(det).crossJoin(cp)
        .select(col("n_planted"), col("n_detected"), col("n_clone_pairs"),
          (col("n_clone_pairs") - col("n_detected")).as("n_spurious"),
          round(col("n_detected").cast("double") / col("n_planted"), 6)
            .as("recall"),
          when(col("n_clone_pairs") > 0,
            round(col("n_detected").cast("double") / col("n_clone_pairs"),
              6)).otherwise(lit(0.0)).as("precision"))
    }, oracle =
      s"""WITH aug AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' planted clone marker'
         |  FROM documents WHERE doc_id % 10 = 0),
         |${sigBandCtes("aug")},
         |g AS (SELECT DISTINCT doc_id AS did,
         |    unnest(${Dedup.shinglesSql("text", NGRAM)}) AS g FROM aug),
         |sz AS (SELECT did, count(*) AS n FROM g GROUP BY did),
         |inter AS (SELECT cand.da, cand.db, count(*) AS i FROM cand
         |  JOIN g ga ON ga.did = cand.da
         |  JOIN g gb2 ON gb2.did = cand.db AND gb2.g = ga.g
         |  GROUP BY 1, 2),
         |jac AS (SELECT da, db FROM inter
         |  JOIN sz sa ON sa.did = inter.da
         |  JOIN sz sb ON sb.did = inter.db
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |cp AS (SELECT * FROM jac WHERE da >= 1000000 OR db >= 1000000),
         |np AS (SELECT count(*) AS n_planted FROM documents
         |  WHERE doc_id % 10 = 0),
         |dc AS (SELECT count(*) AS n FROM cp WHERE db = da + 1000000),
         |cc AS (SELECT count(*) AS n FROM cp)
         |SELECT n_planted, CAST(dc.n AS BIGINT) AS n_detected,
         |  CAST(cc.n AS BIGINT) AS n_clone_pairs,
         |  CAST(cc.n - dc.n AS BIGINT) AS n_spurious,
         |  round(CAST(dc.n AS DOUBLE) / n_planted, 6) AS recall,
         |  CASE WHEN cc.n > 0
         |    THEN round(CAST(dc.n AS DOUBLE) / cc.n, 6)
         |    ELSE 0.0 END AS "precision"
         |FROM np, dc, cc""".stripMargin),

    // SymSpell edit-distance-1 vocabulary pairs: deletion-neighborhood
    // candidates + exact levenshtein verify, over the corpus vocab
    // with deterministically planted typos (2nd char dropped for a
    // hash-selected third of length>=4 words).
    Gate("q406_fuzzy_vocab", (s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "").distinct()
      val typos = vocab
        .where(length(col("w")) >= 4 &&
          pmod(graft.ops.Dedup.h60(col("w")), lit(3L)) === 0)
        .select(concat(col("w").substr(lit(1), lit(1)),
          col("w").substr(lit(3), length(col("w")))).as("w"))
      graft.ops.Dedup.fuzzyPairs(vocab.unionByName(typos), "w")
        .orderBy("wa", "wb")
    }, oracle = {
      val h = graft.ops.Dedup.h60Sql("w")
      s"""WITH vocab AS (SELECT DISTINCT unnest(string_split(text, ' '))
         |    AS w FROM documents),
         |typos AS (SELECT substr(w, 1, 1) || substr(w, 3, length(w)) AS w
         |  FROM vocab WHERE length(w) >= 4 AND ($h) % 3 = 0),
         |words AS (SELECT DISTINCT w FROM
         |  (SELECT w FROM vocab UNION ALL SELECT w FROM typos)
         |  WHERE w IS NOT NULL AND w <> ''),
         |v AS (SELECT w, unnest([w] || [substr(w, 1, i - 1)
         |      || substr(w, i + 1, length(w))
         |    for i in range(1, length(w) + 1)]) AS var
         |  FROM words),
         |cand AS (SELECT DISTINCT a.w AS wa, b.w AS wb
         |  FROM v a JOIN v b ON a.var = b.var AND a.w < b.w)
         |SELECT wa, wb, CAST(levenshtein(wa, wb) AS BIGINT) AS dist
         |FROM cand WHERE levenshtein(wa, wb) <= 1
         |ORDER BY wa, wb""".stripMargin
    }),

    // word2vec phrase promotion: bigrams whose corpus count beats the
    // unigram-independence prediction (staged-integer e6 score) — the
    // "new_york" pass a tokenizer pipeline runs before training.
    Gate("q410_phrase_mining", (s, dir) => {
      TextOps.phraseMining(t(s, dir, "documents"), "text",
          delta = 2L, minCount = 3L, minScoreE6 = 1200000L)
        .orderBy(col("score_e6").desc, col("w1"), col("w2"))
    }, oracle =
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) > 0),
        |uni AS (SELECT unnest(w) AS wd FROM toks),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM uni),
        |cw AS (SELECT wd, CAST(count(*) AS BIGINT) AS c FROM uni
        |  GROUP BY 1),
        |bi AS (SELECT z[1] AS w1, z[2] AS w2 FROM
        |  (SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS z
        |   FROM toks WHERE len(w) >= 2)),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM bi
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT w1, w2, c_ab, a.c AS c_w1, b.c AS c_w2,
        |  ((c_ab - 2) * 1000000 // a.c) * nt // b.c AS score_e6
        |FROM cb JOIN cw a ON a.wd = cb.w1 JOIN cw b ON b.wd = cb.w2, n
        |WHERE ((c_ab - 2) * 1000000 // a.c) * nt // b.c >= 1200000
        |ORDER BY score_e6 DESC, w1, w2""".stripMargin),

    // Multimodal shot-boundary detection: >=30% relative change in
    // consecutive 64-byte frame energies (exact integer deltas) over
    // the documents-as-media payloads, with per-media shot indices.
    Gate("q417_shot_boundaries", (s, dir) => {
      val media = Multimodal.asMediaTable(
        t(s, dir, "documents"), "doc_id", "text")
      Multimodal.shotBoundaries(media, frameBytes = 64,
          thresholdPct = 30L, minDelta = 0L)
        .orderBy("media_id", "frame_no")
    }, oracle =
      """WITH f AS (SELECT doc_id, len(text) AS n,
        |    unnest(range((len(text) + 63) // 64)) AS frame_no
        |  FROM documents WHERE len(text) > 0),
        |pos AS (SELECT doc_id, frame_no,
        |    unnest(range(frame_no * 64, least(frame_no * 64 + 64, n))) AS p
        |  FROM f),
        |e AS (SELECT pos.doc_id AS media_id,
        |    CAST(frame_no AS INTEGER) AS frame_no,
        |    CAST(sum(ord(substr(text, CAST(p AS INTEGER) + 1, 1)))
        |      AS BIGINT) AS byte_sum
        |  FROM pos JOIN documents d ON d.doc_id = pos.doc_id
        |  GROUP BY 1, 2),
        |l AS (SELECT *, lag(byte_sum) OVER (PARTITION BY media_id
        |    ORDER BY frame_no) AS prev_sum FROM e),
        |b AS (SELECT media_id, frame_no, prev_sum, byte_sum,
        |    byte_sum - prev_sum AS delta
        |  FROM l WHERE prev_sum IS NOT NULL
        |    AND byte_sum - prev_sum <> 0
        |    AND abs(byte_sum - prev_sum) * 100 >=
        |      greatest(byte_sum, prev_sum) * 30)
        |SELECT media_id, frame_no, prev_sum, byte_sum, delta,
        |  CAST(row_number() OVER (PARTITION BY media_id
        |    ORDER BY frame_no) AS BIGINT) AS shot_no
        |FROM b ORDER BY media_id, frame_no""".stripMargin),

    // Gini concentration of documents over sources — the diversity
    // topline next to the domain caps (0 even .. 1e6 one-source).
    Gate("q421_domain_gini", (s, dir) =>
      Quality.gini(t(s, dir, "documents"), "source"), oracle =
      """WITH x AS (SELECT source, CAST(count(*) AS BIGINT) AS x
        |  FROM documents GROUP BY 1),
        |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, source)
        |    AS BIGINT) AS r FROM x),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(x) AS BIGINT) AS total,
        |    CAST(sum(r * x) AS BIGINT) AS rx FROM r)
        |SELECT n_keys, total,
        |  ((2 * rx - (n_keys + 1) * total) * 1000 // n_keys) * 1000
        |    // total AS gini_ppm
        |FROM s""".stripMargin),

    // Heaps-law vocabulary growth at 50-doc checkpoints: each word
    // attributed to its FIRST document — one word-keyed min, no
    // per-prefix rescans.
    Gate("q423_vocab_growth", (s, dir) => {
      TextOps.vocabGrowth(t(s, dir, "documents"), "text", "doc_id",
          checkpointDocs = 50L)
        .orderBy("cp")
    }, oracle =
      """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |ww AS (SELECT doc_id, w FROM words WHERE w <> ''),
        |firsts AS (SELECT min(doc_id) // 50 AS cp FROM ww GROUP BY w),
        |nw AS (SELECT cp, CAST(count(*) AS BIGINT) AS new_words
        |  FROM firsts GROUP BY 1),
        |docs AS (SELECT doc_id // 50 AS cp,
        |    CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |j AS (SELECT docs.cp, n_docs, coalesce(new_words, 0) AS new_words
        |  FROM docs LEFT JOIN nw ON nw.cp = docs.cp)
        |SELECT cp, n_docs, new_words,
        |  CAST(sum(n_docs) OVER (ORDER BY cp) AS BIGINT) AS n_docs_cum,
        |  CAST(sum(new_words) OVER (ORDER BY cp) AS BIGINT) AS vocab_size
        |FROM j ORDER BY cp""".stripMargin),

    // Zipf rank-frequency fit over the corpus vocabulary (hapax
    // trimmed): milli-quantized logs, exact-sum least squares.
    Gate("q424_zipf_fit", (s, dir) =>
      TextOps.zipfFit(t(s, dir, "documents"), "text", minCount = 2L), oracle =
      s"""WITH c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w HAVING count(*) >= 2),
        |r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w)
        |    AS BIGINT) AS r FROM c),
        |q AS (SELECT
        |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
        |      AS x,
        |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
        |      AS y FROM r),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy FROM q),
        |d AS (SELECT n, n * sxx - sx * sx AS dxx, n * syy - sy * sy AS dyy,
        |    n * sxy - sx * sy AS dxy, sy * sxx - sx * sxy AS inum FROM s)
        |SELECT n AS n_words,
        |$olsFitCols
        |FROM d""".stripMargin),

    // Multi-field entity resolution on customers: deterministic dirty
    // variants planted (one digit deleted from the name, same nation/
    // segment/balance), blocking on (nation, segment), edit-distance
    // verify, balance-equality evidence — the Fellegi-Sunter shape.
    Gate("q428_entity_resolution", (s, dir) => {
      val cust = t(s, dir, "customer")
      val p = (pmod(col("c_custkey"), lit(8L)) + 10L).cast("int")
      val variants = cust.where(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(col("c_name").substr(lit(1), p - 1),
            col("c_name").substr(p + 1, lit(100))).as("c_name"),
          col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      val all = cust.select("c_custkey", "c_name", "c_nationkey",
        "c_mktsegment", "c_acctbal").unionByName(variants)
      val bal = all.select(col("c_custkey"),
        floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("__cents"))
      graft.ops.Dedup.recordLinkage(all, "c_custkey", "c_name",
          Seq("c_nationkey", "c_mktsegment"), maxDist = 1)
        .join(bal.toDF("id_a", "__ca"), "id_a")
        .join(bal.toDF("id_b", "__cb"), "id_b")
        .where(col("__ca") === col("__cb"))
        .select("id_a", "id_b", "name_a", "name_b", "dist")
        .orderBy("id_a", "id_b")
    }, oracle =
      """WITH var AS (SELECT c_custkey + 1000000 AS c_custkey,
        |    substr(c_name, 1, CAST(c_custkey % 8 AS INTEGER) + 9) ||
        |      substr(c_name, CAST(c_custkey % 8 AS INTEGER) + 11, 100)
        |      AS c_name,
        |    c_nationkey, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 13 = 0),
        |allr AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
        |    c_acctbal FROM customer
        |  UNION ALL SELECT * FROM var),
        |pairs AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    a.c_name AS name_a, b.c_name AS name_b,
        |    CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
        |    CAST(floor(a.c_acctbal * 100 + 0.5) AS BIGINT) AS ca,
        |    CAST(floor(b.c_acctbal * 100 + 0.5) AS BIGINT) AS cb
        |  FROM allr a JOIN allr b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey)
        |SELECT id_a, id_b, name_a, name_b, dist FROM pairs
        |WHERE dist <= 1 AND ca = cb
        |ORDER BY id_a, id_b""".stripMargin),

    // TF-IDF keyword extraction: each doc's top-3 terms by the exact
    // integer tf * nano-quantized ln(N/df) score, ties word-ascending
    // — the topic-tagging signal for dataset cards and facet search.
    Gate("q435_tfidf_keywords", (s, dir) => {
      TextOps.tfidfKeywords(t(s, dir, "documents"), "text", "doc_id", k = 3)
        .orderBy("doc_id", "rank")
    }, oracle =
      """WITH w AS (SELECT doc_id, w FROM (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS w FROM documents
        |    WHERE doc_id IS NOT NULL)
        |  WHERE w <> ''),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        |  FROM w GROUP BY 1, 2),
        |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM tf),
        |sc AS (SELECT doc_id, w, tf,
        |    tf * CAST(floor(ln(CAST(n_docs AS DOUBLE)
        |      / CAST(df AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)
        |      AS sn
        |  FROM tf JOIN dfq USING (w) CROSS JOIN n),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY sn DESC, w) AS BIGINT) AS rank FROM sc)
        |SELECT doc_id, rank, w AS word, tf,
        |  round(CAST(sn AS DOUBLE) / 1000000000.0, 6) AS tfidf
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // Jaro-Winkler blocked linkage over part names (brand blocks):
    // the native codegen expression, bit-identical to DuckDB's
    // jaro_winkler_similarity (fuzz-verified), thresholded on the
    // ROUNDED score so the cut is boundary-safe cross-engine.
    Gate("q451_jaro_linkage", (s, dir) => {
      graft.ops.Dedup.jaroLinkage(t(s, dir, "part"), "p_partkey",
          "p_name", Seq("p_brand", "p_size"), minJw = 0.9)
        .orderBy("p_brand", "p_size", "id_a", "id_b")
    }, oracle =
      """WITH p AS (SELECT p_partkey, p_brand, p_size, p_name
        |  FROM part),
        |j AS (SELECT x.p_brand, x.p_size, x.p_partkey AS id_a,
        |    y.p_partkey AS id_b,
        |    round(jaro_winkler_similarity(x.p_name, y.p_name), 6) AS jw
        |  FROM p x JOIN p y ON x.p_brand = y.p_brand
        |    AND x.p_size = y.p_size AND x.p_partkey < y.p_partkey)
        |SELECT p_brand, p_size, id_a, id_b, jw FROM j
        |WHERE jw >= 0.9
        |ORDER BY p_brand, p_size, id_a, id_b""".stripMargin),

    // Typo-tolerant linkage on the FULL Damerau-Levenshtein metric
    // (native codegen expression; transpositions cost 1) with plain
    // Levenshtein alongside — integer distances, definitional parity.
    Gate("q452_typo_linkage", (s, dir) => {
      graft.ops.Dedup.typoLinkage(t(s, dir, "part"), "p_partkey",
          "p_name", Seq("p_brand", "p_size"), maxDl = 3L)
        .orderBy("p_brand", "p_size", "id_a", "id_b")
    }, oracle =
      """WITH p AS (SELECT p_partkey, p_brand, p_size, p_name
        |  FROM part),
        |j AS (SELECT x.p_brand, x.p_size, x.p_partkey AS id_a,
        |    y.p_partkey AS id_b,
        |    CAST(damerau_levenshtein(x.p_name, y.p_name) AS BIGINT)
        |      AS dl,
        |    CAST(levenshtein(x.p_name, y.p_name) AS BIGINT) AS lev
        |  FROM p x JOIN p y ON x.p_brand = y.p_brand
        |    AND x.p_size = y.p_size AND x.p_partkey < y.p_partkey)
        |SELECT p_brand, p_size, id_a, id_b, dl, lev FROM j
        |WHERE dl <= 3
        |ORDER BY p_brand, p_size, id_a, id_b""".stripMargin),

    // Jensen-Shannon divergence matrix between source word profiles.
    Gate("q460_source_jsd", (s, dir) =>
      Corpus.sourceJsd(t(s, dir, "documents"), "text", "source")
        .orderBy("src_a", "src_b"), oracle = {
      val b = s"(${Dedup.h60Sql("w")}) % 256"
      s"""WITH prof AS (SELECT src, $b AS b, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT source AS src, unnest(string_split(text, ' ')) AS w
         |        FROM documents) WHERE w <> '' GROUP BY 1, 2),
         |tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM prof
         |  GROUP BY src),
         |grid AS (SELECT t.src, gb.b, t.n, coalesce(p.c, 0) AS c
         |  FROM tot t CROSS JOIN (SELECT unnest(range(256)) AS b) gb
         |  LEFT JOIN prof p ON p.src = t.src AND p.b = gb.b),
         |pr AS (SELECT a.src AS src_a, b2.src AS src_b,
         |    (a.c + 1.0) / (a.n + 256.0) AS pa,
         |    (b2.c + 1.0) / (b2.n + 256.0) AS pb
         |  FROM grid a JOIN grid b2 ON a.b = b2.b AND a.src < b2.src),
         |tm AS (SELECT src_a, src_b,
         |    CAST(floor((pa * ln(pa / ((pa + pb) / 2.0))
         |      + pb * ln(pb / ((pa + pb) / 2.0))) * 1000000000.0 + 0.5)
         |      AS BIGINT) AS t
         |  FROM pr)
         |SELECT src_a, src_b,
         |  round(CAST(sum(t) AS DOUBLE) / 2000000000.0, 6) + 0.0
         |    AS jsd_nats
         |FROM tm GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin
    }),

    // PMI collocations: top-20 bigrams by pointwise mutual information.
    Gate("q474_collocations", (s, dir) =>
      graft.ops.TextOps.collocations(t(s, dir, "documents"), "text")
        .localCheckpoint(true), oracle = {
      val sh1 = Dedup.shinglesSql("text", 1)
      val sh2 = Dedup.shinglesSql("text", 2)
      s"""WITH uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($sh1) AS w FROM documents)
         |  WHERE w <> '' GROUP BY 1),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_words FROM uni),
         |big AS (SELECT g, CAST(count(*) AS BIGINT) AS c_ab
         |  FROM (SELECT unnest($sh2) AS g FROM documents)
         |  WHERE len(string_split(g, ' ')) = 2
         |  GROUP BY 1 HAVING count(*) >= 5),
         |j AS (SELECT g, c_ab, split_part(g, ' ', 1) AS wa,
         |    split_part(g, ' ', 2) AS wb FROM big
         |  WHERE split_part(g, ' ', 1) <> ''
         |    AND split_part(g, ' ', 2) <> ''),
         |sc AS (SELECT g, c_ab, ua.c AS c_a, ub.c AS c_b,
         |    CAST(floor(ln(CAST(c_ab AS DOUBLE) * n_words
         |      / (CAST(ua.c AS DOUBLE) * ub.c)) * 1000000000.0 + 0.5)
         |      AS BIGINT) AS q
         |  FROM j JOIN uni ua ON ua.w = j.wa
         |  JOIN uni ub ON ub.w = j.wb CROSS JOIN n)
         |SELECT g AS bigram, c_ab, c_a, c_b,
         |  round(CAST(q AS DOUBLE) / 1000000000.0, 6) + 0.0 AS pmi_nats
         |FROM sc ORDER BY q DESC, g LIMIT 20""".stripMargin
    }),

    // Fightin' Words: per-source top-5 over-represented words by the
    // Dirichlet log-odds z-score vs the rest of the corpus.
    Gate("q475_fightin_words", (s, dir) =>
      graft.ops.TextOps.fightinWords(t(s, dir, "documents"), "text",
          "source")
        .orderBy("source", "rank"), oracle = {
      val sh1 = Dedup.shinglesSql("text", 1)
      def qln(x: String) =
        s"CAST(floor(ln(CAST($x AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)"
      s"""WITH sw AS (SELECT src, w, CAST(count(*) AS BIGINT) AS y
         |  FROM (SELECT source AS src, unnest($sh1) AS w FROM documents
         |        WHERE source IS NOT NULL)
         |  WHERE w <> '' GROUP BY 1, 2),
         |gw AS (SELECT w, CAST(sum(y) AS BIGINT) AS gy FROM sw
         |  GROUP BY 1 HAVING sum(y) >= 5),
         |swf AS (SELECT sw.src, sw.w, sw.y, gw.gy FROM sw
         |  JOIN gw USING (w)),
         |ns AS (SELECT src, CAST(sum(y) AS BIGINT) AS n FROM swf
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(gy) AS BIGINT) AS nn,
         |    CAST(count(*) AS BIGINT) AS v FROM gw),
         |sc AS (SELECT src, w, y,
         |    (${qln("y + 1")} - ${qln("n + v - y - 1")}
         |      - ${qln("gy - y + 1")}
         |      + ${qln("nn - n + v - (gy - y) - 1")}) AS dq,
         |    1.0 / (y + 1) + 1.0 / (gy - y + 1) AS var
         |  FROM swf JOIN ns USING (src) CROSS JOIN tot),
         |rk AS (SELECT src, w, y,
         |    round((CAST(dq AS DOUBLE) / 1000000000.0) / sqrt(var), 6)
         |      + 0.0 AS z
         |  FROM sc),
         |r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY src
         |    ORDER BY z DESC, w) AS BIGINT) AS rank FROM rk)
         |SELECT src AS source, rank, w AS word, y, z
         |FROM r2 WHERE rank <= 5 ORDER BY source, rank""".stripMargin
    }),

    // Sample-vs-population calibration: the deterministic h60 1/16
    // sample's scaled estimates next to the exact aggregates, with the
    // error in ppm — fully exact on BOTH sides (the hash sample
    // re-derives identically in DuckDB), unlike a random-sample report.
    Gate("q473_sample_calibration", (s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_id").isNotNull && col("event_type").isNotNull &&
          col("value").isNotNull && !isnan(col("value")))
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("__vc"))
      val exact = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_exact"),
          sum(col("__vc")).as("sum_cents_exact"))
      val est = Corpus.stratifiedSample(ev, "event_id", lit(0.0625))
        .groupBy("event_type")
        .agg((count(lit(1)) * 16L).as("n_est"),
          (sum(col("__vc")) * 16L).as("sum_cents_est"))
      exact.join(est, "event_type")
        .select(col("event_type"), col("n_exact"), col("n_est"),
          idiv(abs(col("n_est") - col("n_exact")) * 1000000L,
            col("n_exact")).as("n_err_ppm"),
          col("sum_cents_exact"), col("sum_cents_est"))
        .orderBy("event_type")
    }, oracle = {
      val h = Dedup.h60Sql("CAST(event_id AS VARCHAR)")
      s"""WITH ev AS (SELECT event_id, event_type,
         |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
         |  FROM events WHERE event_id IS NOT NULL
         |    AND event_type IS NOT NULL AND value IS NOT NULL
         |    AND NOT isnan(value)),
         |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(sum(vc) AS BIGINT) AS sum_cents_exact
         |  FROM ev GROUP BY 1),
         |es AS (SELECT event_type,
         |    CAST(count(*) AS BIGINT) * 16 AS n_est,
         |    CAST(sum(vc) AS BIGINT) * 16 AS sum_cents_est
         |  FROM ev WHERE ($h) % 10000 < 625 GROUP BY 1)
         |SELECT event_type, n_exact, n_est,
         |  abs(n_est - n_exact) * 1000000 // n_exact AS n_err_ppm,
         |  sum_cents_exact, sum_cents_est
         |FROM ex JOIN es USING (event_type)
         |ORDER BY event_type""".stripMargin
    }),

    // Heaps-law vocabulary growth: 8 equal-count doc-id-order
    // prefixes, cumulative doc/token/vocab counts + marginal
    // new-vocab rate — the "when does more of this source stop
    // buying vocabulary" curve.
    Gate("q495_vocab_growth", (s, dir) =>
      graft.ops.Corpus.vocabGrowth(t(s, dir, "documents"), "text",
          "doc_id")
        .orderBy("step"), oracle =
      s"""WITH d AS (SELECT doc_id, text,
         |    row_number() OVER (ORDER BY doc_id) AS rn,
         |    count(*) OVER () AS n FROM documents),
         |s AS (SELECT doc_id, text,
         |    CAST(((rn - 1) * 8) // n AS BIGINT) AS step FROM d),
         |wx AS (SELECT step, w FROM (SELECT step,
         |    unnest(string_split(text, ' ')) AS w FROM s) WHERE w <> ''),
         |tok AS (SELECT step, CAST(count(*) AS BIGINT) AS tk
         |  FROM wx GROUP BY 1),
         |dc AS (SELECT step, CAST(count(*) AS BIGINT) AS dk
         |  FROM s GROUP BY 1),
         |gx AS (SELECT step,
         |    unnest(${graft.ops.Dedup.shinglesSql("text", 2)}) AS g FROM s),
         |fv AS (SELECT g, min(step) AS step FROM gx GROUP BY g),
         |nv AS (SELECT step, CAST(count(*) AS BIGINT) AS nw
         |  FROM fv GROUP BY 1)
        |SELECT tok.step,
        |  CAST(sum(dk) OVER win AS BIGINT) AS n_docs_cum,
        |  CAST(sum(tk) OVER win AS BIGINT) AS n_tokens_cum,
        |  CAST(sum(coalesce(nw, 0)) OVER win AS BIGINT) AS n_vocab_cum,
        |  coalesce(nw, 0) * 1000000 // greatest(tk, 1) AS new_vocab_ppm
        |FROM tok JOIN dc USING (step) LEFT JOIN nv USING (step)
        |WINDOW win AS (ORDER BY tok.step
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY tok.step""".stripMargin),

    // N-gram diversity (TTR) per source for n = 1..3.
    Gate("q497_ngram_diversity", (s, dir) =>
      graft.ops.Corpus.ngramDiversity(t(s, dir, "documents"), "text",
          "source")
        .orderBy("source", "n"), oracle = {
      def one(n: Int) = {
        val sh = graft.ops.Dedup.shinglesSql("text", n)
        s"""SELECT source, CAST($n AS BIGINT) AS n,
           |  CAST(count(*) AS BIGINT) AS n_grams,
           |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
           |  CAST(count(DISTINCT g) AS BIGINT) * 1000000
           |    // greatest(CAST(count(*) AS BIGINT), 1) AS ttr_ppm
           |FROM (SELECT source, unnest($sh) AS g FROM documents)
           |GROUP BY source""".stripMargin
      }
      (1 to 3).map(one).mkString("\nUNION ALL\n") +
        "\nORDER BY source, n"
    }),

    // Token-budget mixture plan: 1.2x-corpus budget (upsampling
    // regime), 30% per-lang cap, cap-and-redistribute, sampling
    // rates + epoch counts (the fixture exercises capped/uncapped
    // AND single/multi-epoch branches).
    Gate("q498_token_budget_plan", (s, dir) =>
      graft.ops.Corpus.tokenBudgetPlan(t(s, dir, "documents"), "text",
          "lang")
        .orderBy("lang"), oracle =
      s"""WITH $budgetCtes,
        |fin AS (SELECT lang, t, raw_ppm, total,
        |    CASE WHEN raw_ppm > 300000 THEN 300000
        |      ELSE raw_ppm + (CASE WHEN raw_uncapped > 0
        |        THEN (1000000 - assigned) * raw_ppm // raw_uncapped
        |        ELSE 0 END) END AS final_ppm,
        |    (total * 6 + 4) // 5 AS budget
        |  FROM raw, sums)
        |SELECT lang, t AS n_tokens, raw_ppm,
        |  CAST(final_ppm AS BIGINT) AS final_ppm,
        |  CAST(budget * final_ppm // 1000000 AS BIGINT) AS target_tokens,
        |  CAST(budget * final_ppm // 1000000 * 1000000
        |    // greatest(t, 1) AS BIGINT) AS sample_ppm,
        |  CAST((budget * final_ppm // 1000000 * 1000000
        |    // greatest(t, 1) + 999999) // 1000000 AS BIGINT) AS epochs
        |FROM fin ORDER BY lang""".stripMargin),

    // Sampling manifest: the q498 token-budget plan projected onto
    // the shard layout — per (shard, lang) cell: token mass, the
    // plan's sampling rate, and the cell's target token draw. The
    // file a trainer's data loader actually consumes; proves the
    // mixture plan and the shard layout COMPOSE (the q277 pattern
    // for token budgets). Cell targets are exact integer ppm draws,
    // so sum(cell targets) per lang <= the plan's lang target with
    // only truncation slack.
    Gate("q503_sampling_manifest", (s, dir) => {
      val docs = t(s, dir, "documents")
      val plan = graft.ops.Corpus.tokenBudgetPlan(docs, "text", "lang")
        .select("lang", "sample_ppm")
      val cells = graft.ops.Corpus.shardAssign(docs, "doc_id", 4)
        .select("doc_id", "shard")
        .join(docs.select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("__tok")),
          "doc_id")
        .groupBy("shard", "lang")
        .agg(sum(col("__tok")).as("n_tokens"))
      cells.join(broadcast(plan), "lang")
        .select(col("shard"), col("lang"), col("n_tokens"),
          col("sample_ppm"),
          idiv(col("n_tokens") * col("sample_ppm"), 1000000L)
            .as("target_tokens"))
        .orderBy("shard", "lang")
    }, oracle = {
      val h = graft.ops.Dedup.h60Sql("CAST(doc_id AS VARCHAR)")
      s"""WITH $budgetCtes,
         |fin AS (SELECT lang, t, total,
         |    CASE WHEN raw_ppm > 300000 THEN 300000
         |      ELSE raw_ppm + (CASE WHEN raw_uncapped > 0
         |        THEN (1000000 - assigned) * raw_ppm // raw_uncapped
         |        ELSE 0 END) END AS final_ppm,
         |    (total * 6 + 4) // 5 AS budget
         |  FROM raw, sums),
         |plan AS (SELECT lang,
         |    CAST(budget * final_ppm // 1000000 * 1000000
         |      // greatest(t, 1) AS BIGINT) AS sample_ppm
         |  FROM fin),
         |cells AS (SELECT CAST(($h) % 4 AS INT) AS shard, lang,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY 1, 2)
         |SELECT shard, cells.lang, n_tokens, sample_ppm,
         |  n_tokens * sample_ppm // 1000000 AS target_tokens
         |FROM cells JOIN plan ON plan.lang = cells.lang
         |ORDER BY shard, cells.lang""".stripMargin
    }),

    // Budget-capped admission: strict (priority desc, id) prefix until
    // the token quota is spent; priority = distinct-word ratio in ppm
    // (a quality proxy both engines derive identically).
    Gate("q530_budget_admit", (s, dir) => {
      val w = split(col("text"), " ")
      graft.ops.Corpus.budgetAdmit(
          t(s, dir, "documents")
            .select(col("doc_id"),
              size(w).cast("long").as("n_tok"),
              graft.functions.PixieFunctions.idiv(
                size(array_distinct(w)).cast("long") * 1000000L,
                size(w).cast("long")).as("prio")),
          "doc_id", "n_tok", col("prio"), budgetTokens = 10000L)
        .select("doc_id", "n_tok", "prio", "start_tok", "decision")
        .orderBy("doc_id")
    }, oracle =
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(string_split(text, ' ')))
         |      AS BIGINT) * 1000000
         |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS prio
         |  FROM documents),
         |o AS (SELECT *, CAST(sum(n_tok) OVER (ORDER BY prio DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum FROM d)
         |SELECT doc_id, n_tok, prio, cum - n_tok AS start_tok,
         |  CASE WHEN cum <= 10000 THEN 'admitted' ELSE 'deferred' END
         |    AS decision
         |FROM o ORDER BY doc_id""".stripMargin)
  )
}
