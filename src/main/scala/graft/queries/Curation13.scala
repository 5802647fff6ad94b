package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.Q._
import graft.ops.Dedup.h60Sql

/** Round-13 batch — the perceptual indexes' QUERY path (the r12
  * verdict's top task): the banded-Hamming index family
  * ([[graft.ops.PhashIndex]]) gains third-party top-k SEARCH and a
  * recall card, gated for BOTH modalities against a from-scratch
  * DuckDB re-derivation over raw signatures, plus the closed-form
  * banding DESIGN CURVE that discloses the 4×16 band choice:
  *
  *  - q563/q564: image dHash search + recall@k vs exact brute force;
  *  - q565/q566: the same machinery over audio fingerprints — one
  *    implementation, two modalities, like the admission side;
  *  - q567: P[candidate] vs true Hamming distance at 4 bands × 16
  *    bits — exact inclusion–exclusion binomials, engine vs a
  *    recursive-CTE oracle.
  */
object Curation13 extends Gates {

  import graft.ops.{Multimodal, PhashIndex}

  /** Two persisted perceptual indexes (image dHash over PAIR-grouped
    * synthetic payloads, audio energy fingerprints over the text
    * bytes — the q542-family conventions) built from the %4 ∈ {0,1,2}
    * corpus, with the %4 == 3 docs as the held-out query set: an
    * image query's pair partner (doc_id − 1, %4 == 2) is IN the index
    * with an IDENTICAL payload, so every query carries a planted
    * distance-0 neighbor the banded search MUST surface (the
    * pigeonhole witness the recall card certifies at 1e6 ppm).
    */
  private[graft] val searchLife = Fixture.rooted("graft_ph_search_") { (s, d, root) =>
    val pImg = PhashIndex.Paths(s"$root/img")
    val pAud = PhashIndex.Paths(s"$root/aud")
    val docs = t(s, d, "documents").select("doc_id", "text")
    val pngUdf = Multimodal.pngVarUdf
    def imgHash(src: org.apache.spark.sql.DataFrame) =
      Multimodal.dHash(Multimodal.decodeCells(
        src.select(col("doc_id").as("media_id"),
          pngUdf(col("doc_id") - pmod(col("doc_id"), lit(2L)))
            .as("payload"))))
    def audHash(src: org.apache.spark.sql.DataFrame) =
      Multimodal.audioFingerprint(
        src.select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload")))
    val idx = docs.where(pmod(col("doc_id"), lit(4L)).isin(0L, 1L, 2L))
    val qs = docs.where(pmod(col("doc_id"), lit(4L)) === 3L)
    PhashIndex.write(s, imgHash(idx), pImg)
    PhashIndex.write(s, audHash(idx), pAud)
    (pImg, pAud, imgHash(qs).localCheckpoint(true),
      audHash(qs).localCheckpoint(true))
  }

  /** The STREAMED retention calendar lifecycle (r12 verdict task 2):
    * admission days 1–2, the ledgered ttl2 control slot (expire day
    * 1) delivered THROUGH the file-source stream with a kill/restart
    * around it and a replayed control no-op'd, then day 3 admitting
    * against the retained indexes.
    */
  private val mmCal = Fixture.rooted("graft_mm_cal_") { (s, d, root) =>
    val p = graft.ops.MultiDay.Paths4(root)
    val (noop, days) =
      graft.streaming.MultiStream.runCalendarStreamed(s, d, p)
    (p, noop, days)
  }

  /** The same calendar through the BATCH engine — second path onto
    * q569's oracle.
    */
  private val mmCalBatch = Fixture.rooted("graft_mm_calb_") { (s, d, root) =>
    val p = graft.ops.MultiDay.Paths4(root)
    graft.streaming.MultiStream.batch(s, d, p,
      graft.streaming.MultiStream.TtlCal)
    p
  }

  /** The six-stage CALENDAR lifecycles (r12 verdict task 3): the
    * proven two-day full stack + the ledgered ttl2 slot + the
    * pin-derived witness day 3, batch and streamed engines.
    */
  private val mm6Cal = Fixture.rooted("graft_mm6_cal_") { (s, d, root) =>
    val p = graft.ops.MultiDay.Paths4(root)
    graft.streaming.MultiStream.batch(s, d, p,
      graft.streaming.MultiStream.Ttl6Cal)
    p
  }

  private val mm6CalStream = Fixture.rooted("graft_mm6_cals_") { (s, d, root) =>
    val p = graft.ops.MultiDay.Paths4(root)
    val (noop, days) =
      graft.streaming.MultiStream.runDays6CalendarStreamed(s, d, p)
    (p, noop, days)
  }

  /** The CURATION N-day lifecycle with its retention slot driven
    * THROUGH the stream (the other half of r12 verdict task 2): days
    * 1–4 + the ttl4 control (keepFrom = 2), kill/restart, replayed
    * control no-op'd by the slot's done row.
    */
  private val curTtlStream = Fixture.rooted("graft_cur_ttl_stream_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    val (noop, days) =
      graft.streaming.CurationStream.runTtlCalendarStreamed(s, d, a)
    (a, noop, days)
  }

  /** The STREAMED size-cap calendar (the cap control riding the same
    * file-source stream, horizon pinned before mutation).
    */
  private val capStream = Fixture.rooted("graft_cap_stream_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    val (noop, days, horizon) =
      graft.streaming.CurationStream.runCapCalendarStreamed(s, d, a)
    (a, noop, days, horizon)
  }

  lazy val gates: Seq[Gate] = Seq(

    // The six-stage calendar's admission-funnel card: per (day, stage,
    // verdict) counts straight off the pinned decisions — the q555
    // disclosure at all six stages plus the combined verdict.
    Gate("q580_mm6_cal_funnel", (s, dir) =>
      graft.ops.MultiDay.allDecisions6Upto(s, mm6Cal(s, dir), 3)
        .selectExpr("day",
          "stack(7, 'aud', d_aud, 'contam', d_contam, 'lex', d_lex, " +
            "'overall', decision, 'ph', d_ph, 'qual', d_qual, " +
            "'sem', d_sem) AS (stage, verdict)")
        .groupBy("day", "stage", "verdict")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("day", "stage", "verdict"), oracle =
      // The six-stage calendar funnel: the same stage stack re-derived
      // from the composed fin61/fin62/fin63 frames.
      {
        val days = (1 to 3).flatMap { k =>
          Seq(s"SELECT $k AS day, 'lex' AS stage, d_lex AS verdict " +
              s"FROM fin6$k",
            s"SELECT $k, 'sem', d_sem FROM fin6$k",
            s"SELECT $k, 'ph', d_ph FROM fin6$k",
            s"SELECT $k, 'aud', d_aud FROM fin6$k",
            s"SELECT $k, 'contam', d_contam FROM fin6$k",
            s"SELECT $k, 'qual', d_qual FROM fin6$k",
            s"SELECT $k, 'overall', decision FROM fin6$k")
        }.mkString("\n  UNION ALL ")
        s"""WITH $mm6CalCtes
           |SELECT day, stage, verdict,
           |  CAST(count(*) AS BIGINT) AS n_docs
           |FROM (
           |  $days)
           |GROUP BY 1, 2, 3
           |ORDER BY day, stage, verdict""".stripMargin
      }),

    // The streamed size-cap slot: the post-cap manifest at the PINNED
    // horizon, with the calendar facts (ledger rows for the cap slot
    // and its done row; replayed control a no-op).
    Gate("q581_cap_stream_manifest", (s, dir) => {
      val (a, noop, days, horizon) = capStream(s, dir)
      s.read.parquet(a.manifestRetract(1))
        .withColumn("keep_from_day", lit(horizon.toLong))
        .withColumn("ledger_days", lit(days.mkString(",")))
        .withColumn("replay_stable", lit(if (noop) "1" else "0"))
        .orderBy("shard")
    }, oracle =
      // The streamed size-cap slot: the q557 manifest re-derivation plus
      // the calendar facts.
      s"""WITH ${Curation9.nDayCtes},
         |${Curation12.capCtes},
         |${Curation12.shardCte("mC", "corpusC")}
         |${Curation12.manifestCols},
         |  (SELECT k FROM keepk) AS keep_from_day,
         |  'cap4,cap4_done,day1,day2,day3,day4' AS ledger_days,
         |  '1' AS replay_stable
         |FROM mC GROUP BY shard ORDER BY shard""".stripMargin),

    // The tape the cap slot rebuilt in-stream, over the capped corpus.
    Gate("q582_cap_stream_tape", (s, dir) => {
      val a = capStream(s, dir)._1
      graft.ops.Pack.fullLayout(s, a, 0).orderBy("doc_id")
    }, oracle =
      // The tape the cap slot rebuilt, over the capped corpus.
      s"""WITH ${Curation9.nDayCtes},
         |${Curation12.capCtes},
         |${Curation12.tapeSql("corpusC")}""".stripMargin),

    // The streamed curation retention slot: the post-TTL manifest
    // (the q552 shape) with the calendar facts pinned — ledger holds
    // the four admission days + the expiry row + the slot's done row,
    // and the replayed control added nothing.
    Gate("q576_cur_ttl_stream_manifest", (s, dir) => {
      val (a, noop, days) = curTtlStream(s, dir)
      s.read.parquet(a.manifestRetract(1))
        .withColumn("ledger_days", lit(days.mkString(",")))
        .withColumn("replay_stable", lit(if (noop) "1" else "0"))
        .orderBy("shard")
    }, oracle =
      // q552's manifest re-derivation + the streamed calendar facts.
      s"""WITH ${Curation9.nDayCtes},
         |${Curation12.ttlCorpusCte},
         |${Curation12.shardCte("m", "corpusT")}
         |${Curation12.manifestCols},
         |  'day1,day2,day3,day4,ttl4,ttl4_done' AS ledger_days,
         |  '1' AS replay_stable
         |FROM m GROUP BY shard ORDER BY shard""".stripMargin),

    // The tape the slot rebuilt in-stream (the q553 shape).
    Gate("q577_cur_ttl_stream_tape", (s, dir) => {
      val a = curTtlStream(s, dir)._1
      graft.ops.Pack.fullLayout(s, a, 0).orderBy("doc_id")
    }, oracle =
      // q553's rebuilt-tape re-derivation over the retained corpus.
      s"""WITH ${Curation9.nDayCtes},
         |${Curation12.ttlCorpusCte},
         |${Curation12.tapeSql("corpusT")}""".stripMargin),

    // The UNDER-CAP no-op (the r12 ADVICE fix made gateable): a cap
    // covering the whole corpus — snapshot included — commits as a
    // ledgered no-op; the day-4 manifest is untouched, nothing
    // expires, the ledger pins both cap slots.
    Gate("q578_cap_noop_manifest", (s, dir) => {
      val a = Curation12.capLifeArtifacts(s, dir)
      s.read.parquet(a.manifestDay(graft.ops.CurationNDay.NDays))
        .withColumn("keep_from_day", lit(0L))
        .withColumn("ledger_days",
          lit(graft.core.Ledger.ids(s, a.ledger)
            .mkString(",")))
        .orderBy("shard")
    }, oracle =
      // The under-cap manifest: the q552 shape over the FULL corpus
      // (grown4 — snapshot + every admitted day), keep_from_day = 0,
      // both cap slots ledgered.
      s"""WITH ${Curation9.nDayCtes},
         |${Curation12.shardCte("m", "grown4")}
         |${Curation12.manifestCols},
         |  CAST(0 AS BIGINT) AS keep_from_day,
         |  'cap0,cap1,day1,day2,day3,day4' AS ledger_days
         |FROM m GROUP BY shard ORDER BY shard""".stripMargin),

    // The six-stage calendar's pinned verdicts: the q559 two days
    // bit-identical, then the ttl2 slot, then the witness day 3 — the
    // post-TTL re-offer re-admits, the day-2 clone shows all four
    // retained dups, the post-gate rejection fires again, and the
    // same-day duplicate loses every within-batch pass.
    Gate("q572_mm6_cal_decisions", (s, dir) =>
      graft.ops.MultiDay.allDecisions6Upto(s, mm6Cal(s, dir), 3)
        .orderBy("day", "doc_id"), oracle = mm6CalDecisionsSql),

    // Its index cards: every artifact counts snapshot + day-2 +
    // day-3 survivors (day 1 aged out mid-calendar).
    Gate("q573_mm6_cal_cards", (s, dir) =>
      graft.ops.MultiDay.indexCards4(s, mm6Cal(s, dir))
        .orderBy("modality", "metric"), oracle = mm6CalCardsSql("")),

    // The STREAMED six-stage calendar — same oracle as q572, plus the
    // recovery facts (ledger exactly [mm1, mm2, mm3, ttl2]; replayed
    // control added nothing).
    Gate("q574_mm6_cal_stream_decisions", (s, dir) =>
      graft.ops.MultiDay.allDecisions6Upto(s, mm6CalStream(s, dir)._1, 3)
        .orderBy("day", "doc_id"), oracle =
      // two engines, one three-day-with-retention answer
      mm6CalDecisionsSql),

    Gate("q575_mm6_cal_stream_cards", (s, dir) => {
      val (p, noop, days) = mm6CalStream(s, dir)
      Curation12.ledgerCards(graft.ops.MultiDay.indexCards4(s, p), noop, days)
    }, oracle = mm6CalCardsSql(
      ", 'mm1,mm2,mm3,ttl2' AS ledger_days, '1' AS replay_stable")),

    // The streamed calendar's pinned verdicts: days 1-2 as the plain
    // chain, day 3 admitted against the POST-TTL indexes — the
    // interleaved horizon modeled by one composed oracle.
    Gate("q569_mm_cal_decisions", (s, dir) =>
      graft.ops.MultiDay.allDecisions4(s, mmCal(s, dir)._1)
        .orderBy("day", "doc_id"), oracle = mmCalDecisionsSql),

    // Its index cards + calendar recovery facts: ledger exactly
    // [mm1, mm2, mm3, ttl2]; the replayed control added nothing.
    Gate("q570_mm_cal_cards", (s, dir) => {
      val (p, noop, days) = mmCal(s, dir)
      Curation12.ledgerCards(graft.ops.MultiDay.indexCards4(s, p), noop, days)
    }, oracle =
      // Cards after the full calendar: retained = snapshot + day-2 +
      // day-3 admissions (day 1 aged out BEFORE day 3 admitted); the
      // media artifact keeps every decoded asset (decode-once outlives
      // admission); ledger pins the ttl2 slot; replayed control no-op.
      s"""WITH $mmCalCtes,
         |retC AS MATERIALIZED (SELECT doc_id, text FROM lcorpR
         |  UNION ALL SELECT d.doc_id, d.text FROM xdocs d
         |    JOIN madmR ON madmR.doc_id = d.doc_id)
         |SELECT *, 'mm1,mm2,mm3,ttl2' AS ledger_days,
         |  '1' AS replay_stable
         |FROM (
         |  SELECT 'lexical' AS modality, 'n_hashes' AS metric,
         |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS value
         |    FROM retC
         |  UNION ALL SELECT 'lexical', 'n_band_rows',
         |    4 * count(*) FROM retC
         |  UNION ALL SELECT 'semantic', 'n_vecs', count(*) FROM retC
         |  UNION ALL SELECT 'perceptual', 'n_hashes', count(*) FROM retC
         |  UNION ALL SELECT 'perceptual', 'n_band_rows',
         |    4 * count(*) FROM retC
         |  UNION ALL SELECT 'audio', 'n_hashes', count(*) FROM retC
         |  UNION ALL SELECT 'audio', 'n_band_rows',
         |    4 * count(*) FROM retC
         |  UNION ALL SELECT 'media', 'n_assets',
         |    (SELECT count(*) FROM pdocs) + 3)
         |ORDER BY modality, metric""".stripMargin),

    // The batch calendar — second engine path, same oracle as q569.
    Gate("q571_mm_cal_batch_decisions", (s, dir) =>
      graft.ops.MultiDay.allDecisions4(s, mmCalBatch(s, dir))
        .orderBy("day", "doc_id"), oracle =
      // two delivery engines, one interleaved-calendar answer
      mmCalDecisionsSql),

    // Image top-5: banded candidates, exact-Hamming rank off the
    // stored signatures.
    Gate("q563_phash_search", (s, dir) => {
      val (pi, _, qi, _) = searchLife(s, dir)
      PhashIndex.search(s, pi, qi, 5).orderBy("qid", "rank")
    }, oracle = searchSql(imgSearchCtes)),

    // Recall@5 of the banded image search vs exact brute force over
    // the same index — the planted distance-0 pair partners must all
    // be surfaced.
    Gate("q564_phash_search_recall", (s, dir) => {
      val (pi, _, qi, _) = searchLife(s, dir)
      PhashIndex.searchRecall(s, pi, qi, 5).orderBy("qid")
    }, oracle =
      recallSql(imgSearchCtes, "bits", "y.cy = x.cy AND y.cx = x.cx")),

    // The SAME search machinery over the audio index.
    Gate("q565_audio_search", (s, dir) => {
      val (_, pa, _, qa) = searchLife(s, dir)
      PhashIndex.search(s, pa, qa, 5).orderBy("qid", "rank")
    }, oracle = searchSql(audSearchCtes)),

    Gate("q566_audio_search_recall", (s, dir) => {
      val (_, pa, _, qa) = searchLife(s, dir)
      PhashIndex.searchRecall(s, pa, qa, 5).orderBy("qid")
    }, oracle =
      recallSql(audSearchCtes, "abits", "y.i = x.i")),

    // The banding design curve — pure closed-form arithmetic, no
    // table input (the disclosure the PhashIndex docstring cites).
    Gate("q567_banding_curve", (s, dir) =>
      PhashIndex.designCurve(s).orderBy("dist"), oracle =
      // Exact binomials by the C(n,d+1) = C(n,d)(n−d)/(d+1) integer
      // recurrence in HUGEINT; inclusion–exclusion over clean bands.
      s"""WITH RECURSIVE binom(n, d, v) AS (
         |  SELECT n, 0, CAST(1 AS HUGEINT)
         |    FROM (VALUES (64), (48), (32), (16), (0)) t(n)
         |  UNION ALL
         |  SELECT n, d + 1, v * (n - d) // (d + 1) FROM binom
         |    WHERE d < n),
         |ds AS (SELECT unnest(range(0, 65)) AS d)
         |SELECT CAST(ds.d AS BIGINT) AS dist,
         |  CAST(((4 * coalesce(b48.v, 0) - 6 * coalesce(b32.v, 0)
         |    + 4 * coalesce(b16.v, 0) - coalesce(b0.v, 0)) * 1000000)
         |    // b64.v AS BIGINT) AS collide_ppm
         |FROM ds
         |JOIN binom b64 ON b64.n = 64 AND b64.d = ds.d
         |LEFT JOIN binom b48 ON b48.n = 48 AND b48.d = ds.d
         |LEFT JOIN binom b32 ON b32.n = 32 AND b32.d = ds.d
         |LEFT JOIN binom b16 ON b16.n = 16 AND b16.d = ds.d
         |LEFT JOIN binom b0 ON b0.n = 0 AND b0.d = ds.d
         |ORDER BY dist""".stripMargin),

    // The MEASURED candidate rate per true Hamming distance over the
    // fixture's image signatures — the empirical curve published next
    // to q567's theory (d <= 3 must read 1e6 ppm in both).
    Gate("q579_banding_measured", (s, dir) => {
      val (pi, _, qi, _) = searchLife(s, dir)
      PhashIndex.bandingMeasured(s, pi, qi).orderBy("dist")
    }, oracle =
      // Measured banding curve: all (query, index) pairs' exact
      // distances, candidacy = membership in the banded cS pair set.
      s"""WITH $imgSearchCtes,
         |${curveSql("bits x JOIN bits y ON y.cy = x.cy AND y.cx = x.cx",
            "cS")}""".stripMargin),

    // The audio modality's measured curve — energy fingerprints are
    // MORE structured than dHashes, so its empirical decay differs
    // from both the theory and the image curve; publishing all three
    // is the complete banding disclosure.
    Gate("q583_banding_measured_audio", (s, dir) => {
      val (_, pa, _, qa) = searchLife(s, dir)
      PhashIndex.bandingMeasured(s, pa, qa).orderBy("dist")
    }, oracle =
      s"""WITH $audSearchCtes,
         |${curveSql("abits x JOIN abits y ON y.i = x.i", "cS")}""".stripMargin),

    // REJECT EVIDENCE — the steward's "who blocked this doc" query,
    // served off the SAME search path the indexes expose (q563's
    // machinery): for every day-2 perceptual corpus rejection of the
    // six-stage lifecycle, the nearest current-corpus partner and its
    // exact Hamming distance (guaranteed <= MaxDist: the blocking
    // member is still indexed). The admission ledger says WHAT was
    // decided; this discloses WHY.
    Gate("q584_mm6_reject_evidence", (s, dir) => {
      val p = Curation12.mm6(s, dir)
      val dec2 = s.read.parquet(p.decisionsDay(2))
      val ids2 = s.read.parquet(p.dropDay(2))
        .select(col("doc_id").as("media_id"))
      def ev(stage: String, decCol: String,
             fetch: org.apache.spark.sql.DataFrame,
             paths: PhashIndex.Paths) = {
        val rej = dec2.where(col(decCol) === s"dup_${stage}_corpus")
          .select(col("doc_id").as("media_id"))
        PhashIndex.search(s, paths, fetch.join(rej, "media_id"), 1)
          .select(lit(stage).as("stage"), col("qid").as("doc_id"),
            col("media_id").as("partner_id"), col("dist"))
      }
      ev("phash", "d_ph",
          graft.ops.MediaHashes.fetchImage(s, p.media, ids2), p.ph)
        .unionByName(ev("audio", "d_aud",
          graft.ops.MediaHashes.fetchAudio(s, p.media, ids2), p.aud))
        .orderBy("stage", "doc_id")
    }, oracle =
      // Reject evidence: per perceptual corpus rejection, the nearest
      // CURRENT-index partner (rank 1 by dist, id) — banded candidates
      // then exact Hamming, over the post-day-2 index id sets.
      {
        def ev(stage: String, decCol: String, bands: String,
               bits: String, bitJoin: String): String =
          s"""rej_$stage AS (SELECT doc_id FROM fin62
             |  WHERE $decCol = 'dup_${stage}_corpus'),
             |cEv_$stage AS (SELECT DISTINCT a.doc_id AS qid,
             |    b.doc_id AS cid
             |  FROM $bands a JOIN $bands b ON a.band = b.band
             |    AND a.bv = b.bv
             |  WHERE a.doc_id IN (SELECT doc_id FROM rej_$stage)
             |    AND b.doc_id IN (SELECT doc_id FROM idxCurE)),
             |dEv_$stage AS (SELECT c.qid, c.cid,
             |    CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
             |      AS BIGINT) AS dist
             |  FROM cEv_$stage c JOIN $bits x ON x.doc_id = c.qid
             |    JOIN $bits y ON y.doc_id = c.cid AND $bitJoin
             |  GROUP BY 1, 2),
             |top_$stage AS (SELECT '$stage' AS stage, qid AS doc_id,
             |    cid AS partner_id, dist FROM (
             |  SELECT *, row_number() OVER (PARTITION BY qid
             |    ORDER BY dist, cid) AS rn FROM dEv_$stage)
             |  WHERE rn = 1)""".stripMargin
        s"""WITH $mm6CalCtes,
           |idxCurE AS (SELECT doc_id FROM idxPL62
           |  UNION ALL SELECT doc_id FROM madm62),
           |${ev("phash", "d_ph", "xpb6", "xbi6",
              "y.cy = x.cy AND y.cx = x.cx")},
           |${ev("audio", "d_aud", "xab6", "xabi6", "y.i = x.i")}
           |SELECT * FROM (
           |  SELECT * FROM top_phash
           |  UNION ALL SELECT * FROM top_audio)
           |ORDER BY stage, doc_id""".stripMargin
      }),

    // The ALTERNATIVE banding config's closed-form curve (8 bands ×
    // 8 bits over the same 64 signature bits) — the comparison a
    // deployment reads before picking 4×16: 8×8 is exact to d ≤ 7
    // but admits far more candidates at every larger distance (the
    // recall/cost trade the two curves quantify together).
    Gate("q586_banding_curve_8x8", (s, dir) =>
      PhashIndex.designCurve(s, bands = 8, bitsPerBand = 8)
        .orderBy("dist"), oracle =
      // The 8×8 config: same inclusion–exclusion machinery with C(8,j)
      // coefficients and C(64−8j, d) clean-band terms, all from one
      // recursive binomial CTE.
      s"""WITH RECURSIVE binom(n, d, v) AS (
         |  SELECT n, 0, CAST(1 AS HUGEINT)
         |    FROM (VALUES (64), (56), (48), (40), (32), (24), (16),
         |      (8), (0)) t(n)
         |  UNION ALL
         |  SELECT n, d + 1, v * (n - d) // (d + 1) FROM binom
         |    WHERE d < n),
         |ds AS (SELECT unnest(range(0, 65)) AS d),
         |terms AS (SELECT ds.d,
         |    CAST(CASE WHEN j.j % 2 = 1 THEN 1 ELSE -1 END AS HUGEINT)
         |      * cb.v * coalesce(bn.v, 0) AS t
         |  FROM ds
         |  CROSS JOIN (SELECT unnest(range(1, 9)) AS j) j
         |  JOIN binom cb ON cb.n = 8 AND cb.d = j.j
         |  LEFT JOIN binom bn ON bn.n = 64 - 8 * j.j AND bn.d = ds.d),
         |num AS (SELECT d, sum(t) AS nm FROM terms GROUP BY d)
         |SELECT CAST(num.d AS BIGINT) AS dist,
         |  CAST((num.nm * 1000000) // b64.v AS BIGINT) AS collide_ppm
         |FROM num JOIN binom b64 ON b64.n = 64 AND b64.d = num.d
         |ORDER BY dist""".stripMargin),

    // The semantic stage's reject evidence: the top-cosine partner in
    // the rejected doc's own cell (nprobe = 1 — the dedup probe's
    // regime), served off SemIndex.search. The day-1-admitted clone
    // sentinel reads back its source at cosine 1.
    Gate("q585_sem_reject_evidence", (s, dir) => {
      val p = Curation12.mm6(s, dir)
      val dec2 = s.read.parquet(p.decisionsDay(2))
      val rej = dec2.where(col("d_sem") === "dup_sem_corpus")
        .select(col("doc_id").as("vec_id"))
      val qvecs = s.read.parquet(p.dropDay(2))
        .select(col("doc_id").as("vec_id"), col("embedding"))
        .join(rej, "vec_id")
      graft.ops.SemIndex.search(s, p.sem, qvecs, k = 1, nprobe = 1)
        .select(col("qid").as("doc_id"), col("vec_id").as("partner_id"),
          col("cos"))
        .orderBy("doc_id")
    }, oracle =
      // Semantic reject evidence: top-cosine partner within the
      // rejected doc's own cell over the post-day-2 cell index.
      s"""WITH $mm6CalCtes,
         |rejS AS (SELECT doc_id FROM fin62
         |  WHERE d_sem = 'dup_sem_corpus'),
         |ixcurE AS (SELECT cell, vec_id, e, nrm FROM ixsem62
         |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixsL62
         |    WHERE vec_id IN (SELECT doc_id FROM madm62)),
         |scEv AS (SELECT q.vec_id AS qid, x.vec_id,
         |    list_sum(list_transform(range(64),
         |      i -> q.e[i+1] * x.e[i+1])) / (q.nrm * x.nrm) AS cos
         |  FROM ixsL62 q JOIN ixcurE x ON x.cell = q.cell
         |  WHERE q.vec_id IN (SELECT doc_id FROM rejS))
         |SELECT qid AS doc_id, vec_id AS partner_id,
         |  round(cos, 6) + 0.0 AS cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rn FROM scEv)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  // ---- oracle fragments ---------------------------------------------

  /** The image candidates' bit match: the same cell of both hashes. */
  private[queries] val imgKey = "y.cy = x.cy\n      AND y.cx = x.cx"

  /** Exact Hamming distance of every candidate in cS over `bits`, bits
    * matched on `key`: dS(qid, cid, dist).
    */
  private[queries] def distCte(bits: String, key: String): String =
    s"""dS AS (SELECT c.qid, c.cid,
       |    CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |      AS BIGINT) AS dist
       |  FROM cS c JOIN $bits x ON x.doc_id = c.qid
       |    JOIN $bits y ON y.doc_id = c.cid AND $key
       |  GROUP BY 1, 2)""".stripMargin

  /** Query/index split and the probed candidates cS: SOME band of
    * `bands` within Hamming 1 (the engine's 1-bit bucket variants).
    */
  private[queries] def probedCands(bands: String): String =
    s"""qsS AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 3),
       |ixS AS (SELECT doc_id FROM documents
       |  WHERE doc_id % 4 IN (0, 1, 2)),
       |cS AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS cid
       |  FROM $bands a JOIN $bands b ON a.band = b.band
       |    AND bit_count(xor(CAST(a.bv AS BIGINT),
       |      CAST(b.bv AS BIGINT))) <= 1
       |  WHERE a.doc_id IN (SELECT doc_id FROM qsS)
       |    AND b.doc_id IN (SELECT doc_id FROM ixS))""".stripMargin

  /** Measured banding curve: every (query, index) pair's exact distance
    * over the bit self-join `join`, candidacy = membership in `cand`.
    */
  private[queries] def curveSql(join: String, cand: String): String =
    s"""bfS AS (SELECT x.doc_id AS qid, y.doc_id AS cid,
       |    CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |      AS BIGINT) AS dist
       |  FROM $join
       |  WHERE x.doc_id IN (SELECT doc_id FROM qsS)
       |    AND y.doc_id IN (SELECT doc_id FROM ixS)
       |  GROUP BY 1, 2)
       |SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN c.cid IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_cand,
       |  (CAST(sum(CASE WHEN c.cid IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
       |    AS cand_ppm
       |FROM bfS b LEFT JOIN $cand c ON c.qid = b.qid AND c.cid = b.cid
       |GROUP BY dist ORDER BY dist""".stripMargin

  /** Query/index split + banded candidates + exact Hamming distances
    * for the image signatures ([[Curation11.phashCtes]] raw
    * re-derivation, pair grouping).
    */
  private[queries] def imgSearchCtes: String =
    s"""${Curation11.phashCtes("(d.doc_id - d.doc_id % 2)")},
       |qsS AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 3),
       |ixS AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (0, 1, 2)),
       |cS AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS cid
       |  FROM pbands a JOIN pbands b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id IN (SELECT doc_id FROM qsS)
       |    AND b.doc_id IN (SELECT doc_id FROM ixS)),
       |${distCte("bits", imgKey)}""".stripMargin

  /** The audio analog over [[Curation12.audioCtes]]' abands/abits. */
  private def audSearchCtes: String =
    s"""${Curation12.audioCtes()},
       |qsS AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 3),
       |ixS AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (0, 1, 2)),
       |cS AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS cid
       |  FROM abands a JOIN abands b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id IN (SELECT doc_id FROM qsS)
       |    AND b.doc_id IN (SELECT doc_id FROM ixS)),
       |${distCte("abits", "y.i = x.i")}""".stripMargin

  private[queries] def searchSql(ctes: String): String =
    s"""WITH $ctes
       |SELECT qid, CAST(rn AS INT) AS rank, cid AS media_id, dist
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY dist, cid) AS rn FROM dS)
       |WHERE rn <= 5 ORDER BY qid, rank""".stripMargin

  /** Brute-force top-5 over the full query × index signature cross
    * (the exact baseline), recall = surfaced fraction in exact ppm.
    */
  private[queries] def recallSql(ctes: String, bits: String,
                        bitJoin: String): String =
    s"""WITH $ctes,
       |bfS AS (SELECT x.doc_id AS qid, y.doc_id AS cid,
       |    CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |      AS BIGINT) AS dist
       |  FROM $bits x JOIN $bits y ON $bitJoin
       |  WHERE x.doc_id IN (SELECT doc_id FROM qsS)
       |    AND y.doc_id IN (SELECT doc_id FROM ixS)
       |  GROUP BY 1, 2),
       |exS AS (SELECT qid, cid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY dist, cid) AS rn FROM bfS) WHERE rn <= 5),
       |apS AS (SELECT qid, cid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY dist, cid) AS rn FROM dS) WHERE rn <= 5)
       |SELECT e.qid, CAST(count(*) AS BIGINT) AS k_exact,
       |  CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  (CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
       |    AS recall_ppm
       |FROM exS e LEFT JOIN apS a ON a.qid = e.qid AND a.cid = e.cid
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin

  /** The CALENDAR re-derivation: [[Curation12.mmCtes]]' days 1–2
    * verbatim (TTL follows day 2, so their verdicts are untouched),
    * then day 3 against the RETAINED index sets — snapshot + day-2
    * admissions only (day 1's admissions aged out of all four
    * indexes; the lexical hash set collapses to the retained docs'
    * hashes via stillHeld semantics, which the from-scratch rebuild
    * over the retained corpus models exactly). The sentinel derivation
    * is unchanged (it reads the day-1/-2 PINS, which retention never
    * touches) — so 9600001, the clone of a day-1 admitted doc, meets
    * CLEAN indexes on day 3 and its verdict discloses that retention
    * genuinely re-opened admission through the calendar.
    */
  private[queries] def mmCalCtes: String =
    s"""${Curation12.mmCtes},
       |lcorpR AS MATERIALIZED (SELECT doc_id, text FROM lcorp1
       |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
       |    JOIN madm2 USING (doc_id)),
       |${Curation.dedupDecisionCtes("lcorpR", "lb3", "R3")},
       |ixsemR AS (SELECT cell, vec_id, e, nrm FROM ixms
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixs2
       |    WHERE vec_id IN (SELECT doc_id FROM madm2)),
       |${Curation12.semDay4("sR", "ixsemR", "ixs3")},
       |idxPR AS (SELECT doc_id FROM idxP1
       |  UNION ALL SELECT doc_id FROM madm2),
       |${Curation12.bandedDay("PR", "xpbands", "xbits",
          "y.cy = x.cy AND y.cx = x.cx", "dP3", "idxPR", "phash")},
       |${Curation12.bandedDay("AR", "xabands", "xabits",
          "y.i = x.i", "dP3", "idxPR", "audio")},
       |finR AS MATERIALIZED (SELECT l.doc_id, l.decision AS d_lex,
       |    s.decision AS d_sem, p.decision AS d_ph, a.decision AS d_aud,
       |    CASE WHEN l.decision <> 'admitted' THEN l.decision
       |      WHEN s.decision <> 'admitted' THEN s.decision
       |      WHEN p.decision <> 'admitted' THEN p.decision
       |      WHEN a.decision <> 'admitted' THEN a.decision
       |      ELSE 'admitted' END AS decision
       |  FROM decisionsR3 l JOIN decSsR s ON s.vec_id = l.doc_id
       |    JOIN decBPR p ON p.doc_id = l.doc_id
       |    JOIN decBAR a ON a.doc_id = l.doc_id),
       |madmR AS (SELECT doc_id FROM finR
       |  WHERE decision = 'admitted')""".stripMargin

  /** The six-stage calendar re-derivation: [[Curation12.mm6Ctes]]'
    * two days verbatim (the TTL follows day 2), then the witness day
    * against the RETAINED sets — lexical corpus / semantic cells /
    * perceptual id sets rebuilt as snapshot + day-2 admissions only,
    * with the four day-3 sentinels' signatures cloned from their
    * pinned sources.
    */
  private def mm6CalCtes: String = {
    val imgJ = "y.cy = x.cy AND y.cx = x.cx"
    val audJ = "y.i = x.i"
    s"""${Curation12.mm6Ctes},
       |smN AS MATERIALIZED (SELECT CAST(9700004 AS BIGINT) AS sdoc,
       |    (SELECT min(doc_id) FROM fin61 WHERE decision = 'admitted')
       |      AS src
       |  UNION ALL SELECT 9700005,
       |    (SELECT min(doc_id) FROM fin62 WHERE decision = 'admitted')
       |  UNION ALL SELECT 9700006,
       |    (SELECT min(doc_id) FROM fin61
       |      WHERE decision IN ('contaminated', 'low_quality'))
       |  UNION ALL SELECT 9700007,
       |    (SELECT min(doc_id) FROM fin61 WHERE decision = 'admitted')),
       |lbN3 AS MATERIALIZED (SELECT smN.sdoc AS doc_id, p.text FROM smN
       |  JOIN pool6 p ON p.doc_id = smN.src),
       |lcorpN3 AS MATERIALIZED (SELECT doc_id, text FROM lcorp61
       |  UNION ALL SELECT p.doc_id, p.text FROM pool6 p
       |    JOIN madm62 USING (doc_id)),
       |${Curation.dedupDecisionCtes("lcorpN3", "lbN3", "N3")},
       |ixsemN3 AS (SELECT cell, vec_id, e, nrm FROM ixm6
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixsL62
       |    WHERE vec_id IN (SELECT doc_id FROM madm62)),
       |dvN3 AS (SELECT smN.sdoc AS vec_id, v.e FROM smN
       |  JOIN v ON v.vec_id = smN.src),
       |${Curation11.cellCtes("dvN3", "sN3")},
       |${Curation12.semDay4("sN3", "ixsemN3")},
       |ypbN AS (SELECT doc_id, band, bv FROM pbands
       |  UNION ALL SELECT smN.sdoc, band, bv FROM smN
       |    JOIN pbands p ON p.doc_id = smN.src),
       |ybiN AS (SELECT doc_id, cy, cx, bit FROM bits
       |  UNION ALL SELECT smN.sdoc, cy, cx, bit FROM smN
       |    JOIN bits b ON b.doc_id = smN.src),
       |yabN AS (SELECT doc_id, band, bv FROM abands
       |  UNION ALL SELECT smN.sdoc, band, bv FROM smN
       |    JOIN abands p ON p.doc_id = smN.src),
       |yabiN AS (SELECT doc_id, i, bit FROM abits
       |  UNION ALL SELECT smN.sdoc, i, bit FROM smN
       |    JOIN abits b ON b.doc_id = smN.src),
       |dPN3 AS (SELECT sdoc AS doc_id FROM smN),
       |idxPN3 AS (SELECT doc_id FROM idxPL61
       |  UNION ALL SELECT doc_id FROM madm62),
       |${Curation12.bandedDay("PN3", "ypbN", "ybiN", imgJ, "dPN3",
          "idxPN3", "phash")},
       |${Curation12.bandedDay("AN3", "yabN", "yabiN", audJ, "dPN3",
          "idxPN3", "audio")},
       |${Curation12.postGate6("N3")},
       |${Curation12.fin6(3, "N3")}""".stripMargin
  }

  private def mm6CalDecisionsSql: String =
    s"""WITH $mm6CalCtes
       |SELECT * FROM (
       |  SELECT 1 AS day, doc_id, d_lex, d_sem, d_ph, d_aud,
       |    d_contam, d_qual, decision FROM fin61
       |  UNION ALL SELECT 2, doc_id, d_lex, d_sem, d_ph, d_aud,
       |    d_contam, d_qual, decision FROM fin62
       |  UNION ALL SELECT 3, doc_id, d_lex, d_sem, d_ph, d_aud,
       |    d_contam, d_qual, decision FROM fin63)
       |ORDER BY day, doc_id""".stripMargin

  private def mm6CalCardsSql(extra: String): String =
    s"""WITH $mm6CalCtes,
       |retN AS MATERIALIZED (SELECT doc_id, text FROM lcorpN3
       |  UNION ALL SELECT x.doc_id, x.text FROM lbN3 x
       |    JOIN madm63 ON madm63.doc_id = x.doc_id)
       |SELECT *$extra
       |FROM (
       |  SELECT 'lexical' AS modality, 'n_hashes' AS metric,
       |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS value
       |    FROM retN
       |  UNION ALL SELECT 'lexical', 'n_band_rows',
       |    4 * count(*) FROM retN
       |  UNION ALL SELECT 'semantic', 'n_vecs', count(*) FROM retN
       |  UNION ALL SELECT 'perceptual', 'n_hashes', count(*) FROM retN
       |  UNION ALL SELECT 'perceptual', 'n_band_rows',
       |    4 * count(*) FROM retN
       |  UNION ALL SELECT 'audio', 'n_hashes', count(*) FROM retN
       |  UNION ALL SELECT 'audio', 'n_band_rows',
       |    4 * count(*) FROM retN
       |  UNION ALL SELECT 'media', 'n_assets',
       |    (SELECT count(*) FROM pool6)
       |      + (SELECT count(*) FROM sm6 WHERE src IS NOT NULL)
       |      + (SELECT count(*) FROM smN))
       |ORDER BY modality, metric""".stripMargin

  private[queries] def mmCalDecisionsSql: String =
    s"""WITH $mmCalCtes
       |SELECT * FROM (
       |  SELECT 1 AS day, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM fin1
       |  UNION ALL SELECT 2, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM fin2
       |  UNION ALL SELECT 3, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM finR)
       |ORDER BY day, doc_id""".stripMargin
}
