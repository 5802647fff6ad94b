package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.Q._
import graft.ops.Dedup.h60Sql

/** Round-14 batch — the r13 verdict's ranked tasks:
  *
  *  - q587–q590: SIZE-CAP retention for the MULTIMODAL lifecycle
  *    ([[graft.ops.MultiDay.cap4Day]] — the reference ring buffer's
  *    actual BYTE trigger, src/table_store/table/table.cc:44, which
  *    until now only the curation side had): batch + streamed
  *    engines, horizon pinned before mutation, the ledgered under-cap
  *    no-op, one oracle;
  *  - q591/q592: compaction ON the calendar — the q558 maintained
  *    interleave driven by `op = "compact"` control slots through the
  *    file-source stream, decisions bit-identical to the plain chain;
  *  - q593/q594: LEXICAL reject evidence
  *    ([[graft.ops.Dedup.rejectEvidence]] — the q584/q585 partner
  *    query for the dedup index): exact hits via the stored hash set,
  *    near hits via band-collide → id-pruned Jaccard, the planted
  *    clone reading back its source at ppm 1e6;
  *  - q595/q596: MULTI-PROBE banded search
  *    ([[graft.ops.PhashIndex.search]] at probe radius 1 — the
  *    SemIndex nprobe regime for Hamming space, guided by the q567
  *    design curve): top-k + the recall delta against the probes = 0
  *    card (q564).
  */
object Curation14 extends Gates {

  import graft.ops.{Dedup, MultiDay, PhashIndex}

  /** The batch mm SIZE-CAP calendar: days 1–2, the cap2 slot (the
    * deterministic-horizon fixture cap — snapshot + day 1 expire),
    * day 3 against the capped indexes, then the under-cap cap3
    * ledgered no-op.
    */
  private val capBatch = Fixture.rooted("graft_mm_capb_") { (s, d, root) =>
    val p = MultiDay.Paths4(root)
    graft.streaming.MultiStream.batch(s, d, p,
      graft.streaming.MultiStream.CapCal)
    p
  }

  /** The same calendar with the cap controls riding the stream
    * (kill/restart around the slot, replayed control no-op'd).
    */
  private val capStream4 = Fixture.rooted("graft_mm_caps_") { (s, d, root) =>
    val p = MultiDay.Paths4(root)
    val (noop, days, h2, h3) =
      graft.streaming.MultiStream.runCapCalendarStreamed4(s, d, p)
    (p, noop, days, h2, h3)
  }

  /** The streamed COMPACTION calendar (op = "compact" control slots
    * interleaved with the admission days).
    */
  private val compactStream = Fixture.rooted("graft_mm_cmps_") { (s, d, root) =>
    val p = MultiDay.Paths4(root)
    val (noop, days) =
      graft.streaming.MultiStream.runDays4CompactStreamed(s, d, p)
    (p, noop, days)
  }

  /** The CURATION-side streamed compaction calendar
    * ([[graft.streaming.CurationStream.runCompactCalendarStreamed]] —
    * the q591/q592 symmetry: both calendars serve all three control
    * ops).
    */
  private val curCompactStream = Fixture.rooted("graft_cur_cmps_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    val (noop, days, settled) =
      graft.streaming.CurationStream.runCompactCalendarStreamed(s, d, a)
    (a, noop, days, settled)
  }

  /** The FULL maintenance calendar — ttl + cap + compact interleaved
    * in ONE streamed run
    * ([[graft.streaming.MultiStream.runFullCalendarStreamed]]).
    */
  private val fullCal = Fixture.rooted("graft_mm_full_") { (s, d, root) =>
    val p = MultiDay.Paths4(root)
    val (noop, days, horizon, settled) =
      graft.streaming.MultiStream.runFullCalendarStreamed(s, d, p)
    (p, noop, days, horizon, settled)
  }

  /** The CURATION-side full maintenance calendar
    * ([[graft.streaming.CurationStream.runFullCalendarStreamed]] —
    * runnable because the streamed cap slot rides capDayPinned).
    */
  private val curFullCal = Fixture.rooted("graft_cur_full_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    val (noop, days, horizon, settled) =
      graft.streaming.CurationStream.runFullCalendarStreamed(s, d, a)
    (a, noop, days, horizon, settled)
  }

  /** The standalone lexical-evidence lifecycle: a persisted dedup
    * index over the %4 ∈ {0,1,2} corpus; the delta = the %4 == 3
    * organic docs plus two PLANTED witnesses (the pin-derived-sentinel
    * rule — both branches non-vacuous at any sf): 9900001 clones the
    * smallest corpus doc verbatim (the exact branch), 9900002 takes
    * the smallest ≥ 30-word corpus doc and APPENDS one token (same
    * shingle set + 2 — Jaccard (W−2)/W ≥ 0.8, the near branch).
    * Returns (index path, corpus texts, rejected texts).
    */
  private val evidenceLife = Fixture.rooted("graft_lex_ev_") { (s, d, root) =>
    val path = s"$root/lex_index"
    val docs = tp(s, d, "documents").select("doc_id", "text")
    val corpus = docs.where(pmod(col("doc_id"), lit(4L)).isin(0L, 1L, 2L))
      .localCheckpoint(true)
    val exactSn = corpus.orderBy("doc_id").limit(1)
      .select(lit(9900001L).as("doc_id"), col("text"))
    val nearSn = corpus
      .where(size(split(col("text"), " ")) >= 30)
      .orderBy("doc_id").limit(1)
      .select(lit(9900002L).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text"))
    val batch = docs.where(pmod(col("doc_id"), lit(4L)) === 3L)
      .unionByName(exactSn).unionByName(nearSn)
      .localCheckpoint(true)
    Dedup.writeDedupIndex(corpus, "text", "doc_id", path)
    val dec = Dedup.incrementalDedupIndexed(path, docs, batch,
      "text", "doc_id", 3, 16, 4, 0.8)
    val rejected = batch.join(
      dec.where(col("decision").isin(
          "dup_exact_corpus", "near_dup_corpus"))
        .select("doc_id"), "doc_id")
      .localCheckpoint(true)
    (path, corpus, rejected)
  }

  lazy val gates: Seq[Gate] = Seq(

    // The batch mm size-cap calendar's pinned verdicts: days 1–2 as
    // the plain chain, the cap2 slot expires snapshot + day 1 (the
    // pinned deterministic horizon), day 3 admits against the CAPPED
    // indexes — the day-1 clone sentinel genuinely re-admits through
    // the calendar.
    Gate("q587_mm_cap_decisions", (s, dir) =>
      MultiDay.allDecisions4(s, capBatch(s, dir))
        .orderBy("day", "doc_id"), oracle = mmCapDecisionsSql),

    // Its index cards + the two PINNED horizons (cap2 expired to
    // day 2; cap3 committed the under-cap no-op at horizon 0) + the
    // ledger holding all five slots.
    Gate("q588_mm_cap_cards", (s, dir) => {
      val p = capBatch(s, dir)
      def horizon(id: String): Long =
        graft.core.Ledger.horizon(s, p.capHorizon(id)).toLong
      MultiDay.indexCards4(s, p)
        .withColumn("keep_from_2", lit(horizon("cap2")))
        .withColumn("keep_from_3", lit(horizon("cap3")))
        .withColumn("ledger_days",
          lit(graft.core.Ledger.ids(s, p.ledger)
            .mkString(",")))
        .orderBy("modality", "metric")
    }, oracle = mmCapCardsSql("")),

    // The STREAMED cap calendar — the control slots ride the same
    // file-source stream as the admissions (kill/restart around the
    // slot); same oracle as q587.
    Gate("q589_mm_cap_stream_decisions", (s, dir) =>
      MultiDay.allDecisions4(s, capStream4(s, dir)._1)
        .orderBy("day", "doc_id"), oracle =
      // two delivery engines, one capped-calendar answer
      mmCapDecisionsSql),

    Gate("q590_mm_cap_stream_cards", (s, dir) => {
      val (p, noop, days, h2, h3) = capStream4(s, dir)
      Curation12.ledgerCards(MultiDay.indexCards4(s, p)
        .withColumn("keep_from_2", lit(h2.toLong))
        .withColumn("keep_from_3", lit(h3.toLong)), noop, days)
    }, oracle = mmCapCardsSql(
      ", '1' AS replay_stable")),

    // COMPACTION ON THE CALENDAR: the maintained chain's compactions
    // delivered as op = "compact" control slots through the stream —
    // decisions bit-identical to the plain chain (the fourth engine
    // path onto the q542/q545/q558 oracle).
    Gate("q591_mm_compact_stream_decisions", (s, dir) =>
      MultiDay.allDecisions4(s, compactStream(s, dir)._1)
        .orderBy("day", "doc_id"), oracle =
      // compaction is content-invariant: the never-compacted chain's
      // decisions oracle, verbatim (fourth engine path)
      Curation12.mmDecisionsSql),

    // Its cards + calendar facts: ledger holds the three admission
    // days AND the two compact slots; the replayed compact control
    // was a pure no-op; every count identical to the never-compacted
    // chain (content invariance at lifecycle level).
    Gate("q592_mm_compact_stream_cards", (s, dir) => {
      val (p, noop, days) = compactStream(s, dir)
      Curation12.ledgerCards(MultiDay.indexCards4(s, p), noop, days)
    }, oracle =
      // ... and its cards re-derivation with the compact slots ledgered
      s"""WITH ${Curation12.mmCtes},
         |${Curation12.mmCardAdmCtes}
         |SELECT *, 'compact1,compact2,mm1,mm2,mm3' AS ledger_days,
         |  '1' AS replay_stable
         |FROM (
         |${Curation12.mmCardRows}""".stripMargin),

    // LEXICAL REJECT EVIDENCE, standalone lifecycle: every corpus
    // rejection names its blocking stored partner — the planted
    // exact clone reads back its source at ppm 1e6, the planted
    // near-variant names its source with the exact integer Jaccard.
    Gate("q593_lex_reject_evidence", (s, dir) => {
      val (path, corpus, rejected) = evidenceLife(s, dir)
      Dedup.rejectEvidence(s, path, corpus, rejected, "text", "doc_id")
        .orderBy("doc_id")
    }, oracle = {
      val ex = "(SELECT doc_id FROM decisionsEV " +
        "WHERE decision = 'dup_exact_corpus')"
      val nr = "(SELECT doc_id FROM decisionsEV " +
        "WHERE decision = 'near_dup_corpus')"
      s"""WITH $evidenceCtes,
         |${evidenceSelect("ecorp", "ebatch", "EV", ex, nr)}
         |SELECT doc_id, kind, partner_id, jaccard_ppm FROM evidEV
         |ORDER BY doc_id""".stripMargin
    }),

    // The same evidence served off the SIX-STAGE lifecycle's index
    // (the q584/q585 sibling): both days' lexical corpus rejections
    // ask the post-day-2 index "which stored doc blocks me NOW" —
    // the day-2 clone sentinel reads back its day-1 source at 1e6.
    Gate("q594_mm6_lex_reject_evidence", (s, dir) => {
      val p = Curation12.mm6(s, dir)
      val rej = (1 to 2).map { k =>
        s.read.parquet(p.decisionsDay(k))
          .where(col("d_lex").isin("dup_exact_corpus", "near_dup_corpus"))
          .select(col("doc_id"), lit(k).as("day"))
      }.reduce(_.unionByName(_))
      val rejTexts = (1 to 2).map { k =>
        s.read.parquet(p.dropDay(k)).select("doc_id", "text")
      }.reduce(_.unionByName(_)).join(rej.select("doc_id"), "doc_id")
      val corpusTexts = MultiDay.indexedDocs(s, p,
        t(s, dir, "documents").select("doc_id", "text"))
      Dedup.rejectEvidence(s, p.lex, corpusTexts, rejTexts,
          "text", "doc_id")
        .join(rej, "doc_id")
        .select("day", "doc_id", "kind", "partner_id", "jaccard_ppm")
        .orderBy("day", "doc_id")
    }, oracle =
      // Both days' lexical corpus rejections against the POST-day-2
      // membership (snapshot + both admitted days, sentinel texts
      // included): a fresh per-day candidate pass over the current
      // corpus — the from-scratch re-derivation of the index the
      // engine serves evidence from, keyed on the days' PINNED d_lex
      // verdicts (one dedup run per day so a cross-day text twin can't
      // collapse into the within-run exact-batch branch).
      {
        def ids(day: Int, dec: String) =
          s"(SELECT doc_id FROM fin6$day WHERE d_lex = '$dec')"
        s"""WITH ${Curation12.mm6Ctes},
           |evcorp AS MATERIALIZED (SELECT doc_id, text FROM lcorp62
           |  UNION ALL SELECT b.doc_id, b.text FROM lbL62 b
           |    JOIN madm62 ON madm62.doc_id = b.doc_id),
           |${Curation.dedupDecisionCtes("evcorp", "lbL61", "E61")},
           |${evidenceSelect("evcorp", "lbL61", "E61",
              ids(1, "dup_exact_corpus"), ids(1, "near_dup_corpus"))},
           |${Curation.dedupDecisionCtes("evcorp", "lbL62", "E62")},
           |${evidenceSelect("evcorp", "lbL62", "E62",
              ids(2, "dup_exact_corpus"), ids(2, "near_dup_corpus"))}
           |SELECT * FROM (
           |  SELECT 1 AS day, doc_id, kind, partner_id, jaccard_ppm
           |    FROM evidE61
           |  UNION ALL SELECT 2, doc_id, kind, partner_id, jaccard_ppm
           |    FROM evidE62)
           |ORDER BY day, doc_id""".stripMargin
      }),

    // MULTI-PROBE top-5 (probe radius 1): per band also the 16 1-bit
    // bucket variants — candidates now certain for true distance ≤ 7
    // (vs 3), the q567 curve's prescribed expansion.
    Gate("q595_phash_search_probes", (s, dir) => {
      val (pi, _, qi, _) = Curation13.searchLife(s, dir)
      PhashIndex.search(s, pi, qi, 5, probes = 1)
        .orderBy("qid", "rank")
    }, oracle =
      // Probed candidates: a pair is a candidate when SOME band's
      // 16-bit values are within Hamming 1 (bit_count(xor) ≤ 1 — the
      // engine's explicit 1-bit bucket variants, closed-form).
      {
        val probed =
          s"""${Curation11.phashCtes("(d.doc_id - d.doc_id % 2)")},
             |${Curation13.probedCands("pbands")},
             |${Curation13.distCte("bits", Curation13.imgKey)}""".stripMargin
        Curation13.searchSql(probed)
      }),

    // Recall@5 at probe radius 1 vs the same exact brute force —
    // read next to q564 (radius 0) for the recall delta the probe
    // expansion buys at 17× bucket probes.
    Gate("q596_phash_probe_recall", (s, dir) => {
      val (pi, _, qi, _) = Curation13.searchLife(s, dir)
      PhashIndex.searchRecall(s, pi, qi, 5, probes = 1).orderBy("qid")
    }, oracle = {
      val probed =
        s"""${Curation11.phashCtes("(d.doc_id - d.doc_id % 2)")},
           |${Curation13.probedCands("pbands")},
           |${Curation13.distCte("bits", Curation13.imgKey)}""".stripMargin
      Curation13.recallSql(probed, "bits", "y.cy = x.cy AND y.cx = x.cx")
    }),

    // The PROBED banding design curve (radius 1, 4×16) — the
    // closed-form disclosure behind q595/q596: P[candidate] = 1 until
    // d = 7 (pigeonhole at radius 1), then the complementary
    // inclusion–exclusion decay; published next to q567 so the
    // radius trade is quantified end to end.
    Gate("q597_banding_curve_probed", (s, dir) =>
      PhashIndex.designCurveProbed(s).orderBy("dist"), oracle =
      // A(d) = Σ_j (−1)^j C(4,j) Σ_t C(j,t) 16^t C(64−16j, d−t) counts
      // the NON-candidate placements (every band ≥ 2 dirty bits);
      // collide_ppm = ⌊(C(64,d) − A) · 1e6 / C(64,d)⌋ — exact HUGEINT
      // binomials by the same integer recurrence as q567.
      s"""WITH RECURSIVE binom(n, d, v) AS (
         |  SELECT n, 0, CAST(1 AS HUGEINT)
         |    FROM (VALUES (64), (48), (32), (16), (4), (3), (2), (1),
         |      (0)) t(n)
         |  UNION ALL
         |  SELECT n, d + 1, v * (n - d) // (d + 1) FROM binom
         |    WHERE d < n),
         |p16(t, pv) AS (SELECT * FROM (VALUES (0, CAST(1 AS HUGEINT)),
         |  (1, CAST(16 AS HUGEINT)), (2, CAST(256 AS HUGEINT)),
         |  (3, CAST(4096 AS HUGEINT)), (4, CAST(65536 AS HUGEINT))) x),
         |ds AS (SELECT unnest(range(0, 65)) AS d),
         |jt AS (SELECT jj.j, tt.t
         |  FROM (SELECT unnest(range(0, 5)) AS j) jj
         |  CROSS JOIN (SELECT unnest(range(0, 5)) AS t) tt
         |  WHERE tt.t <= jj.j),
         |terms AS (SELECT ds.d,
         |    CAST(CASE WHEN jt.j % 2 = 0 THEN 1 ELSE -1 END AS HUGEINT)
         |      * cbj.v * cjt.v * p16.pv * coalesce(rest.v, 0) AS tm
         |  FROM ds CROSS JOIN jt
         |  JOIN binom cbj ON cbj.n = 4 AND cbj.d = jt.j
         |  JOIN binom cjt ON cjt.n = jt.j AND cjt.d = jt.t
         |  JOIN p16 ON p16.t = jt.t
         |  LEFT JOIN binom rest ON rest.n = 64 - 16 * jt.j
         |    AND rest.d = ds.d - jt.t),
         |aa AS (SELECT d, sum(tm) AS a FROM terms GROUP BY d)
         |SELECT CAST(aa.d AS BIGINT) AS dist,
         |  CAST(((b64.v - aa.a) * 1000000) // b64.v AS BIGINT)
         |    AS collide_ppm
         |FROM aa JOIN binom b64 ON b64.n = 64 AND b64.d = aa.d
         |ORDER BY dist""".stripMargin),

    // Its MEASURED companion over the real image signatures (the
    // q579 pattern at radius 1): realized candidate rate per true
    // distance, d ≤ 7 must read 1e6 ppm in both theory and practice.
    Gate("q598_banding_measured_probed", (s, dir) => {
      val (pi, _, qi, _) = Curation13.searchLife(s, dir)
      PhashIndex.bandingMeasured(s, pi, qi, probes = 1).orderBy("dist")
    }, oracle =
      // Measured probed curve: candidacy = SOME band's 16-bit values
      // within Hamming 1 (the engine's explicit variant probes).
      s"""WITH ${Curation13.imgSearchCtes},
         |cS1 AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS cid
         |  FROM pbands a JOIN pbands b ON a.band = b.band
         |    AND bit_count(xor(CAST(a.bv AS BIGINT),
         |      CAST(b.bv AS BIGINT))) <= 1
         |  WHERE a.doc_id IN (SELECT doc_id FROM qsS)
         |    AND b.doc_id IN (SELECT doc_id FROM ixS)),
         |${Curation13.curveSql(
            "bits x JOIN bits y ON y.cy = x.cy AND y.cx = x.cx", "cS1")}""".stripMargin),

    // Audio probed recall — one implementation, two modalities (the
    // q564/q566 symmetry at radius 1).
    Gate("q599_audio_probe_recall", (s, dir) => {
      val (_, pa, _, qa) = Curation13.searchLife(s, dir)
      PhashIndex.searchRecall(s, pa, qa, 5, probes = 1).orderBy("qid")
    }, oracle = {
      val audProbed =
        s"""${Curation12.audioCtes()},
           |${Curation13.probedCands("abands")},
           |${Curation13.distCte("abits", "y.i = x.i")}""".stripMargin
      Curation13.recallSql(audProbed, "abits", "y.i = x.i")
    }),

    // COMPACTION ON THE CURATION CALENDAR (the q591 symmetry): the
    // op = "compact" slots settle the dedup index mid-chain;
    // decisions stay bit-identical to the plain chain — a THIRD
    // engine path onto the q505/q508 oracle.
    Gate("q600_cur_compact_stream_decisions", (s, dir) =>
      graft.ops.CurationNDay.allDecisions(s, curCompactStream(s, dir)._1)
        .orderBy("day", "doc_id"), oracle =
      // the plain chain's decision re-derivation, third engine path
      // (compaction is content-invariant)
      Curation9.decisionsOracle),

    // Its day-4 manifest + calendar facts: ledger holds the four
    // admission days AND both compact slots; the replayed compact
    // control was a pure no-op; the index genuinely fragmented after
    // day 2 and settled to the target file count after compact4.
    Gate("q601_cur_compact_stream_cards", (s, dir) => {
      val (a, noop, days, settled) = curCompactStream(s, dir)
      s.read.parquet(a.manifestDay(graft.ops.CurationNDay.NDays))
        .withColumn("ledger_days", lit(days.mkString(",")))
        .withColumn("replay_stable", lit(if (noop) "1" else "0"))
        .withColumn("files_settled", lit(if (settled) "1" else "0"))
        .orderBy("shard")
    }, oracle =
      // q506's grown4 manifest + the calendar-fact literals: ledger =
      // four admission days + both compact slots (sorted), replay
      // no-op'd, files genuinely fragmented-then-settled.
      {
        s"""WITH ${Curation9.nDayCtes},
           |${Curation12.shardCte("m", "grown4")}
           |${Curation12.manifestCols},
           |  'compact1_done,compact4_done,day1,day2,day3,day4'
           |    AS ledger_days,
           |  '1' AS replay_stable, '1' AS files_settled
           |FROM m GROUP BY shard ORDER BY shard""".stripMargin
      }),

    // CONTAMINATION REJECT EVIDENCE (completing the family — every
    // six-stage rejection kind now explains itself: q584 perceptual,
    // q585 semantic, q593/q594 lexical, here the contam post-gate):
    // each d_contam rejection serves the gate's own integers and the
    // most-overlapping BENCHMARK doc as its named partner.
    Gate("q602_mm6_contam_evidence", (s, dir) => {
      val p = Curation12.mm6(s, dir)
      val rej = (1 to 2).map { k =>
        s.read.parquet(p.decisionsDay(k))
          .where(col("d_contam") === "contaminated")
          .select(col("doc_id"), lit(k).as("day"))
      }.reduce(_.unionByName(_))
      val rejTexts = (1 to 2).map { k =>
        s.read.parquet(p.dropDay(k)).select("doc_id", "text")
      }.reduce(_.unionByName(_)).join(rej.select("doc_id"), "doc_id")
      graft.ops.Corpus.contaminationEvidence(rejTexts,
          MultiDay.benchOf(s, dir), "text", "doc_id")
        .join(rej, "doc_id")
        .select("day", "doc_id", "n_grams", "n_contaminated",
          "contam_ppm", "partner_id", "partner_shared", "n_eval_hit")
        .orderBy("day", "doc_id")
    }, oracle =
      // contamination evidence re-derived from scratch: rejected ids
      // off fin61/fin62's d_contam column, gram arithmetic over the
      // drop texts vs the mbench per-doc gram sets, partner = rank 1
      // by (shared DESC, id ASC) via a window.
      {
        val sh8 = graft.ops.Dedup.shinglesSql("text", 8)
        s"""WITH ${Curation12.mm6Ctes},
           |rejC AS (SELECT 1 AS day, doc_id FROM fin61
           |    WHERE d_contam = 'contaminated'
           |  UNION ALL SELECT 2, doc_id FROM fin62
           |    WHERE d_contam = 'contaminated'),
           |rtxC AS (SELECT doc_id, text FROM (
           |    SELECT doc_id, text FROM lbL61
           |    UNION ALL SELECT doc_id, text FROM lbL62)
           |  WHERE doc_id IN (SELECT doc_id FROM rejC)),
           |totC AS (SELECT doc_id,
           |    CAST(len(list_distinct($sh8)) AS BIGINT) AS n_grams
           |  FROM rtxC),
           |rgC AS (SELECT doc_id, unnest(list_distinct($sh8)) AS g
           |  FROM rtxC),
           |globC AS (SELECT doc_id,
           |    CAST(count(*) AS BIGINT) AS n_contaminated
           |  FROM rgC JOIN mgr6 USING (g) GROUP BY 1),
           |bpgC AS (SELECT doc_id AS pid,
           |    unnest(list_distinct($sh8)) AS g FROM mbench),
           |phC AS (SELECT rgC.doc_id, bpgC.pid,
           |    CAST(count(*) AS BIGINT) AS shared
           |  FROM rgC JOIN bpgC USING (g) GROUP BY 1, 2),
           |topC AS (SELECT doc_id, pid, shared, n_eval_hit FROM (
           |  SELECT doc_id, pid, shared,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY shared DESC, pid) AS rn,
           |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT)
           |      AS n_eval_hit
           |  FROM phC) WHERE rn = 1)
           |SELECT r.day, r.doc_id, totC.n_grams, globC.n_contaminated,
           |  CAST(globC.n_contaminated * 1000000 // totC.n_grams
           |    AS BIGINT) AS contam_ppm,
           |  topC.pid AS partner_id, topC.shared AS partner_shared,
           |  topC.n_eval_hit
           |FROM rejC r JOIN totC USING (doc_id)
           |  JOIN globC USING (doc_id) JOIN topC USING (doc_id)
           |ORDER BY day, doc_id""".stripMargin
      }),

    // QUALITY REJECT EVIDENCE: each low_quality rejection serves the
    // RepTenths gate's integers plus the culprit — the single
    // most-repeated 2-gram and its count.
    Gate("q603_mm6_quality_evidence", (s, dir) => {
      val p = Curation12.mm6(s, dir)
      val rej = (1 to 2).map { k =>
        s.read.parquet(p.decisionsDay(k))
          .where(col("d_qual") === "low_quality")
          .select(col("doc_id"), lit(k).as("day"))
      }.reduce(_.unionByName(_))
      val rejTexts = (1 to 2).map { k =>
        s.read.parquet(p.dropDay(k)).select("doc_id", "text")
      }.reduce(_.unionByName(_)).join(rej.select("doc_id"), "doc_id")
      graft.ops.Corpus.repetitionEvidence(rejTexts, "text", "doc_id")
        .join(rej, "doc_id")
        .select("day", "doc_id", "n_2grams", "n_distinct_2grams",
          "dup_mass_tenths", "budget_tenths", "top_gram", "top_gram_n")
        .orderBy("day", "doc_id")
    }, oracle =
      // quality evidence re-derived: the RepTenths integers + the
      // most-repeated 2-gram via (count DESC, gram ASC) window.
      {
        val sh2 = graft.ops.Dedup.shinglesSql("text", 2)
        val rt = graft.ops.CurationDay.RepTenths
        s"""WITH ${Curation12.mm6Ctes},
           |rejQ AS (SELECT 1 AS day, doc_id FROM fin61
           |    WHERE d_qual = 'low_quality'
           |  UNION ALL SELECT 2, doc_id FROM fin62
           |    WHERE d_qual = 'low_quality'),
           |rtxQ AS (SELECT doc_id, text FROM (
           |    SELECT doc_id, text FROM lbL61
           |    UNION ALL SELECT doc_id, text FROM lbL62)
           |  WHERE doc_id IN (SELECT doc_id FROM rejQ)),
           |totQ AS (SELECT doc_id, CAST(len($sh2) AS BIGINT) AS n_2grams,
           |    CAST(len(list_distinct($sh2)) AS BIGINT)
           |      AS n_distinct_2grams
           |  FROM rtxQ),
           |ggQ AS (SELECT doc_id, unnest($sh2) AS g FROM rtxQ),
           |gcQ AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
           |  FROM ggQ GROUP BY 1, 2),
           |culQ AS (SELECT doc_id, g AS top_gram, c AS top_gram_n FROM (
           |  SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY c DESC, g) AS rn
           |  FROM gcQ WHERE c >= 2) WHERE rn = 1)
           |SELECT r.day, r.doc_id, totQ.n_2grams, totQ.n_distinct_2grams,
           |  (totQ.n_2grams - totQ.n_distinct_2grams) * 10
           |    AS dup_mass_tenths,
           |  $rt * totQ.n_2grams AS budget_tenths,
           |  culQ.top_gram, culQ.top_gram_n
           |FROM rejQ r JOIN totQ USING (doc_id)
           |  LEFT JOIN culQ USING (doc_id)
           |ORDER BY day, doc_id""".stripMargin
      }),

    // THE FULL MAINTENANCE CALENDAR (capstone): all three control ops
    // interleaved in one streamed run — decisions bit-identical to
    // the plain TTL calendar (the q569 oracle, shared verbatim:
    // compaction is content-invariant, the cap follows the last
    // admission).
    Gate("q604_mm_full_cal_decisions", (s, dir) =>
      MultiDay.allDecisions4(s, fullCal(s, dir)._1)
        .orderBy("day", "doc_id"), oracle =
      // the plain TTL calendar's decisions oracle, shared verbatim —
      // the capstone's compactions are content-invariant and its cap
      // follows the last admission
      Curation13.mmCalDecisionsSql),

    // Its cards: retained sets = day-2 + day-3 admissions only (day 1
    // aged out by ttl2, the snapshot capped out by cap3 — pinned
    // horizon 1); ledger holds the three admission days and all four
    // maintenance slots; all three replayed controls no-op'd; the
    // compact3 slot genuinely settled the lexical hash table.
    Gate("q605_mm_full_cal_cards", (s, dir) => {
      val (p, noop, days, horizon, settled) = fullCal(s, dir)
      MultiDay.indexCards4(s, p)
        .withColumn("keep_from", lit(horizon.toLong))
        .withColumn("ledger_days", lit(days.mkString(",")))
        .withColumn("replay_stable", lit(if (noop) "1" else "0"))
        .withColumn("files_settled", lit(if (settled) "1" else "0"))
        .orderBy("modality", "metric")
    }, oracle =
      // the q570 cards shape over the post-cap retained sets (day-2 +
      // day-3 admissions; the snapshot leg of lcorpR capped out) + the
      // calendar-fact literals
      s"""WITH ${Curation13.mmCalCtes},
         |retF AS MATERIALIZED (
         |  SELECT d.doc_id, d.text FROM pdocs d JOIN madm2 USING (doc_id)
         |  UNION ALL SELECT d.doc_id, d.text FROM xdocs d
         |    JOIN madmR ON madmR.doc_id = d.doc_id)
         |SELECT *, CAST(1 AS BIGINT) AS keep_from,
         |  'cap3,compact1,compact3,mm1,mm2,mm3,ttl2' AS ledger_days,
         |  '1' AS replay_stable, '1' AS files_settled
         |FROM (
         |  SELECT 'lexical' AS modality, 'n_hashes' AS metric,
         |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS value
         |    FROM retF
         |  UNION ALL SELECT 'lexical', 'n_band_rows',
         |    4 * count(*) FROM retF
         |  UNION ALL SELECT 'semantic', 'n_vecs', count(*) FROM retF
         |  UNION ALL SELECT 'perceptual', 'n_hashes', count(*) FROM retF
         |  UNION ALL SELECT 'perceptual', 'n_band_rows',
         |    4 * count(*) FROM retF
         |  UNION ALL SELECT 'audio', 'n_hashes', count(*) FROM retF
         |  UNION ALL SELECT 'audio', 'n_band_rows',
         |    4 * count(*) FROM retF
         |  UNION ALL SELECT 'media', 'n_assets',
         |    (SELECT count(*) FROM pdocs) + 3)
         |ORDER BY modality, metric""".stripMargin),

    // THE CURATION FULL CALENDAR (the q604 sibling, runnable because
    // the streamed cap slot rides capDayPinned — decision-pinned
    // masses that survive the ttl's tape rebuild): compact + ttl +
    // cap + compact in one streamed run; decisions bit-identical to
    // the plain chain (the q505/q508 oracle, fourth engine path).
    Gate("q606_cur_full_cal_decisions", (s, dir) =>
      graft.ops.CurationNDay.allDecisions(s, curFullCal(s, dir)._1)
        .orderBy("day", "doc_id"), oracle =
      // the plain chain's decisions oracle, fourth engine path (every
      // maintenance slot follows the admissions it governs)
      Curation9.decisionsOracle),

    // Its final manifest + calendar facts: post-cap corpus = days 3–4
    // admissions (ttl4 aged out snapshot + day 1; cap4's pinned
    // horizon 3 expired day 2); ledger holds four admission days and
    // all six maintenance rows; every replayed control no-op'd; the
    // compact4 slot re-settled the index the cap's rewrite had just
    // re-fragmented.
    Gate("q607_cur_full_cal_cards", (s, dir) => {
      val (a, noop, days, horizon, settled) = curFullCal(s, dir)
      s.read.parquet(a.manifestRetract(1))
        .withColumn("keep_from", lit(horizon.toLong))
        .withColumn("ledger_days", lit(days.mkString(",")))
        .withColumn("replay_stable", lit(if (noop) "1" else "0"))
        .withColumn("files_settled", lit(if (settled) "1" else "0"))
        .orderBy("shard")
    }, oracle =
      // the q576 manifest shape over days 3-4 admissions (ttl keepFrom
      // 2 aged out snapshot + day 1; the cap's pinned horizon 3 expired
      // day 2) + the calendar-fact literals
      {
        s"""WITH ${Curation9.nDayCtes},
           |corpusF AS MATERIALIZED (
           |  SELECT doc_id, text FROM admf3
           |  UNION ALL SELECT doc_id, text FROM admf4),
           |mF AS (SELECT doc_id,
           |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
           |      % ${graft.ops.CurationDay.NShards} AS INT) AS shard,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           |    (${h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")}) AS h
           |  FROM corpusF)
           |${Curation12.manifestCols},
           |  CAST(3 AS BIGINT) AS keep_from,
           |  'cap4,cap4_done,compact1_done,compact4_done,'
           |    || 'day1,day2,day3,day4,ttl4,ttl4_done' AS ledger_days,
           |  '1' AS replay_stable, '1' AS files_settled
           |FROM mF GROUP BY shard ORDER BY shard""".stripMargin
      }))

  // ---- oracle fragments ---------------------------------------------

  /** The mm cap re-derivation: [[Curation12.mmCtes]]' days 1–2
    * verbatim (the cap slot follows day 2), the slot's arithmetic —
    * retained byte masses off the admitted texts, the fixture cap
    * m2 + m1/2, the derived horizon (min k whose retained tail fits —
    * deterministically 2) — then day 3 against the CAPPED index sets:
    * day-2 admissions ONLY (snapshot + day 1 aged out; the lexical
    * hash set collapses to the retained docs' hashes via stillHeld
    * semantics, which the from-scratch rebuild over the retained
    * corpus models exactly). The sentinel derivation reads the
    * day-1/-2 PINS, which the cap never touches.
    */
  private def mmCapCtes: String =
    s"""${Curation12.mmCtes},
       |emass AS (SELECT 1 AS day,
       |    CAST(sum(length(d.text)) AS BIGINT) AS m
       |  FROM pdocs d JOIN madm1 USING (doc_id)
       |  UNION ALL SELECT 2, CAST(sum(length(d.text)) AS BIGINT)
       |  FROM pdocs d JOIN madm2 USING (doc_id)),
       |ecap AS (SELECT (SELECT m FROM emass WHERE day = 2)
       |  + (SELECT m FROM emass WHERE day = 1) // 2 AS c),
       |ekeep AS (SELECT CAST(min(k) AS BIGINT) AS k FROM (
       |  SELECT ks.k, sum(m) AS tail
       |  FROM (SELECT unnest(range(1, 3)) AS k) ks
       |  JOIN emass ON emass.day >= ks.k GROUP BY ks.k)
       |  WHERE tail <= (SELECT c FROM ecap)),
       |lcorpK AS MATERIALIZED (SELECT d.doc_id, d.text FROM pdocs d
       |  JOIN madm2 USING (doc_id)),
       |${Curation.dedupDecisionCtes("lcorpK", "lb3", "K3")},
       |ixsemK AS (SELECT cell, vec_id, e, nrm FROM ixs2
       |  WHERE vec_id IN (SELECT doc_id FROM madm2)),
       |${Curation12.semDay4("sK", "ixsemK", "ixs3")},
       |idxPK AS (SELECT doc_id FROM madm2),
       |${Curation12.bandedDay("PK", "xpbands", "xbits",
          "y.cy = x.cy AND y.cx = x.cx", "dP3", "idxPK", "phash")},
       |${Curation12.bandedDay("AK", "xabands", "xabits",
          "y.i = x.i", "dP3", "idxPK", "audio")},
       |finK AS MATERIALIZED (SELECT l.doc_id, l.decision AS d_lex,
       |    s.decision AS d_sem, p.decision AS d_ph, a.decision AS d_aud,
       |    CASE WHEN l.decision <> 'admitted' THEN l.decision
       |      WHEN s.decision <> 'admitted' THEN s.decision
       |      WHEN p.decision <> 'admitted' THEN p.decision
       |      WHEN a.decision <> 'admitted' THEN a.decision
       |      ELSE 'admitted' END AS decision
       |  FROM decisionsK3 l JOIN decSsK s ON s.vec_id = l.doc_id
       |    JOIN decBPK p ON p.doc_id = l.doc_id
       |    JOIN decBAK a ON a.doc_id = l.doc_id),
       |madmK AS (SELECT doc_id FROM finK
       |  WHERE decision = 'admitted')""".stripMargin

  private def mmCapDecisionsSql: String =
    s"""WITH $mmCapCtes
       |SELECT * FROM (
       |  SELECT 1 AS day, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM fin1
       |  UNION ALL SELECT 2, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM fin2
       |  UNION ALL SELECT 3, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM finK)
       |ORDER BY day, doc_id""".stripMargin

  /** Cards after the full cap calendar: retained = day-2 + day-3
    * admissions; the media artifact keeps every decoded asset
    * (decode-once outlives retention); keep_from_2 DERIVED from the
    * masses, keep_from_3 = 0 by definition (the under-cap payload IS
    * the retained total).
    */
  private def mmCapCardsSql(extra: String): String =
    s"""WITH $mmCapCtes,
       |retK AS MATERIALIZED (SELECT doc_id, text FROM lcorpK
       |  UNION ALL SELECT x.doc_id, x.text FROM xdocs x
       |    JOIN madmK ON madmK.doc_id = x.doc_id)
       |SELECT *, (SELECT k FROM ekeep) AS keep_from_2,
       |  CAST(0 AS BIGINT) AS keep_from_3,
       |  'cap2,cap3,mm1,mm2,mm3' AS ledger_days$extra
       |FROM (
       |  SELECT 'lexical' AS modality, 'n_hashes' AS metric,
       |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS value
       |    FROM retK
       |  UNION ALL SELECT 'lexical', 'n_band_rows',
       |    4 * count(*) FROM retK
       |  UNION ALL SELECT 'semantic', 'n_vecs', count(*) FROM retK
       |  UNION ALL SELECT 'perceptual', 'n_hashes', count(*) FROM retK
       |  UNION ALL SELECT 'perceptual', 'n_band_rows',
       |    4 * count(*) FROM retK
       |  UNION ALL SELECT 'audio', 'n_hashes', count(*) FROM retK
       |  UNION ALL SELECT 'audio', 'n_band_rows',
       |    4 * count(*) FROM retK
       |  UNION ALL SELECT 'media', 'n_assets',
       |    (SELECT count(*) FROM pdocs) + 3)
       |ORDER BY modality, metric""".stripMargin

  /** The evidence fixture's oracle CTEs: the %4 split, the two
    * planted witnesses, and [[Curation.dedupDecisionCtes]] giving
    * both the decisions AND the candidate/Jaccard internals the
    * partner ranking reuses.
    */
  private def evidenceCtes: String =
    s"""ecorp AS MATERIALIZED (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 4 IN (0, 1, 2)),
       |esnE AS (SELECT CAST(9900001 AS BIGINT) AS sdoc,
       |  (SELECT min(doc_id) FROM ecorp) AS src),
       |esnN AS (SELECT CAST(9900002 AS BIGINT) AS sdoc,
       |  (SELECT min(doc_id) FROM ecorp
       |    WHERE len(string_split(text, ' ')) >= 30) AS src),
       |ebatch AS MATERIALIZED (SELECT doc_id, text FROM documents
       |    WHERE doc_id % 4 = 3
       |  UNION ALL SELECT esnE.sdoc, e.text FROM esnE
       |    JOIN ecorp e ON e.doc_id = esnE.src
       |  UNION ALL SELECT esnN.sdoc, e.text || ' zz9' FROM esnN
       |    JOIN ecorp e ON e.doc_id = esnN.src),
       |${Curation.dedupDecisionCtes("ecorp", "ebatch", "EV")}""".stripMargin

  /** Partner ranking over a [[Curation.dedupDecisionCtes]] run:
    * exact = min-id corpus doc sharing the md5 (for the ids in
    * `exactIds`); near = rank 1 by (integer ppm DESC, id ASC) among
    * threshold-passing candidates (for the ids in `nearIds`) — the
    * rejected-set selectors are explicit so the evidence can be keyed
    * on the DAY's pinned verdicts rather than a fresh re-decision.
    */
  private def evidenceSelect(corpusSrc: String, batchSrc: String,
                             sfx: String, exactIds: String,
                             nearIds: String): String =
    s"""exev$sfx AS (SELECT b.doc_id, 'exact' AS kind,
       |    min(c.doc_id) AS partner_id,
       |    CAST(1000000 AS BIGINT) AS jaccard_ppm
       |  FROM $batchSrc b JOIN $corpusSrc c ON md5(c.text) = md5(b.text)
       |  WHERE b.doc_id IN (SELECT doc_id FROM $exactIds)
       |  GROUP BY b.doc_id),
       |nsc$sfx AS (SELECT inter$sfx.batch_id, inter$sfx.corpus_id,
       |    (CAST(i AS BIGINT) * 1000000)
       |      // (szb$sfx.n + szc$sfx.n - i) AS jppm
       |  FROM inter$sfx
       |    JOIN szb$sfx ON szb$sfx.doc_id = inter$sfx.batch_id
       |    JOIN szc$sfx ON szc$sfx.doc_id = inter$sfx.corpus_id
       |  WHERE CAST(i AS DOUBLE) / (szb$sfx.n + szc$sfx.n - i) >= 0.8),
       |nrev$sfx AS (SELECT batch_id AS doc_id, 'near' AS kind,
       |    corpus_id AS partner_id, jppm AS jaccard_ppm
       |  FROM (SELECT *, row_number() OVER (PARTITION BY batch_id
       |      ORDER BY jppm DESC, corpus_id) AS rn FROM nsc$sfx)
       |  WHERE rn = 1 AND batch_id IN (SELECT doc_id FROM $nearIds)),
       |evid$sfx AS (SELECT * FROM exev$sfx
       |  UNION ALL SELECT * FROM nrev$sfx)""".stripMargin
}
