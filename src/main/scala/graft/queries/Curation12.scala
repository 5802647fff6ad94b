package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.Q._
import graft.ops.Dedup.h60Sql

/** Round-12 batch — the STREAMED, LEDGERED, 4-STAGE multimodal
  * admission lifecycle (the round-11 verdict's top task, plus the
  * audio modality and the decode-once media artifact):
  *
  *  - q542/q543/q544: the N = 3-day multimodal day
  *    ([[graft.ops.MultiDay.processDay4]]) delivered by Structured
  *    Streaming ([[graft.streaming.MultiStream]]) with a day LEDGER, a
  *    kill/restart between days 2 and 3, and a replayed committed day
  *    no-op'd — decisions carry PER-STAGE verdict columns (lexical,
  *    semantic, perceptual image, perceptual audio) with within-day
  *    near-dup passes, gated against one composed from-scratch DuckDB
  *    re-derivation;
  *  - q545: the BATCH engine path over the same day step — two
  *    delivery engines, one oracle (the q505/q508 pattern);
  *  - q544: the decode-once [[graft.ops.MediaHashes]] artifact itself
  *    (every image dHash + audio fingerprint, decoded exactly once per
  *    asset lifetime);
  *  - q546/q547: the standalone AUDIO perceptual index lifecycle (the
  *    [[graft.ops.PhashIndex]] machinery over
  *    [[graft.ops.Multimodal.audioFingerprint]] energy-sign bytes —
  *    one banded-Hamming index implementation, two modalities).
  */
object Curation12 extends Gates {

  import graft.ops.{CurationNDay, MultiDay, PhashIndex, SemIndex}

  // ---- Spark-side lifecycles (once per dir per JVM) -----------------

  private[queries] val mmStream = Fixture.rooted("graft_mm_stream_") { (s, d, root) =>
    val p = MultiDay.Paths4(root)
    val (noop, days) = graft.streaming.MultiStream.runDaysStreamed(s, d, p)
    (p, noop, days)
  }

  private val mmBatch = Fixture.rooted("graft_mm_batch_") { (s, d, root) =>
    val p = MultiDay.Paths4(root)
    graft.streaming.MultiStream.batch(s, d, p,
      graft.streaming.MultiStream.DaysCal)
    p
  }

  /** The standalone two-day AUDIO index lifecycle: snapshot
    * %4 ∈ {2,3}, day 1 = %4 == 0, day 2 = %4 == 1 plus sentinel
    * 9800001 (the audio track of the smallest day-1 ADMITTED doc,
    * cloned verbatim — must come back dup_audio_corpus via the day-1
    * append alone: the lifecycle witness).
    */
  private val audioLife = Fixture.rooted("graft_audio_index_") { (s, d, root) =>
    val p = PhashIndex.Paths(root)
    val docs = t(s, d, "documents").select("doc_id", "text")
    def fpOf(src: org.apache.spark.sql.DataFrame) =
      graft.ops.Multimodal.audioFingerprint(
        src.select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload")))
    PhashIndex.write(s,
      fpOf(docs.where(pmod(col("doc_id"), lit(4L)).isin(2L, 3L))), p)
    val dec1 = PhashIndex.processDay(s, p, 1,
      fpOf(docs.where(pmod(col("doc_id"), lit(4L)) === 0L)),
      label = "audio")
    val sentinel = dec1.where(col("decision") === "admitted")
      .orderBy("media_id").limit(1)
      .select(col("media_id").as("doc_id"))
      .join(docs, "doc_id")
      .select(lit(9800001L).as("doc_id"), col("text"))
    val dec2 = PhashIndex.processDay(s, p, 2,
      fpOf(docs.where(pmod(col("doc_id"), lit(4L)) === 1L)
        .unionByName(sentinel)),
      label = "audio")
    val all = dec1.select(lit(1).as("day"), col("media_id"),
        col("decision"))
      .unionByName(dec2.select(lit(2).as("day"), col("media_id"),
        col("decision")))
      .localCheckpoint(true)
    (p, all)
  }

  /** Occupancy-triggered refit, run on a content-identical COPY of
    * the q521 lifecycle's semantic index (the lifecycle root keeps
    * its pinned 8 cells for q521/q522/q525/q526/q529/q532/q535): copy
    * seeds + cell partitions, fire [[SemIndex.refitIfNeeded]] at
    * targetOcc = 16 (the grown index holds ~n_total > 16·8 vectors,
    * so the documented trigger condition is genuinely met, not
    * planted), and keep the returned cell count for the card row.
    */
  private val refitLife = Fixture.rooted("graft_sem_refitp_") { (s, d, root) =>
    val src = Curation11.semLife(s, d)._1
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

  /** TTL over the multimodal lifecycle: expire day 1's admissions
    * from all four indexes of the BATCH root (its decision pins —
    * the only thing q545 reads — are untouched), then RE-OFFER the
    * day-1 drop against the retained indexes: docs whose only
    * obstacle was day-1 state must come back admitted, the
    * end-to-end proof the hashes/cells/bands really left.
    */
  private val mmTtl = Fixture { (s, d) =>
    val p = mmBatch(s, d)
    val docs = tp(s, d, "documents").select("doc_id", "text")
    val admitted = (1 to MultiDay.NDays4).map { k =>
      s.read.parquet(p.decisionsDay(k))
        .where(col("decision") === "admitted").select("doc_id")
    }.reduce(_.unionByName(_))
    val corpusDocs = docs
      .where(pmod(col("doc_id"), lit(8L)) >= 4L)
      .unionByName(docs.join(admitted, "doc_id"))
      .localCheckpoint(true)
    require(MultiDay.ttl4Day(s, p, "ttl1", Seq(1), corpusDocs),
      "mmTtl: ttl1 unexpectedly already committed")
    // the replay: a committed TTL day must be a pure no-op
    val replayNoOp = !MultiDay.ttl4Day(s, p, "ttl1", Seq(1), corpusDocs)
    val drop1 = s.read.parquet(p.dropDay(1))
    val ids1 = drop1.select(col("doc_id").as("media_id"))
    val reoffer = MultiDay.decisions4(s, p, drop1,
        graft.ops.MediaHashes.fetchImage(s, p.media, ids1),
        graft.ops.MediaHashes.fetchAudio(s, p.media, ids1),
        docs)
      .localCheckpoint(true)
    (p, reoffer, replayNoOp, graft.core.Ledger.ids(s, p.ledger))
  }

  /** TTL on the curation N-day lifecycle, on a FRESH batch root (the
    * q505 streamed root and the q517 retracted root keep their
    * states): age out everything admitted before day 2 (snapshot +
    * day 1 — the ring buffer dropping its oldest segments), rebuild
    * the pack tape, and re-offer the oldest victim's text + a
    * surviving control through a day-5 decisions pass.
    */
  private val ttlLife = Fixture.rooted("graft_curation_ttl_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    graft.streaming.CurationStream.batch(s, d, a,
      graft.streaming.CurationStream.DaysCal)
    val pre = s.read.parquet(a.corpusDir).localCheckpoint(true)
    CurationNDay.ttlDay(s, a, "ttl1", keepFromDay = 2,
      a.manifestDay(CurationNDay.NDays), a.manifestRetract(1)): Unit
    graft.ops.Pack.rebuild(s, a, CurationNDay.NDays)
    val post = s.read.parquet(a.corpusDir).localCheckpoint(true)
    val victims = pre.join(post.select("doc_id"), Seq("doc_id"),
      "left_anti")
    val plant = victims.orderBy("doc_id").limit(1)
      .select(lit(9900001L).as("doc_id"), col("text"))
      .unionByName(post.orderBy("doc_id").limit(1)
        .select(lit(9900002L).as("doc_id"), col("text")))
    val dec = graft.ops.CurationDay.decisionsOf(s, a,
        post.select("doc_id", "text"), plant)
      .localCheckpoint(true)
    (a, dec)
  }

  /** The maintained batch lifecycle (ledgered compact slots
    * `compact1`/`compact2` interleaved between days — lexical tables,
    * semantic cells, media artifact): a third engine path whose
    * decisions must equal the same composed oracle (q558 reads only
    * this root's decisions).
    */
  private val mmMaintained = Fixture.rooted("graft_mm_maint_") { (s, d, root) =>
    val p = MultiDay.Paths4(root)
    graft.streaming.MultiStream.batch(s, d, p,
      graft.streaming.MultiStream.CompactCal)
    p
  }

  /** SIZE-capped retention on its own fresh lifecycle (pack layouts
    * must be intact — the caps are read from them; the horizon comes
    * from the decision-pinned masses, equal to the pack masses before
    * any tape rebuild). The gate's cap
    * is SCALE-PROPORTIONAL — 55% of the total admitted token mass,
    * exact integer arithmetic both engines derive from the same
    * persisted masses — so the horizon decision is genuinely computed
    * at every sf (on the sf0.01 fixture: total 12560, cap 6908, tail
    * masses 9827 > 6908 ≥ 6502 ⇒ keepFrom = 3) and the q557 row
    * never trips [[CurationNDay.capDayPinned]]'s newest-day loud-fail on a
    * bigger fixture the way a fixture-sized absolute cap would.
    */
  private val capLife = Fixture.rooted("graft_curation_cap_") { (s, d, root) =>
    val a = graft.ops.CurationDay.Artifacts(root)
    graft.streaming.CurationStream.batch(s, d, a,
      graft.streaming.CurationStream.DaysCal)
    def mass(k: Int): Long = CurationNDay.packMass(s, a, k)
    // the UNDER-CAP check first (q578): a cap covering the WHOLE
    // retained mass — day-0 snapshot included — must commit as a
    // ledgered no-op and expire nothing
    val total0 = (0 to CurationNDay.NDays).map(mass).sum
    val k0 = CurationNDay.capDayPinned(s, a, "cap0", maxTokens = total0,
      a.manifestDay(CurationNDay.NDays), s"$root/m_noop")
    require(k0 == 0, s"capLife: under-cap check expired days ($k0)")
    val total = (1 to CurationNDay.NDays).map(mass).sum
    val k = CurationNDay.capDayPinned(s, a, "cap1",
      maxTokens = total * 55L / 100L,
      a.manifestDay(CurationNDay.NDays), a.manifestRetract(1))
    (a, k)
  }

  private[queries] def capLifeArtifacts(
      s: org.apache.spark.sql.SparkSession,
      dir: String): graft.ops.CurationDay.Artifacts = capLife(s, dir)._1

  /** The FULL-STACK (six-stage) lifecycle: four near-dup indexes plus
    * the contamination + repetition post-gates in ONE composed day,
    * two days, with the day-2 sentinel cloning a day-1
    * post-gate-rejected doc (its dedup columns must come back clean —
    * post-gate rejections never touch an index).
    */
  private[queries] val mm6 = Fixture.rooted("graft_mm6_") { (s, d, root) =>
    val p = MultiDay.Paths4(root)
    graft.streaming.MultiStream.batch(s, d, p,
      graft.streaming.MultiStream.Days6Cal)
    p
  }

  /** The STREAMED six-stage lifecycle — second engine path onto
    * q559/q560's oracle, with the kill/restart + committed-day replay
    * witnessed in the gate run.
    */
  private val mm6Stream = Fixture.rooted("graft_mm6_stream_") { (s, d, root) =>
    val p = MultiDay.Paths4(root)
    val (noop, days) =
      graft.streaming.MultiStream.runDays6Streamed(s, d, p)
    (p, noop, days)
  }

  /** A streamed lifecycle's index `cards` with its calendar facts
    * pinned: the ledger's day ids, and whether the replayed step was a
    * no-op.
    */
  private[queries] def ledgerCards(cards: org.apache.spark.sql.DataFrame,
      noop: Boolean, days: Seq[String]) =
    cards.withColumn("ledger_days", lit(days.mkString(",")))
      .withColumn("replay_stable", lit(if (noop) "1" else "0"))
      .orderBy("modality", "metric")

  lazy val gates: Seq[Gate] = Seq(

    // The full admission stack's pinned verdicts — all six stage
    // columns disclosed per doc per day.
    Gate("q559_mm6_decisions", (s, dir) =>
      MultiDay.allDecisions6(s, mm6(s, dir)).orderBy("day", "doc_id"), oracle =
      s"""WITH $mm6Ctes
         |$mm6DecisionRows""".stripMargin),

    // The STREAMED six-stage path — decisions must equal the batch
    // chain's oracle row for row.
    Gate("q561_mm6_stream_decisions", (s, dir) =>
      MultiDay.allDecisions6(s, mm6Stream(s, dir)._1)
        .orderBy("day", "doc_id"), oracle =
      // second engine path, same composed six-stage answer
      s"""WITH $mm6Ctes
         |$mm6DecisionRows""".stripMargin),

    // Its index cards + the recovery facts pinned (ledger exactly
    // [mm1, mm2]; the re-offered committed day added nothing).
    Gate("q562_mm6_stream_cards", (s, dir) => {
      val (p, noop, days) = mm6Stream(s, dir)
      ledgerCards(MultiDay.indexCards4(s, p), noop, days)
    }, oracle =
      s"""WITH $mm6Ctes,
         |lcorp63 AS (SELECT doc_id, text FROM lcorp62
         |  UNION ALL SELECT p.doc_id, p.text FROM pool6 p
         |    JOIN madm62 USING (doc_id))
         |SELECT *, 'mm1,mm2' AS ledger_days, '1' AS replay_stable
         |FROM (
         |$mm6CardRows""".stripMargin),

    // The four index cards + media count under six-stage admission:
    // every artifact counts exactly the six-stage survivors.
    Gate("q560_mm6_cards", (s, dir) =>
      MultiDay.indexCards4(s, mm6(s, dir))
        .orderBy("modality", "metric"), oracle =
      s"""WITH $mm6Ctes,
         |lcorp63 AS (SELECT doc_id, text FROM lcorp62
         |  UNION ALL SELECT p.doc_id, p.text FROM pool6 p
         |    JOIN madm62 USING (doc_id))
         |SELECT * FROM (
         |$mm6CardRows""".stripMargin),

    // Size-capped retention: the manifest after expiring to the
    // computed horizon, the horizon disclosed on every row.
    Gate("q557_cap_manifest", (s, dir) => {
      val (a, k) = capLife(s, dir)
      s.read.parquet(a.manifestRetract(1))
        .withColumn("keep_from_day", lit(k.toLong))
        .orderBy("shard")
    }, oracle =
      // Size-capped retention: the horizon is COMPUTED from the per-day
      // token masses (smallest k whose tail mass fits the cap), then
      // the manifest is the q552 shape at that horizon.
      s"""WITH ${Curation9.nDayCtes},
         |$capCtes,
         |${shardCte("mC", "corpusC")}
         |$manifestCols,
         |  (SELECT k FROM keepk) AS keep_from_day
         |FROM mC GROUP BY shard ORDER BY shard""".stripMargin),

    // The occupancy health card over the grown lifecycle index — the
    // numbers that DECIDE the refit (trigger genuinely firing at
    // target occupancy 16 on the organically grown index).
    Gate("q548_sem_occupancy", (s, dir) =>
      SemIndex.occupancyCard(s, Curation11.semLife(s, dir)._1, 16L)
        .orderBy("cell"), oracle =
      // The occupancy card over the grown q521 index (idx3) — exact
      // integer arithmetic, trigger genuinely firing at target 16.
      s"""WITH ${Curation11.semCtes},
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
      s"""WITH ${Curation11.semCtes},
         |$refitCtes
         |SELECT cell, count(*) AS n_vecs,
         |  min(vec_id) AS min_vec, max(vec_id) AS max_vec,
         |  bit_xor(${h60Sql("CAST(vec_id AS VARCHAR)")}) AS checksum,
         |  (SELECT k FROM kc) AS n_cells_after
         |FROM cellr GROUP BY cell ORDER BY cell""".stripMargin),

    // The four index cards after TTL'ing day 1's admissions: every
    // index describes exactly snapshot + day-2 + day-3 survivors; the
    // media artifact is NOT pruned (decode-once outlives admission).
    Gate("q550_mm_ttl_cards", (s, dir) =>
      MultiDay.indexCards4(s, mmTtl(s, dir)._1)
        .orderBy("modality", "metric"), oracle =
      // The four cards after TTL'ing day 1's admissions: retained =
      // snapshot + day-2 + day-3 admissions; the lexical hash set
      // collapses to the retained docs' distinct hashes (stillHeld
      // semantics); the media artifact keeps every decoded asset.
      s"""WITH $mmCtes,
         |$ttlRetCte
         |SELECT * FROM (
         |$ttlCardRows""".stripMargin),

    // The TTL day's LEDGER facts (r12 verdict task 4): the same
    // retained-index cards with the ledger content pinned (admission
    // days mm1-mm3 plus the committed ttl1 row) and the replayed TTL
    // witnessed as a pure no-op.
    Gate("q568_mm_ttl_ledger", (s, dir) => {
      val (p, _, noop, days) = mmTtl(s, dir)
      ledgerCards(MultiDay.indexCards4(s, p), noop, days)
    }, oracle =
      // The q550 card with the TTL ledger facts pinned: ledger ==
      // [mm1, mm2, mm3, ttl1] exactly, replayed TTL a no-op.
      s"""WITH $mmCtes,
         |$ttlRetCte
         |SELECT *, 'mm1,mm2,mm3,ttl1' AS ledger_days,
         |  '1' AS replay_stable
         |FROM (
         |$ttlCardRows""".stripMargin),

    // Day 1 re-offered against the retained indexes: previously
    // index-blocked docs whose only obstacle was day-1 state readmit.
    Gate("q551_mm_ttl_reoffer", (s, dir) =>
      mmTtl(s, dir)._2.orderBy("doc_id"), oracle =
      // Day-1 re-offer against the retained indexes: the day-1 stage
      // machinery verbatim, index sets = snapshot + day-2/-3 admissions.
      s"""WITH $mmCtes,
         |lcorpT AS MATERIALIZED (SELECT doc_id, text FROM pdocs
         |  WHERE doc_id % 8 >= 4
         |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
         |    JOIN madm2 USING (doc_id)
         |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
         |    JOIN madm3 USING (doc_id)),
         |${Curation.dedupDecisionCtes("lcorpT", "lb1", "LT")},
         |ixsemT AS (SELECT cell, vec_id, e, nrm FROM ixms
         |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixs2
         |    WHERE vec_id IN (SELECT doc_id FROM madm2)
         |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixs3
         |    WHERE vec_id IN (SELECT doc_id FROM madm3)),
         |${semDay4("sT", "ixsemT", "ixs1")},
         |idxPT AS (SELECT doc_id FROM pdocs WHERE doc_id % 8 >= 4
         |  UNION ALL SELECT doc_id FROM madm2
         |  UNION ALL SELECT doc_id FROM madm3),
         |${bandedDay("PT", "xpbands", "xbits", imgJoin, "dP1", "idxPT",
            "phash")},
         |${bandedDay("AT", "xabands", "xabits", audJoin, "dP1", "idxPT",
            "audio")}
         |SELECT l.doc_id, l.decision AS d_lex, s.decision AS d_sem,
         |  p.decision AS d_ph, a.decision AS d_aud,
         |  CASE WHEN l.decision <> 'admitted' THEN l.decision
         |    WHEN s.decision <> 'admitted' THEN s.decision
         |    WHEN p.decision <> 'admitted' THEN p.decision
         |    WHEN a.decision <> 'admitted' THEN a.decision
         |    ELSE 'admitted' END AS decision
         |FROM decisionsLT l JOIN decSsT s ON s.vec_id = l.doc_id
         |  JOIN decBPT p ON p.doc_id = l.doc_id
         |  JOIN decBAT a ON a.doc_id = l.doc_id
         |ORDER BY l.doc_id""".stripMargin),

    Gate("q552_ttl_manifest", (s, dir) =>
      s.read.parquet(ttlLife(s, dir)._1.manifestRetract(1))
        .orderBy("shard"), oracle =
      // TTL manifest: shard manifest over the retained N-day corpus
      // (admitted days >= 2 only — snapshot + day 1 aged out).
      s"""WITH ${Curation9.nDayCtes},
         |$ttlCorpusCte,
         |${shardCte("m", "corpusT")}
         |$manifestCols
         |FROM m GROUP BY shard ORDER BY shard""".stripMargin),

    Gate("q553_ttl_tape", (s, dir) => {
      val a = ttlLife(s, dir)._1
      graft.ops.Pack.fullLayout(s, a, 0).orderBy("doc_id")
    }, oracle =
      // The rebuilt tape over the retained corpus (q528's contract at
      // the TTL boundary).
      s"""WITH ${Curation9.nDayCtes},
         |$ttlCorpusCte,
         |${tapeSql("corpusT")}""".stripMargin),

    Gate("q554_ttl_reoffer", (s, dir) =>
      ttlLife(s, dir)._2.orderBy("doc_id"), oracle =
      // TTL re-offer: the oldest victim's text readmits (unless a
      // retained doc still carries it), the surviving control stays
      // dup_exact_corpus — the q518 shape at the TTL boundary.
      s"""WITH ${Curation9.nDayCtes},
         |$ttlCorpusCte,
         |victT AS (SELECT doc_id, text FROM grown4
         |  WHERE doc_id NOT IN (SELECT doc_id FROM corpusT)),
         |batchT AS (
         |  SELECT CAST(9900001 AS BIGINT) AS doc_id, text FROM victT
         |    WHERE doc_id = (SELECT min(doc_id) FROM victT)
         |  UNION ALL SELECT 9900002, text FROM corpusT
         |    WHERE doc_id = (SELECT min(doc_id) FROM corpusT)),
         |${Curation.dedupDecisionCtes("corpusT", "batchT", "T")},
         |${Curation8.postGateCtes("T")}
         |SELECT doc_id, decision,
         |  CASE WHEN decision = 'admitted'
         |    THEN CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${graft.ops.CurationDay.NShards} AS INT) END AS shard
         |FROM finalT ORDER BY doc_id""".stripMargin),

    // The streamed 3-day multimodal lifecycle's pinned per-day
    // verdicts, all four stage columns disclosed.
    Gate("q542_mm_stream_decisions", (s, dir) =>
      MultiDay.allDecisions4(s, mmStream(s, dir)._1)
        .orderBy("day", "doc_id"), oracle = mmDecisionsSql),

    // The four index cards + the media artifact size + the recovery
    // facts pinned (ledger exactly [mm1, mm2, mm3]; the re-offered
    // committed day was a pure no-op).
    Gate("q543_mm_stream_cards", (s, dir) => {
      val (p, noop, days) = mmStream(s, dir)
      ledgerCards(MultiDay.indexCards4(s, p), noop, days)
    }, oracle =
      s"""WITH $mmCtes,
         |$mmCardAdmCtes
         |SELECT *, 'mm1,mm2,mm3' AS ledger_days, '1' AS replay_stable
         |FROM (
         |$mmCardRows""".stripMargin),

    // The decode-once media artifact: every asset's image dHash bytes
    // + audio fingerprint bytes, decoded exactly once per lifetime.
    Gate("q544_media_hashes", (s, dir) =>
      graft.ops.MediaHashes.read(s, mmStream(s, dir)._1.media)
        .orderBy("media_id"), oracle =
      s"""WITH $mmCtes
         |SELECT p.doc_id AS media_id,
         |  r0, r1, r2, r3, r4, r5, r6, r7,
         |  a0, a1, a2, a3, a4, a5, a6, a7
         |FROM xrb2 p JOIN xarb a ON a.doc_id = p.doc_id
         |WHERE p.doc_id IN (SELECT doc_id FROM pdocs)
         |  OR p.doc_id IN (SELECT sdoc FROM sm)
         |ORDER BY media_id""".stripMargin),

    // The BATCH engine path over the identical ledgered day step —
    // must equal q542's oracle row for row.
    Gate("q545_mm_batch_decisions", (s, dir) =>
      MultiDay.allDecisions4(s, mmBatch(s, dir))
        .orderBy("day", "doc_id"), oracle =
      // two delivery engines, one answer
      mmDecisionsSql),

    // The MAINTAINED chain (compactions between days) — decisions
    // bit-identical to the plain chain and the stream: maintenance
    // invariance proved at lifecycle level, not per op.
    Gate("q558_mm_maintained_decisions", (s, dir) =>
      MultiDay.allDecisions4(s, mmMaintained(s, dir))
        .orderBy("day", "doc_id"), oracle =
      // third path: maintenance interleaved, same answer
      mmDecisionsSql),

    // The admission-funnel card: per (day, stage) verdict mix straight
    // off the pinned decisions — the per-modality disclosure a steward
    // reads before trusting the combined verdict (model-sized; no
    // corpus scan).
    Gate("q555_mm_funnel", (s, dir) =>
      MultiDay.allDecisions4(s, mmStream(s, dir)._1)
        .selectExpr("day",
          "stack(5, 'aud', d_aud, 'lex', d_lex, 'overall', decision, " +
            "'ph', d_ph, 'sem', d_sem) AS (stage, verdict)")
        .groupBy("day", "stage", "verdict")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("day", "stage", "verdict"), oracle = {
      val days = (1 to 3).flatMap { k =>
        Seq(s"SELECT $k AS day, 'lex' AS stage, d_lex AS verdict FROM fin$k",
          s"SELECT $k, 'sem', d_sem FROM fin$k",
          s"SELECT $k, 'ph', d_ph FROM fin$k",
          s"SELECT $k, 'aud', d_aud FROM fin$k",
          s"SELECT $k, 'overall', decision FROM fin$k")
      }.mkString("\n  UNION ALL ")
      s"""WITH $mmCtes
         |SELECT day, stage, verdict,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM (
         |  $days)
         |GROUP BY 1, 2, 3
         |ORDER BY day, stage, verdict""".stripMargin
    }),

    // IVF search served off the occupancy-refit index — the cutover
    // leaves a serving artifact (same queries/k/nprobe as q525).
    Gate("q556_refit_search", (s, dir) =>
      SemIndex.search(s, refitLife(s, dir)._1,
          t(s, dir, "embeddings")
            .where(pmod(col("vec_id"), lit(8L)) === 6L)
            .select("vec_id", "embedding"),
          k = 5, nprobe = 2)
        .orderBy("qid", "rank"), oracle =
      // IVF retrieval SERVED off the refit index (the same queries as
      // q525, nprobe = 2, against the ⌈n/16⌉-cell re-bin): the
      // maintenance cutover leaves a fully serving search artifact.
      s"""WITH ${Curation11.semCtes},
         |$refitCtes,
         |qs AS (SELECT vec_id AS qid, e,
         |    sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
         |  FROM v WHERE vec_id % 8 = 6),
         |qc AS (SELECT qid, cell FROM (
         |  SELECT qs.qid, snr.sid AS cell,
         |      row_number() OVER (PARTITION BY qs.qid
         |      ORDER BY list_sum(list_transform(range(64),
         |        i -> qs.e[i+1] * se[i+1])) / (qs.qn * snrm) DESC, sid)
         |      AS rn
         |  FROM qs, snr) WHERE rn <= 2),
         |sc AS (SELECT q.qid, x.vec_id,
         |    list_sum(list_transform(range(64), i -> q.e[i+1] * x.e[i+1]))
         |      / (q.qn * x.nrm) AS cos
         |  FROM qc JOIN qs q USING (qid)
         |    JOIN cellr x ON x.cell = qc.cell)
         |SELECT qid, CAST(rank AS INT) AS rank, vec_id,
         |  round(cos, 6) + 0.0 AS cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rank FROM sc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    Gate("q546_audio_index_decisions", (s, dir) =>
      audioLife(s, dir)._2.orderBy("day", "media_id"), oracle =
      s"""WITH $audioLifeCtes
         |SELECT * FROM (
         |  SELECT 1 AS day, doc_id AS media_id, decision FROM decBa1
         |  UNION ALL SELECT 2, doc_id, decision FROM decBa2)
         |ORDER BY day, media_id""".stripMargin),

    Gate("q547_audio_index_card", (s, dir) =>
      PhashIndex.indexCard(s, audioLife(s, dir)._1).orderBy("band"), oracle =
      s"""WITH $audioLifeCtes
         |SELECT band, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(cnt) AS BIGINT) AS max_bucket
         |FROM (SELECT band, bv, count(*) AS cnt FROM yabands
         |  WHERE doc_id IN (SELECT doc_id FROM idxa3)
         |  GROUP BY 1, 2)
         |GROUP BY band ORDER BY band""".stripMargin))

  // ---- oracle: the AUDIO fingerprint, re-derived byte-by-byte ------

  /** The [[graft.ops.Multimodal.audioFingerprint]] contract in SQL:
    * byte p of n lands in window (p·65)//n, window energies compare
    * exactly by integer cross-multiplication, 64 sign bits pack into
    * 8 row-bytes a0..a7 (empty windows sum 0/count 0 → bit 0). Text
    * bytes via `ord(substr(..))` — the q290 documents-as-media
    * convention (ASCII-exact on the fixture).
    */
  private[queries] def audioCtes(src: String = "documents",
                                 sfx: String = ""): String = {
    val bytes = (0 until 8).map(j =>
      s"    CAST(sum(CASE WHEN i >= ${8 * j} AND i < ${8 * (j + 1)} " +
        s"THEN bit * (CAST(1 AS BIGINT) << (i - ${8 * j})) " +
        s"ELSE 0 END) AS BIGINT) AS a$j").mkString(",\n")
    s"""abr$sfx AS (SELECT doc_id, text, len(text) AS n,
       |    unnest(range(len(text))) AS p FROM $src WHERE len(text) > 0),
       |aw$sfx AS (SELECT doc_id, (p * 65) // n AS w,
       |    CAST(sum(ord(substr(text, CAST(p AS INTEGER) + 1, 1)))
       |      AS BIGINT) AS s,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM abr$sfx GROUP BY 1, 2),
       |awd$sfx AS (SELECT d.doc_id, r.w, coalesce(aw$sfx.s, 0) AS s,
       |    coalesce(aw$sfx.c, 0) AS c
       |  FROM (SELECT doc_id FROM $src) d
       |  CROSS JOIN (SELECT unnest(range(65)) AS w) r
       |  LEFT JOIN aw$sfx ON aw$sfx.doc_id = d.doc_id
       |    AND aw$sfx.w = r.w),
       |abits$sfx AS (SELECT a.doc_id, CAST(a.w AS INTEGER) AS i,
       |    CASE WHEN a.s * b.c > b.s * a.c THEN 1 ELSE 0 END AS bit
       |  FROM awd$sfx a JOIN awd$sfx b ON b.doc_id = a.doc_id
       |    AND b.w = a.w + 1
       |  WHERE a.w < 64),
       |arb$sfx AS (SELECT doc_id,
       |$bytes
       |  FROM abits$sfx GROUP BY doc_id),
       |abands$sfx AS (
       |  SELECT doc_id, 0 AS band, a0 * 256 + a1 AS bv FROM arb$sfx
       |  UNION ALL SELECT doc_id, 1, a2 * 256 + a3 FROM arb$sfx
       |  UNION ALL SELECT doc_id, 2, a4 * 256 + a5 FROM arb$sfx
       |  UNION ALL SELECT doc_id, 3, a6 * 256 + a7 FROM arb$sfx)""".stripMargin
  }

  /** One banded-Hamming stage day over any (bands, bits) table pair:
    * corpus candidates band-collide day ids against index ids and
    * verify exact Hamming ≤ 3; the WITHIN-DAY pass does the same
    * against strictly-smaller same-day ids (`dup_<label>_batch`,
    * corpus hits win) — [[graft.ops.PhashIndex.decisions]] with
    * `withinBatch = true`, verbatim.
    */
  private[queries] def bandedDay(sfx: String, bands: String, bits: String,
                        bitJoin: String, dayIds: String, idxIds: String,
                        label: String): String =
    s"""cB$sfx AS (SELECT DISTINCT a.doc_id AS did, b.doc_id AS cid
       |  FROM $bands a JOIN $bands b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id IN (SELECT doc_id FROM $dayIds)
       |    AND b.doc_id IN (SELECT doc_id FROM $idxIds)),
       |hB$sfx AS (SELECT DISTINCT did FROM (
       |  SELECT c.did, c.cid FROM cB$sfx c
       |    JOIN $bits x ON x.doc_id = c.did
       |    JOIN $bits y ON y.doc_id = c.cid AND $bitJoin
       |  GROUP BY 1, 2
       |  HAVING CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |    AS BIGINT) <= ${PhashIndex.MaxDist})),
       |cbB$sfx AS (SELECT DISTINCT a.doc_id AS did, b.doc_id AS cid
       |  FROM $bands a JOIN $bands b ON a.band = b.band AND a.bv = b.bv
       |    AND b.doc_id < a.doc_id
       |  WHERE a.doc_id IN (SELECT doc_id FROM $dayIds)
       |    AND b.doc_id IN (SELECT doc_id FROM $dayIds)),
       |hbB$sfx AS (SELECT DISTINCT did FROM (
       |  SELECT c.did, c.cid FROM cbB$sfx c
       |    JOIN $bits x ON x.doc_id = c.did
       |    JOIN $bits y ON y.doc_id = c.cid AND $bitJoin
       |  GROUP BY 1, 2
       |  HAVING CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |    AS BIGINT) <= ${PhashIndex.MaxDist})),
       |decB$sfx AS (SELECT d.doc_id, CASE
       |    WHEN d.doc_id IN (SELECT did FROM hB$sfx)
       |      THEN 'dup_${label}_corpus'
       |    WHEN d.doc_id IN (SELECT did FROM hbB$sfx)
       |      THEN 'dup_${label}_batch'
       |    ELSE 'admitted' END AS decision
       |  FROM $dayIds d)""".stripMargin

  /** [[bandedDay]] WITHOUT the within-day pass — the q538 default
    * contract the standalone audio lifecycle runs under.
    */
  private def bandedDayCorpus(sfx: String, bands: String, bits: String,
                              bitJoin: String, dayIds: String,
                              idxIds: String, label: String): String =
    s"""cB$sfx AS (SELECT DISTINCT a.doc_id AS did, b.doc_id AS cid
       |  FROM $bands a JOIN $bands b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id IN (SELECT doc_id FROM $dayIds)
       |    AND b.doc_id IN (SELECT doc_id FROM $idxIds)),
       |hB$sfx AS (SELECT DISTINCT did FROM (
       |  SELECT c.did, c.cid FROM cB$sfx c
       |    JOIN $bits x ON x.doc_id = c.did
       |    JOIN $bits y ON y.doc_id = c.cid AND $bitJoin
       |  GROUP BY 1, 2
       |  HAVING CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |    AS BIGINT) <= ${PhashIndex.MaxDist})),
       |decB$sfx AS (SELECT d.doc_id, CASE
       |    WHEN d.doc_id IN (SELECT did FROM hB$sfx)
       |      THEN 'dup_${label}_corpus'
       |    ELSE 'admitted' END AS decision
       |  FROM $dayIds d)""".stripMargin

  /** 4-stage semantic day: corpus hits against the grown cell index
    * plus the within-day smaller-id pass over the day's own cell
    * frame ([[graft.ops.SemIndex.decisions]] `withinBatch = true`).
    * Expects `ix$sfx` from [[Curation11.cellCtes]].
    */
  private[queries] def semDay4(sfx: String, idxSrc: String,
                      deltaIx: String = ""): String = {
    val dix = if (deltaIx.isEmpty) s"ix$sfx" else deltaIx
    val cos = "list_sum(list_transform(range(64), " +
      "i -> a.e[i+1] * b.e[i+1])) / (a.nrm * b.nrm)"
    s"""hitS$sfx AS (SELECT DISTINCT a.vec_id FROM $dix a
       |  JOIN $idxSrc b ON a.cell = b.cell
       |  WHERE $cos >= ${SemIndex.MinCos}),
       |bhitS$sfx AS (SELECT DISTINCT a.vec_id FROM $dix a
       |  JOIN $dix b ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  WHERE $cos >= ${SemIndex.MinCos}),
       |decS$sfx AS (SELECT a.vec_id, CASE
       |    WHEN h.vec_id IS NOT NULL THEN 'dup_sem_corpus'
       |    WHEN bh.vec_id IS NOT NULL THEN 'dup_sem_batch'
       |    ELSE 'admitted' END AS decision
       |  FROM $dix a LEFT JOIN hitS$sfx h ON h.vec_id = a.vec_id
       |    LEFT JOIN bhitS$sfx bh ON bh.vec_id = a.vec_id)""".stripMargin
  }

  /** The fired-refit re-derivation over the grown index (idx3): the
    * DYNAMIC ⌈n/16⌉ cell count, the q535 init-only seed contract at
    * that count (rank positions over the distinct-sorted 128-cap),
    * and the re-binned index `cellr(vec_id, cell, e, nrm)` — shared
    * by the q549 card and the q556 search.
    */
  private def refitCtes: String =
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

  private def fin(k: Int, lexDec: String, semDec: String, phDec: String,
                  audDec: String): String =
    s"""fin$k AS MATERIALIZED (SELECT l.doc_id, l.decision AS d_lex,
       |    s.decision AS d_sem, p.decision AS d_ph, a.decision AS d_aud,
       |    CASE WHEN l.decision <> 'admitted' THEN l.decision
       |      WHEN s.decision <> 'admitted' THEN s.decision
       |      WHEN p.decision <> 'admitted' THEN p.decision
       |      WHEN a.decision <> 'admitted' THEN a.decision
       |      ELSE 'admitted' END AS decision
       |  FROM $lexDec l JOIN $semDec s ON s.vec_id = l.doc_id
       |    JOIN $phDec p ON p.doc_id = l.doc_id
       |    JOIN $audDec a ON a.doc_id = l.doc_id),
       |madm$k AS (SELECT doc_id FROM fin$k
       |  WHERE decision = 'admitted')""".stripMargin

  private val imgJoin = "y.cy = x.cy AND y.cx = x.cx"
  private val audJoin = "y.i = x.i"

  /** The COMPOSED 3-day, 4-stage re-derivation: the lexical chain
    * ([[Curation.dedupDecisionCtes]] over a growing corpus), the
    * semantic chain ([[Curation11.semSeedCtes]]/cellCtes + the
    * within-day pass), the image chain ([[Curation11.phashCtes]] at
    * pair grouping), and the audio chain ([[audioCtes]]) — combined
    * per day under the fixed stage priority, index sets grown by each
    * day's OVERALL admissions only, with the three day-3 sentinels
    * derived from the chain's own day-1/-2 verdicts (the q492
    * planting rule: 9600001/9600002 full-clone the smallest day-1/-2
    * admitted doc — every stage must flag them via the earlier day's
    * appends alone; 9600003 full-clones the smallest day-3 organic
    * doc — a same-day clone that can never be admitted).
    */
  private[queries] def mmCtes: String =
    s"""v AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |pdocs AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
       |  JOIN v ON v.vec_id = d.doc_id),
       |msnapv AS (SELECT * FROM v WHERE vec_id % 8 >= 4),
       |${Curation11.semSeedCtes("msnapv")},
       |${Curation11.cellCtes("msnapv", "ms")},
       |${Curation11.phashCtes("(d.doc_id - d.doc_id % 2)")},
       |${audioCtes()},
       |lcorp1 AS MATERIALIZED (SELECT doc_id, text FROM pdocs
       |  WHERE doc_id % 8 >= 4),
       |lb1 AS (SELECT doc_id, text FROM pdocs WHERE doc_id % 8 = 0),
       |${Curation.dedupDecisionCtes("lcorp1", "lb1", "L1")},
       |dv1 AS (SELECT * FROM v WHERE vec_id % 8 = 0),
       |${Curation11.cellCtes("dv1", "s1")},
       |${semDay4("s1", "ixms")},
       |dP1 AS (SELECT doc_id FROM pdocs WHERE doc_id % 8 = 0),
       |idxP1 AS (SELECT doc_id FROM pdocs WHERE doc_id % 8 >= 4),
       |${bandedDay("P1", "pbands", "bits", imgJoin, "dP1", "idxP1",
          "phash")},
       |${bandedDay("A1", "abands", "abits", audJoin, "dP1", "idxP1",
          "audio")},
       |${fin(1, "decisionsL1", "decSs1", "decBP1", "decBA1")},
       |lcorp2 AS MATERIALIZED (SELECT doc_id, text FROM lcorp1
       |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
       |    JOIN madm1 USING (doc_id)),
       |lb2 AS (SELECT doc_id, text FROM pdocs WHERE doc_id % 8 = 1),
       |${Curation.dedupDecisionCtes("lcorp2", "lb2", "L2")},
       |ixsem2 AS (SELECT cell, vec_id, e, nrm FROM ixms
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixs1
       |    WHERE vec_id IN (SELECT doc_id FROM madm1)),
       |dv2 AS (SELECT * FROM v WHERE vec_id % 8 = 1),
       |${Curation11.cellCtes("dv2", "s2")},
       |${semDay4("s2", "ixsem2")},
       |dP2 AS (SELECT doc_id FROM pdocs WHERE doc_id % 8 = 1),
       |idxP2 AS (SELECT doc_id FROM idxP1
       |  UNION ALL SELECT doc_id FROM madm1),
       |${bandedDay("P2", "pbands", "bits", imgJoin, "dP2", "idxP2",
          "phash")},
       |${bandedDay("A2", "abands", "abits", audJoin, "dP2", "idxP2",
          "audio")},
       |${fin(2, "decisionsL2", "decSs2", "decBP2", "decBA2")},
       |sm AS MATERIALIZED (SELECT CAST(9600001 AS BIGINT) AS sdoc,
       |    (SELECT min(doc_id) FROM fin1 WHERE decision = 'admitted')
       |      AS src
       |  UNION ALL SELECT 9600002,
       |    (SELECT min(doc_id) FROM fin2 WHERE decision = 'admitted')
       |  UNION ALL SELECT 9600003,
       |    (SELECT min(doc_id) FROM pdocs
       |      WHERE doc_id % 8 IN (2, 3))),
       |xdocs AS (SELECT doc_id, text FROM pdocs
       |  UNION ALL SELECT sm.sdoc, d.text FROM sm
       |    JOIN pdocs d ON d.doc_id = sm.src),
       |xv AS (SELECT vec_id, e FROM v
       |  UNION ALL SELECT sm.sdoc, v.e FROM sm
       |    JOIN v ON v.vec_id = sm.src),
       |xpbands AS (SELECT doc_id, band, bv FROM pbands
       |  UNION ALL SELECT sm.sdoc, band, bv FROM sm
       |    JOIN pbands p ON p.doc_id = sm.src),
       |xbits AS (SELECT doc_id, cy, cx, bit FROM bits
       |  UNION ALL SELECT sm.sdoc, cy, cx, bit FROM sm
       |    JOIN bits b ON b.doc_id = sm.src),
       |xabands AS (SELECT doc_id, band, bv FROM abands
       |  UNION ALL SELECT sm.sdoc, band, bv FROM sm
       |    JOIN abands p ON p.doc_id = sm.src),
       |xabits AS (SELECT doc_id, i, bit FROM abits
       |  UNION ALL SELECT sm.sdoc, i, bit FROM sm
       |    JOIN abits b ON b.doc_id = sm.src),
       |xrb2 AS (SELECT * FROM rb2
       |  UNION ALL SELECT sm.sdoc, r0, r1, r2, r3, r4, r5, r6, r7
       |    FROM sm JOIN rb2 r ON r.doc_id = sm.src),
       |xarb AS (SELECT * FROM arb
       |  UNION ALL SELECT sm.sdoc, a0, a1, a2, a3, a4, a5, a6, a7
       |    FROM sm JOIN arb r ON r.doc_id = sm.src),
       |lcorp3 AS MATERIALIZED (SELECT doc_id, text FROM lcorp2
       |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
       |    JOIN madm2 USING (doc_id)),
       |lb3 AS (SELECT doc_id, text FROM xdocs
       |  WHERE doc_id % 8 IN (2, 3) OR doc_id IN (SELECT sdoc FROM sm)),
       |${Curation.dedupDecisionCtes("lcorp3", "lb3", "L3")},
       |ixsem3 AS (SELECT cell, vec_id, e, nrm FROM ixsem2
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixs2
       |    WHERE vec_id IN (SELECT doc_id FROM madm2)),
       |dv3 AS (SELECT vec_id, e FROM xv
       |  WHERE vec_id % 8 IN (2, 3) OR vec_id IN (SELECT sdoc FROM sm)),
       |${Curation11.cellCtes("dv3", "s3")},
       |${semDay4("s3", "ixsem3")},
       |dP3 AS (SELECT doc_id FROM xdocs
       |  WHERE doc_id % 8 IN (2, 3) OR doc_id IN (SELECT sdoc FROM sm)),
       |idxP3 AS (SELECT doc_id FROM idxP2
       |  UNION ALL SELECT doc_id FROM madm2),
       |${bandedDay("P3", "xpbands", "xbits", imgJoin, "dP3", "idxP3",
          "phash")},
       |${bandedDay("A3", "xabands", "xabits", audJoin, "dP3", "idxP3",
          "audio")},
       |${fin(3, "decisionsL3", "decSs3", "decBP3", "decBA3")}""".stripMargin

  private val sh8 = graft.ops.Dedup.shinglesSql("text", 8)
  private val sh2 = graft.ops.Dedup.shinglesSql("text", 2)

  /** One day's contamination + quality post-gate columns over the
    * `lb$sfx(doc_id, text)` batch CTE — [[graft.ops.MultiDay
    * .decisions6]]'s two gates verbatim (ContamPpm ppm of distinct
    * 8-grams shared with the bench gram set `mgr6`; RepTenths tenths
    * of duplicate 2-gram mass).
    */
  private[queries] def postGate6(sfx: String): String = {
    val cp = graft.ops.CurationDay.ContamPpm
    val rt = graft.ops.CurationDay.RepTenths
    s"""ct$sfx AS (SELECT doc_id,
       |    CAST(len(list_distinct($sh8)) AS BIGINT) AS n_grams
       |  FROM lb$sfx),
       |cg$sfx AS (SELECT doc_id, unnest(list_distinct($sh8)) AS g
       |  FROM lb$sfx),
       |ch$sfx AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM cg$sfx JOIN mgr6 USING (g) GROUP BY 1),
       |decC$sfx AS (SELECT ct$sfx.doc_id,
       |    CASE WHEN coalesce(c, 0) * 1000000 > $cp * n_grams
       |      THEN 'contaminated' ELSE 'admitted' END AS decision
       |  FROM ct$sfx LEFT JOIN ch$sfx USING (doc_id)),
       |decQ$sfx AS (SELECT doc_id,
       |    CASE WHEN (CAST(len($sh2) AS BIGINT)
       |        - CAST(len(list_distinct($sh2)) AS BIGINT)) * 10
       |      > $rt * CAST(len($sh2) AS BIGINT)
       |      THEN 'low_quality' ELSE 'admitted' END AS decision
       |  FROM lb$sfx)""".stripMargin
  }

  private[queries] def fin6(k: Int, sfx: String): String =
    s"""fin6$k AS MATERIALIZED (SELECT l.doc_id, l.decision AS d_lex,
       |    s.decision AS d_sem, p.decision AS d_ph, a.decision AS d_aud,
       |    c.decision AS d_contam, q.decision AS d_qual,
       |    CASE WHEN l.decision <> 'admitted' THEN l.decision
       |      WHEN s.decision <> 'admitted' THEN s.decision
       |      WHEN p.decision <> 'admitted' THEN p.decision
       |      WHEN a.decision <> 'admitted' THEN a.decision
       |      WHEN c.decision <> 'admitted' THEN c.decision
       |      WHEN q.decision <> 'admitted' THEN q.decision
       |      ELSE 'admitted' END AS decision
       |  FROM decisions$sfx l JOIN decSs$sfx s ON s.vec_id = l.doc_id
       |    JOIN decBP$sfx p ON p.doc_id = l.doc_id
       |    JOIN decBA$sfx a ON a.doc_id = l.doc_id
       |    JOIN decC$sfx c ON c.doc_id = l.doc_id
       |    JOIN decQ$sfx q ON q.doc_id = l.doc_id),
       |madm6$k AS (SELECT doc_id FROM fin6$k
       |  WHERE decision = 'admitted')""".stripMargin

  /** The full-stack two-day re-derivation: the q542 machinery on the
    * bench-excluded pool (%4 split) with the two post-gate columns
    * composed in, sentinel 9700001 derived from day-1's own
    * post-gate rejections.
    */
  private[queries] def mm6Ctes: String =
    s"""v AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |mbench AS MATERIALIZED (SELECT doc_id, text FROM documents
       |  WHERE source = 'src0'),
       |mgr6 AS MATERIALIZED (SELECT DISTINCT
       |    unnest(list_distinct($sh8)) AS g FROM mbench),
       |pool6 AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
       |  JOIN v ON v.vec_id = d.doc_id WHERE d.source <> 'src0'),
       |snap6v AS (SELECT v.vec_id, v.e FROM v
       |  JOIN pool6 p ON p.doc_id = v.vec_id
       |  WHERE p.doc_id % 4 IN (2, 3)),
       |${Curation11.semSeedCtes("snap6v")},
       |${Curation11.cellCtes("snap6v", "m6")},
       |${Curation11.phashCtes("(d.doc_id - d.doc_id % 2)")},
       |${audioCtes()},
       |lcorp61 AS MATERIALIZED (SELECT doc_id, text FROM pool6
       |  WHERE doc_id % 4 IN (2, 3)),
       |lbL61 AS (SELECT doc_id, text FROM pool6 WHERE doc_id % 4 = 0),
       |${Curation.dedupDecisionCtes("lcorp61", "lbL61", "L61")},
       |dv61 AS (SELECT v.vec_id, v.e FROM v
       |  JOIN pool6 p ON p.doc_id = v.vec_id WHERE p.doc_id % 4 = 0),
       |${Curation11.cellCtes("dv61", "sL61")},
       |${semDay4("sL61", "ixm6")},
       |dPL61 AS (SELECT doc_id FROM pool6 WHERE doc_id % 4 = 0),
       |idxPL61 AS (SELECT doc_id FROM pool6 WHERE doc_id % 4 IN (2, 3)),
       |${bandedDay("PL61", "pbands", "bits", imgJoin, "dPL61",
          "idxPL61", "phash")},
       |${bandedDay("AL61", "abands", "abits", audJoin, "dPL61",
          "idxPL61", "audio")},
       |${postGate6("L61")},
       |${fin6(1, "L61")},
       |spamt AS (SELECT CAST(9700002 AS BIGINT) AS doc_id,
       |    repeat('spam ', 39) || 'spam' AS text),
       |${audioCtes("spamt", "sp")},
       |sm6 AS MATERIALIZED (
       |  SELECT CAST(9700001 AS BIGINT) AS sdoc,
       |    (SELECT min(doc_id) FROM fin61
       |      WHERE decision IN ('contaminated', 'low_quality')) AS src
       |  UNION ALL SELECT 9700002,
       |    (SELECT min(doc_id) FROM pool6 WHERE doc_id % 4 = 1)
       |  UNION ALL SELECT 9700003,
       |    (SELECT min(doc_id) FROM fin61 WHERE decision = 'admitted')),
       |lcorp62 AS MATERIALIZED (SELECT doc_id, text FROM lcorp61
       |  UNION ALL SELECT p.doc_id, p.text FROM pool6 p
       |    JOIN madm61 USING (doc_id)),
       |lbL62 AS (SELECT doc_id, text FROM pool6 WHERE doc_id % 4 = 1
       |  UNION ALL SELECT sm6.sdoc, p.text FROM sm6
       |    JOIN pool6 p ON p.doc_id = sm6.src
       |    WHERE sm6.sdoc <> 9700002
       |  UNION ALL SELECT doc_id, text FROM spamt),
       |${Curation.dedupDecisionCtes("lcorp62", "lbL62", "L62")},
       |ixsem62 AS (SELECT cell, vec_id, e, nrm FROM ixm6
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixsL61
       |    WHERE vec_id IN (SELECT doc_id FROM madm61)),
       |dv62 AS (SELECT v.vec_id, v.e FROM v
       |  JOIN pool6 p ON p.doc_id = v.vec_id WHERE p.doc_id % 4 = 1
       |  UNION ALL SELECT sm6.sdoc, v.e FROM sm6
       |    JOIN v ON v.vec_id = sm6.src),
       |${Curation11.cellCtes("dv62", "sL62")},
       |${semDay4("sL62", "ixsem62")},
       |xpb6 AS (SELECT doc_id, band, bv FROM pbands
       |  UNION ALL SELECT sm6.sdoc, band, bv FROM sm6
       |    JOIN pbands p ON p.doc_id = sm6.src),
       |xbi6 AS (SELECT doc_id, cy, cx, bit FROM bits
       |  UNION ALL SELECT sm6.sdoc, cy, cx, bit FROM sm6
       |    JOIN bits b ON b.doc_id = sm6.src),
       |xab6 AS (SELECT doc_id, band, bv FROM abands
       |  UNION ALL SELECT sm6.sdoc, band, bv FROM sm6
       |    JOIN abands p ON p.doc_id = sm6.src
       |    WHERE sm6.sdoc <> 9700002
       |  UNION ALL SELECT doc_id, band, bv FROM abandssp),
       |xabi6 AS (SELECT doc_id, i, bit FROM abits
       |  UNION ALL SELECT sm6.sdoc, i, bit FROM sm6
       |    JOIN abits b ON b.doc_id = sm6.src
       |    WHERE sm6.sdoc <> 9700002
       |  UNION ALL SELECT doc_id, i, bit FROM abitssp),
       |dPL62 AS (SELECT doc_id FROM pool6 WHERE doc_id % 4 = 1
       |  UNION ALL SELECT sm6.sdoc AS doc_id FROM sm6
       |    WHERE sm6.src IS NOT NULL),
       |idxPL62 AS (SELECT doc_id FROM idxPL61
       |  UNION ALL SELECT doc_id FROM madm61),
       |${bandedDay("PL62", "xpb6", "xbi6", imgJoin, "dPL62",
          "idxPL62", "phash")},
       |${bandedDay("AL62", "xab6", "xabi6", audJoin, "dPL62",
          "idxPL62", "audio")},
       |${postGate6("L62")},
       |${fin6(2, "L62")}""".stripMargin

  private[queries] def mmDecisionsSql: String =
    s"""WITH $mmCtes
       |SELECT * FROM (
       |  SELECT 1 AS day, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM fin1
       |  UNION ALL SELECT 2, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM fin2
       |  UNION ALL SELECT 3, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM fin3)
       |ORDER BY day, doc_id""".stripMargin

  // ---- oracle: the standalone audio lifecycle ----------------------

  private def audioLifeCtes: String =
    s"""${audioCtes()},
       |idxa1 AS (SELECT doc_id FROM documents WHERE doc_id % 4 IN (2, 3)),
       |da1 AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
       |${bandedDayCorpus("a1", "abands", "abits", audJoin, "da1",
          "idxa1", "audio")},
       |sa AS (SELECT CAST(9800001 AS BIGINT) AS sdoc,
       |    (SELECT min(doc_id) FROM decBa1 WHERE decision = 'admitted')
       |      AS src),
       |yabands AS (SELECT doc_id, band, bv FROM abands
       |  UNION ALL SELECT sa.sdoc, band, bv FROM sa
       |    JOIN abands p ON p.doc_id = sa.src),
       |yabits AS (SELECT doc_id, i, bit FROM abits
       |  UNION ALL SELECT sa.sdoc, i, bit FROM sa
       |    JOIN abits b ON b.doc_id = sa.src),
       |idxa2 AS (SELECT doc_id FROM idxa1
       |  UNION ALL SELECT doc_id FROM decBa1 WHERE decision = 'admitted'),
       |da2 AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 1
       |  UNION ALL SELECT sdoc FROM sa),
       |${bandedDayCorpus("a2", "yabands", "yabits", audJoin, "da2",
          "idxa2", "audio")},
       |idxa3 AS (SELECT doc_id FROM idxa2
       |  UNION ALL SELECT doc_id FROM decBa2 WHERE decision = 'admitted')""".stripMargin

  /** The retained N-day corpus after the day-1 TTL: admitted days 2..4. */
  private[queries] val ttlCorpusCte: String =
    """corpusT AS MATERIALIZED (
      |  SELECT doc_id, text FROM admf2
      |  UNION ALL SELECT doc_id, text FROM admf3
      |  UNION ALL SELECT doc_id, text FROM admf4)""".stripMargin

  /** `from`'s docs with shard, token count and content hash h, as `name`. */
  private[queries] def shardCte(name: String, from: String): String =
    s"""$name AS (SELECT doc_id,
       |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
       |      % ${graft.ops.CurationDay.NShards} AS INT) AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    (${h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")}) AS h
       |  FROM $from)""".stripMargin

  /** The shard manifest's per-shard columns over a [[shardCte]]. */
  private[queries] val manifestCols: String =
    """SELECT shard, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id,
      |  bit_xor(h) AS checksum""".stripMargin

  /** The packing tape rebuilt over `from`'s docs: pt, tape and its rows. */
  private[queries] def tapeSql(from: String): String =
    s"""pt AS (SELECT 0 AS day, doc_id,
       |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
       |      % ${graft.ops.CurationDay.NShards} AS INT) AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM $from),
       |tape AS (SELECT day, doc_id, shard, n_tok,
       |    CAST(sum(n_tok) OVER (ORDER BY shard, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM pt)
       |SELECT day, doc_id, shard, n_tok,
       |  cum - n_tok AS start_tok,
       |  (cum - n_tok) // ${graft.ops.Pack.SeqLen} AS first_seq,
       |  (cum - 1) // ${graft.ops.Pack.SeqLen} AS last_seq
       |FROM tape ORDER BY doc_id""".stripMargin

  /** The q557 cap machinery (masses → 55% cap → horizon → capped
    * corpus), shared by the streamed-cap oracles.
    */
  private[queries] val capCtes: String =
    s"""mass AS (
       |  SELECT 1 AS day, CAST(sum(len(string_split(text, ' ')))
       |    AS BIGINT) AS m FROM admf1
       |  UNION ALL SELECT 2, CAST(sum(len(string_split(text, ' ')))
       |    AS BIGINT) FROM admf2
       |  UNION ALL SELECT 3, CAST(sum(len(string_split(text, ' ')))
       |    AS BIGINT) FROM admf3
       |  UNION ALL SELECT 4, CAST(sum(len(string_split(text, ' ')))
       |    AS BIGINT) FROM admf4),
       |cap AS (SELECT (CAST(sum(m) AS BIGINT) * 55) // 100 AS c
       |  FROM mass),
       |keepk AS (SELECT CAST(min(k) AS BIGINT) AS k FROM (
       |  SELECT ks.k, sum(m) AS tail
       |  FROM (SELECT unnest(range(1, 5)) AS k) ks
       |  JOIN mass ON mass.day >= ks.k GROUP BY ks.k)
       |  WHERE tail <= (SELECT c FROM cap)),
       |corpusC AS MATERIALIZED (
       |  SELECT doc_id, text FROM admf1
       |    WHERE (SELECT k FROM keepk) <= 1
       |  UNION ALL SELECT doc_id, text FROM admf2
       |    WHERE (SELECT k FROM keepk) <= 2
       |  UNION ALL SELECT doc_id, text FROM admf3
       |    WHERE (SELECT k FROM keepk) <= 3
       |  UNION ALL SELECT doc_id, text FROM admf4
       |    WHERE (SELECT k FROM keepk) <= 4)""".stripMargin

  /** q543's lexical corpus after day 3 and the three days' admission counts. */
  private[queries] val mmCardAdmCtes: String =
    """lcorp4 AS (SELECT doc_id, text FROM lcorp3
      |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
      |    JOIN madm3 USING (doc_id)),
      |adm AS (SELECT count(*) AS n1 FROM madm1),
      |adm2c AS (SELECT count(*) AS n2 FROM madm2),
      |adm3c AS (SELECT count(*) AS n3 FROM madm3)""".stripMargin

  /** q543's card rows (modality, metric, value) over lcorp4 and the counts. */
  private[queries] val mmCardRows: String =
    """  SELECT 'lexical' AS modality, 'n_hashes' AS metric,
      |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS value
      |    FROM lcorp4
      |  UNION ALL SELECT 'lexical', 'n_band_rows',
      |    4 * count(*) FROM lcorp4
      |  UNION ALL SELECT 'semantic', 'n_vecs',
      |    (SELECT count(*) FROM msnapv) + (SELECT n1 FROM adm)
      |      + (SELECT n2 FROM adm2c) + (SELECT n3 FROM adm3c)
      |  UNION ALL SELECT 'perceptual', 'n_hashes',
      |    (SELECT count(*) FROM idxP3) + (SELECT n3 FROM adm3c)
      |  UNION ALL SELECT 'perceptual', 'n_band_rows',
      |    4 * ((SELECT count(*) FROM idxP3) + (SELECT n3 FROM adm3c))
      |  UNION ALL SELECT 'audio', 'n_hashes',
      |    (SELECT count(*) FROM idxP3) + (SELECT n3 FROM adm3c)
      |  UNION ALL SELECT 'audio', 'n_band_rows',
      |    4 * ((SELECT count(*) FROM idxP3) + (SELECT n3 FROM adm3c))
      |  UNION ALL SELECT 'media', 'n_assets',
      |    (SELECT count(*) FROM pdocs) + 3)
      |ORDER BY modality, metric""".stripMargin

  /** The two six-stage days' composed decisions. */
  private[queries] val mm6DecisionRows: String =
    """SELECT * FROM (
      |  SELECT 1 AS day, doc_id, d_lex, d_sem, d_ph, d_aud,
      |    d_contam, d_qual, decision FROM fin61
      |  UNION ALL SELECT 2, doc_id, d_lex, d_sem, d_ph, d_aud,
      |    d_contam, d_qual, decision FROM fin62)
      |ORDER BY day, doc_id""".stripMargin

  /** The six-stage card rows over lcorp63. */
  private[queries] val mm6CardRows: String =
    """  SELECT 'lexical' AS modality, 'n_hashes' AS metric,
      |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS value
      |    FROM lcorp63
      |  UNION ALL SELECT 'lexical', 'n_band_rows',
      |    4 * count(*) FROM lcorp63
      |  UNION ALL SELECT 'semantic', 'n_vecs', count(*) FROM lcorp63
      |  UNION ALL SELECT 'perceptual', 'n_hashes',
      |    count(*) FROM lcorp63
      |  UNION ALL SELECT 'perceptual', 'n_band_rows',
      |    4 * count(*) FROM lcorp63
      |  UNION ALL SELECT 'audio', 'n_hashes', count(*) FROM lcorp63
      |  UNION ALL SELECT 'audio', 'n_band_rows',
      |    4 * count(*) FROM lcorp63
      |  UNION ALL SELECT 'media', 'n_assets',
      |    (SELECT count(*) FROM pool6)
      |      + (SELECT count(*) FROM sm6 WHERE src IS NOT NULL))
      |ORDER BY modality, metric""".stripMargin

  /** The retained docs after the day-1 TTL: snapshot + day-2/-3 admissions. */
  private[queries] val ttlRetCte: String =
    """ret AS MATERIALIZED (SELECT doc_id, text FROM pdocs
      |  WHERE doc_id % 8 >= 4
      |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
      |    JOIN madm2 USING (doc_id)
      |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
      |    JOIN madm3 USING (doc_id))""".stripMargin

  /** The card rows over the retained docs `ret`. */
  private[queries] val ttlCardRows: String =
    """  SELECT 'lexical' AS modality, 'n_hashes' AS metric,
      |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS value FROM ret
      |  UNION ALL SELECT 'lexical', 'n_band_rows',
      |    4 * count(*) FROM ret
      |  UNION ALL SELECT 'semantic', 'n_vecs', count(*) FROM ret
      |  UNION ALL SELECT 'perceptual', 'n_hashes', count(*) FROM ret
      |  UNION ALL SELECT 'perceptual', 'n_band_rows',
      |    4 * count(*) FROM ret
      |  UNION ALL SELECT 'audio', 'n_hashes', count(*) FROM ret
      |  UNION ALL SELECT 'audio', 'n_band_rows',
      |    4 * count(*) FROM ret
      |  UNION ALL SELECT 'media', 'n_assets',
      |    (SELECT count(*) FROM pdocs) + 3)
      |ORDER BY modality, metric""".stripMargin
}
