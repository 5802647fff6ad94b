package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.Q._
import graft.ops.Dedup.h60Sql

/** Round-11 batch, part 2 — the trainer-facing PACK tape over the
  * streamed N-day lifecycle: the curated corpus laid out as one
  * contiguous fixed-length-sequence token stream, extended
  * incrementally by each admitted day ([[graft.ops.Pack]], run inside
  * the same ledgered day transaction q505–q510 gate). q519 gates the
  * full four-day tape row-for-row against a from-scratch DuckDB
  * re-derivation of the whole stream (every start_tok / first_seq /
  * last_seq); q520 gates the per-day pack report (mass, sequence
  * span, boundary-straddling docs, stream position).
  */
object Curation11 extends Gates {

  import graft.ops.{CurationDay, CurationNDay, Pack, SemIndex}

  /** The two-day SEMANTIC-index lifecycle, once per dir per JVM:
    * bootstrap (frozen seeds + cell-partitioned snapshot index on
    * vec_id%4 ∈ {2,3}) → day 1 (%4 == 0) decisions + admit → day 2
    * (%4 == 1 PLUS sentinel 9500001 = verbatim embedding of the
    * smallest day-1 ADMITTED vector, which must come back
    * dup_sem_corpus via the APPENDED cells — the lifecycle witness).
    */
  private[queries] val semLife = Fixture.rooted("graft_sem_index_") { (s, d, root) =>
    val p = SemIndex.Paths(root)
    val emb = tp(s, d, "embeddings").select("vec_id", "embedding")
    SemIndex.bootstrap(s,
      emb.where(pmod(col("vec_id"), lit(4L)).isin(2L, 3L)), p)
    val dec1 = SemIndex.processDay(s, p, 1,
      emb.where(pmod(col("vec_id"), lit(4L)) === 0L))
    val sentinel = dec1.where(col("decision") === "admitted")
      .orderBy("vec_id").limit(1).select("vec_id")
      .join(emb, "vec_id")
      .select(lit(9500001L).as("vec_id"), col("embedding"))
    val dec2 = SemIndex.processDay(s, p, 2,
      emb.where(pmod(col("vec_id"), lit(4L)) === 1L)
        .unionByName(sentinel))
    val all = dec1.select(lit(1).as("day"), col("vec_id"), col("cell"),
        col("decision"))
      .unionByName(dec2.select(lit(2).as("day"), col("vec_id"),
        col("cell"), col("decision")))
      .localCheckpoint(true)
    (p, all)
  }

  /** The STREAMED semantic lifecycle (same two days, the
    * [[graft.streaming.SemStream]] delivery engine: file source →
    * ledgered foreachBatch days, kill/restart between days, replayed
    * committed day re-offered and no-op'd) — third engine path onto
    * q521/q522's oracle.
    */
  private val semStreamed = Fixture.rooted("graft_sem_stream_") { (s, d, root) =>
    val p = SemIndex.Paths(root)
    val (days, stable) = graft.streaming.SemStream.runDaysStreamed(
      s, d, p, s"$root/landing", s"$root/cp", s"$root/ledger")
    (p, days, stable)
  }

  /** The two-day PERCEPTUAL-index lifecycle (the q286 grouped-payload
    * construction: image id rounded to its group-of-3 base, so group
    * members share payloads). The split is GROUP-aware so BOTH
    * decision branches carry weight and day 2 witnesses day-1
    * appends: odd group ordinals go wholly to the snapshot; for even
    * ordinals the base member (id%3==0) arrives on day 1 (no snapshot
    * member shares its payload → ADMITTED and appended) and its two
    * co-members arrive on day 2 (dup_phash_corpus via the hash day 1
    * appended — the lifecycle witness, with zero snapshot
    * involvement). Day 1 additionally carries the odd groups' %3==1
    * members (their co-members sit in the snapshot → day-1
    * dup_phash_corpus), so BOTH branches fire on day 1 and the day-2
    * dups isolate the append path. Each day runs through the pinned
    * [[graft.ops.PhashIndex.processDay]].
    */
  private val phashLife = Fixture.rooted("graft_phash_index_") { (s, d, root) =>
    val p = graft.ops.PhashIndex.Paths(root)
    val png = graft.ops.Multimodal.pngVarUdf
    def hashed(pred: org.apache.spark.sql.Column) =
      graft.ops.Multimodal.dHash(graft.ops.Multimodal.decodeCells(
        t(s, d, "documents").where(pred)
          .select(col("doc_id").as("media_id"),
            png(col("doc_id") - pmod(col("doc_id"), lit(3L)))
              .as("payload"))))
    val grp = graft.functions.PixieFunctions.idiv(
      col("doc_id") - pmod(col("doc_id"), lit(3L)), 3L)
    val m3 = pmod(col("doc_id"), lit(3L))
    graft.ops.PhashIndex.write(s,
      hashed(pmod(grp, lit(2L)) === 1L && m3.isin(0L, 2L)), p)
    // day 1 mixes both branches: even-group bases ADMIT (and append),
    // odd-group %3==1 members DUP against their snapshot co-members
    val dec1 = graft.ops.PhashIndex.processDay(s, p, 1,
      hashed((pmod(grp, lit(2L)) === 0L && m3 === 0L) ||
        (pmod(grp, lit(2L)) === 1L && m3 === 1L)))
    val dec2 = graft.ops.PhashIndex.processDay(s, p, 2,
      hashed(pmod(grp, lit(2L)) === 0L && m3.isin(1L, 2L)))
    val all = dec1.select(lit(1).as("day"), col("media_id"),
        col("decision"))
      .unionByName(dec2.select(lit(2).as("day"), col("media_id"),
        col("decision")))
      .localCheckpoint(true)
    (p, all)
  }

  /** The MULTIMODAL admission day ([[graft.ops.MultiDay]]): one
    * consistent %4 split across all three modalities (snapshot
    * {2,3}, day 1 = 0, day 2 = 1; perceptual payloads pair-grouped
    * `doc_id - doc_id%2`, so a day-1 even doc's partner arrives on
    * day 2 and its phash verdict can only come from the day-1
    * append). Overall-admitted docs append to all three indexes.
    */
  private val multiLife = Fixture.rooted("graft_multi_day_") { (s, d, root) =>
    val p = graft.ops.MultiDay.Paths(root)
    val docs = t(s, d, "documents").select("doc_id", "text")
    val emb = t(s, d, "embeddings").select("vec_id", "embedding")
    val png = graft.ops.Multimodal.pngVarUdf
    def hashedOf(pred: org.apache.spark.sql.Column) =
      graft.ops.Multimodal.dHash(graft.ops.Multimodal.decodeCells(
        t(s, d, "documents").where(pred)
          .select(col("doc_id").as("media_id"),
            png(col("doc_id") - pmod(col("doc_id"), lit(2L)))
              .as("payload"))))
    def m4(c: org.apache.spark.sql.Column) = pmod(c, lit(4L))
    graft.ops.MultiDay.bootstrap(s,
      docs.where(m4(col("doc_id")).isin(2L, 3L)),
      emb.where(m4(col("vec_id")).isin(2L, 3L)),
      hashedOf(m4(col("doc_id")).isin(2L, 3L)), p)
    val dec1 = graft.ops.MultiDay.processDay(s, p, 1,
      docs.where(m4(col("doc_id")) === 0L),
      emb.where(m4(col("vec_id")) === 0L),
      hashedOf(m4(col("doc_id")) === 0L), docs)
    val dec2 = graft.ops.MultiDay.processDay(s, p, 2,
      docs.where(m4(col("doc_id")) === 1L),
      emb.where(m4(col("vec_id")) === 1L),
      hashedOf(m4(col("doc_id")) === 1L), docs)
    val all = dec1.select(lit(1).as("day"), col("doc_id"),
        col("decision"))
      .unionByName(dec2.select(lit(2).as("day"), col("doc_id"),
        col("decision")))
      .localCheckpoint(true)
    (p, all)
  }

  lazy val gates: Seq[Gate] = Seq(

    Gate("q540_multimodal_day_decisions", (s, dir) =>
      multiLife(s, dir)._2.orderBy("day", "doc_id"), oracle =
      s"""WITH $multiCtes
         |SELECT * FROM (
         |  SELECT 1 AS day, doc_id, decision FROM finalm1
         |  UNION ALL SELECT 2, doc_id, decision FROM finalm2)
         |ORDER BY day, doc_id""".stripMargin),

    Gate("q541_multimodal_index_cards", (s, dir) =>
      graft.ops.MultiDay.indexCards(s, multiLife(s, dir)._1)
        .orderBy("modality", "metric"), oracle =
      s"""WITH $multiCtes
         |SELECT * FROM (
         |  SELECT 'lexical' AS modality, 'n_hashes' AS metric,
         |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS value
         |    FROM mcorp3
         |  UNION ALL SELECT 'lexical', 'n_band_rows',
         |    4 * count(*) FROM mcorp3
         |  UNION ALL SELECT 'semantic', 'n_vecs',
         |    (SELECT count(*) FROM msnapv)
         |      + (SELECT count(*) FROM madm1)
         |      + (SELECT count(*) FROM madm2)
         |  UNION ALL SELECT 'perceptual', 'n_hashes',
         |    (SELECT count(*) FROM idxq2)
         |      + (SELECT count(*) FROM madm2)
         |  UNION ALL SELECT 'perceptual', 'n_band_rows',
         |    4 * ((SELECT count(*) FROM idxq2)
         |      + (SELECT count(*) FROM madm2)))
         |ORDER BY modality, metric""".stripMargin),

    Gate("q538_phash_index_decisions", (s, dir) =>
      phashLife(s, dir)._2.orderBy("day", "media_id"), oracle =
      s"""WITH $phashLifeCtes
         |SELECT * FROM (
         |  SELECT 1 AS day, media_id, decision FROM decp1
         |  UNION ALL SELECT 2, media_id, decision FROM decp2)
         |ORDER BY day, media_id""".stripMargin),

    Gate("q539_phash_index_card", (s, dir) =>
      graft.ops.PhashIndex.indexCard(s, phashLife(s, dir)._1)
        .orderBy("band"), oracle =
      s"""WITH $phashLifeCtes
         |SELECT band, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(cnt) AS BIGINT) AS max_bucket
         |FROM (SELECT band, bv, count(*) AS cnt FROM pbands
         |  WHERE doc_id IN (SELECT doc_id FROM idxp3)
         |  GROUP BY 1, 2)
         |GROUP BY band ORDER BY band""".stripMargin),

    Gate("q521_sem_index_decisions", (s, dir) =>
      semLife(s, dir)._2.orderBy("day", "vec_id"), oracle =
      s"""WITH $semCtes
         |SELECT * FROM (
         |  SELECT 1 AS day, vec_id, cell, decision FROM dec1
         |  UNION ALL SELECT 2, vec_id, cell, decision FROM dec2)
         |ORDER BY day, vec_id""".stripMargin),

    // The STREAMED path's decisions, read back from the pinned per-day
    // files — must equal the batch path's oracle row for row.
    Gate("q533_sem_stream_decisions", (s, dir) => {
      val p = semStreamed(s, dir)._1
      (1 to 2).map { k =>
        s.read.parquet(p.decisionsDay(k))
          .select(lit(k).as("day"), col("vec_id"), col("cell"),
            col("decision"))
      }.reduce(_.unionByName(_)).orderBy("day", "vec_id")
    }, oracle =
      // same oracle as the batch path (two delivery engines, one answer)
      s"""WITH $semCtes
         |SELECT * FROM (
         |  SELECT 1 AS day, vec_id, cell, decision FROM dec1
         |  UNION ALL SELECT 2, vec_id, cell, decision FROM dec2)
         |ORDER BY day, vec_id""".stripMargin),

    // The streamed index card + the recovery facts pinned (ledger
    // exactly [sem1, sem2]; the re-offered committed day added zero
    // rows).
    Gate("q534_sem_stream_card", (s, dir) => {
      val (p, days, stable) = semStreamed(s, dir)
      SemIndex.indexStats(s, p)
        .withColumn("ledger_days", lit(days.mkString(",")))
        .withColumn("replay_stable", lit(if (stable) "1" else "0"))
        .orderBy("cell")
    }, oracle =
      s"""WITH $semCtes
         |SELECT cell, count(*) AS n_vecs,
         |  min(vec_id) AS min_vec, max(vec_id) AS max_vec,
         |  bit_xor(${h60Sql("CAST(vec_id AS VARCHAR)")}) AS checksum,
         |  'sem1,sem2' AS ledger_days, '1' AS replay_stable
         |FROM idx3 GROUP BY cell ORDER BY cell""".stripMargin),

    Gate("q522_sem_index_card", (s, dir) =>
      SemIndex.indexStats(s, semLife(s, dir)._1).orderBy("cell"), oracle =
      s"""WITH $semCtes
         |SELECT cell, count(*) AS n_vecs,
         |  min(vec_id) AS min_vec, max(vec_id) AS max_vec,
         |  bit_xor(${h60Sql("CAST(vec_id AS VARCHAR)")}) AS checksum
         |FROM idx3 GROUP BY cell ORDER BY cell""".stripMargin),

    // The pack tape after the four STREAMED days (day 0 = snapshot,
    // days 1-4 appended inside each day transaction), read back from
    // the per-day layout files alone.
    Gate("q519_pack_tape", (s, dir) =>
      Pack.fullLayout(s, Curation9.streamed(s, dir)._1, CurationNDay.NDays)
        .orderBy("day", "doc_id"), oracle =
      s"""WITH $tapeCtes
         |SELECT day, doc_id, shard, n_tok,
         |  cum - n_tok AS start_tok,
         |  (cum - n_tok) // $L AS first_seq,
         |  (cum - 1) // $L AS last_seq
         |FROM tape ORDER BY day, doc_id""".stripMargin),

    Gate("q520_pack_report", (s, dir) =>
      Pack.packReport(
          Pack.fullLayout(s, Curation9.streamed(s, dir)._1,
            CurationNDay.NDays))
        .orderBy("day"), oracle =
      s"""WITH $tapeCtes
         |SELECT day, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min((cum - n_tok) // $L) AS seq_lo,
         |  max((cum - 1) // $L) AS seq_hi,
         |  CAST(sum(CASE WHEN (cum - n_tok) // $L <> (cum - 1) // $L
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
         |  max(cum) AS next_tok
         |FROM tape GROUP BY day ORDER BY day""".stripMargin),

    // Leakage-safe corpus split: documents split train/val/test by a
    // deterministic ppm hash draw on the SOURCE (domain) key — the
    // per-(split, source) census plus the leak invariant column
    // (n_splits per source must be 1, checked in the oracle too).
    Gate("q523_group_split", (s, dir) => {
      val assigned = graft.ops.Corpus.groupSplit(
        t(s, dir, "documents"), "source",
        valPpm = 100000L, testPpm = 100000L)
      assigned.groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"))
        .join(assigned.groupBy("source")
          .agg(countDistinct(col("split")).as("n_splits_of_source")),
          "source")
        .orderBy("split", "source")
    }, oracle =
      s"""WITH a AS (SELECT *,
         |    CASE WHEN (${h60Sql("source")}) % 1000000 < 100000 THEN 'test'
         |      WHEN (${h60Sql("source")}) % 1000000 < 200000 THEN 'val'
         |      ELSE 'train' END AS split
         |  FROM documents),
         |per AS (SELECT split, source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars
         |  FROM a GROUP BY 1, 2),
         |leak AS (SELECT source,
         |    CAST(count(DISTINCT split) AS BIGINT) AS n_splits_of_source
         |  FROM a GROUP BY 1)
         |SELECT source, split, n_docs, n_chars, n_splits_of_source
         |FROM per JOIN leak USING (source)
         |ORDER BY split, source""".stripMargin),

    // The lifecycle datasheet over the STREAMED artifacts: every
    // number read from persisted state, gated against a from-scratch
    // re-derivation.
    Gate("q524_data_card", (s, dir) =>
      CurationNDay.dataCard(s, Curation9.streamed(s, dir)._1)
        .orderBy("section", "metric"), oracle =
      s"""WITH $tapeCtes,
         |ev AS (SELECT event_type, user_id, value FROM events
         |  WHERE ts IS NOT NULL AND event_type IS NOT NULL)
         |SELECT * FROM (
         |  SELECT 'decisions' AS section, decision AS metric,
         |    CAST(count(*) AS BIGINT) AS value FROM (
         |      SELECT decision FROM final1
         |      UNION ALL SELECT decision FROM final2
         |      UNION ALL SELECT decision FROM final3
         |      UNION ALL SELECT decision FROM final4) GROUP BY 2
         |  UNION ALL SELECT 'corpus', 'n_docs', count(*) FROM grown4
         |  UNION ALL SELECT 'corpus', 'n_tokens',
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |    FROM grown4
         |  UNION ALL SELECT 'pack', 'n_tokens', max(cum) FROM tape
         |  UNION ALL SELECT 'pack', 'n_seqs',
         |    (max(cum) + ${L - 1}) // $L FROM tape
         |  UNION ALL SELECT 'pack', 'tail_pad',
         |    ($L - max(cum) % $L) % $L FROM tape
         |  UNION ALL SELECT 'pack', 'n_straddle',
         |    CAST(sum(CASE WHEN (cum - n_tok) // $L <> (cum - 1) // $L
         |      THEN 1 ELSE 0 END) AS BIGINT) FROM tape
         |  UNION ALL SELECT 'index', 'n_hashes',
         |    count(DISTINCT md5(text)) FROM grown4
         |  UNION ALL SELECT 'index', 'n_band_rows',
         |    4 * count(*) FROM grown4
         |  UNION ALL SELECT 'states', 'n_event_types',
         |    count(DISTINCT event_type) FROM ev
         |  UNION ALL SELECT 'states', 'n_events', count(*) FROM ev
         |  UNION ALL SELECT 'states', 'n_type_user_pairs',
         |    count(DISTINCT (event_type, user_id)) FROM ev)
         |ORDER BY section, metric""".stripMargin),

    // IVF top-k retrieval served off the grown semantic index (the
    // admission artifact doubling as the search structure): queries =
    // vec_id%8==6, k=5, nprobe=2 — probed-cell-exact answers vs the
    // oracle's re-derivation of seeds, cells, and ranking.
    Gate("q525_sem_search", (s, dir) =>
      graft.ops.SemIndex.search(s, semLife(s, dir)._1,
          t(s, dir, "embeddings")
            .where(pmod(col("vec_id"), lit(8L)) === 6L)
            .select("vec_id", "embedding"),
          k = 5, nprobe = 2)
        .orderBy("qid", "rank"), oracle =
      s"""WITH $semCtes,
         |$semProbeCtes
         |SELECT qid, CAST(rank AS INT) AS rank, vec_id,
         |  round(cos, 6) + 0.0 AS cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rank FROM sc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

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

    // The tape after a RETRACTION: positions shift, so the repair is
    // a rebuild over the shrunk corpus (run on the BATCH lifecycle's
    // artifacts, whose corpus q517/q518's retraction day already
    // shrank) — rebuilt tape == the oracle's single-epoch layout over
    // corpus5.
    Gate("q528_pack_rebuild", (s, dir) => {
      val a = Curation9.retracted(s, dir)._1
      graft.ops.Pack.rebuild(s, a, CurationNDay.NDays)
      graft.ops.Pack.fullLayout(s, a, 0).orderBy("doc_id")
    }, oracle =
      s"""WITH ${Curation9.nDayCtes},
         |${Curation9.retractionCtes},
         |pt AS (SELECT 0 AS day, doc_id,
         |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM corpus5),
         |tape AS (SELECT day, doc_id, shard, n_tok,
         |    CAST(sum(n_tok) OVER (ORDER BY shard, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM pt)
         |SELECT day, doc_id, shard, n_tok,
         |  cum - n_tok AS start_tok,
         |  (cum - n_tok) // $L AS first_seq,
         |  (cum - 1) // $L AS last_seq
         |FROM tape ORDER BY doc_id""".stripMargin),

    // Recall@5 of the nprobe=2 IVF search vs exact brute force over
    // the same grown index — the ANN operating-point evidence, exact
    // per-query ppm.
    Gate("q529_sem_search_recall", (s, dir) =>
      graft.ops.SemIndex.searchRecall(s, semLife(s, dir)._1,
          t(s, dir, "embeddings")
            .where(pmod(col("vec_id"), lit(8L)) === 6L)
            .select("vec_id", "embedding"),
          k = 5, nprobe = 2)
        .orderBy("qid"), oracle =
      s"""WITH $semCtes,
         |$semProbeCtes,
         |approx AS (SELECT qid, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rank FROM sc) WHERE rank <= 5),
         |scb AS (SELECT q.qid, x.vec_id,
         |    list_sum(list_transform(range(64), i -> q.e[i+1] * x.e[i+1]))
         |      / (q.qn * x.nrm) AS cos
         |  FROM qs q, idx3 x),
         |exact AS (SELECT qid, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rank FROM scb) WHERE rank <= 5)
         |SELECT e.qid, count(*) AS k_exact,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000 // count(*) AS recall_ppm
         |FROM exact e LEFT JOIN approx a USING (qid, vec_id)
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin),

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
         |FROM o ORDER BY doc_id""".stripMargin),

    // Re-fit at 16 cells + re-index (the occupancy-contract repair
    // when the corpus outgrows its cells): the new index's card ==
    // the oracle's 16-cell quantizer over the same grown vector set.
    // Writes a NEW root; the 8-cell lifecycle index is untouched.
    Gate("q535_sem_refit", (s, dir) => {
      val src = semLife(s, dir)._1
      val dst = SemIndex.Paths(src.root + "_refit16")
      sys.addShutdownHook(Curation2.deleteDir(dst.root))
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

    // The MinHash-LSH banding design curve at the family's k=16: every
    // divisor banding's collision probability across the similarity
    // grid + its effective threshold — the numbers behind the gate's
    // (4 bands × 4 rows) choice and the grow-bits-with-log(n) rule.
    Gate("q536_lsh_design_curve", (s, dir) =>
      graft.ops.Dedup.lshDesignCurve(s, 16,
          (1L to 19L).map(_ * 50000L))
        .orderBy("bands", "s_ppm"), oracle =
      """WITH cfg AS (SELECT CAST(b AS INT) AS bands,
        |    CAST(16 // b AS INT) AS rows_per_band
        |  FROM range(1, 17) r(b) WHERE 16 % b = 0),
        |grid AS (SELECT CAST(s AS BIGINT) AS s_ppm
        |  FROM range(50000, 950001, 50000) g(s))
        |SELECT bands, rows_per_band, s_ppm,
        |  round(1.0 - power(1.0 - power(s_ppm / 1000000.0,
        |    rows_per_band), bands), 6) + 0.0 AS p_collision,
        |  CAST(floor(power(1.0 / bands, 1.0 / rows_per_band)
        |    * 1000000.0 + 0.5) AS BIGINT) AS threshold_ppm
        |FROM cfg, grid ORDER BY bands, s_ppm""".stripMargin),

    // Language-mix drift per ADMITTED day vs the curated snapshot —
    // the monitor a multilingual pipeline alarms on when one day's
    // crawl skews the mix (PSI over lang, one psiPanel pass; base =
    // the snapshot ids from the tape's day 0, days = the admitted
    // decisions joined back to the documents table for lang).
    Gate("q537_lang_drift", (s, dir) => {
      val a = Curation9.streamed(s, dir)._1
      val lang = t(s, dir, "documents").select("doc_id", "lang")
      val base = s.read.parquet(a.packDay(0)).select("doc_id")
        .join(lang, "doc_id")
      val cur = CurationNDay.allDecisions(s, a)
        .where(col("decision") === "admitted").select("day", "doc_id")
        .join(lang, "doc_id")
      graft.ops.Quality.psiPanel(base, cur, "lang", "day")
        .orderBy("day")
    }, oracle =
      s"""WITH ${Curation9.nDayCtes},
         |lg AS (SELECT doc_id, lang FROM documents),
         |bl AS (SELECT lang FROM corpus JOIN lg USING (doc_id)),
         |cl AS (
         |  SELECT 1 AS day, lang FROM admf1 JOIN lg USING (doc_id)
         |  UNION ALL SELECT 2, lang FROM admf2 JOIN lg USING (doc_id)
         |  UNION ALL SELECT 3, lang FROM admf3 JOIN lg USING (doc_id)
         |  UNION ALL SELECT 4, lang FROM admf4 JOIN lg USING (doc_id)),
         |bc AS (SELECT lang, CAST(count(*) AS BIGINT) AS b
         |  FROM bl GROUP BY 1),
         |cc AS (SELECT day, lang, CAST(count(*) AS BIGINT) AS c
         |  FROM cl GROUP BY 1, 2),
         |frame AS (SELECT DISTINCT day, lang FROM (
         |  SELECT day, lang FROM cc
         |  UNION ALL SELECT d.day, bc.lang
         |    FROM (SELECT DISTINCT day FROM cc) d, bc)),
         |j AS (SELECT f.day, f.lang, coalesce(b, 0) AS b,
         |    coalesce(c, 0) AS c
         |  FROM frame f LEFT JOIN bc USING (lang)
         |    LEFT JOIN cc USING (day, lang)),
         |t AS (SELECT day, CAST(count(*) AS BIGINT) AS kk,
         |    sum(b) AS tb, sum(c) AS tc FROM j GROUP BY 1)
         |SELECT day, CAST(count(*) AS BIGINT) AS n_bins,
         |  round(sum(CAST(floor(
         |    ((b + 1.0) / (tb + kk) - (c + 1.0) / (tc + kk))
         |    * ln(((b + 1.0) / (tb + kk)) / ((c + 1.0) / (tc + kk)))
         |    * 1000000000.0 + 0.5) AS BIGINT)) / 1000000000.0, 6)
         |    + 0.0 AS psi
         |FROM j JOIN t USING (day) GROUP BY day ORDER BY day""".stripMargin),

    // Dataset diff between manifest epochs: the post-retraction
    // steward report — per-shard doc/token deltas + checksum-level
    // change classification, pure manifest arithmetic.
    Gate("q531_manifest_diff", (s, dir) => {
      val a = Curation9.retracted(s, dir)._1
      graft.core.Layout.manifestDiff(
          s.read.parquet(a.manifestDay(CurationNDay.NDays)),
          s.read.parquet(a.manifestRetract(1)))
        .orderBy("shard")
    }, oracle =
      s"""WITH ${Curation9.nDayCtes},
         |${Curation9.retractionCtes},
         |mfb AS (SELECT CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) AS shard,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |      AS n_tokens,
         |    bit_xor(${h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")})
         |      AS ck
         |  FROM grown4 GROUP BY 1),
         |mfa AS (SELECT CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
         |      % ${CurationDay.NShards} AS INT) AS shard,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |      AS n_tokens,
         |    bit_xor(${h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")})
         |      AS ck
         |  FROM corpus5 GROUP BY 1)
         |SELECT shard,
         |  coalesce(b.n_docs, 0) AS docs_before,
         |  coalesce(a.n_docs, 0) AS docs_after,
         |  coalesce(a.n_docs, 0) - coalesce(b.n_docs, 0) AS docs_delta,
         |  coalesce(a.n_tokens, 0) - coalesce(b.n_tokens, 0)
         |    AS tokens_delta,
         |  CASE WHEN b.ck IS NULL THEN 'new'
         |    WHEN a.ck IS NULL THEN 'gone'
         |    WHEN b.ck = a.ck THEN 'unchanged'
         |    ELSE 'changed' END AS status
         |FROM mfb b FULL JOIN mfa a USING (shard)
         |ORDER BY shard""".stripMargin),

    // The recall-vs-nprobe tuning curve over the grown semantic
    // index (endpoint nprobe=NCells is exact: recall_ppm = 1e6).
    Gate("q532_sem_recall_curve", (s, dir) =>
      graft.ops.SemIndex.recallCurve(s, semLife(s, dir)._1,
          t(s, dir, "embeddings")
            .where(pmod(col("vec_id"), lit(8L)) === 6L)
            .select("vec_id", "embedding"),
          k = 5)
        .orderBy("nprobe"), oracle =
      s"""WITH $semCtes,
         |qs AS (SELECT vec_id AS qid, e,
         |    sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
         |  FROM v WHERE vec_id % 8 = 6),
         |qr AS (SELECT qid, CAST(sid AS INT) AS cell,
         |    CAST(rn AS INT) AS crank FROM (
         |  SELECT qs.qid, sn.sid, row_number() OVER (PARTITION BY qs.qid
         |      ORDER BY list_sum(list_transform(range(64),
         |        i -> qs.e[i+1] * se[i+1])) / (qs.qn * snrm) DESC, sid)
         |      AS rn
         |  FROM qs, sn)),
         |pairs AS (SELECT q.qid, x.vec_id,
         |    list_sum(list_transform(range(64), i -> q.e[i+1] * x.e[i+1]))
         |      / (q.qn * x.nrm) AS cos, qr.crank
         |  FROM qs q JOIN qr ON qr.qid = q.qid
         |    JOIN idx3 x ON x.cell = qr.cell),
         |nps AS (SELECT CAST(unnest(range(1, ${SemIndex.NCells + 1}))
         |    AS INT) AS np),
         |vis AS (SELECT np, qid, vec_id, cos FROM pairs
         |  JOIN nps ON crank <= np),
         |topk AS (SELECT np, qid, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY np, qid
         |    ORDER BY cos DESC, vec_id) AS r FROM vis) WHERE r <= 5),
         |ex AS (SELECT qid, vec_id FROM topk
         |  WHERE np = ${SemIndex.NCells}),
         |kt AS (SELECT CAST(count(*) AS BIGINT) AS k_total FROM ex),
         |h AS (SELECT np, CAST(count(*) AS BIGINT) AS hits
         |  FROM topk JOIN ex USING (qid, vec_id) GROUP BY np)
         |SELECT np AS nprobe, hits, k_total,
         |  hits * 1000000 // k_total AS recall_ppm
         |FROM h, kt ORDER BY nprobe""".stripMargin),

    // PSI drift monitor over the lifecycle's event days: each day's
    // event_type mix vs the bootstrap window, add-one smoothed,
    // micro-nat-quantized terms (the alarm a production ingest pins a
    // threshold on). The whole panel is ONE psiPanel pass (two scans),
    // not a scan pair per day.
    Gate("q527_psi_drift", (s, dir) => {
      val cuts = CurationNDay.Cuts
      val ev = t(s, dir, "events")
        .where(col("ts").isNotNull && col("event_type").isNotNull)
      graft.ops.Quality.psiPanel(
          ev.where(col("ts") < cuts.head),
          ev.where(col("ts") >= cuts.head).withColumn("day",
            when(col("ts") < cuts(1), 1).when(col("ts") < cuts(2), 2)
              .when(col("ts") < cuts(3), 3).otherwise(4)),
          "event_type", "day")
        .orderBy("day")
    }, oracle = {
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22",
        "2024-01-28").map(d => s"TIMESTAMP '$d 00:00:00'")
      def dayPred(k: Int): String =
        if (k == 4) s"ts >= ${cuts(3)}"
        else s"ts >= ${cuts(k - 1)} AND ts < ${cuts(k)}"
      def dayPsi(k: Int): String =
        s"""cc$k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
           |  FROM ev WHERE ${dayPred(k)} GROUP BY 1),
           |j$k AS (SELECT coalesce(b, 0) AS b, coalesce(c, 0) AS c
           |  FROM bc FULL JOIN cc$k USING (event_type)),
           |t$k AS (SELECT CAST(count(*) AS BIGINT) AS kk,
           |    sum(b) AS tb, sum(c) AS tc FROM j$k),
           |psi$k AS (SELECT $k AS day,
           |    CAST(count(*) AS BIGINT) AS n_bins,
           |    round(sum(CAST(floor(
           |      ((b + 1.0) / (tb + kk) - (c + 1.0) / (tc + kk))
           |      * ln(((b + 1.0) / (tb + kk)) / ((c + 1.0) / (tc + kk)))
           |      * 1000000000.0 + 0.5) AS BIGINT)) / 1000000000.0, 6)
           |      + 0.0 AS psi
           |  FROM j$k, t$k)""".stripMargin
      s"""WITH ev AS (SELECT event_type, ts FROM events
         |  WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         |bc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS b
         |  FROM ev WHERE ts < ${cuts(0)} GROUP BY 1),
         |${(1 to 4).map(dayPsi).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT * FROM psi1 UNION ALL SELECT * FROM psi2
         |  UNION ALL SELECT * FROM psi3 UNION ALL SELECT * FROM psi4)
         |ORDER BY day""".stripMargin
    }))

  // ---- oracle: the whole token tape, re-derived from scratch --------

  /** The tape in stream order: day 0 = curated snapshot, then each
    * day's admitted docs, (shard, doc_id)-ordered within the day —
    * exactly [[graft.ops.Pack.layoutWithOffset]]'s order contract.
    */
  private def tapeCtes: String =
    s"""${Curation9.nDayCtes},
       |pd AS (SELECT 0 AS day, doc_id, text FROM corpus
       |  UNION ALL SELECT 1, doc_id, text FROM admf1
       |  UNION ALL SELECT 2, doc_id, text FROM admf2
       |  UNION ALL SELECT 3, doc_id, text FROM admf3
       |  UNION ALL SELECT 4, doc_id, text FROM admf4),
       |pt AS (SELECT day, doc_id,
       |    CAST((${h60Sql("CAST(doc_id AS VARCHAR)")})
       |      % ${CurationDay.NShards} AS INT) AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM pd),
       |tape AS (SELECT day, doc_id, shard, n_tok,
       |    CAST(sum(n_tok) OVER (ORDER BY day, shard, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM pt)""".stripMargin

  private val L = Pack.SeqLen

  // ---- oracle: the semantic-index lifecycle, re-derived ------------

  /** Cell assignment for `src(vec_id, e)` under the frozen seeds
    * (`sn`): the q253 quantizer contract verbatim — argmax cosine,
    * ties to the smallest seed id.
    */
  private[queries] def cellCtes(src: String, sfx: String): String =
    s"""n$sfx AS (SELECT vec_id, e,
       |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM $src),
       |cs$sfx AS (SELECT n$sfx.vec_id, sid,
       |    list_sum(list_transform(range(64), i -> n$sfx.e[i+1] * se[i+1]))
       |      / (n$sfx.nrm * snrm) AS c
       |  FROM n$sfx, sn),
       |cellof$sfx AS (SELECT vec_id, CAST(sid AS INT) AS cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id
       |     ORDER BY c DESC, sid) AS rn FROM cs$sfx) WHERE rn = 1),
       |ix$sfx AS (SELECT cell, n$sfx.vec_id, e, nrm
       |  FROM n$sfx JOIN cellof$sfx USING (vec_id))""".stripMargin

  /** Same-cell cosine hits of `delta` against `idx`, then verdicts. */
  private[queries] def semDayCtes(deltaSrc: String, idxSrc: String,
                         sfx: String): String =
    s"""${cellCtes(deltaSrc, sfx)},
       |hit$sfx AS (SELECT DISTINCT a.vec_id FROM ix$sfx a
       |  JOIN $idxSrc b ON a.cell = b.cell
       |  WHERE list_sum(list_transform(range(64), i -> a.e[i+1] * b.e[i+1]))
       |    / (a.nrm * b.nrm) >= ${SemIndex.MinCos}),
       |dec$sfx AS (SELECT a.vec_id, a.cell,
       |    CASE WHEN hit$sfx.vec_id IS NOT NULL THEN 'dup_sem_corpus'
       |      ELSE 'admitted' END AS decision
       |  FROM ix$sfx a LEFT JOIN hit$sfx USING (vec_id)),
       |adm$sfx AS (SELECT a.cell, a.vec_id, a.e, a.nrm FROM ix$sfx a
       |  JOIN dec$sfx d USING (vec_id)
       |  WHERE d.decision = 'admitted')""".stripMargin

  /** The frozen-quantizer seed block over `src(vec_id, e)` → the
    * `sn(sid, se, snrm)` CTE every cell assignment references.
    */
  private[queries] def semSeedCtes(src: String): String =
    s"""cv AS (SELECT e, row_number() OVER (ORDER BY e) AS rn
       |  FROM (SELECT DISTINCT e FROM $src) ORDER BY e LIMIT 128),
       |ccount AS (SELECT count(*) AS c FROM cv),
       |seeds AS (SELECT r.i + 1 AS sid,
       |    list_transform(cv.e, x -> round_even(x * 1000000, 0) / 1000000)
       |      AS se
       |  FROM range(${SemIndex.NCells}) r(i), ccount, cv
       |  WHERE cv.rn = (r.i * ccount.c) // ${SemIndex.NCells} + 1),
       |sn AS MATERIALIZED (SELECT sid, se,
       |    sqrt(list_sum(list_transform(se, x -> x * x))) AS snrm
       |  FROM seeds)""".stripMargin

  private[queries] def semCtes: String =
    s"""v AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |snap AS (SELECT * FROM v WHERE vec_id % 4 IN (2, 3)),
       |${semSeedCtes("snap")},
       |${cellCtes("snap", "s")},
       |d1 AS (SELECT * FROM v WHERE vec_id % 4 = 0),
       |${semDayCtes("d1", "ixs", "1")},
       |idx2 AS (SELECT cell, vec_id, e, nrm FROM ixs
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM adm1),
       |d2 AS (SELECT * FROM v WHERE vec_id % 4 = 1
       |  UNION ALL SELECT CAST(9500001 AS BIGINT), e FROM v
       |    WHERE vec_id = (SELECT min(vec_id) FROM dec1
       |      WHERE decision = 'admitted')),
       |${semDayCtes("d2", "idx2", "2")},
       |idx3 AS MATERIALIZED (SELECT cell, vec_id, e, nrm FROM idx2
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM adm2)""".stripMargin

  // ---- oracle: the perceptual-index lifecycle, re-derived ----------

  /** Shared raster → dHash re-derivation over grouped payloads (the
    * q286 generator-formula contract, verbatim): px → cells → bits →
    * rowb → rb2 (row bytes) → bands (four 16-bit Hamming bands).
    * `gid` is the payload-group base expression over `d.doc_id`
    * (group-of-3 for the phash lifecycle, pair for the multimodal
    * day).
    */
  private[queries] def phashCtes(
      gid: String = "(d.doc_id - d.doc_id % 3)"): String =
    s"""xs AS (SELECT unnest(range(0, 24)) AS x),
       |ys AS (SELECT unnest(range(0, 21)) AS y),
       |px AS (
       |  SELECT d.doc_id, 16 + $gid % 8 AS w,
       |    16 + $gid % 5 AS h, xs.x, ys.y,
       |    ($gid * 53
       |       + (3 + $gid % 9) * xs.x
       |       + (5 + $gid % 7) * ys.y
       |       + (2 + $gid % 4) * xs.x * xs.x
       |       + (3 + $gid % 6) * ys.y * ys.y) % 256
       |      AS v
       |  FROM documents d, xs, ys
       |  WHERE xs.x < 16 + $gid % 8
       |    AND ys.y < 16 + $gid % 5),
       |${NorthStar.dhashCtes},
       |${NorthStar.rowBandsCtes("pbands")}""".stripMargin

  /** Day `sfx`'s verdicts: delta = the `d$sfx(doc_id)` CTE, index id
    * set = the `idx$sfx(doc_id)` CTE; band-collide then exact
    * Hamming ≤ 3 via the per-bit comparison.
    */
  private[queries] def phashDayCtes(sfx: String): String =
    s"""c$sfx AS (SELECT DISTINCT a.doc_id AS did, b.doc_id AS cid
       |  FROM pbands a JOIN pbands b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id IN (SELECT doc_id FROM d$sfx)
       |    AND b.doc_id IN (SELECT doc_id FROM idx$sfx)),
       |h$sfx AS (SELECT DISTINCT did FROM (
       |  SELECT c$sfx.did, c$sfx.cid FROM c$sfx
       |    JOIN bits x ON x.doc_id = c$sfx.did
       |    JOIN bits y ON y.doc_id = c$sfx.cid
       |      AND y.cy = x.cy AND y.cx = x.cx
       |  GROUP BY 1, 2
       |  HAVING CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
       |    AS BIGINT) <= ${graft.ops.PhashIndex.MaxDist})),
       |dec$sfx AS (SELECT doc_id AS media_id,
       |    CASE WHEN doc_id IN (SELECT did FROM h$sfx)
       |      THEN 'dup_phash_corpus' ELSE 'admitted' END AS decision
       |  FROM rb2 WHERE doc_id IN (SELECT doc_id FROM d$sfx)),
       |adm$sfx AS (SELECT media_id AS doc_id FROM dec$sfx
       |  WHERE decision = 'admitted')""".stripMargin

  /** Group ordinal = (doc_id − doc_id%3) / 3; odd ordinals snapshot,
    * even ordinals split base-member → day 1, co-members → day 2.
    */
  private def phashLifeCtes: String =
    s"""${phashCtes()},
       |idxp1 AS (SELECT doc_id FROM rb2
       |  WHERE ((doc_id - doc_id % 3) // 3) % 2 = 1
       |    AND doc_id % 3 IN (0, 2)),
       |dp1 AS (SELECT doc_id FROM rb2
       |  WHERE (((doc_id - doc_id % 3) // 3) % 2 = 0 AND doc_id % 3 = 0)
       |    OR (((doc_id - doc_id % 3) // 3) % 2 = 1 AND doc_id % 3 = 1)),
       |${phashDayCtes("p1")},
       |idxp2 AS (SELECT doc_id FROM idxp1
       |  UNION ALL SELECT doc_id FROM admp1),
       |dp2 AS (SELECT doc_id FROM rb2
       |  WHERE ((doc_id - doc_id % 3) // 3) % 2 = 0
       |    AND doc_id % 3 IN (1, 2)),
       |${phashDayCtes("p2")},
       |idxp3 AS (SELECT doc_id FROM idxp2
       |  UNION ALL SELECT doc_id FROM admp2)""".stripMargin

  /** The composed multimodal re-derivation: lexical
    * ([[Curation.dedupDecisionCtes]]), semantic ([[semSeedCtes]] +
    * [[cellCtes]] + [[semDayCtes]]), perceptual ([[phashCtes]] at
    * pair grouping + [[phashDayCtes]]) — verdicts joined on the
    * shared id with the fixed stage priority, index sets for day 2
    * grown by day-1 OVERALL admissions only.
    */
  private def multiCtes: String =
    s"""v AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |msnapv AS (SELECT * FROM v WHERE vec_id % 4 IN (2, 3)),
       |${semSeedCtes("msnapv")},
       |${cellCtes("msnapv", "ms")},
       |${phashCtes("(d.doc_id - d.doc_id % 2)")},
       |mcorp1 AS MATERIALIZED (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 4 IN (2, 3)),
       |mb1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
       |${Curation.dedupDecisionCtes("mcorp1", "mb1", "L1")},
       |dm1 AS (SELECT * FROM v WHERE vec_id % 4 = 0),
       |${semDayCtes("dm1", "ixms", "s1")},
       |idxq1 AS (SELECT doc_id FROM rb2 WHERE doc_id % 4 IN (2, 3)),
       |dq1 AS (SELECT doc_id FROM rb2 WHERE doc_id % 4 = 0),
       |${phashDayCtes("q1")},
       |finalm1 AS (SELECT l.doc_id,
       |    CASE WHEN l.decision <> 'admitted' THEN l.decision
       |      WHEN s.decision <> 'admitted' THEN s.decision
       |      WHEN q.decision <> 'admitted' THEN q.decision
       |      ELSE 'admitted' END AS decision
       |  FROM decisionsL1 l JOIN decs1 s ON s.vec_id = l.doc_id
       |    JOIN decq1 q ON q.media_id = l.doc_id),
       |madm1 AS (SELECT doc_id FROM finalm1 WHERE decision = 'admitted'),
       |mcorp2 AS MATERIALIZED (SELECT doc_id, text FROM mcorp1
       |  UNION ALL SELECT d.doc_id, d.text FROM documents d
       |    JOIN madm1 USING (doc_id)),
       |ixm2 AS (SELECT cell, vec_id, e, nrm FROM ixms
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixs1
       |    WHERE vec_id IN (SELECT doc_id FROM madm1)),
       |idxq2 AS (SELECT doc_id FROM idxq1
       |  UNION ALL SELECT doc_id FROM madm1),
       |mb2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
       |${Curation.dedupDecisionCtes("mcorp2", "mb2", "L2")},
       |dm2 AS (SELECT * FROM v WHERE vec_id % 4 = 1),
       |${semDayCtes("dm2", "ixm2", "s2")},
       |dq2 AS (SELECT doc_id FROM rb2 WHERE doc_id % 4 = 1),
       |${phashDayCtes("q2")},
       |finalm2 AS (SELECT l.doc_id,
       |    CASE WHEN l.decision <> 'admitted' THEN l.decision
       |      WHEN s.decision <> 'admitted' THEN s.decision
       |      WHEN q.decision <> 'admitted' THEN q.decision
       |      ELSE 'admitted' END AS decision
       |  FROM decisionsL2 l JOIN decs2 s ON s.vec_id = l.doc_id
       |    JOIN decq2 q ON q.media_id = l.doc_id),
       |madm2 AS (SELECT doc_id FROM finalm2 WHERE decision = 'admitted'),
       |mcorp3 AS (SELECT doc_id, text FROM mcorp2
       |  UNION ALL SELECT d.doc_id, d.text FROM documents d
       |    JOIN madm2 USING (doc_id))""".stripMargin

  /** The q525 IVF probe over the grown index idx3: queries qs (vec_id % 8
      * = 6), their two nearest cells qc, and the cosines sc in those cells.
      */
  private[queries] val semProbeCtes: String =
    """qs AS (SELECT vec_id AS qid, e,
      |    sqrt(list_sum(list_transform(e, x -> x * x))) AS qn
      |  FROM v WHERE vec_id % 8 = 6),
      |qc AS (SELECT qid, CAST(sid AS INT) AS cell FROM (
      |  SELECT qs.qid, sn.sid, row_number() OVER (PARTITION BY qs.qid
      |      ORDER BY list_sum(list_transform(range(64),
      |        i -> qs.e[i+1] * se[i+1])) / (qs.qn * snrm) DESC, sid)
      |      AS rn
      |  FROM qs, sn) WHERE rn <= 2),
      |sc AS (SELECT q.qid, x.vec_id,
      |    list_sum(list_transform(range(64), i -> q.e[i+1] * x.e[i+1]))
      |      / (q.qn * x.nrm) AS cos
      |  FROM qc JOIN qs q USING (qid) JOIN idx3 x ON x.cell = qc.cell)""".stripMargin
}
