package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Dedup.h60Sql
import graft.ops.{SemIndex, MultiDay, PhashIndex, Dedup}
import graft.streaming.MultiStream
import Lifecycle.{evidenceSelect, ledgerCards}
import Q._

/** Multimodal lifecycle gates: the semantic, perceptual-hash and audio
  * index lifecycles and the four- and six-stage multimodal admission
  * chains — streamed and batch days, TTL, size cap, compaction and the
  * full calendar, their index cards and ledger facts, and the reject
  * evidence served off the same indexes.
  */
object MediaLifecycle extends Gates {

  /** The two-day SEMANTIC-index lifecycle, once per dir per JVM: the
    * [[graft.streaming.SemStream]] calendar (bootstrap on the frozen
    * seeds + the vec_id%4 ∈ {2,3} snapshot, then days 1 and 2 with the
    * pin-derived sentinel 9500001) through the BATCH interpreter, and
    * both days' decisions read back off the pins.
    */
  private[queries] val semLife = Fixture.rooted("graft_sem_index_") { (s, d, root) =>
    val p = graft.streaming.SemStream.batch(
      graft.streaming.SemStream.Life(s, d, root)).p
    (p, semDecisions(s, p).localCheckpoint(true))
  }

  /** Both semantic days' pinned decisions: (day, vec_id, cell,
    * decision).
    */
  private def semDecisions(s: org.apache.spark.sql.SparkSession,
                           p: SemIndex.Paths) =
    graft.core.Ledger.pinned(s, p.decisionsDay, 1 to 2)(k =>
      Seq(lit(k).as("day"), col("vec_id"), col("cell"), col("decision")))

  /** The STREAMED semantic lifecycle (same two days, the
    * [[graft.streaming.SemStream]] delivery engine: file source →
    * ledgered foreachBatch days, kill/restart between days, replayed
    * committed day re-offered and no-op'd) — third engine path onto
    * q521/q522's oracle.
    */
  private val semStreamed = Fixture.rooted("graft_sem_stream_") { (s, d, root) =>
    val p = SemIndex.Paths(root)
    val (days, stable) =
      graft.streaming.SemStream.runDaysStreamed(s, d, root)
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
    graft.ops.PhashIndex.processDay(s, p, 1,
      hashed((pmod(grp, lit(2L)) === 0L && m3 === 0L) ||
        (pmod(grp, lit(2L)) === 1L && m3 === 1L)))
    graft.ops.PhashIndex.processDay(s, p, 2,
      hashed(pmod(grp, lit(2L)) === 0L && m3.isin(1L, 2L)))
    (p, mediaDecisions(s, p))
  }

  /** A two-day banded-Hamming lifecycle's pinned decisions, read back
    * off the pins: (day, media_id, decision), checkpointed.
    */
  private def mediaDecisions(s: org.apache.spark.sql.SparkSession,
                             p: PhashIndex.Paths) =
    graft.core.Ledger.pinned(s, p.decisionsDay, 1 to 2)(k =>
      Seq(lit(k).as("day"), col("media_id"), col("decision")))
      .localCheckpoint(true)

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
    for (k <- 1 to 2)
      graft.ops.MultiDay.processDay(s, p, k,
        docs.where(m4(col("doc_id")) === k - 1L),
        emb.where(m4(col("vec_id")) === k - 1L),
        hashedOf(m4(col("doc_id")) === k - 1L), docs)
    (p, graft.core.Ledger.pinned(s, p.decisionsDay, 1 to 2)(k =>
      Seq(lit(k).as("day"), col("doc_id"), col("decision")))
      .localCheckpoint(true))
  }

  /** Cell assignment for `src(vec_id, e)` under the frozen seeds
    * (`sn`): the q253 quantizer contract verbatim — argmax cosine,
    * ties to the smallest seed id.
    */
  private def cellCtes(src: String, sfx: String): String =
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
  private def semDayCtes(deltaSrc: String, idxSrc: String,
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
  private def semSeedCtes(src: String): String =
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
  private def phashDayCtes(sfx: String): String =
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
    * ([[Lifecycle.dedupDecisionCtes]]), semantic ([[semSeedCtes]] +
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
       |${Lifecycle.dedupDecisionCtes("mcorp1", "mb1", "L1")},
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
       |${Lifecycle.dedupDecisionCtes("mcorp2", "mb2", "L2")},
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

  private val mmStream = Fixture.rooted("graft_mm_stream_") { (s, d, root) =>
    val p = MultiDay.Paths4(root)
    val (noop, days) = graft.streaming.MultiStream.runDaysStreamed(s, d, p)
    (p, noop, days)
  }

  /** A four- or six-stage root with `c` run through the BATCH
    * interpreter (the batch twin of `c`'s streamed gate).
    */
  private def batchRoot(prefix: String, c: MultiStream.Cal) =
    Fixture.rooted(prefix) { (s, d, root) =>
      val p = MultiDay.Paths4(root)
      MultiStream.batch(s, d, p, c)
      p
    }

  private val mmBatch = batchRoot("graft_mm_batch_", MultiStream.DaysCal)

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
    PhashIndex.processDay(s, p, 2,
      fpOf(docs.where(pmod(col("doc_id"), lit(4L)) === 1L)
        .unionByName(sentinel)),
      label = "audio")
    (p, mediaDecisions(s, p))
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
    val admitted = graft.core.Ledger.pinnedIds(s, p.decisionsDay,
      1 to MultiDay.NDays4)
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

  /** The maintained batch lifecycle (ledgered compact slots
    * `compact1`/`compact2` interleaved between days — lexical tables,
    * semantic cells, media artifact): a third engine path whose
    * decisions must equal the same composed oracle (q558 reads only
    * this root's decisions).
    */
  private val mmMaintained = batchRoot("graft_mm_maint_", MultiStream.CompactCal)

  /** The FULL-STACK (six-stage) lifecycle: four near-dup indexes plus
    * the contamination + repetition post-gates in ONE composed day,
    * two days, with the day-2 sentinel cloning a day-1
    * post-gate-rejected doc (its dedup columns must come back clean —
    * post-gate rejections never touch an index).
    */
  private val mm6 = batchRoot("graft_mm6_", MultiStream.Days6Cal)

  /** The admission-funnel card: per (day, stage, verdict) doc counts
    * over the pinned decisions `dec`, each of the `stages` columns
    * (`d_<stage>`) plus the combined verdict (`overall`).
    */
  private def funnel(dec: org.apache.spark.sql.DataFrame,
                     stages: Seq[String]) = {
    val cols = (stages.map(c => c.stripPrefix("d_") -> c) :+
        ("overall" -> "decision"))
      .sortBy(_._1).map { case (st, c) => s"'$st', $c" }
    dec.selectExpr("day",
        s"stack(${cols.size}, ${cols.mkString(", ")}) AS (stage, verdict)")
      .groupBy("day", "stage", "verdict")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("day", "stage", "verdict")
  }

  /** [[funnel]]'s oracle over the three composed day frames
    * `<fin>1..3` of `ctes`.
    */
  private def funnelSql(ctes: String, fin: String,
                        stages: Seq[String]): String = {
    def name(c: String) = c.stripPrefix("d_")
    val days = (1 to 3).flatMap { k =>
      val c = stages.head
      s"SELECT $k AS day, '${name(c)}' AS stage, $c AS verdict FROM $fin$k" +:
        (stages.tail.map(c => s"SELECT $k, '${name(c)}', $c FROM $fin$k") :+
          s"SELECT $k, 'overall', decision FROM $fin$k")
    }.mkString("\n  UNION ALL ")
    s"""WITH $ctes
       |SELECT day, stage, verdict,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM (
       |  $days)
       |GROUP BY 1, 2, 3
       |ORDER BY day, stage, verdict""".stripMargin
  }

  /** The six-stage root's days-1–2 rejections under `pred`, off the
    * pins: the (doc_id, day) frame and the rejected docs' drop texts
    * (doc_id, text) — what the reject-evidence gates explain.
    */
  private def rejected(s: org.apache.spark.sql.SparkSession,
                       p: MultiDay.Paths4, pred: org.apache.spark.sql.Column) = {
    val rej = graft.core.Ledger.pinned(s, p.decisionsDay, 1 to 2, pred)(k =>
      Seq(col("doc_id"), lit(k).as("day")))
    val texts = (1 to 2).map { k =>
      s.read.parquet(p.dropDay(k)).select("doc_id", "text")
    }.reduce(_.unionByName(_)).join(rej.select("doc_id"), "doc_id")
    (rej, texts)
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
  private def bandedDay(sfx: String, bands: String, bits: String,
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
    * Expects `ix$sfx` from [[cellCtes]].
    */
  private def semDay4(sfx: String, idxSrc: String,
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

  /** Day `k`'s composed four-stage verdict: the first non-admitted
    * stage in lexical, semantic, perceptual, audio order wins.
    */
  private def fin(k: String, lexDec: String, semDec: String, phDec: String,
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

  /** The three days' composed verdicts over `ctes`: [[fin]] days 1-2,
    * day 3 read from `day3`.
    */
  private def threeDaySql(ctes: String, day3: String): String =
    s"""WITH $ctes
       |SELECT * FROM (
       |  SELECT 1 AS day, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM fin1
       |  UNION ALL SELECT 2, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM fin2
       |  UNION ALL SELECT 3, doc_id, d_lex, d_sem, d_ph, d_aud, decision
       |    FROM $day3)
       |ORDER BY day, doc_id""".stripMargin

  private val imgJoin = "y.cy = x.cy AND y.cx = x.cx"

  private val audJoin = "y.i = x.i"

  /** The COMPOSED 3-day, 4-stage re-derivation: the lexical chain
    * ([[Lifecycle.dedupDecisionCtes]] over a growing corpus), the
    * semantic chain ([[semSeedCtes]]/cellCtes + the
    * within-day pass), the image chain ([[phashCtes]] at
    * pair grouping), and the audio chain ([[audioCtes]]) — combined
    * per day under the fixed stage priority, index sets grown by each
    * day's OVERALL admissions only, with the three day-3 sentinels
    * derived from the chain's own day-1/-2 verdicts (the q492
    * planting rule: 9600001/9600002 full-clone the smallest day-1/-2
    * admitted doc — every stage must flag them via the earlier day's
    * appends alone; 9600003 full-clones the smallest day-3 organic
    * doc — a same-day clone that can never be admitted).
    */
  private def mmCtes: String =
    s"""v AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |pdocs AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
       |  JOIN v ON v.vec_id = d.doc_id),
       |msnapv AS (SELECT * FROM v WHERE vec_id % 8 >= 4),
       |${semSeedCtes("msnapv")},
       |${cellCtes("msnapv", "ms")},
       |${phashCtes("(d.doc_id - d.doc_id % 2)")},
       |${audioCtes()},
       |lcorp1 AS MATERIALIZED (SELECT doc_id, text FROM pdocs
       |  WHERE doc_id % 8 >= 4),
       |lb1 AS (SELECT doc_id, text FROM pdocs WHERE doc_id % 8 = 0),
       |${Lifecycle.dedupDecisionCtes("lcorp1", "lb1", "L1")},
       |dv1 AS (SELECT * FROM v WHERE vec_id % 8 = 0),
       |${cellCtes("dv1", "s1")},
       |${semDay4("s1", "ixms")},
       |dP1 AS (SELECT doc_id FROM pdocs WHERE doc_id % 8 = 0),
       |idxP1 AS (SELECT doc_id FROM pdocs WHERE doc_id % 8 >= 4),
       |${bandedDay("P1", "pbands", "bits", imgJoin, "dP1", "idxP1",
          "phash")},
       |${bandedDay("A1", "abands", "abits", audJoin, "dP1", "idxP1",
          "audio")},
       |${fin("1", "decisionsL1", "decSs1", "decBP1", "decBA1")},
       |lcorp2 AS MATERIALIZED (SELECT doc_id, text FROM lcorp1
       |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
       |    JOIN madm1 USING (doc_id)),
       |lb2 AS (SELECT doc_id, text FROM pdocs WHERE doc_id % 8 = 1),
       |${Lifecycle.dedupDecisionCtes("lcorp2", "lb2", "L2")},
       |ixsem2 AS (SELECT cell, vec_id, e, nrm FROM ixms
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixs1
       |    WHERE vec_id IN (SELECT doc_id FROM madm1)),
       |dv2 AS (SELECT * FROM v WHERE vec_id % 8 = 1),
       |${cellCtes("dv2", "s2")},
       |${semDay4("s2", "ixsem2")},
       |dP2 AS (SELECT doc_id FROM pdocs WHERE doc_id % 8 = 1),
       |idxP2 AS (SELECT doc_id FROM idxP1
       |  UNION ALL SELECT doc_id FROM madm1),
       |${bandedDay("P2", "pbands", "bits", imgJoin, "dP2", "idxP2",
          "phash")},
       |${bandedDay("A2", "abands", "abits", audJoin, "dP2", "idxP2",
          "audio")},
       |${fin("2", "decisionsL2", "decSs2", "decBP2", "decBA2")},
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
       |${Lifecycle.dedupDecisionCtes("lcorp3", "lb3", "L3")},
       |ixsem3 AS (SELECT cell, vec_id, e, nrm FROM ixsem2
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixs2
       |    WHERE vec_id IN (SELECT doc_id FROM madm2)),
       |dv3 AS (SELECT vec_id, e FROM xv
       |  WHERE vec_id % 8 IN (2, 3) OR vec_id IN (SELECT sdoc FROM sm)),
       |${cellCtes("dv3", "s3")},
       |${semDay4("s3", "ixsem3")},
       |dP3 AS (SELECT doc_id FROM xdocs
       |  WHERE doc_id % 8 IN (2, 3) OR doc_id IN (SELECT sdoc FROM sm)),
       |idxP3 AS (SELECT doc_id FROM idxP2
       |  UNION ALL SELECT doc_id FROM madm2),
       |${bandedDay("P3", "xpbands", "xbits", imgJoin, "dP3", "idxP3",
          "phash")},
       |${bandedDay("A3", "xabands", "xabits", audJoin, "dP3", "idxP3",
          "audio")},
       |${fin("3", "decisionsL3", "decSs3", "decBP3", "decBA3")}""".stripMargin

  private val sh8 = graft.ops.Dedup.shinglesSql("text", 8)

  private val sh2 = graft.ops.Dedup.shinglesSql("text", 2)

  /** One day's contamination + quality post-gate columns over the
    * `lb$sfx(doc_id, text)` batch CTE — [[graft.ops.MultiDay
    * .decisions6]]'s two gates verbatim (ContamPpm ppm of distinct
    * 8-grams shared with the bench gram set `mgr6`; RepTenths tenths
    * of duplicate 2-gram mass).
    */
  private def postGate6(sfx: String): String = {
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

  private def fin6(k: Int, sfx: String): String =
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
  private def mm6Ctes: String =
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
       |${semSeedCtes("snap6v")},
       |${cellCtes("snap6v", "m6")},
       |${phashCtes("(d.doc_id - d.doc_id % 2)")},
       |${audioCtes()},
       |lcorp61 AS MATERIALIZED (SELECT doc_id, text FROM pool6
       |  WHERE doc_id % 4 IN (2, 3)),
       |lbL61 AS (SELECT doc_id, text FROM pool6 WHERE doc_id % 4 = 0),
       |${Lifecycle.dedupDecisionCtes("lcorp61", "lbL61", "L61")},
       |dv61 AS (SELECT v.vec_id, v.e FROM v
       |  JOIN pool6 p ON p.doc_id = v.vec_id WHERE p.doc_id % 4 = 0),
       |${cellCtes("dv61", "sL61")},
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
       |${Lifecycle.dedupDecisionCtes("lcorp62", "lbL62", "L62")},
       |ixsem62 AS (SELECT cell, vec_id, e, nrm FROM ixm6
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixsL61
       |    WHERE vec_id IN (SELECT doc_id FROM madm61)),
       |dv62 AS (SELECT v.vec_id, v.e FROM v
       |  JOIN pool6 p ON p.doc_id = v.vec_id WHERE p.doc_id % 4 = 1
       |  UNION ALL SELECT sm6.sdoc, v.e FROM sm6
       |    JOIN v ON v.vec_id = sm6.src),
       |${cellCtes("dv62", "sL62")},
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

  private def mmDecisionsSql: String = threeDaySql(mmCtes, "fin3")

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

  /** q543's lexical corpus after day 3 and the three days' admission counts. */
  private val mmCardAdmCtes: String =
    """lcorp4 AS (SELECT doc_id, text FROM lcorp3
      |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
      |    JOIN madm3 USING (doc_id)),
      |adm AS (SELECT count(*) AS n1 FROM madm1),
      |adm2c AS (SELECT count(*) AS n2 FROM madm2),
      |adm3c AS (SELECT count(*) AS n3 FROM madm3)""".stripMargin

  /** q543's card rows (modality, metric, value) over lcorp4 and the counts. */
  private val mmCardRows: String =
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
  private val mm6DecisionRows: String =
    """SELECT * FROM (
      |  SELECT 1 AS day, doc_id, d_lex, d_sem, d_ph, d_aud,
      |    d_contam, d_qual, decision FROM fin61
      |  UNION ALL SELECT 2, doc_id, d_lex, d_sem, d_ph, d_aud,
      |    d_contam, d_qual, decision FROM fin62)
      |ORDER BY day, doc_id""".stripMargin

  /** The six-stage card rows over lcorp63. */
  private val mm6CardRows: String =
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
  private val ttlRetCte: String =
    """ret AS MATERIALIZED (SELECT doc_id, text FROM pdocs
      |  WHERE doc_id % 8 >= 4
      |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
      |    JOIN madm2 USING (doc_id)
      |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
      |    JOIN madm3 USING (doc_id))""".stripMargin

  /** The card rows over the retained docs `ret`. */
  private val ttlCardRows: String =
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
  private val mmCalBatch = batchRoot("graft_mm_calb_", MultiStream.TtlCal)

  /** The six-stage CALENDAR lifecycles (r12 verdict task 3): the
    * proven two-day full stack + the ledgered ttl2 slot + the
    * pin-derived witness day 3, batch and streamed engines.
    */
  private val mm6Cal = batchRoot("graft_mm6_cal_", MultiStream.Ttl6Cal)

  private val mm6CalStream = Fixture.rooted("graft_mm6_cals_") { (s, d, root) =>
    val p = graft.ops.MultiDay.Paths4(root)
    val (noop, days) =
      graft.streaming.MultiStream.runDays6CalendarStreamed(s, d, p)
    (p, noop, days)
  }

  /** The CALENDAR re-derivation: [[mmCtes]]' days 1–2
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
  private def mmCalCtes: String =
    s"""${mmCtes},
       |lcorpR AS MATERIALIZED (SELECT doc_id, text FROM lcorp1
       |  UNION ALL SELECT d.doc_id, d.text FROM pdocs d
       |    JOIN madm2 USING (doc_id)),
       |${Lifecycle.dedupDecisionCtes("lcorpR", "lb3", "R3")},
       |ixsemR AS (SELECT cell, vec_id, e, nrm FROM ixms
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixs2
       |    WHERE vec_id IN (SELECT doc_id FROM madm2)),
       |${semDay4("sR", "ixsemR", "ixs3")},
       |idxPR AS (SELECT doc_id FROM idxP1
       |  UNION ALL SELECT doc_id FROM madm2),
       |${bandedDay("PR", "xpbands", "xbits",
          "y.cy = x.cy AND y.cx = x.cx", "dP3", "idxPR", "phash")},
       |${bandedDay("AR", "xabands", "xabits",
          "y.i = x.i", "dP3", "idxPR", "audio")},
       |${fin("R", "decisionsR3", "decSsR", "decBPR", "decBAR")}""".stripMargin

  /** The six-stage calendar re-derivation: [[mm6Ctes]]'
    * two days verbatim (the TTL follows day 2), then the witness day
    * against the RETAINED sets — lexical corpus / semantic cells /
    * perceptual id sets rebuilt as snapshot + day-2 admissions only,
    * with the four day-3 sentinels' signatures cloned from their
    * pinned sources.
    */
  private def mm6CalCtes: String = {
    val imgJ = "y.cy = x.cy AND y.cx = x.cx"
    val audJ = "y.i = x.i"
    s"""${mm6Ctes},
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
       |${Lifecycle.dedupDecisionCtes("lcorpN3", "lbN3", "N3")},
       |ixsemN3 AS (SELECT cell, vec_id, e, nrm FROM ixm6
       |  UNION ALL SELECT cell, vec_id, e, nrm FROM ixsL62
       |    WHERE vec_id IN (SELECT doc_id FROM madm62)),
       |dvN3 AS (SELECT smN.sdoc AS vec_id, v.e FROM smN
       |  JOIN v ON v.vec_id = smN.src),
       |${cellCtes("dvN3", "sN3")},
       |${semDay4("sN3", "ixsemN3")},
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
       |${bandedDay("PN3", "ypbN", "ybiN", imgJ, "dPN3",
          "idxPN3", "phash")},
       |${bandedDay("AN3", "yabN", "yabiN", audJ, "dPN3",
          "idxPN3", "audio")},
       |${postGate6("N3")},
       |${fin6(3, "N3")}""".stripMargin
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

  private def mmCalDecisionsSql: String = threeDaySql(mmCalCtes, "finR")

  /** The batch mm SIZE-CAP calendar: days 1–2, the cap2 slot (the
    * deterministic-horizon fixture cap — snapshot + day 1 expire),
    * day 3 against the capped indexes, then the under-cap cap3
    * ledgered no-op.
    */
  private val capBatch = batchRoot("graft_mm_capb_", MultiStream.CapCal)

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

  /** The mm cap re-derivation: [[mmCtes]]' days 1–2
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
    s"""${mmCtes},
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
       |${Lifecycle.dedupDecisionCtes("lcorpK", "lb3", "K3")},
       |ixsemK AS (SELECT cell, vec_id, e, nrm FROM ixs2
       |  WHERE vec_id IN (SELECT doc_id FROM madm2)),
       |${semDay4("sK", "ixsemK", "ixs3")},
       |idxPK AS (SELECT doc_id FROM madm2),
       |${bandedDay("PK", "xpbands", "xbits",
          "y.cy = x.cy AND y.cx = x.cx", "dP3", "idxPK", "phash")},
       |${bandedDay("AK", "xabands", "xabits",
          "y.i = x.i", "dP3", "idxPK", "audio")},
       |${fin("K", "decisionsK3", "decSsK", "decBPK", "decBAK")}""".stripMargin

  private def mmCapDecisionsSql: String = threeDaySql(mmCapCtes, "finK")

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
      semDecisions(s, semStreamed(s, dir)._1).orderBy("day", "vec_id")
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
      ledgerCards(SemIndex.indexStats(s, p), stable, days, Seq("cell"))
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
         |${Lifecycle.dedupDecisionCtes("lcorpT", "lb1", "LT")},
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
      funnel(MultiDay.allDecisions4(s, mmStream(s, dir)._1),
        MultiDay.Stages4),
      oracle = funnelSql(mmCtes, "fin", MultiDay.Stages4)),

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
         |GROUP BY band ORDER BY band""".stripMargin),

    // The six-stage calendar's admission-funnel card: per (day, stage,
    // verdict) counts straight off the pinned decisions — the q555
    // disclosure at all six stages plus the combined verdict.
    Gate("q580_mm6_cal_funnel", (s, dir) =>
      funnel(graft.ops.MultiDay.allDecisions6Upto(s, mm6Cal(s, dir), 3),
        MultiDay.Stages6),
      // the same stage stack re-derived from the composed
      // fin61/fin62/fin63 frames
      oracle = funnelSql(mm6CalCtes, "fin6", MultiDay.Stages6)),

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
      ledgerCards(graft.ops.MultiDay.indexCards4(s, p), noop, days)
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
      ledgerCards(graft.ops.MultiDay.indexCards4(s, p), noop, days)
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

    // REJECT EVIDENCE — the steward's "who blocked this doc" query,
    // served off the SAME search path the indexes expose (q563's
    // machinery): for every day-2 perceptual corpus rejection of the
    // six-stage lifecycle, the nearest current-corpus partner and its
    // exact Hamming distance (guaranteed <= MaxDist: the blocking
    // member is still indexed). The admission ledger says WHAT was
    // decided; this discloses WHY.
    Gate("q584_mm6_reject_evidence", (s, dir) => {
      val p = mm6(s, dir)
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

    // The semantic stage's reject evidence: the top-cosine partner in
    // the rejected doc's own cell (nprobe = 1 — the dedup probe's
    // regime), served off SemIndex.search. The day-1-admitted clone
    // sentinel reads back its source at cosine 1.
    Gate("q585_sem_reject_evidence", (s, dir) => {
      val p = mm6(s, dir)
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
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin),

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
      ledgerCards(MultiDay.indexCards4(s, p)
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
      mmDecisionsSql),

    // Its cards + calendar facts: ledger holds the three admission
    // days AND the two compact slots; the replayed compact control
    // was a pure no-op; every count identical to the never-compacted
    // chain (content invariance at lifecycle level).
    Gate("q592_mm_compact_stream_cards", (s, dir) => {
      val (p, noop, days) = compactStream(s, dir)
      ledgerCards(MultiDay.indexCards4(s, p), noop, days)
    }, oracle =
      // ... and its cards re-derivation with the compact slots ledgered
      s"""WITH ${mmCtes},
         |${mmCardAdmCtes}
         |SELECT *, 'compact1,compact2,mm1,mm2,mm3' AS ledger_days,
         |  '1' AS replay_stable
         |FROM (
         |${mmCardRows}""".stripMargin),

    // The same evidence served off the SIX-STAGE lifecycle's index
    // (the q584/q585 sibling): both days' lexical corpus rejections
    // ask the post-day-2 index "which stored doc blocks me NOW" —
    // the day-2 clone sentinel reads back its day-1 source at 1e6.
    Gate("q594_mm6_lex_reject_evidence", (s, dir) => {
      val p = mm6(s, dir)
      val (rej, rejTexts) = rejected(s, p,
        col("d_lex").isin("dup_exact_corpus", "near_dup_corpus"))
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
        s"""WITH ${mm6Ctes},
           |evcorp AS MATERIALIZED (SELECT doc_id, text FROM lcorp62
           |  UNION ALL SELECT b.doc_id, b.text FROM lbL62 b
           |    JOIN madm62 ON madm62.doc_id = b.doc_id),
           |${Lifecycle.dedupDecisionCtes("evcorp", "lbL61", "E61")},
           |${evidenceSelect("evcorp", "lbL61", "E61",
              ids(1, "dup_exact_corpus"), ids(1, "near_dup_corpus"))},
           |${Lifecycle.dedupDecisionCtes("evcorp", "lbL62", "E62")},
           |${evidenceSelect("evcorp", "lbL62", "E62",
              ids(2, "dup_exact_corpus"), ids(2, "near_dup_corpus"))}
           |SELECT * FROM (
           |  SELECT 1 AS day, doc_id, kind, partner_id, jaccard_ppm
           |    FROM evidE61
           |  UNION ALL SELECT 2, doc_id, kind, partner_id, jaccard_ppm
           |    FROM evidE62)
           |ORDER BY day, doc_id""".stripMargin
      }),

    // CONTAMINATION REJECT EVIDENCE (completing the family — every
    // six-stage rejection kind now explains itself: q584 perceptual,
    // q585 semantic, q593/q594 lexical, here the contam post-gate):
    // each d_contam rejection serves the gate's own integers and the
    // most-overlapping BENCHMARK doc as its named partner.
    Gate("q602_mm6_contam_evidence", (s, dir) => {
      val (rej, rejTexts) = rejected(s, mm6(s, dir),
        col("d_contam") === "contaminated")
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
        s"""WITH ${mm6Ctes},
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
      val (rej, rejTexts) = rejected(s, mm6(s, dir),
        col("d_qual") === "low_quality")
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
        s"""WITH ${mm6Ctes},
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
      mmCalDecisionsSql),

    // Its cards: retained sets = day-2 + day-3 admissions only (day 1
    // aged out by ttl2, the snapshot capped out by cap3 — pinned
    // horizon 1); ledger holds the three admission days and all four
    // maintenance slots; all three replayed controls no-op'd; the
    // compact3 slot genuinely settled the lexical hash table.
    Gate("q605_mm_full_cal_cards", (s, dir) => {
      val (p, noop, days, horizon, settled) = fullCal(s, dir)
      ledgerCards(MultiDay.indexCards4(s, p)
          .withColumn("keep_from", lit(horizon.toLong)), noop, days)
        .withColumn("files_settled", lit(if (settled) "1" else "0"))
    }, oracle =
      // the q570 cards shape over the post-cap retained sets (day-2 +
      // day-3 admissions; the snapshot leg of lcorpR capped out) + the
      // calendar-fact literals
      s"""WITH ${mmCalCtes},
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
         |ORDER BY modality, metric""".stripMargin)
  )
}
