package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 hardening properties — the r13 ADVICE items closed at
  * source plus the new machinery's crash branches: the PhashIndex
  * pair-keyed band backfill, healTorn's three states, indexedDocs'
  * loud-fail on unresolved members, cap4Day's under-cap no-op and
  * newest-day-exceeds loud-fail, rejectEvidence's sentinel contract,
  * and the probe expansion's recall monotonicity.
  */
class Round14Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/x"

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hashedOf(ids: Long*): org.apache.spark.sql.DataFrame =
    ids.toSeq.toDF("media_id").select(col("media_id") +:
      (0 until 8).map(i =>
        (col("media_id") * 7 + i).cast("long").as(s"r$i")): _*)

  test("PhashIndex.append backfills a torn partial-band append") {
    val root = tmp("graft_r14_phap_")
    try {
      val p = graft.ops.PhashIndex.Paths(root)
      graft.ops.PhashIndex.write(spark, hashedOf(1L, 2L), p)
      // simulate the torn append: doc 3's hash row committed, its
      // band rows did NOT (the crash between the two appends)
      hashedOf(3L).write.mode("append").parquet(p.hashes)
      assert(spark.read.parquet(p.bands)
        .where(col("media_id") === 3L).count() == 0L)
      graft.ops.PhashIndex.append(spark, p, hashedOf(3L)) // the replay
      assert(spark.read.parquet(p.hashes)
        .where(col("media_id") === 3L).count() == 1L) // not duplicated
      assert(spark.read.parquet(p.bands)
        .where(col("media_id") === 3L).count() == 4L) // backfilled
      // a fully-committed doc replays to nothing
      graft.ops.PhashIndex.append(spark, p, hashedOf(1L, 2L, 3L))
      assert(spark.read.parquet(p.hashes).count() == 3L)
      assert(spark.read.parquet(p.bands).count() == 12L)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("healTorn finishes a torn swap from the caller's side") {
    val root = tmp("graft_r14_heal_")
    try {
      val live = s"$root/live"
      Seq((1L, "old")).toDF("id", "v")
        .write.mode("overwrite").parquet(live)
      Seq((2L, "new")).toDF("id", "v")
        .write.mode("overwrite").parquet(live + "__staging")
      val fs = fsOf(root)
      assert(fs.rename(new org.apache.hadoop.fs.Path(live),
        new org.apache.hadoop.fs.Path(live + "__old"))) // the crash
      graft.core.Layout.healTorn(spark, live)
      assert(spark.read.parquet(live).select("v")
        .head().getString(0) == "new")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(live + "__old")))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("healTorn restores __old when the staging copy is gone") {
    val root = tmp("graft_r14_heal2_")
    try {
      val live = s"$root/live"
      Seq((1L, "old")).toDF("id", "v")
        .write.mode("overwrite").parquet(live + "__old")
      graft.core.Layout.healTorn(spark, live)
      assert(spark.read.parquet(live).select("v")
        .head().getString(0) == "old")
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("healTorn is a no-op next to a committed live path") {
    val root = tmp("graft_r14_heal3_")
    try {
      val live = s"$root/live"
      Seq((1L, "live")).toDF("id", "v")
        .write.mode("overwrite").parquet(live)
      Seq((0L, "stale")).toDF("id", "v")
        .write.mode("overwrite").parquet(live + "__staging")
      graft.core.Layout.healTorn(spark, live)
      assert(spark.read.parquet(live).select("v")
        .head().getString(0) == "live")
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("compact self-recovers after its own torn swap (caller replay)") {
    val root = tmp("graft_r14_cmp_")
    try {
      val p = graft.ops.PhashIndex.Paths(root)
      graft.ops.PhashIndex.write(spark, hashedOf(1L, 2L, 3L), p)
      // stage a compacted copy, then tear the swap by hand
      spark.read.parquet(p.hashes).repartition(1)
        .write.mode("overwrite").parquet(p.hashes + "__staging")
      val fs = fsOf(root)
      assert(fs.rename(new org.apache.hadoop.fs.Path(p.hashes),
        new org.apache.hadoop.fs.Path(p.hashes + "__old")))
      graft.ops.PhashIndex.compact(spark, p) // the natural replay
      assert(spark.read.parquet(p.hashes).count() == 3L)
      assert(spark.read.parquet(p.bands).count() == 12L)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("indexedDocs resolves drop-file sentinels and loud-fails on misses") {
    val root = tmp("graft_r14_idocs_")
    try {
      val p = graft.ops.MultiDay.Paths4(root)
      val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta eps zeta"))
        .toDF("doc_id", "text")
      graft.ops.Dedup.writeDedupIndex(corpus, "text", "doc_id", p.lex)
      // a drop-file sentinel (id 99, absent from the corpus table)
      // admitted into the index
      Seq((99L, "omega psi chi", Array.empty[Float],
          Array.empty[Byte]))
        .toDF("doc_id", "text", "embedding", "img")
        .write.mode("overwrite").parquet(p.dropDay(1))
      graft.ops.Dedup.appendDedupIndex(
        Seq((99L, "omega psi chi")).toDF("doc_id", "text"),
        "text", "doc_id", p.lex)
      val docs = graft.ops.MultiDay.indexedDocs(spark, p, corpus)
      assert(docs.count() == 3L)
      assert(docs.where(col("doc_id") === 99L).select("text")
        .head().getString(0) == "omega psi chi")
      // an unresolvable member loud-fails instead of over-deleting
      graft.ops.Dedup.appendDedupIndex(
        Seq((100L, "phantom text here")).toDF("doc_id", "text"),
        "text", "doc_id", p.lex)
      val e = intercept[IllegalArgumentException] {
        graft.ops.MultiDay.indexedDocs(spark, p, corpus).count()
      }
      assert(e.getMessage.contains("resolve in neither"))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("cap4Day: under-cap ledgered no-op, loud-fail when day exceeds") {
    val root = tmp("graft_r14_cap_")
    try {
      val dir = "/root/testdata/sf0.001"
      val p = graft.ops.MultiDay.Paths4(root)
      graft.ops.MultiDay.bootstrap4(spark, dir, p)
      val fetch = graft.core.Tables(spark, dir, "documents")
      graft.ops.MultiDay.processDay4(spark, p, 1,
        spark.read.parquet(p.dropDay(1)), fetch)
      val masses = graft.ops.MultiDay.retainedMasses(spark, p, fetch)
      assert(masses.keySet == Set(0, 1) && masses.values.forall(_ > 0L))
      // under-cap: ledgered no-op at horizon 0, nothing deleted
      val before = spark.read.parquet(p.sem.index).count()
      assert(graft.ops.MultiDay.cap4Day(spark, p, "capA",
        masses.values.sum, fetch) == 0)
      assert(spark.read.parquet(p.capHorizon("capA"))
        .head().getInt(0) == 0)
      assert(spark.read.parquet(p.sem.index).count() == before)
      // a committed slot is a pure no-op on replay
      assert(graft.ops.MultiDay.cap4Day(spark, p, "capA", 1L, fetch) == 0)
      // even the newest day alone exceeds the cap → loud fail
      val e = intercept[RuntimeException] {
        graft.ops.MultiDay.cap4Day(spark, p, "capB", 1L, fetch)
      }
      assert(e.getMessage.contains("alone exceeds"))
      // a genuine expiry: cap exactly day 1's mass → snapshot out
      assert(graft.ops.MultiDay.cap4Day(spark, p, "capC",
        masses(1), fetch) == 1)
      val after = graft.ops.MultiDay.retainedMasses(spark, p, fetch)
      assert(after(0) == 0L && after(1) == masses(1))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("rejectEvidence: exact clone reads back its source at ppm 1e6") {
    val root = tmp("graft_r14_ev_")
    try {
      val path = s"$root/lex"
      val corpus = Seq(
        (10L, "the quick brown fox jumps over the lazy dog today"),
        (11L, "an entirely different document about spark engines"))
        .toDF("doc_id", "text")
      graft.ops.Dedup.writeDedupIndex(corpus, "text", "doc_id", path)
      val rejected = Seq(
        (20L, "the quick brown fox jumps over the lazy dog today"),
        (21L, "the quick brown fox jumps over the lazy dog today zz"))
        .toDF("doc_id", "text")
      val ev = graft.ops.Dedup.rejectEvidence(spark, path, corpus,
        rejected, "text", "doc_id").orderBy("doc_id").collect()
      assert(ev.length == 2)
      assert(ev(0).getLong(0) == 20L && ev(0).getString(1) == "exact"
        && ev(0).getLong(2) == 10L && ev(0).getLong(3) == 1000000L)
      assert(ev(1).getLong(0) == 21L && ev(1).getString(1) == "near"
        && ev(1).getLong(2) == 10L && ev(1).getLong(3) < 1000000L
        && ev(1).getLong(3) >= 800000L)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("probe radius 1 never loses recall vs radius 0") {
    val root = tmp("graft_r14_probe_")
    try {
      val p = graft.ops.PhashIndex.Paths(root)
      graft.ops.PhashIndex.write(spark, hashedOf(1L to 40L: _*), p)
      val q = hashedOf(41L to 50L: _*)
      def recall(probes: Int): Map[Long, Long] =
        graft.ops.PhashIndex.searchRecall(spark, p, q, 5, probes)
          .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val r0 = recall(0); val r1 = recall(1)
      assert(r0.keySet == r1.keySet)
      assert(r0.keySet.forall(k => r1(k) >= r0(k)))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  // The branch the q602/q603 gates never exercise (their inputs are
  // rejections, which overlap by definition): a CLEAN doc keeps its
  // totals row and reports null partner/culprit columns.
  test("contaminationEvidence/repetitionEvidence null contracts") {
    val eval = Seq((100L, "alpha beta gamma delta epsilon zeta eta " +
      "theta iota kappa")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda"), // shares 8-grams with the eval doc
      (2L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val ce = graft.ops.Corpus.contaminationEvidence(docs, eval,
      "text", "doc_id").orderBy("doc_id").collect()
    assert(ce.length == 2)
    assert(ce(0).getLong(3) > 0L // contam_ppm
      && ce(0).getLong(4) == 100L) // partner_id
    assert(ce(1).getLong(2) == 0L && ce(1).getLong(3) == 0L
      && ce(1).isNullAt(4) && ce(1).isNullAt(5) && ce(1).isNullAt(6))
    val re = graft.ops.Corpus.repetitionEvidence(Seq(
        (1L, "spam ham spam ham spam eggs"),
        (2L, "a b c d e f")).toDF("doc_id", "text"),
      "text", "doc_id").orderBy("doc_id").collect()
    assert(re.length == 2)
    // culprit: "ham spam" and "spam ham" both occur twice -> the
    // lexicographically smaller gram wins the tie
    assert(re(0).getString(5) == "ham spam" && re(0).getLong(6) == 2L)
    assert(re(1).getLong(1) == 5L && re(1).getLong(2) == 5L
      && re(1).getLong(3) == 0L && re(1).isNullAt(5) && re(1).isNullAt(6))
  }
}
