package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 hardening properties — the r12 ADVICE items closed at
  * source: swapInto's torn-swap self-recovery, the single-promote
  * serving-pair refit cutover, the empty-index refit no-op, the
  * under-cap capDayPinned no-op, and the per-(corpus_id, band) append
  * anti-join backfilling a torn band append.
  */
class Round13Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/x"

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("swapInto resumes its own torn swap without losing either copy") {
    val root = tmp("graft_r13_swap_")
    try {
      val live = s"$root/live"; val staging = s"$root/staging"
      Seq((1L, "old")).toDF("id", "v")
        .write.mode("overwrite").parquet(live)
      Seq((2L, "new")).toDF("id", "v")
        .write.mode("overwrite").parquet(staging)
      val fs = fsOf(root)
      // simulate the crash window: the park rename committed, the
      // promote never ran — live is ABSENT, __old holds the only
      // committed pre-swap copy, staging is intact
      assert(fs.rename(new org.apache.hadoop.fs.Path(live),
        new org.apache.hadoop.fs.Path(live + "__old")))
      graft.core.Layout.swapInto(spark, staging, live) // the retry
      assert(spark.read.parquet(live).select("v")
        .head().getString(0) == "new")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(live + "__old")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(staging)))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("swapInto drops a dead-cleanup __old next to a committed live") {
    val root = tmp("graft_r13_swap2_")
    try {
      val live = s"$root/live"; val staging = s"$root/staging"
      Seq((1L, "live")).toDF("id", "v")
        .write.mode("overwrite").parquet(live)
      Seq((0L, "stale")).toDF("id", "v")
        .write.mode("overwrite").parquet(live + "__old")
      Seq((2L, "new")).toDF("id", "v")
        .write.mode("overwrite").parquet(staging)
      graft.core.Layout.swapInto(spark, staging, live)
      assert(spark.read.parquet(live).select("v")
        .head().getString(0) == "new")
      assert(!fsOf(root).exists(
        new org.apache.hadoop.fs.Path(live + "__old")))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("swapInto refuses to run without a staging root") {
    val root = tmp("graft_r13_swap3_")
    try {
      val live = s"$root/live"
      Seq((1L, "live")).toDF("id", "v")
        .write.mode("overwrite").parquet(live)
      val e = intercept[IllegalArgumentException] {
        graft.core.Layout.swapInto(spark, s"$root/absent", live)
      }
      assert(e.getMessage.contains("staging"))
      // and the live copy is untouched by the refusal
      assert(spark.read.parquet(live).count() == 1L)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("refit cutover is one serving-pair promote; torn cutover resumes") {
    val root = tmp("graft_r13_refit_")
    try {
      val p = graft.ops.SemIndex.Paths(root)
      val emb = graft.core.Tables(spark, sf, "embeddings")
        .select("vec_id", "embedding")
      graft.ops.SemIndex.bootstrap(spark, emb, p)
      val ids = spark.read.parquet(p.index).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      // stage a refit BY HAND and crash mid-cutover: serving parked,
      // promote never ran — the swapInto retry must restore a fully
      // CONSISTENT pair (seeds and the index those seeds binned)
      val staging = graft.ops.SemIndex.Paths(s"$root/__staging")
      graft.ops.SemIndex.refit(spark, p, staging, nCells = 4)
      val fs = fsOf(root)
      assert(fs.rename(new org.apache.hadoop.fs.Path(p.serving),
        new org.apache.hadoop.fs.Path(p.serving + "__old")))
      graft.core.Layout.swapInto(spark, staging.serving, p.serving)
      // pair consistency: stored cells reproduce under the stored
      // seeds (a seeds/index version mismatch would mis-bin)
      assert(spark.read.parquet(p.seeds).count() == 4L)
      val stored = spark.read.parquet(p.index)
        .select("vec_id", "cell").as[(Long, Int)].collect().toMap
      val rebinned = graft.ops.SemIndex.assigned(spark,
          emb.withColumnRenamed("embedding", "embedding"), p)
        .select("vec_id", "cell").as[(Long, Int)].collect().toMap
      assert(stored.keySet == ids)
      assert(stored == rebinned.filter { case (k, _) => ids(k) })
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("refitIfNeeded is a quiet no-op on a zero-row index") {
    val root = tmp("graft_r13_refit0_")
    try {
      val p = graft.ops.SemIndex.Paths(root)
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("e",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType)),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("cell",
              org.apache.spark.sql.types.IntegerType))))
        .write.mode("overwrite").parquet(p.index)
      assert(graft.ops.SemIndex.refitIfNeeded(spark, p, 4L) == 0L)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("capDay is a ledgered no-op when the whole corpus fits the cap") {
    val root = tmp("graft_r13_cap_")
    try {
      val a = graft.ops.CurationDay.Artifacts(root)
      // fabricate a 10-token doc per day — day 0 (snapshot) + days
      // 1..NDays: its pack layout row, its corpus row, and (days >= 1)
      // the decision pin that admitted it
      val text = Seq.fill(10)("w").mkString(" ")
      (0 to graft.ops.CurationNDay.NDays).foreach { k =>
        Seq((k, 100L + k, 10L)).toDF("day", "doc_id", "n_tok")
          .write.mode("overwrite").parquet(a.packDay(k))
        Seq((100L + k, text, 0)).toDF("doc_id", "text", "shard")
          .write.partitionBy("shard").mode("append").parquet(a.corpusDir)
        if (k >= 1)
          Seq((100L + k, "admitted")).toDF("doc_id", "decision")
            .write.mode("overwrite").parquet(a.decisionsDay(k))
      }
      val total = 10L * (graft.ops.CurationNDay.NDays + 1)
      // cap >= snapshot + every day: nothing may be expired
      val k = graft.ops.CurationNDay.capDayPinned(spark, a, "cap_noop",
        maxTokens = total, s"$root/m_in", s"$root/m_out")
      assert(k == 0)
      assert(graft.core.Ledger.seen(spark, a.ledger, "cap_noop"))
      // the horizon is PINNED even for the no-op (keep_from_day = 0),
      // so a replayed calendar slot can read what the cap decided
      assert(spark.read.parquet(a.capHorizon("cap_noop"))
        .head().getInt(0) == 0)
      // no mutation: every pack file intact, no manifest written
      (0 to graft.ops.CurationNDay.NDays).foreach { kk =>
        assert(spark.read.parquet(a.packDay(kk)).count() == 1L)
      }
      assert(!fsOf(root).exists(
        new org.apache.hadoop.fs.Path(s"$root/m_out")))
      // replay: committed, still 0, still no mutation
      assert(graft.ops.CurationNDay.capDayPinned(spark, a, "cap_noop",
        maxTokens = total, s"$root/m_in", s"$root/m_out") == 0)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("media_hashes fetch is bucket-pruned; layout survives compact") {
    val root = tmp("graft_r13_media_")
    try {
      val path = s"$root/media_hashes.parquet"
      // fixture membership by PREDICATE, not prefix-limit: a bare limit
      // over the (now scan-spread, multi-partition) documents table is
      // not prefix-consistent across re-evaluations, so the later
      // 7-id fetch could name rows the extend never stored
      val media = graft.core.Tables(spark, sf, "documents")
        .where(col("doc_id") < 40L)
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload"),
          col("text").cast("binary").as("audio"))
      graft.ops.MediaHashes.extend(spark, path, media)
      // a sentinel-sized fetch prunes to its ids' buckets: two ids in
      // the same bucket => a NON-EMPTY PartitionFilters list on mb
      val twoIds = Seq(0L, 16L).toDF("media_id") // both bucket 0
      val fetch = graft.ops.MediaHashes.fetchImage(spark, path, twoIds)
      val scan = fetch.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*mb".r.findFirstIn(scan).isDefined,
        s"expected mb partition pruning in:\n$scan")
      // correctness: the pruned fetch returns exactly the stored rows
      val ids = media.select("media_id").where(col("media_id") < 7L)
      val got = graft.ops.MediaHashes.fetchImage(spark, path, ids)
      assert(got.count() == 7L)
      // compact keeps content and the bucketed layout
      val pre = graft.ops.MediaHashes.read(spark, path)
        .collect().map(_.toSeq).toSet
      graft.ops.MediaHashes.compact(spark, path)
      assert(graft.ops.MediaHashes.read(spark, path)
        .collect().map(_.toSeq).toSet == pre)
      val scan2 = graft.ops.MediaHashes.fetchAudio(spark, path, twoIds)
        .queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*mb".r.findFirstIn(scan2).isDefined)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("ttl4Day: a committed TTL day is a pure no-op") {
    val root = tmp("graft_r13_ttl4_")
    try {
      val p = graft.ops.MultiDay.Paths4(root)
      graft.core.Ledger.once(spark, p.ledger, "ttlX")(()): Unit
      // corpusDocs = null: the guard must answer from the ledger alone
      // — ANY touch of the inputs or indexes would throw here
      assert(!graft.ops.MultiDay.ttl4Day(spark, p, "ttlX", Seq(1), null))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("appendDedupIndex backfills a torn (partial-band) append") {
    val root = tmp("graft_r13_band_")
    try {
      val docs = graft.core.Tables(spark, sf, "documents")
        .select("doc_id", "text")
      graft.ops.Dedup.writeDedupIndex(
        docs.where(col("doc_id") % 2 === 0), "text", "doc_id", root)
      val delta = docs.where(col("doc_id") % 2 === 1).limit(8)
        .localCheckpoint(true)
      graft.ops.Dedup.appendDedupIndex(delta, "text", "doc_id", root)
      val full = spark.read.parquet(s"$root/bands.parquet")
        .collect().map(_.toSeq).toSet
      // tear the append: drop band 2 of one delta doc (the committer-
      // v2 / object-store partial-commit shape)
      val victim = delta.agg(min(col("doc_id"))).head().getLong(0)
      val torn = spark.read.parquet(s"$root/bands.parquet")
        .where(!(col("corpus_id") === victim && col("band") === 2))
        .localCheckpoint(true)
      torn.write.mode("overwrite").parquet(s"$root/bands.parquet")
      assert(spark.read.parquet(s"$root/bands.parquet").count()
        == full.size - 1L)
      // the replay must BACKFILL the missing band row — and only it
      graft.ops.Dedup.appendDedupIndex(delta, "text", "doc_id", root)
      assert(spark.read.parquet(s"$root/bands.parquet")
        .collect().map(_.toSeq).toSet == full)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }
}
