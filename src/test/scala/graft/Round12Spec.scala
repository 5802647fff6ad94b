package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 hardening properties: audio-fingerprint contract,
  * decode-once artifact idempotence, the anti-joined lexical band
  * append (ADVICE r11), missing-modality loudness, atomic-swap
  * compaction/refit, index deletes, the budgetAdmit type guard, and
  * the torn multimodal-day replay convergence.
  */
class Round12Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/x"

  test("audioFingerprint: monotone payloads, empty payload, determinism") {
    val inc = Array.tabulate(130)(i => i.toByte) // increasing energies
    val dec = Array.tabulate(130)(i => (200 - i).toByte)
    val media = Seq((1L, inc), (2L, dec), (3L, Array.empty[Byte]))
      .toDF("media_id", "payload")
    val fp = graft.ops.Multimodal.audioFingerprint(media)
      .orderBy("media_id").collect()
    // strictly increasing byte values => every later window heavier
    // => every sign bit 0
    assert((0 until 8).forall(i => fp(0).getLong(i + 1) == 0L))
    // strictly decreasing => every bit 1 => all row-bytes 0xff
    assert((0 until 8).forall(i => fp(1).getLong(i + 1) == 255L))
    // empty payload => all-zero signature, not a crash
    assert((0 until 8).forall(i => fp(2).getLong(i + 1) == 0L))
    // determinism across recomputation
    val again = graft.ops.Multimodal.audioFingerprint(media)
      .orderBy("media_id").collect()
    assert(fp.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("MediaHashes.extend is decode-once idempotent") {
    val root = tmp("graft_r12_media_")
    try {
      val path = s"$root/media_hashes.parquet"
      val media = graft.core.Tables(spark, sf, "documents")
        .limit(10)
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload"),
          col("text").cast("binary").as("audio"))
      graft.ops.MediaHashes.extend(spark, path, media)
      val n1 = spark.read.parquet(path).count()
      graft.ops.MediaHashes.extend(spark, path, media) // replay
      assert(spark.read.parquet(path).count() == n1)
      assert(n1 == 10L)
      // compaction: content invariant, file count settles to one per
      // touched bucket partition
      val pre = spark.read.parquet(path).collect().map(_.toSeq).toSet
      graft.ops.MediaHashes.compact(spark, path)
      assert(spark.read.parquet(path).collect().map(_.toSeq).toSet == pre)
      assert(graft.ops.Scale.parquetFileCount(spark, path)
        <= graft.ops.MediaHashes.NBuckets)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("appendDedupIndex replay appends neither hashes nor band rows") {
    val root = tmp("graft_r12_append_")
    try {
      val docs = graft.core.Tables(spark, sf, "documents")
        .select("doc_id", "text")
      graft.ops.Dedup.writeDedupIndex(
        docs.where(pmod(col("doc_id"), lit(2L)) === 0L),
        "text", "doc_id", root)
      val delta = docs.where(pmod(col("doc_id"), lit(2L)) === 1L)
      graft.ops.Dedup.appendDedupIndex(delta, "text", "doc_id", root)
      val h1 = spark.read.parquet(s"$root/hashes.parquet").count()
      val b1 = spark.read.parquet(s"$root/bands.parquet").count()
      graft.ops.Dedup.appendDedupIndex(delta, "text", "doc_id", root)
      assert(spark.read.parquet(s"$root/hashes.parquet").count() == h1)
      // the ADVICE r11 regression: bands used to double on replay
      assert(spark.read.parquet(s"$root/bands.parquet").count() == b1)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("SemIndex: atomic-swap compact keeps content; delete prunes cells") {
    val root = tmp("graft_r12_sem_")
    try {
      val p = graft.ops.SemIndex.Paths(root)
      val emb = graft.core.Tables(spark, sf, "embeddings")
        .select("vec_id", "embedding")
      graft.ops.SemIndex.bootstrap(spark, emb, p)
      val before = spark.read.parquet(p.index)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      graft.ops.SemIndex.compact(spark, p)
      val after = spark.read.parquet(p.index)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(after == before)
      val fs = new org.apache.hadoop.fs.Path(p.index).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        p.index + "__staging")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p.index + "__old")))
      // delete: victims leave, survivors (incl. same-cell ones) stay
      val victims = before.toSeq.sortBy(_._1).take(3).map(_._1)
      graft.ops.SemIndex.delete(spark, p,
        victims.toDF("vec_id"))
      val kept = spark.read.parquet(p.index)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(kept == before.filterNot(v => victims.contains(v._1)))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("refitIfNeeded: quiet below target, fires above, ids invariant") {
    val root = tmp("graft_r12_refit_")
    try {
      val p = graft.ops.SemIndex.Paths(root)
      val emb = graft.core.Tables(spark, sf, "embeddings")
        .select("vec_id", "embedding")
      graft.ops.SemIndex.bootstrap(spark, emb, p)
      val ids = spark.read.parquet(p.index).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      // generous target: occupancy fine, no refit, index untouched
      assert(graft.ops.SemIndex.refitIfNeeded(spark, p, 1000000L) == 0L)
      assert(spark.read.parquet(p.index).select("vec_id")
        .collect().map(_.getLong(0)).toSet == ids)
      // tight target: must fire at ceil(n / target) cells and keep
      // the exact vector-id set through the cutover
      val n = ids.size.toLong
      val nc = graft.ops.SemIndex.refitIfNeeded(spark, p, 4L)
      assert(nc == (n + 3L) / 4L)
      assert(spark.read.parquet(p.index).select("vec_id")
        .collect().map(_.getLong(0)).toSet == ids)
      assert(spark.read.parquet(p.seeds).count() == nc)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("PhashIndex.delete removes hashes and bands of victims only") {
    val root = tmp("graft_r12_ph_")
    try {
      val p = graft.ops.PhashIndex.Paths(root)
      val docs = graft.core.Tables(spark, sf, "documents")
      val fp = graft.ops.Multimodal.audioFingerprint(
        docs.select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload")))
      graft.ops.PhashIndex.write(spark, fp, p)
      val all = spark.read.parquet(p.hashes).select("media_id")
        .collect().map(_.getLong(0)).toSet
      val victims = all.toSeq.sorted.take(4)
      graft.ops.PhashIndex.delete(spark, p, victims.toDF("media_id"))
      assert(spark.read.parquet(p.hashes).select("media_id")
        .collect().map(_.getLong(0)).toSet ==
        all -- victims)
      assert(spark.read.parquet(p.bands)
        .where(col("media_id").isin(victims.map(Long.box): _*))
        .count() == 0L)
      assert(spark.read.parquet(p.bands).count() ==
        4L * (all.size - victims.size))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("budgetAdmit rejects non-integral priority loudly") {
    val df = Seq((1L, 10L, 0.5), (2L, 5L, 0.9))
      .toDF("doc_id", "n_tok", "prio")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Corpus.budgetAdmit(df, "doc_id", "n_tok",
        col("prio"), 100L)
    }
    assert(e.getMessage.contains("integer-valued"))
    // the quantized form passes the guard
    val ok = graft.ops.Corpus.budgetAdmit(df, "doc_id", "n_tok",
      (col("prio") * 1000000).cast("long"), 100L)
    assert(ok.count() == 2L)
  }

  test("one micro-batch carrying TWO days applies them in day order") {
    val root = tmp("graft_r12_batch2_")
    try {
      val p = graft.ops.MultiDay.Paths4(root)
      graft.ops.MultiDay.bootstrap4(spark, sf, p)
      val fetch = graft.core.Tables(spark, sf, "documents")
      // ONE landing file holding both days: the file source delivers
      // it as a single micro-batch, and the in-batch day loop must
      // run day 1 before day 2 (day 2's body REQUIRES day 1's pin, so
      // wrong order fails loudly rather than passing vacuously)
      val both = spark.read.parquet(p.dropDay(1)).withColumn("day", lit(1))
        .unionByName(
          spark.read.parquet(p.dropDay(2)).withColumn("day", lit(2)))
      val stage = s"$root/stage_both"
      both.repartition(1).write.parquet(stage)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(stage).getFileSystem(conf)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .find(s => s.isFile && s.getPath.getName.startsWith("part-")).get
      fs.mkdirs(new org.apache.hadoop.fs.Path(p.landing)): Unit
      assert(fs.rename(part.getPath,
        new org.apache.hadoop.fs.Path(p.landing, "days12.parquet")))
      graft.streaming.Calendar.run(spark,
        graft.streaming.MultiStream.binding(spark, p, fetch),
        Seq(graft.streaming.Calendar.Run))
      assert(graft.core.Ledger.ids(spark, p.ledger)
        == Seq("mm1", "mm2"))
      (1 to 2).foreach { k =>
        assert(fs.exists(new org.apache.hadoop.fs.Path(
          p.decisionsDay(k) + "/_SUCCESS")), s"day $k pin missing")
      }
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("incremental bpeTrain equals a full per-merge recount") {
    val docs = graft.core.Tables(spark, sf, "documents")
    // naive reference: full pair recount per merge (the pre-r12 shape)
    def naive(nMerges: Int, prefix: String): Seq[(String, String)] = {
      var words: Array[(Vector[String], Long)] =
        graft.ops.TextOps.bpeWordCounts(docs, "text", 100000).collect()
          .map(r => ((prefix + r.getString(0)).map(_.toString).toVector,
            r.getLong(1)))
      val out = Seq.newBuilder[(String, String)]
      var k = 0
      var done = false
      while (k < nMerges && !done) {
        val pc = scala.collection.mutable.HashMap
          .empty[(String, String), Long]
        for ((syms, c) <- words; i <- 0 until syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pc(p) = pc.getOrElse(p, 0L) + c
        }
        if (pc.isEmpty) done = true
        else {
          val (a, b) = pc.toSeq.minBy { case ((x, y), c) => (-c, x, y) }._1
          out += ((a, b))
          words = words.map { case (s, c) =>
            (graft.ops.TextOps.mergePair(s, a, b), c)
          }
          k += 1
        }
      }
      out.result()
    }
    assert(graft.ops.TextOps.bpeTrain(docs, "text", 60) == naive(60, ""))
    assert(graft.ops.TextOps.bpeTrain(docs, "text", 40, wordPrefix = "_")
      == naive(40, "_"))
  }

  test("multimodal day: missing modality is loud; torn day converges") {
    val root = tmp("graft_r12_mm_")
    try {
      val p = graft.ops.MultiDay.Paths4(root)
      graft.ops.MultiDay.bootstrap4(spark, sf, p)
      val fetch = graft.core.Tables(spark, sf, "documents")
      val drop1 = spark.read.parquet(p.dropDay(1))
      // ---- missing modality: drop one doc's embedding row ----------
      val probeId = drop1.orderBy("doc_id").limit(1)
        .head().getLong(0)
      val d = drop1.localCheckpoint(true)
      graft.ops.MediaHashes.extend(spark, p.media,
        d.select(col("doc_id").as("media_id"),
          col("img").as("payload"),
          col("text").cast("binary").as("audio")))
      val ids = d.select(col("doc_id").as("media_id"))
      // simulate a doc whose IMAGE row is absent from the signature
      // fetch: it must surface as missing_modality, not vanish
      val dec = graft.ops.MultiDay.decisions4(spark, p, d,
        graft.ops.MediaHashes.fetchImage(spark, p.media,
          ids.where(col("media_id") =!= probeId)),
        graft.ops.MediaHashes.fetchAudio(spark, p.media, ids),
        fetch)
      val probe = dec.where(col("doc_id") === probeId)
        .select("decision").collect()
      assert(probe.length == 1 &&
        probe.head.getString(0) == "missing_modality")
      // ---- torn day: body ran, ledger row missing => replay
      //      converges to the identical artifacts -------------------
      graft.ops.MultiDay.processDay4Body(spark, p, 1, drop1, fetch)
      val decA = spark.read.parquet(p.decisionsDay(1))
        .collect().map(_.toSeq).toSet
      val lexA = spark.read.parquet(s"${p.lex}/bands.parquet").count()
      val semA = spark.read.parquet(p.sem.index).count()
      val phA = spark.read.parquet(p.ph.hashes).count()
      assert(graft.ops.MultiDay.processDay4(spark, p, 1, drop1, fetch),
        "first ledgered run must execute")
      assert(spark.read.parquet(p.decisionsDay(1))
        .collect().map(_.toSeq).toSet == decA)
      assert(spark.read.parquet(s"${p.lex}/bands.parquet").count() == lexA)
      assert(spark.read.parquet(p.sem.index).count() == semA)
      assert(spark.read.parquet(p.ph.hashes).count() == phA)
      // committed day: pure no-op now
      assert(!graft.ops.MultiDay.processDay4(spark, p, 1, drop1, fetch))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }
}
