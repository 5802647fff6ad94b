package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 hardening properties: bucket-cap non-vacuity + identity,
  * scoped reliable-checkpoint dispatch, distinct-state audit on a
  * healthy state, and compaction invariants on a controlled state.
  */
class Round11Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/x"

  test("bucket cap: plant exceeds cap, probe disclosed, identity at large cap") {
    val root = tmp("graft_r11_cap_")
    try {
      val docs = graft.core.Tables(spark, sf, "documents")
        .select("doc_id", "text")
      val prefix = (1 to 45).map("p" + _).mkString(" ")
      val plantC = spark.range(1, 31)
        .select((col("id") + 9300000L).as("doc_id"),
          concat(lit(prefix + " w"), col("id").cast("string")).as("text"))
      val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
        .unionByName(plantC)
      val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
        .unionByName(spark.range(1).select(lit(9300100L).as("doc_id"),
          lit(prefix + " probe").as("text")))
      graft.ops.Dedup.writeDedupIndex(corpus, "text", "doc_id", root)
      // the plant really produces an over-cap bucket (non-vacuity)
      val maxBucket = spark.read.parquet(s"$root/bands.parquet")
        .groupBy("band", "band_hash").count()
        .agg(max("count")).head().getLong(0)
      assert(maxBucket > 8, s"plant too weak: max bucket $maxBucket")
      val capped = graft.ops.Dedup.incrementalDedupCapped(root, corpus,
        batch, "text", "doc_id", bucketCap = 8).cache()
      // the probe is disclosed AND still correctly verdicted (the
      // kept low-id members verify J = 43/49 >= 0.8)
      val probe = capped.where(col("doc_id") === 9300100L).head()
      assert(probe.getString(1) == "near_dup_corpus")
      assert(probe.getBoolean(2), "probe must carry the disclosure flag")
      // identity: a cap no bucket reaches reproduces the uncapped op
      val wide = graft.ops.Dedup.incrementalDedupCapped(root, corpus,
        batch, "text", "doc_id", bucketCap = maxBucket.toInt + 1)
      val uncapped = graft.ops.Dedup.incrementalDedupIndexed(root, corpus,
        batch, "text", "doc_id")
      assert(wide.select("doc_id", "decision").collect().toSet ==
        uncapped.collect().toSet)
      assert(wide.where(col("hit_capped_bucket")).count() == 0)
      // blocking unpersist: suites share the session, and PxlSpec
      // asserts the CacheManager is empty after its runs
      capped.unpersist(true): Unit
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("Ckpt.withReliable scopes dispatch without process-global writes") {
    assert(!graft.core.Ckpt.reliable)
    val before = sys.props.get("graft.reliableCkpt")
    graft.core.Ckpt.withReliable() {
      assert(graft.core.Ckpt.reliable)
      // nothing process-global changed while scoped
      assert(sys.props.get("graft.reliableCkpt") == before)
      graft.core.Ckpt.withReliable(on = false) {
        assert(!graft.core.Ckpt.reliable) // innermost scope wins
      }
      assert(graft.core.Ckpt.reliable)
    }
    assert(!graft.core.Ckpt.reliable)
  }

  test("verifyDistinctState: healthy state audits clean, torn state doesn't") {
    val p = tmp("graft_r11_audit_")
    try {
      val df = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L), ("a", 1L))
        .toDF("g", "k")
      graft.ops.Scale.writeDistinctState(df, "g", "k", 4, p)
      val healthy = graft.ops.Scale.verifyDistinctState(spark, p, "g")
      assert(healthy.where(!col("ok")).count() == 0)
      // torn: keys appended, summary untouched
      val delta = Seq(("a", 99L), ("b", 100L)).toDF("g", "k")
      graft.ops.Scale.appendDistinctKeys(spark, p, delta, "g", "k", 4)
      assert(graft.ops.Scale.verifyDistinctState(spark, p, "g")
        .where(!col("ok")).count() > 0)
      // retry heals; cardinalities correct
      graft.ops.Scale.appendDistinctState(spark, p, delta, "g", "k", 4)
      assert(graft.ops.Scale.verifyDistinctState(spark, p, "g")
        .where(!col("ok")).count() == 0)
      val cards = graft.ops.Scale.distinctStateCard(spark, p, "g")
        .as[(String, Long)].collect().toMap
      assert(cards == Map("a" -> 3L, "b" -> 3L))
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(p).getParent)
  }

  test("manifest fold-down: xor self-inverse agrees with recompute on foldable columns") {
    // A ∪ B built by fold-up; folding B back in with negated masses
    // must reproduce A's n_docs/n_tokens/checksum EXACTLY (xor is its
    // own inverse) — while min_id/max_id legitimately don't invert,
    // which is why retractDay recomputes touched shards instead.
    def man(rows: Seq[(Long, String)]) =
      graft.core.Layout.shardManifest(
        rows.toDF("doc_id", "text")
          .withColumn("shard", pmod(col("doc_id"), lit(2L)).cast("int"))
          .withColumn("n_tok", size(split(col("text"), " ")).cast("long")),
        "shard", "doc_id", "n_tok", "text")
    val a = Seq((1L, "x y"), (2L, "y z w"), (4L, "k"))
    val b = Seq((3L, "p q"), (6L, "r"))
    val mAB = graft.ops.CurationDay.foldManifest(man(a), man(b))
    val foldDown = graft.ops.CurationDay.foldManifest(mAB,
      man(b).withColumn("n_docs", -col("n_docs"))
        .withColumn("n_tokens", -col("n_tokens")))
    val got = foldDown.select("shard", "n_docs", "n_tokens", "checksum")
      .as[(Int, Long, Long, Long)].collect().toSet
    val want = man(a).select("shard", "n_docs", "n_tokens", "checksum")
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("compaction invariants: counts identical, files shrink") {
    val pd = tmp("graft_r11_cd_")
    val pc = tmp("graft_r11_cc_")
    try {
      val base = Seq(("a", 1L), ("b", 2L)).toDF("g", "k")
      graft.ops.Scale.writeDistinctState(base, "g", "k", 2, pd)
      (3L to 6L).foreach { i =>
        graft.ops.Scale.appendDistinctState(spark, pd,
          Seq(("a", i)).toDF("g", "k"), "g", "k", 2)
      }
      val cardBefore = graft.ops.Scale.distinctStateCard(spark, pd, "g")
        .as[(String, Long)].collect().toSet
      val filesBefore = graft.ops.Scale.parquetFileCount(spark, s"$pd/keys")
      graft.ops.Scale.compactDistinctState(spark, pd)
      assert(graft.ops.Scale.parquetFileCount(spark, s"$pd/keys") < filesBefore)
      assert(graft.ops.Scale.distinctStateCard(spark, pd, "g")
        .as[(String, Long)].collect().toSet == cardBefore)
      assert(graft.ops.Scale.verifyDistinctState(spark, pd, "g")
        .where(!col("ok")).count() == 0)

      val vals = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("g", "v")
      graft.ops.Scale.writeCentHist(vals, "g", col("v"), pc)
      graft.ops.Scale.appendCentHist(
        Seq(("a", 1.0), ("b", 9.0)).toDF("g", "v"), "g", col("v"), pc)
      val q = graft.ops.Scale.histQuantiles(spark.read.parquet(pc), "g",
        Seq("p50" -> 500000L)).collect().map(_.toString).toSet
      graft.ops.Scale.compactCentHist(spark, pc)
      assert(graft.ops.Scale.parquetFileCount(spark, pc) == 1)
      // duplicate (g, cent) rows merged; quantiles unchanged
      assert(graft.ops.Scale.histQuantiles(spark.read.parquet(pc), "g",
        Seq("p50" -> 500000L)).collect().map(_.toString).toSet == q)
      val aRows = spark.read.parquet(pc)
        .where(col("g") === "a" && col("__cent") === 100L).collect()
      assert(aRows.length == 1 && aRows.head.getAs[Long]("__n") == 2L)
    } finally {
      graft.queries.Fixture.deleteDir(new java.io.File(pd).getParent)
      graft.queries.Fixture.deleteDir(new java.io.File(pc).getParent)
    }
  }

  test("groupSplit: group-atomic, exhaustive, deterministic") {
    val docs = graft.core.Tables(spark, sf, "documents")
    val a = graft.ops.Corpus.groupSplit(docs, "source", 100000L, 100000L)
      .cache()
    // every source maps to exactly one split
    assert(a.groupBy("source")
      .agg(countDistinct("split").as("n")).where(col("n") =!= 1)
      .count() == 0)
    // exhaustive: every row got a split, all three labels legal
    assert(a.where(col("split").isNull).count() == 0)
    assert(a.select("split").distinct().collect().map(_.getString(0))
      .toSet.subsetOf(Set("train", "val", "test")))
    // deterministic: a second evaluation agrees row for row
    val b = graft.ops.Corpus.groupSplit(docs, "source", 100000L, 100000L)
    assert(a.select("doc_id", "split")
      .except(b.select("doc_id", "split")).count() == 0)
    a.unpersist(true): Unit // shared session: PxlSpec asserts empty cache
  }

  test("sem index: bootstrap/decide/append lifecycle on a controlled set") {
    val root = tmp("graft_r11_sem_")
    val p = graft.ops.SemIndex.Paths(root)
    try {
      // two well-separated directions in 64-dim space
      def vec(axis: Int, scale: Double): Seq[Double] =
        Seq.tabulate(64)(i => if (i == axis) scale else 0.001)
      val snap = Seq(
        (1L, vec(0, 1.0)), (2L, vec(0, 0.9)),
        (3L, vec(40, 1.0)), (4L, vec(40, 1.1)))
        .toDF("vec_id", "embedding")
      graft.ops.SemIndex.bootstrap(spark, snap, p)
      // delta: 10 ~ axis-0 family (dup), 11 orthogonal-ish (admitted)
      val delta = Seq((10L, vec(0, 0.95)), (11L, vec(20, 1.0)))
        .toDF("vec_id", "embedding")
      val dec = graft.ops.SemIndex.processDay(spark, p, 1, delta)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(dec(10L) == "dup_sem_corpus")
      assert(dec(11L) == "admitted")
      // the admitted vector now serves day 2 (the lifecycle witness)
      val dec2 = graft.ops.SemIndex.decisions(spark, p,
          Seq((20L, vec(20, 0.97))).toDF("vec_id", "embedding"))
        .head()
      assert(dec2.getString(2) == "dup_sem_corpus")
      // replaying the append is a no-op (idempotent storage)
      val n1 = spark.read.parquet(p.index).count()
      graft.ops.SemIndex.append(spark, p,
        Seq((11L, vec(20, 1.0))).toDF("vec_id", "embedding"))
      assert(spark.read.parquet(p.index).count() == n1)
      // replaying the WHOLE day reuses the pinned decisions: without
      // the pin, vec 11 (already appended) would flag as its own
      // semantic dup on recomputation
      val replay = graft.ops.SemIndex.processDay(spark, p, 1, delta)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(replay(11L) == "admitted")
      assert(replay(10L) == "dup_sem_corpus")
      assert(spark.read.parquet(p.index).count() == n1)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("sem search: nprobe=NCells equals brute force; compact shrinks files") {
    val root = tmp("graft_r11_semsearch_")
    val p = graft.ops.SemIndex.Paths(root)
    try {
      val emb = graft.core.Tables(spark, sf, "embeddings")
        .select("vec_id", "embedding")
      graft.ops.SemIndex.bootstrap(spark,
        emb.where(pmod(col("vec_id"), lit(2L)) === 0L), p)
      // two appends -> a file batch per append per touched cell
      graft.ops.SemIndex.append(spark, p,
        emb.where(pmod(col("vec_id"), lit(4L)) === 1L))
      graft.ops.SemIndex.append(spark, p,
        emb.where(pmod(col("vec_id"), lit(4L)) === 3L))
      val queries = emb.where(pmod(col("vec_id"), lit(16L)) === 2L)
      // nprobe = NCells probes every cell == exact brute-force top-k
      val full = graft.ops.SemIndex.search(spark, p, queries, 3,
        graft.ops.SemIndex.NCells).collect().map(_.toSeq).toSet
      import graft.ops.Similarity.{dot, norm}
      val qv = queries.select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qe"))
        .withColumn("qn", norm(col("qe")))
      val brute = qv.crossJoin(
          spark.read.parquet(p.index).select("vec_id", "e", "n"))
        .withColumn("cos", dot(col("qe"), col("e")) / (col("qn") * col("n")))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("cos").desc, col("vec_id"))))
        .where(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"),
          graft.core.Exact.zround(col("cos"), 6).as("cos"))
        .collect().map(_.toSeq).toSet
      assert(full == brute)
      // every query's top-1 at any nprobe >= 1 has cos 1.0 when the
      // query itself is indexed (vec_id%16==2 is in the %2==0 snapshot)
      val one = graft.ops.SemIndex.search(spark, p, queries, 1, 1)
        .collect()
      assert(one.forall(r => r.getDouble(3) == 1.0))
      // the one-pass curve equals the per-nprobe loop formulation
      val curve = graft.ops.SemIndex.recallCurve(spark, p, queries, 3)
        .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
      for (np <- 1 to graft.ops.SemIndex.NCells) {
        val loop = graft.ops.SemIndex.searchRecall(spark, p, queries, 3, np)
          .agg(sum("n_hit"), sum("k_exact")).head()
        assert(curve(np) == loop.getLong(0) * 1000000L / loop.getLong(1),
          s"curve vs loop mismatch at nprobe=$np")
      }
      assert(curve(graft.ops.SemIndex.NCells) == 1000000L)
      // compaction: contents invariant, files shrink to one per cell
      def nFiles: Int = {
        val fs = new org.apache.hadoop.fs.Path(p.index).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(p.index), true)
        var n = 0
        while (it.hasNext) {
          if (it.next().getPath.getName.startsWith("part-")) n += 1 }
        n
      }
      val before = nFiles
      val statsBefore = graft.ops.SemIndex.indexStats(spark, p)
        .orderBy("cell").collect().map(_.toSeq).toSeq
      graft.ops.SemIndex.compact(spark, p)
      assert(nFiles < before, s"compact must shrink files ($before)")
      assert(nFiles <= graft.ops.SemIndex.NCells)
      val statsAfter = graft.ops.SemIndex.indexStats(spark, p)
        .orderBy("cell").collect().map(_.toSeq).toSeq
      assert(statsAfter == statsBefore)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("psi: zero on identical mix, grows with shift, order-independent") {
    val a = Seq.fill(60)("x") ++ Seq.fill(40)("y")
    val b = Seq.fill(10)("x") ++ Seq.fill(90)("y")
    def df(xs: Seq[String]) = xs.toDF("event_type")
    val same = graft.ops.Quality.psi(df(a), df(a), "event_type").head()
    assert(same.getLong(0) == 2 && same.getDouble(1) == 0.0)
    val shifted = graft.ops.Quality.psi(df(a), df(b), "event_type")
      .head().getDouble(1)
    assert(shifted > 0.25, s"strong shift must alarm: $shifted")
    // category seen on one side only: finite via add-one smoothing
    val oneSided = graft.ops.Quality.psi(df(a),
      df(Seq.fill(100)("z")), "event_type").head()
    assert(oneSided.getLong(0) == 3 && !oneSided.getDouble(1).isInfinite)
    // partitioning-independent (quantized terms sum exactly)
    val p1 = graft.ops.Quality.psi(df(a).repartition(13),
      df(b).repartition(7), "event_type").head().getDouble(1)
    assert(p1 == shifted)
    // the one-pass panel equals per-period pairwise psi exactly
    val cur = df(b).withColumn("period", lit(1))
      .unionByName(df(a).withColumn("period", lit(2)))
    val panel = graft.ops.Quality.psiPanel(df(a), cur,
        "event_type", "period")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(panel(1) == ((2L, shifted)))
    assert(panel(2) == ((2L, 0.0)))
  }

  test("manifestDiff: all four statuses, checksum-sensitive under equal counts") {
    def m(rows: Seq[(Int, Long, Long, Long, Long, Long)]) =
      rows.toDF("shard", "n_docs", "n_tokens", "min_id", "max_id",
        "checksum")
    val before = m(Seq((0, 5L, 50L, 1L, 9L, 111L),
      (1, 3L, 30L, 2L, 8L, 222L), (2, 4L, 40L, 1L, 7L, 333L)))
    val after = m(Seq((0, 5L, 50L, 1L, 9L, 111L),
      (1, 3L, 30L, 2L, 8L, 999L), (3, 2L, 20L, 4L, 6L, 444L)))
    val d = graft.core.Layout.manifestDiff(before, after)
      .collect().map(r => r.getInt(0) -> (r.getLong(3), r.getString(5)))
      .toMap
    assert(d(0) == ((0L, "unchanged")))
    // same counts, different checksum: substituted content is CAUGHT
    assert(d(1) == ((0L, "changed")))
    assert(d(2) == ((-4L, "gone")))
    assert(d(3) == ((2L, "new")))
  }

  test("budgetAdmit: strict priority prefix, budget respected, monotone") {
    val docs = Seq((1L, 10L, 900L), (2L, 10L, 900L), (3L, 25L, 950L),
      (4L, 30L, 800L), (5L, 5L, 700L))
      .toDF("doc_id", "n_tok", "prio")
    val out = graft.ops.Corpus.budgetAdmit(docs, "doc_id", "n_tok",
        col("prio"), budgetTokens = 45L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getString(4))).toMap
    // priority order: 3 (950, 25 tok), 1 (900), 2 (900), 4, 5
    assert(out(3L) == ((0L, "admitted")))
    assert(out(1L) == ((25L, "admitted")))
    assert(out(2L) == ((35L, "admitted"))) // ends at 45 == budget
    assert(out(4L)._2 == "deferred") // would end at 75
    assert(out(5L)._2 == "deferred") // strict order: no backfill
    // a budget >= total admits everything
    val all = graft.ops.Corpus.budgetAdmit(docs, "doc_id", "n_tok",
      col("prio"), budgetTokens = 80L)
    assert(all.where(col("decision") =!= "admitted").count() == 0)
  }

  test("multimodal day: replayed day reuses its pin and appends nothing") {
    val root = tmp("graft_r11_multi_")
    val p = graft.ops.MultiDay.Paths(root)
    try {
      val docs = graft.core.Tables(spark, sf, "documents")
        .select("doc_id", "text")
      val emb = graft.core.Tables(spark, sf, "embeddings")
        .select("vec_id", "embedding")
      // synthetic perceptual hashes keyed by the PAIR base, so a
      // day-1 doc's partner (day 2) shares its hash — PhashIndex only
      // consumes (media_id, r0..r7), the decode path is q540's job
      def hashed(pred: org.apache.spark.sql.Column) = {
        val base = col("doc_id") - pmod(col("doc_id"), lit(2L))
        docs.where(pred).select(
          col("doc_id").as("media_id") +:
            (0 until 8).map(i =>
              pmod(base * (i + 7), lit(256L)).as(s"r$i")): _*)
      }
      def m4(c: org.apache.spark.sql.Column) = pmod(c, lit(4L))
      graft.ops.MultiDay.bootstrap(spark,
        docs.where(m4(col("doc_id")).isin(2L, 3L)),
        emb.where(m4(col("vec_id")).isin(2L, 3L)),
        hashed(m4(col("doc_id")).isin(2L, 3L)), p)
      def counts = (
        spark.read.parquet(s"${p.lex}/hashes.parquet").count(),
        spark.read.parquet(p.sem.index).count(),
        spark.read.parquet(p.ph.hashes).count())
      val dec1 = graft.ops.MultiDay.processDay(spark, p, 1,
          docs.where(m4(col("doc_id")) === 0L),
          emb.where(m4(col("vec_id")) === 0L),
          hashed(m4(col("doc_id")) === 0L), docs)
        .collect().map(_.toSeq).sortBy(_.head.toString).toSeq
      val after1 = counts
      assert(dec1.exists(_.last == "admitted"), "day 1 must admit")
      // REPLAY day 1: pin reused (identical verdicts even though the
      // index now holds the day's own admissions), appends no-op
      val replay = graft.ops.MultiDay.processDay(spark, p, 1,
          docs.where(m4(col("doc_id")) === 0L),
          emb.where(m4(col("vec_id")) === 0L),
          hashed(m4(col("doc_id")) === 0L), docs)
        .collect().map(_.toSeq).sortBy(_.head.toString).toSeq
      assert(replay == dec1)
      assert(counts == after1)
      // day 2: every even day-1 ADMITTED doc's partner arrives and
      // must flag perceptually via the day-1 append
      val adm1 = dec1.filter(_.last == "admitted")
        .map(_.head.asInstanceOf[Long]).toSet
      val dec2 = graft.ops.MultiDay.processDay(spark, p, 2,
          docs.where(m4(col("doc_id")) === 1L),
          emb.where(m4(col("vec_id")) === 1L),
          hashed(m4(col("doc_id")) === 1L), docs)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val partnered = dec2.keys.filter(id => adm1.contains(id - 1))
      assert(partnered.nonEmpty, "fixture must produce partners")
      assert(partnered.forall(id => dec2(id) != "admitted"),
        "a day-1 admission's partner cannot be admitted on day 2")
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }

  test("pack tape: contiguity, offset math, replay-identical state") {
    val root = tmp("graft_r11_pack_")
    val a = graft.ops.CurationDay.Artifacts(root)
    try {
      val d0 = Seq((1L, 0, 10L), (2L, 1, 130L), (3L, 0, 5L))
        .toDF("doc_id", "shard", "n_tok")
      val d1 = Seq((10L, 1, 128L), (11L, 0, 7L))
        .toDF("doc_id", "shard", "n_tok")
      graft.ops.Pack.packDayStep(spark, a, 0, d0)
      graft.ops.Pack.packDayStep(spark, a, 1, d1)
      val tape = graft.ops.Pack.fullLayout(spark, a, 1)
        .orderBy("start_tok").collect()
      // order within a day is (shard, doc_id); stream is contiguous
      assert(tape.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L, 11L, 10L))
      assert(tape.head.getLong(4) == 0L)
      tape.sliding(2).foreach { case Array(p, n) =>
        assert(p.getLong(4) + p.getLong(3) == n.getLong(4),
          "tape must be gap-free across days")
      }
      // straddle math: doc 2 starts at 15, spans seqs 0..1
      val doc2 = tape.find(_.getLong(1) == 2L).get
      assert(doc2.getLong(5) == 0L && doc2.getLong(6) == 1L)
      // state after day 1 = total tokens
      val st1 = spark.read.parquet(a.packStateDay(1)).head().getLong(0)
      assert(st1 == 10L + 130L + 5L + 128L + 7L)
      // replaying day 1 reproduces byte-identical layout + state
      val before = tape.map(_.toSeq).toSeq
      graft.ops.Pack.packDayStep(spark, a, 1, d1)
      val after = graft.ops.Pack.fullLayout(spark, a, 1)
        .orderBy("start_tok").collect().map(_.toSeq).toSeq
      assert(after == before)
      assert(spark.read.parquet(a.packStateDay(1)).head().getLong(0) == st1)
    } finally graft.queries.Fixture.deleteDir(
      new java.io.File(root).getParent)
  }
}
