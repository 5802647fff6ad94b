package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Similarity, TextOps, UrlOps}

/** Round-8 tranche specs: incremental index maintenance (SQ8 append /
  * compact, dedup-index append), URL canonicalization, the repetition
  * battery, and the streaming batch-boundary determinism probe (r7
  * verdict task #6).
  */
class Round8Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpIdx(tag: String) =
    graft.queries.Fixture.tempIndexDir(s"graft_r8spec_${tag}_")

  private def vec(xs: Double*): Seq[Double] = xs.toSeq

  test("appendSq8Index: in-bounds delta appends (true) and equals a full rebuild") {
    val corpus = Seq((1L, vec(0.0, 0.0)), (2L, vec(10.0, 10.0)),
      (3L, vec(2.0, 8.0))).toDF("vec_id", "embedding")
    val delta = Seq((4L, vec(5.0, 5.0)), (5L, vec(1.0, 9.0)))
      .toDF("vec_id", "embedding") // strictly inside corpus bounds
    val qs = Seq((100L, vec(4.9, 5.1))).toDF("vec_id", "embedding")
    val idxA = tmpIdx("a"); val idxF = tmpIdx("f")
    try {
      Similarity.writeSq8Index(corpus, "vec_id", "embedding", idxA)
      val appended = Similarity.appendSq8Index(spark, idxA, delta,
        "vec_id", "embedding", corpus)
      assert(appended, "in-bounds delta must take the append path")
      Similarity.writeSq8Index(corpus.unionByName(delta),
        "vec_id", "embedding", idxF)
      val a = Similarity.sq8TopKIndexed(spark, idxA, qs, "vec_id",
        "embedding", 3).collect().map(_.toSeq).toSet
      val f = Similarity.sq8TopKIndexed(spark, idxF, qs, "vec_id",
        "embedding", 3).collect().map(_.toSeq).toSet
      assert(a == f)
      // append must not touch the bounds table
      val b = spark.read.parquet(s"$idxA/bounds").orderBy("d")
        .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
      assert(b == Seq((0.0, 10.0), (0.0, 10.0)), b.toString)
    } finally {
      graft.queries.Fixture.deleteDir(idxA)
      graft.queries.Fixture.deleteDir(idxF)
    }
  }

  test("appendSq8Index: bounds drift forces a rebuild (false) that equals a full rebuild") {
    val corpus = Seq((1L, vec(0.0, 0.0)), (2L, vec(10.0, 10.0)))
      .toDF("vec_id", "embedding")
    val delta = Seq((3L, vec(-5.0, 20.0))).toDF("vec_id", "embedding")
    val qs = Seq((100L, vec(1.0, 1.0))).toDF("vec_id", "embedding")
    val idxA = tmpIdx("d"); val idxF = tmpIdx("df")
    try {
      Similarity.writeSq8Index(corpus, "vec_id", "embedding", idxA)
      val appended = Similarity.appendSq8Index(spark, idxA, delta,
        "vec_id", "embedding", corpus)
      assert(!appended, "out-of-bounds delta must rebuild")
      Similarity.writeSq8Index(corpus.unionByName(delta),
        "vec_id", "embedding", idxF)
      val a = Similarity.sq8TopKIndexed(spark, idxA, qs, "vec_id",
        "embedding", 3).collect().map(_.toSeq).toSet
      val f = Similarity.sq8TopKIndexed(spark, idxF, qs, "vec_id",
        "embedding", 3).collect().map(_.toSeq).toSet
      assert(a == f)
      val b = spark.read.parquet(s"$idxA/bounds").orderBy("d")
        .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
      assert(b == Seq((-5.0, 10.0), (0.0, 20.0)), b.toString)
    } finally {
      graft.queries.Fixture.deleteDir(idxA)
      graft.queries.Fixture.deleteDir(idxF)
    }
  }

  test("compactSq8Index shrinks the codes file count without changing answers") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.where(pmod(col("vec_id"), lit(2L)) === 0)
    val delta = emb.where(pmod(col("vec_id"), lit(2L)) =!= 0)
    val qs = emb.where(col("vec_id") < 5)
    val idx = tmpIdx("c")
    try {
      Similarity.writeSq8Index(corpus, "vec_id", "embedding", idx)
      Similarity.appendSq8Index(spark, idx, delta, "vec_id", "embedding",
        corpus)
      def files() = new java.io.File(s"$idx/codes").listFiles()
        .count(_.getName.endsWith(".parquet"))
      val before = Similarity.sq8TopKIndexed(spark, idx, qs, "vec_id",
        "embedding", 5).collect().map(_.toSeq).toSet
      val nBefore = files()
      Similarity.compactSq8Index(spark, idx, 1)
      val after = Similarity.sq8TopKIndexed(spark, idx, qs, "vec_id",
        "embedding", 5).collect().map(_.toSeq).toSet
      assert(files() == 1 && nBefore > 1, s"$nBefore -> ${files()}")
      assert(after == before)
    } finally graft.queries.Fixture.deleteDir(idx)
  }

  test("appendDedupIndex keeps hash-set semantics and matches a fresh index on the grown corpus") {
    val txtA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val txtB = "one two three four five six seven eight nine ten"
    val corpus = Seq((1L, txtA), (2L, txtB)).toDF("doc_id", "text")
    // delta repeats txtA (hash overlap with the index) and adds a new doc
    val delta = Seq((3L, txtA), (4L, "totally new content never seen before"))
      .toDF("doc_id", "text")
    val idx = tmpIdx("dd"); val idxF = tmpIdx("ddf")
    try {
      Dedup.writeDedupIndex(corpus, "text", "doc_id", idx)
      Dedup.appendDedupIndex(delta, "text", "doc_id", idx)
      Dedup.writeDedupIndex(corpus.unionByName(delta), "text", "doc_id", idxF)
      val hA = spark.read.parquet(s"$idx/hashes.parquet")
        .as[String].collect().sorted.toSeq
      val hF = spark.read.parquet(s"$idxF/hashes.parquet")
        .as[String].collect().sorted.toSeq
      assert(hA == hF, "appended hash set must equal the rebuilt set (no dup rows)")
      val bA = spark.read.parquet(s"$idx/bands.parquet")
        .collect().map(_.toSeq).toSet
      val bF = spark.read.parquet(s"$idxF/bands.parquet")
        .collect().map(_.toSeq).toSet
      assert(bA == bF)
    } finally {
      graft.queries.Fixture.deleteDir(idx)
      graft.queries.Fixture.deleteDir(idxF)
    }
  }

  test("canonicalUrl: case, www, ports, slashes, tracking params, order, fragments") {
    val cases = Seq(
      ("HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&z=1&a=2#frag",
        "https://example.com/a/b?a=2&z=1"),
      ("http://example.com:80/", "http://example.com"),
      ("http://example.com:8080/p", "http://example.com:8080/p"),
      ("https://blog.example.com/p/?fbclid=abc", "https://blog.example.com/p"),
      ("https://example.com/p?b=2&a=1", "https://example.com/p?a=1&b=2"),
      ("https://example.com/p?utm_campaign=c&utm_medium=m",
        "https://example.com/p"),
      // unparseable inputs pass through UNCHANGED (identity fallback) —
      // collapsing them onto "://" junk keys would merge unrelated pages
      ("//example.com/x?a=1", "//example.com/x?a=1"),
      ("not a url at all", "not a url at all"))
    val got = cases.map(_._1).toDF("u")
      .select(UrlOps.canonicalUrl(col("u"))).as[String].collect().toSeq
    assert(got == cases.map(_._2), got.mkString("\n"))
  }

  test("registeredDomain strips subdomains to the last two labels") {
    val got = Seq("https://a.b.example.com/x", "http://WWW.Site.ORG/p")
      .toDF("u").select(UrlOps.registeredDomain(col("u")))
      .as[String].collect().toSeq
    assert(got == Seq("example.com", "site.org"), got.toString)
  }

  test("urlSeenFilter: seen/new flags exact despite bloom false positives") {
    val seen = Seq((1L, "https://WWW.a.com/x/?utm_source=s"),
      (2L, "http://b.com:80/y")).toDF("doc_id", "url")
    val cands = Seq(
      (10L, "https://a.com/x"),          // canonical match of seen #1
      (11L, "http://b.com/y/"),          // canonical match of seen #2
      (12L, "https://c.com/z")).toDF("doc_id", "url") // genuinely new
    val got = UrlOps.urlSeenFilter(seen, cands, "url", "doc_id",
        estimatedItems = 16L)
      .orderBy("doc_id")
      .select("doc_id", "seen").as[(Long, Boolean)].collect().toSeq
    assert(got == Seq((10L, true), (11L, true), (12L, false)),
      got.mkString(","))
  }

  test("repetitionSignals: hand-computed dup fractions; shuffle-free plan") {
    // "a b a b a" -> 2-grams: [a b, b a, a b, b a] -> total 4, distinct 2
    val df = Seq((1L, "a b a b a"), (2L, "u v w x y"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(df, "text", "doc_id", n = 2)
      .orderBy("doc_id")
      .select("doc_id", "total_grams", "distinct_grams", "dup_gram_frac",
        "top_gram_frac")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 2L, 0.5, 0.5),   // max multiplicity 2/4
      (2L, 4L, 4L, 0.0, 0.25),  // all unique: top share 1/4
      (3L, 1L, 1L, 0.0, 1.0)),  // 1-word doc: one truncated gram
      got.mkString(","))
    // empty text: one "" gram, which must NOT collide with the fold's
    // sentinel (a "" sentinel counted it as a duplicate — r8 review)
    val empty = TextOps.repetitionSignals(
        Seq((9L, "")).toDF("doc_id", "text"), "text", "doc_id", 2)
      .select("total_grams", "distinct_grams", "dup_gram_frac")
      .as[(Long, Long, Double)].head()
    assert(empty == ((1L, 1L, 0.0)), empty.toString)
    // map-only claim: no exchange anywhere in the plan
    val plan = TextOps.repetitionSignals(df, "text", "doc_id", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("segmentDupFraction flags shared 20-word blocks, not unique docs") {
    val block = (1 to 20).map(i => s"w$i").mkString(" ")
    val uniqueTail = (1 to 20).map(i => s"u$i").mkString(" ")
    val otherTail = (1 to 20).map(i => s"v$i").mkString(" ")
    val df = Seq(
      (1L, s"$block $uniqueTail"), // shares seg 0 with doc 2
      (2L, s"$block $otherTail"),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))) // fully unique
      .toDF("doc_id", "text")
    val got = TextOps.segmentDupFraction(df, "text", "doc_id", w = 20)
      .orderBy("doc_id")
      .select("doc_id", "n_segments", "n_dup_segments", "dup_segment_frac")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 2L, 0L, 0.0)), got.mkString(","))
  }

  test("unigramSurprisal: common words score below rare words") {
    val df = Seq((1L, "the the the the"), (2L, "the rare"))
      .toDF("doc_id", "text")
    // p(the)=5/6, p(rare)=1/6; doc1 = -ln(5/6); doc2 = mean of the two
    val got = TextOps.unigramSurprisal(df, "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_words", "mean_surprisal_nats")
      .as[(Long, Long, Double)].collect().toSeq
    def mn(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val s1 = math.rint(mn(-math.log(5.0 / 6)) * 1e6) / 1e6
    assert(got.map(_._1) == Seq(1L, 2L) && got.map(_._2) == Seq(4L, 2L))
    assert(math.abs(got(0)._3 - s1) < 1e-6, s"${got(0)._3} vs $s1")
    assert(got(1)._3 > got(0)._3, "doc with the rare word must score higher")
  }

  test("streaming normalized dedup is invariant to micro-batch boundaries") {
    // The state-correctness property one AvailableNow replay can't
    // witness (r7 verdict task #6): the same rows fed as ONE batch vs
    // THREE batches must produce the identical final dedup table.
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 30L).map(i =>
      (i, if (i % 3 == 0) s"dup  t\u00e9xt ${i % 5}" else s"unique text $i"))
    def run(chunks: Seq[Seq[(Long, String)]]): Set[Seq[Any]] = {
      val mem = MemoryStream[(Long, String)](spark)
      val agg = mem.toDF().toDF("doc_id", "text")
        .select(col("doc_id"),
          TextOps.normalizeCol(col("text")).as("norm_text"))
        .groupBy(md5(col("norm_text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"))
      val out = s"r8_det_${System.nanoTime()}"
      val q = agg.writeStream.outputMode("complete").format("memory")
        .queryName(out).start()
      try {
        chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
        spark.table(out).collect().map(_.toSeq).toSet
      } finally { q.stop(); spark.catalog.dropTempView(out) }
    }
    val oneBatch = run(Seq(rows))
    val threeBatches = run(Seq(rows.take(7), rows.slice(7, 19), rows.drop(19)))
    assert(oneBatch == threeBatches)
    assert(oneBatch.nonEmpty)
  }

  test("streaming LSH candidate set is invariant to micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val near = "shared overlapping shingle text content for the near duplicate pair here"
    val rows = Seq(
      (1L, near), (2L, near + " extra"), (3L, "completely different words"),
      (4L, near)) // three-way cluster + one outlier
    def run(chunks: Seq[Seq[(Long, String)]]): Set[(Long, Long)] = {
      val mem = MemoryStream[(Long, String)](spark)
      val pairs = graft.streaming.Streaming.streamingBandPairs(
        mem.toDF().toDF("doc_id", "text"), "text", "doc_id", 3, 16, 4)
      val out = s"r8_lsh_${System.nanoTime()}"
      val q = pairs.writeStream.outputMode("append").format("memory")
        .queryName(out).start()
      try {
        chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
        spark.table(out).select("doc_a", "doc_b").as[(Long, Long)]
          .collect().map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
          .toSet
      } finally { q.stop(); spark.catalog.dropTempView(out) }
    }
    val one = run(Seq(rows))
    val split = run(Seq(rows.take(1), rows.slice(1, 3), rows.drop(3)))
    assert(one == split, s"$one vs $split")
    assert(one.nonEmpty)
  }

  test("streamingPaths is invariant to micro-batch boundaries and == batch ops") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(211)
    val types = Vector("a", "b", "c", null)
    // per-user ascending ts (the ingest-arrival contract); one null
    // event type to exercise window poisoning across batch boundaries
    val rows = (1 to 120).map { i =>
      (i.toLong % 8, types(rnd.nextInt(types.size)),
        i.toLong * 1000000000L, i.toLong)
    }
    def run(pathLen: Int, chunks: Seq[Seq[(Long, String, Long, Long)]])
        : Map[Seq[String], Int] = {
      val mem = MemoryStream[(Long, String, Long, Long)](spark)
      val out = graft.streaming.Streaming.streamingPaths(
        mem.toDS().toDF("user_id", "event_type", "ts_ns", "event_id")
          .as[graft.streaming.Streaming.UserEvent], pathLen)
      val qn = s"r8_paths_${System.nanoTime()}"
      val q = out.toDF().writeStream.outputMode("append").format("memory")
        .queryName(qn).start()
      try {
        chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
        spark.table(qn).collect()
          .map(_.getSeq[String](0).toSeq).groupBy(identity)
          .map { case (k, v) => k -> v.size }
      } finally { q.stop(); spark.catalog.dropTempView(qn) }
    }
    for (k <- Seq(2, 3)) {
      val one = run(k, Seq(rows))
      val three = run(k, Seq(rows.take(31), rows.slice(31, 77), rows.drop(77)))
      assert(one == three, s"pathLen $k boundary variance")
      assert(one.nonEmpty)
      // == the batch op's window multiset on the same rows
      val df = rows.toDF("user_id", "event_type", "ts", "event_id")
      val batch =
        if (k == 2) graft.ops.Events.transitionMatrix(df, "user_id",
          "event_type", "ts", "event_id")
          .select(array(col("from_type"), col("to_type")).as("w"), col("n"))
          .as[(Seq[String], Long)].collect().toMap
        else graft.ops.Events.topPaths(df, "user_id", "event_type", "ts",
          "event_id", 3, 1000000)
          .select(split(col("path"), ">").as("w"), col("n"))
          .as[(Seq[String], Long)].collect().toMap
      assert(batch == one.map { case (w, n) => w -> n.toLong }, s"k=$k vs batch")
    }
  }

  test("fuzzyPairs == brute-force levenshtein<=1 (SymSpell blocking has no false negatives)") {
    for (seed <- Seq(47, 131)) {
      val rnd = new scala.util.Random(seed)
      val alpha = "abcd"
      def word() = (1 to 3 + rnd.nextInt(5))
        .map(_ => alpha(rnd.nextInt(alpha.size))).mkString
      // small alphabet + short words => natural 1-edit collisions, plus
      // planted insert/delete/substitute variants
      val base = (1 to 60).map(_ => word()).distinct
      val planted = base.take(10).flatMap { w =>
        Seq(w + "x",                              // insert
          w.substring(0, w.length - 1),           // delete
          "z" + w.substring(1))                   // substitute
      }
      val words = (base ++ planted).distinct.filter(_.nonEmpty)
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val expect = (for {
        a <- words; b <- words if a < b && lev(a, b) <= 1
      } yield (a, b, lev(a, b).toLong)).toSet
      val got = graft.ops.Dedup.fuzzyPairs(words.toDF("w"), "w")
        .as[(String, String, Long)].collect().toSet
      assert(got == expect, s"seed $seed: missing ${expect -- got}, extra ${got -- expect}")
      assert(got.nonEmpty)
    }
  }

  test("Quality suite: every check type counts its planted violations") {
    import graft.ops.Quality
    val child = Seq((Some(1L), 10.0), (Some(1L), 60.0), (Some(2L), -5.0),
        (Some(9L), 20.0), (None, 30.0))
      .map { case (k, v) => (k.map(Long.box).orNull, v) }.toDF("fk", "v")
    val parent = Seq(1L, 2L, 2L).toDF("pk")
    val got = Quality.suite(Seq(
        Quality.notNull(child, "child", "fk"),
        Quality.unique(parent, "parent", Seq("pk")),
        Quality.acceptedRange(child, "child", "v", 0, 50),
        Quality.referential(child, "child", "fk", parent, "pk")))
      .select("check", "n_violations", "n_total", "pass")
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("not_null") == ((1L, 5L, false)))        // one null fk
    assert(got("unique") == ((1L, 3L, false)))          // pk 2 twice
    assert(got("accepted_range") == ((2L, 5L, false)))  // 60.0, -5.0
    // orphans: fk=9 (no parent) + the null fk
    assert(got("referential") == ((2L, 5L, false)))
    // null-key rows are UNIQUE violations (count(*) - count(DISTINCT)
    // semantics — DISTINCT drops null tuples, so presence is implied)
    assert(Quality.unique(child, "child", Seq("fk", "v"))
      .select("n_violations", "pass").as[(Long, Boolean)].collect()
      .head == ((1L, false)))
    // a clean frame passes everything
    val ok = Quality.suite(Seq(
        Quality.notNull(parent, "parent", "pk"),
        Quality.unique(child.where(col("fk").isNotNull), "child",
          Seq("fk", "v"))))
      .select("pass").as[Boolean].collect()
    assert(ok.forall(identity))
  }

  test("repetitionSignals (map-only) == repetitionStats (shuffled) on the shared dup fraction") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val a = TextOps.repetitionSignals(docs, "text", "doc_id", n = 5)
      .select("doc_id", "dup_gram_frac").as[(Long, Double)].collect().toMap
    val b = graft.ops.Corpus.repetitionStats(docs, "text", "doc_id")
      .select("doc_id", "dup5_ratio").as[(Long, Double)].collect().toMap
    assert(a.keySet == b.keySet)
    assert(a.forall { case (k, v) => b(k) == v },
      a.keySet.filter(k => a(k) != b(k)).take(3)
        .map(k => s"$k: ${a(k)} vs ${b(k)}").mkString(","))
  }

  test("evalReport: hand-computed confusion incl. never-predicted and hallucinated classes") {
    val truth = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("id", "y")
    val pred = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "d"))
      .toDF("id", "p") // "c" never predicted; "d" hallucinated
    val got = graft.ops.Classify.evalReport(pred, truth, "id", "p", "y")
      .select("cls", "support", "tp", "fp", "fn", "precision", "recall", "f1")
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("a", 2L, 1L, 0L, 1L, 1.0, 0.5, 0.666667),
      ("b", 1L, 1L, 1L, 0L, 0.5, 1.0, 0.666667),
      ("c", 1L, 0L, 0L, 1L, 0.0, 0.0, 0.0),   // recall hole visible
      ("d", 0L, 0L, 1L, 0L, 0.0, 0.0, 0.0)),  // precision hole visible
      got.mkString("\n"))
  }

  test("evalReport: an abstaining classifier's unpredicted docs count as FN, not vanish") {
    val truth = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
      .toDF("id", "y")
    val pred = Seq((1L, "a")).toDF("id", "p") // abstained on 2, 3, 4
    val got = graft.ops.Classify.evalReport(pred, truth, "id", "p", "y")
      .select("cls", "support", "tp", "fp", "fn", "recall")
      .as[(String, Long, Long, Long, Long, Double)]
      .collect().sortBy(_._1).toSeq
    // an inner join would have reported support=1, recall=1.0 for "a"
    assert(got == Seq(("a", 3L, 1L, 0L, 2L, 0.333333),
      ("b", 1L, 0L, 0L, 1L, 0.0)), got.mkString("\n"))
  }

  test("filterSweep: hand-computed keep curve") {
    val df = Seq((1L, 10.0, 100L), (2L, 20.0, 200L), (3L, 30.0, 300L))
      .toDF("id", "score", "tok")
    val got = graft.ops.Corpus.filterSweep(df, "score", "tok",
        Seq(0.0, 15.0, 25.0, 35.0))
      .select("threshold", "n_kept", "doc_share", "tokens_kept",
        "token_share")
      .as[(Double, Long, Double, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0.0, 3L, 1.0, 600L, 1.0),
      (15.0, 2L, 0.666667, 500L, 0.833333),
      (25.0, 1L, 0.333333, 300L, 0.5),
      (35.0, 0L, 0.0, 0L, 0.0)), got.mkString("\n"))
  }

  test("shardManifest: checksum is partitioning-invariant and CONTENT-sensitive") {
    val df = (1L to 200L).map(i => (i, i % 4, 10L + i % 7, s"payload $i"))
      .toDF("id", "shard", "tok", "body")
    def manifest(d: org.apache.spark.sql.DataFrame) =
      graft.core.Layout.shardManifest(d, "shard", "id", "tok", "body")
        .orderBy("shard").collect().map(_.toSeq).toSeq
    val base = manifest(df)
    assert(manifest(df.repartition(13)) == base, "order-independent")
    val dropped = manifest(df.where(col("id") =!= 57L))
    assert(base.zip(dropped).count { case (a, b) => a != b } == 1,
      "dropping a doc must change exactly its shard row")
    // corrupted payload under an UNCHANGED id (same n_docs, same id
    // range, same token count) must still flip the checksum — the
    // id-only checksum waved this through (r8 self-review)
    val corrupted = manifest(df.withColumn("body",
      when(col("id") === 57L, lit("substituted content"))
        .otherwise(col("body"))))
    assert(base.zip(corrupted).count { case (a, b) => a != b } == 1,
      "content substitution must flip exactly its shard checksum")
  }

  test("streaming SQ8 ingest: multi-batch fold with a drifting batch == full rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val d = 4
    def v(seed: Int) = Seq.tabulate(d)(j => ((seed * 31 + j) % 10).toDouble)
    val corpus = ((1L to 10L).map(i => (i, v(i.toInt))) ++
      Seq((98L, Seq.fill(d)(0.0)), (99L, Seq.fill(d)(9.0))))
      .toDF("vec_id", "embedding")
    val batch1 = (100L to 104L).map(i => (i, v(i.toInt)))        // in bounds
    val batch2 = Seq((200L, Seq.fill(d)(25.0)))                  // DRIFTS
    val batch3 = (300L to 303L).map(i => (i, v(i.toInt)))        // in bounds
    val idx = tmpIdx("si"); val idxF = tmpIdx("sif")
    try {
      Similarity.writeSq8Index(corpus, "vec_id", "embedding", idx)
      val mem = MemoryStream[(Long, Seq[Double])](spark)
      var corpusAcc = corpus
      val q = mem.toDF().toDF("vec_id", "embedding").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val b = batch.localCheckpoint(true)
            Similarity.appendSq8Index(spark, idx, b, "vec_id", "embedding",
              corpusAcc)
            corpusAcc = corpusAcc.unionByName(b)
          }
          ()
        }.start()
      try for (b <- Seq(batch1, batch2.toSeq, batch3)) {
        mem.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      val all = corpus.unionByName(
        (batch1 ++ batch2 ++ batch3).toDF("vec_id", "embedding"))
      Similarity.writeSq8Index(all, "vec_id", "embedding", idxF)
      val qs = Seq((500L, v(7))).toDF("vec_id", "embedding")
      val a = Similarity.sq8TopKIndexed(spark, idx, qs, "vec_id",
        "embedding", 5).collect().map(_.toSeq).toSet
      val f = Similarity.sq8TopKIndexed(spark, idxF, qs, "vec_id",
        "embedding", 5).collect().map(_.toSeq).toSet
      assert(a == f, "streamed fold must equal the full rebuild")
      // the drifting batch widened the bounds (rebuild path fired and
      // kept the earlier batch1 codes)
      val hi = spark.read.parquet(s"$idx/bounds").agg(max("hi"))
        .head().getDouble(0)
      assert(hi == 25.0, s"bounds not widened: $hi")
    } finally {
      graft.queries.Fixture.deleteDir(idx)
      graft.queries.Fixture.deleteDir(idxF)
    }
  }

  test("packingSweep: hand-computed pad shares for both layouts") {
    val df = Seq((1L, 10L), (2L, 20L), (3L, 50L)).toDF("id", "tok")
    val got = graft.ops.Corpus.packingSweep(df, "tok", Seq(16L))
      .select("seq_len", "n_docs", "tokens_total", "n_seq_padded",
        "pad_share_padded", "n_seq_packed", "pad_share_packed")
      .as[(Long, Long, Long, Long, Double, Long, Double)].head()
    // padded: ceil(10/16)+ceil(20/16)+ceil(50/16) = 1+2+4 = 7 seqs,
    // 7*16-80 = 32 pad / 112 slots; packed: ceil(80/16)=5, 0 pad
    assert(got == ((16L, 3L, 80L, 7L, 0.285714, 5L, 0.0)), got.toString)
  }

  test("dedup scorecard invariants: detected <= planted, recall/precision consistent") {
    val row = graft.SparkEntry.queries("q365_dedup_scorecard")(
      spark, "/root/testdata/sf0.001")
      .select("n_planted", "n_detected", "n_clone_pairs", "n_spurious",
        "recall", "precision")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    val (np, nd, ncp, nsp, rec, prec) = row
    assert(np > 0 && nd > 0, row.toString)
    assert(nd <= np && nd <= ncp && nsp == ncp - nd, row.toString)
    assert(rec > 0.0 && rec <= 1.0 && prec > 0.0 && prec <= 1.0,
      row.toString)
  }

  test("domainSafeSplit: one split per domain, map-only plan") {
    // raw scan (no Tables.spread): this pins the OP's zero-shuffle
    // contract, which the table-level spread exchange would mask
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("url", graft.queries.TextCuration.rawUrlCol)
    val out = UrlOps.domainSafeSplit(docs, "url", "doc_id", 10, 10)
    val perDomain = out.groupBy("domain")
      .agg(countDistinct(col("split")).as("n"))
      .select("n").as[Long].collect()
    assert(perDomain.nonEmpty && perDomain.forall(_ == 1L),
      "a domain must never straddle splits")
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "split assignment must be map-only")
  }

  test("crawl pipeline invariants: stages shrink monotonically, manifest covers survivors") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables(spark, dir, "documents")
    val manifest = graft.SparkEntry.queries("q368_crawl_pipeline")(
      spark, dir)
      .select("shard", "n_docs", "n_tokens", "checksum")
      .as[(Int, Long, Long, Long)].collect()
    assert(manifest.length == 4)
    val kept = manifest.map(_._2).sum
    assert(kept > 0 && kept < docs.count(),
      s"pipeline must drop something: kept $kept")
    assert(manifest.forall(_._3 > 0) && manifest.map(_._4).distinct.length == 4)
  }

  test("hardNegatives: the band is exactly top-K minus top-skip, disjoint from positives") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.where(col("vec_id") < 5)
    val pos = Similarity.cosineTopK(emb, qs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val top15 = Similarity.cosineTopK(emb, qs, "vec_id", "embedding", 15)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val neg = Similarity.hardNegatives(emb, qs, "vec_id", "embedding", 5, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(neg == (top15 -- pos), "band must be top-15 minus top-5")
    assert((neg & pos).isEmpty)
  }

  test("relatedPairs: band is [lo, hi) — exact dups excluded, mid-band planted pair found") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    // one word changed at the end: 27 of 28 shingles shared, J = 27/29
    val rev = ((1 to 29).map(i => s"w$i") :+ "xx").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, rev),
      (4L, "totally different content here entirely now")).toDF("doc_id", "text")
    // 8 bands x 2 rows: collision prob J^2 per band — recall ~1 at
    // J=0.87 (the sizing rule the op's scaladoc documents)
    val got = graft.ops.Dedup.relatedPairs(df, "text", "doc_id", 0.2, 0.95,
        n = 3, k = 16, bands = 8)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(!got.contains((1L, 2L)), "exact dup (J=1) must be above the band")
    assert(got.get((1L, 3L)).contains(0.931034) &&
      got.get((2L, 3L)).contains(0.931034), s"mid-band pair missing: $got")
  }

  test("contrastiveTriplets: positive is rank-1, negatives are the hard band in rank order") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.where(col("vec_id") < 5)
    val trip = Similarity.contrastiveTriplets(emb, qs, "vec_id",
        "embedding", 5, 10)
      .select("query_id", "pos_id", "neg_ids")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val pos = Similarity.cosineTopK(emb, qs, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val negs = Similarity.hardNegatives(emb, qs, "vec_id", "embedding",
        5, 10)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).mkString(",")).toMap
    for ((q, (p, n)) <- trip) {
      assert(pos(q) == p, s"query $q positive mismatch")
      assert(negs(q) == n, s"query $q negatives mismatch")
    }
    assert(trip.nonEmpty)
  }

  test("sq8IndexStats reflects append-driven bounds widening") {
    val corpus = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(4.0, 4.0)))
      .toDF("vec_id", "embedding")
    val idx = tmpIdx("st")
    try {
      Similarity.writeSq8Index(corpus, "vec_id", "embedding", idx)
      val before = Similarity.sq8IndexStats(spark, idx)
        .select("n_codes", "dim", "min_lo", "max_hi", "mean_width")
        .as[(Long, Long, Double, Double, Double)].head()
      assert(before == ((2L, 2L, 0.0, 4.0, 4.0)), before.toString)
      Similarity.appendSq8Index(spark, idx,
        Seq((3L, Seq(-2.0, 10.0))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", corpus)
      val after = Similarity.sq8IndexStats(spark, idx)
        .select("n_codes", "min_lo", "max_hi", "mean_width")
        .as[(Long, Double, Double, Double)].head()
      // widths: dim0 [-2,4] = 6, dim1 [0,10] = 10 -> mean 8
      assert(after == ((3L, -2.0, 10.0, 8.0)), after.toString)
    } finally graft.queries.Fixture.deleteDir(idx)
  }

  test("curation card invariants: keep == conjunction; exact losers are near losers; keepers exist") {
    val card = graft.SparkEntry.queries("q358_curation_card")(
      spark, "/root/testdata/sf0.001")
      .select("doc_id", "exact_loser", "near_loser", "url_loser",
        "dup_segment_frac", "dup_gram_frac", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Double, Double, Boolean)]
      .collect()
    assert(card.nonEmpty)
    for ((id, ex, near, url, seg, rep, keep) <- card) {
      assert(keep == (!ex && !near && !url && seg <= 0.5 && rep <= 0.3),
        s"doc $id: keep flag inconsistent")
      // identical text => same signature => banded together => clustered
      assert(!ex || near, s"doc $id: exact loser must be a near loser")
    }
    assert(card.exists(_._7), "some docs must survive")
  }

  test("redundancy report invariants: rates in [0,1], doc counts partition the corpus") {
    val rep = graft.SparkEntry.queries("q359_redundancy_report")(
      spark, "/root/testdata/sf0.001")
      .select("source", "n_docs", "exact_dup_rate", "url_dup_rate",
        "mean_seg_dup", "mean_rep")
      .as[(String, Long, Double, Double, Double, Double)].collect()
    assert(rep.nonEmpty)
    for ((s0, n, er, ur, ms, mr) <- rep) {
      assert(n > 0)
      for (x <- Seq(er, ur, ms, mr))
        assert(x >= 0.0 && x <= 1.0, s"$s0: rate $x out of range")
    }
    val total = graft.core.Tables(spark, "/root/testdata/sf0.001",
      "documents").count()
    assert(rep.map(_._2).sum == total)
  }
}
