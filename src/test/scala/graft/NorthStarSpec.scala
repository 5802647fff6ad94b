package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

class NorthStarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  def docs = graft.core.Tables(spark, sf, "documents")
  def emb = graft.core.Tables(spark, sf, "embeddings")

  test("minhash LSH finds near-duplicate pairs and not unrelated ones") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val far = "completely different content about spark catalyst optimizer internals here"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, "text", "doc_id", n = 3, k = 16, bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash of near-identical docs differs in few bits") {
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val near = base.replace("word40", "word41")
    val df = Seq((1L, base), (2L, near), (3L, "x y z")).toDF("doc_id", "text")
    val sig = Dedup.simhash(df, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().map(_._2)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(0), sig(1)) <= 8)
    assert(hamming(sig(0), sig(2)) > 8)
  }

  test("semanticDedup (Lloyd-refined cells) recalls true pairs and never emits a false one") {
    // Deployment config: kmeansFit WITH Lloyd refinement (the gate's
    // q251 pins the init-only contract; this spec covers the refined
    // knob). Within-cell exact verify => precision is 1.0 by
    // construction; recall is bounded by cross-cell pairs, which is the
    // documented occupancy trade-off.
    val e = emb
    val model = e.agg(graft.functions.MlAggregators.kmeansFit(
        col("embedding").cast("array<double>"), 4, iters = 5).as("m"))
      .head().getString(0)
    val seeds = model.stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
      .map(_.split(",").map(_.toDouble).toSeq).toSeq
    val sem = Dedup.semanticDedup(e, "vec_id", "embedding", 64, seeds, 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val vecs = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.lazyZip(b).map(_ * _).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val truth = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib && cos(va, vb) >= 0.2
    } yield (ia, ib)).toSet
    assert(sem.subsetOf(truth), "within-cell exact verify emitted a false pair")
    assert(truth.nonEmpty && sem.size >= (truth.size * 0.3).toInt,
      s"recall ${sem.size}/${truth.size} below floor")
  }

  test("ngram jaccard is 1.0 for identical docs and skips unrelated ones") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "q r s t u v w x y z")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccard(df, "text", "doc_id", 3, 16, 4, 0.0)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("connectedComponents collapses transitive chains and keeps components apart") {
    // chain 1-2, 2-3 (1 and 3 never paired) + separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("connectedComponents converges on a long path (worst-case diameter)") {
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect()
    assert(got.length == 64 && got.forall(_._2 == 1L))
  }

  test("embedding near-dup finds LSH-colliding identical vectors, not opposites") {
    val v = Array.fill(8)(0.5f)
    val df = Seq((1L, v), (2L, v), (3L, v.map(-_)))
      .toDF("doc_id", "embedding")
    val got = Dedup.embeddingNearDup(df, "doc_id", "embedding",
        dim = 8, minCos = 0.9, bitsPerTable = 2, nTables = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("PQ ANN (refined codebooks + exact rerank) achieves >=80% recall@5 vs exact L2") {
    // L2 ground truth (ADC approximates L2, not cosine). Deployment
    // configuration: Lloyd-refined 8x64 codebooks over the full point
    // set and an ADC shortlist of 50 re-ranked exactly. The q246 GATE
    // instead pins iters=0/cap=128/no-rerank so its SQL oracle can
    // re-derive the fit — that proves cross-engine parity, this proves
    // retrieval quality.
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = (for {
      (qid, q) <- vecs if qid < 10
      (nid, _) <- vecs.filter(_._1 != qid)
        .sortBy { case (nid2, v) => (l2(q, v), nid2) }.take(5)
    } yield (qid, nid)).toSet
    val (m, sd) = (8, 8)
    val row = emb.agg(
      graft.functions.MlAggregators.kmeansFit(
        slice(col("embedding").cast("array<double>"), 1, sd), 64,
        iters = 20, cap = 100000).as("m0"),
      (1 until m).map(j => graft.functions.MlAggregators.kmeansFit(
        slice(col("embedding").cast("array<double>"), j * sd + 1, sd), 64,
        iters = 20, cap = 100000).as(s"m$j")): _*).head()
    val cbs = (0 until m).map(j => row.getString(j)
      .stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
      .map(_.split(",").map(_.toDouble).toSeq).toSeq)
    val approx = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, 64, cbs, rerank = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall@5 = $recall")
  }

  test("IVFADC (refined cells + residual codebooks + rerank) recalls >=70% @5") {
    // Deployment configuration of q275's parity pin: Lloyd-refined
    // coarse cells, residual codebooks, nProbe=4 of 8, exact rerank.
    // (nProbe is THE recall/cost knob: 3/8 measured 0.64 on this
    // fixture, 4/8 clears the floor — cell pruning, not quantization,
    // is what loses neighbors once rerank is on.)
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = (for {
      (qid, q) <- vecs if qid < 10
      (nid, _) <- vecs.filter(_._1 != qid)
        .sortBy { case (nid2, v) => (l2(q, v), nid2) }.take(5)
    } yield (qid, nid)).toSet
    def parse(s0: String) = s0.stripPrefix("[[").stripSuffix("]]")
      .split("\\],\\[").map(_.split(",").map(_.toDouble).toSeq).toSeq
    val cells = parse(emb.agg(graft.functions.MlAggregators.kmeansFit(
        col("embedding").cast("array<double>"), 8, iters = 20,
        cap = 100000).as("m")).head().getString(0))
    val resid = Similarity.l2Residuals(emb, "vec_id", "embedding", cells)
    val (m, sd) = (4, 16)
    val row = resid.agg(
      graft.functions.MlAggregators.kmeansFit(
        slice(col("residual"), 1, sd), 16, iters = 20, cap = 100000).as("m0"),
      (1 until m).map(j => graft.functions.MlAggregators.kmeansFit(
        slice(col("residual"), j * sd + 1, sd), 16, iters = 20,
        cap = 100000).as(s"m$j")): _*).head()
    val cbs = (0 until m).map(j => parse(row.getString(j)))
    val approx = Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, 64, cells, 4, cbs, rerank = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVFADC recall@5 = $recall")
  }

  test("LSH ANN achieves >=60% recall@5 vs exact brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshCosineTopK(emb, queries, "vec_id", "embedding",
        5, dim = 64, bitsPerTable = 4, nTables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("IVF ANN probes a cell subset and still recalls most true neighbors") {
    val queries = emb.filter(col("vec_id") < 10)
    val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfCosineTopK(emb, queries, "vec_id", "embedding",
        5, seeds, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall=$recall") // 2 of 8 cells probed
  }

  test("LSH ANN candidate generation uses broadcast joins (scale contract)") {
    val queries = emb.filter(col("vec_id") < 10)
    val plan = Similarity.lshCosineTopK(emb, queries, "vec_id", "embedding",
      5, 64).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("frame sampling yields zero frames for a zero-byte payload") {
    val media = Multimodal.asMediaTable(
      Seq((1L, ""), (2L, "x" * 100)).toDF("doc_id", "text"), "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, everyK = 4, frameBytes = 16)
      .groupBy("media_id").count().as[(Long, Long)].collect().toMap
    assert(!frames.contains(1L) && frames(2L) == 2L)
  }

  test("stub media decode produces deterministic batched features") {
    val media = Multimodal.asMediaTable(docs.limit(10), "doc_id", "text")
    val out = Multimodal.decodeFeatures(spark, media).collect()
    assert(out.length == 10)
    assert(out.forall(r => r.getAs[Seq[Float]]("features").length == 8))
    val again = Multimodal.decodeFeatures(spark, media).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("real image decode round-trips the synthetic PNG exactly") {
    val media = Seq(3L, 17L, 42L).toDF("media_id")
      .select(col("media_id"),
        udf((id: Long) => Multimodal.syntheticPng(id)).apply(col("media_id"))
          .as("payload"))
    val out = Multimodal.decodeFeatures(spark, media).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(3L, 17L, 42L)) {
      val (w, h) = (16 + (id % 8).toInt, 16 + (id % 5).toInt)
      val expectSum = (for (y <- 0 until h; x <- 0 until w)
        yield (id * 31 + x * 7 + y * 13) % 256).sum
      val r = out(id)
      assert(r.getInt(1) == w && r.getInt(2) == h)
      assert(r.getLong(3) == w.toLong * h)
      assert(r.getLong(4) == expectSum, s"pixel_sum for id=$id")
    }
    // a non-image payload still flows through via the stub fallback
    val stub = Multimodal.decodeFeatures(spark,
      Seq((9L, "not an image".getBytes("UTF-8"))).toDF("media_id", "payload"))
      .collect()
    assert(stub.length == 1 && stub.head.getSeq[Float](5).length == 8)
  }

  test("dHash: identical payloads hash identically, cell counts cover the raster") {
    val png = udf((id: Long) => Multimodal.syntheticPngVar(id))
    val media = Seq(5L, 6L, 7L, 105L).toDF("id")
      .select(col("id").as("media_id"),
        // 105 shares 5's image bytes? no — distinct ids; duplicate 5's
        // payload explicitly for the identical-hash check instead
        png(when(col("media_id") === 105L, 5L).otherwise(col("media_id")))
          .as("payload"))
    val cells = Multimodal.decodeCells(media)
    val cover = cells.select(col("media_id"),
        (col("width").cast("long") * col("height")).as("wh"),
        aggregate(col("cell_cnt"), lit(0L), (a, x) => a + x).as("covered"))
      .as[(Long, Long, Long)].collect()
    assert(cover.forall { case (_, wh, cov) => wh == cov },
      "every pixel must land in exactly one cell")
    val hashed = Multimodal.dHash(cells)
      .select("media_id", "phash").as[(Long, String)].collect().toMap
    assert(hashed(5L) == hashed(105L), "same payload, same hash")
    assert(hashed.values.forall(_.length == 16))
    assert(hashed(5L) != hashed(6L) || hashed(5L) != hashed(7L),
      "distinct gradients should not all collide")
  }

  test("phashNearDup: group-shared payloads pair at Hamming 0, emitted pairs verify") {
    val png = udf((id: Long) => Multimodal.syntheticPngVar(id))
    val media = (0L until 30L).toDF("id")
      .select(col("id").as("media_id"),
        png(col("media_id") - pmod(col("media_id"), lit(3L))).as("payload"))
    val hashed = Multimodal.dHash(Multimodal.decodeCells(media))
    val pairs = Multimodal.phashNearDup(hashed, maxDist = 3)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect()
    // every within-group pair must be present at distance 0
    val got = pairs.map(p => (p._1, p._2)).toSet
    for (base <- 0L until 30L by 3; a <- base until base + 3;
         b <- a + 1 until base + 3)
      assert(got.contains((a, b)), s"missing exact-duplicate pair ($a,$b)")
    assert(pairs.filter(p => p._1 / 3 == p._2 / 3).forall(_._3 == 0L))
    // and every emitted pair is within the documented distance
    assert(pairs.forall(_._3 <= 3L))
  }

  test("decodeCells: a payload a reader claims but cannot decode falls to the stub") {
    // valid PNG magic + garbage body: ImageIO claims a reader, the read
    // throws — decode-or-skip must route it to the stub path, not kill
    // the batch.
    val broken = Multimodal.syntheticPngVar(7L).take(40) ++
      Array.fill[Byte](30)(0x55)
    val ok = Multimodal.syntheticPngVar(7L)
    val media = Seq((1L, broken), (2L, ok), (3L, "plain text".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val out = Multimodal.decodeCells(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 3, "no row may be lost to a decode failure")
    // the real decode: full raster covered
    val okRow = out(2L)
    assert(okRow.getSeq[Long](4).sum ==
      okRow.getInt(1).toLong * okRow.getInt(2))
    // stub rows still carry full byte coverage in their cells
    assert(out(1L).getSeq[Long](4).sum == 70L)
    assert(out(3L).getSeq[Long](4).sum == 10L)
  }

  test("frameEnergy computes exact per-window byte sums") {
    val text = "abcdefghij" * 7 // 70 bytes -> frames of 64 + 6
    val media = Multimodal.asMediaTable(
      Seq((1L, text), (2L, "")).toDF("doc_id", "text"), "doc_id", "text")
    val out = Multimodal.frameEnergy(media, frameBytes = 64)
      .orderBy("media_id", "frame_no")
      .as[(Long, Int, Int, Long)].collect()
    val bytes = text.getBytes("UTF-8").map(_ & 0xff)
    assert(out.toSeq == Seq(
      (1L, 0, 64, bytes.take(64).map(_.toLong).sum),
      (1L, 1, 6, bytes.drop(64).map(_.toLong).sum)),
      "empty payload emits no frames; sums are exact")
  }

  test("hardNegatives excludes positives and matches the brute-force answer") {
    val e = emb
    val got = Similarity.hardNegativesBelow(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", 3, 0.95)
      .select("query_id", "neighbor_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect()
    val vecs = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.lazyZip(b).map(_ * _).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    assert(got.forall(_._4 < 0.95), "no positive may survive the cut")
    for (q <- vecs.filter(_._1 < 5)) {
      val want = vecs.filter(v => v._1 != q._1)
        .map(v => (v._1, cos(q._2, v._2)))
        .filter(_._2 < 0.95 - 1e-9)
        .sortBy(v => (-v._2, v._1)).take(3).map(_._1).toSeq
      val have = got.filter(_._1 == q._1).sortBy(_._3).map(_._2).toSeq
      assert(have == want, s"top-3 for anchor ${q._1}")
    }
  }

  test("tokenizerFertility: known merges give exact token counts and ratios") {
    // merges: t+a -> ta -> tab -> table; "table" encodes to 1 token,
    // "xyz" to 3 single chars
    val df = Seq(("s1", "table table"), ("s1", "xyz"), ("s2", "q")).toDF("src", "text")
    val got = TextOps.tokenizerFertility(df, "text", "src", TextOps.fixtureMerges)
      .orderBy("src")
      .select("src", "n_words", "n_tokens", "n_chars", "fertility")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // s1: 3 words; "table"x2 -> 2 tokens, "xyz" -> 3 tokens; 14 chars
    assert(got(0) == (("s1", 3L, 5L, 14L, 1.666667)))
    assert(got(1)._1 == "s2" && got(1)._2 == 1L && got(1)._3 == 1L)
  }

  test("gramNovelty: boilerplate scores 0, unique docs score 1") {
    val shared = "a b c d e f"
    val df = Seq((1L, shared), (2L, shared),
      (3L, "p q r s t u v")).toDF("doc_id", "text")
    val got = TextOps.gramNovelty(df, "text", "doc_id", 3)
      .orderBy("doc_id").select("doc_id", "novelty")
      .as[(Long, Double)].collect().toSeq
    assert(got(0)._2 == 0.0 && got(1)._2 == 0.0, "shared grams are never novel")
    assert(got(2)._2 == 1.0, "singleton doc is fully novel")
  }

  test("truncatedRerankTopK: shortlist size is the recall knob on worst-case dims") {
    // fixture dims are i.i.d. (no matryoshka structure), the worst case
    // for prefix ranking — measured: shortlist 200/500 -> 0.9 recall,
    // 100 -> 0.7. The spec pins both points so the knob's behavior is
    // executable documentation.
    val e = emb
    val exact = Similarity.cosineTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(shortlist: Int): Double = {
      val got = Similarity.truncatedRerankTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, 16, shortlist)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    assert(recall(200) >= 0.85, "shortlist 200 must recover >=85% of exact top-5")
    assert(recall(100) >= 0.6)
    // full-width shortlist degenerates to the exact answer
    assert(recall(499) == 1.0)
  }

  test("winnowing coverage property: every shared run >= w+n-1 shares a fingerprint (fuzz), Spark == local reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val (n, w) = (3, 4)
    def h60Local(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16) % graft.ops.Dedup.P
    }
    def winnowLocal(text: String): Set[Long] = {
      val words = text.split(" ", -1).toSeq
      val grams = (0 to math.max(words.length - n, 0))
        .map(i => words.slice(i, math.min(i + n, words.length)).mkString(" "))
      val hs = grams.map(h60Local)
      (0 to math.max(hs.length - w, 0))
        .map(i => hs.slice(i, math.min(i + w, hs.length)).min).toSet
    }
    val run = Gen.chooseNum(w + n - 1, 14).flatMap(len =>
      Gen.listOfN(len, Gen.chooseNum(0, 99).map(i => s"r$i")))
    val pad = (p: String) => Gen.chooseNum(0, 8).flatMap(len =>
      Gen.listOfN(len, Gen.chooseNum(0, 99).map(i => s"$p$i")))
    val prop = Prop.forAll(run, pad("a"), pad("b"), pad("c"), pad("d")) {
      (r, a1, a2, b1, b2) =>
        val d1 = (a1 ++ r ++ a2).mkString(" ")
        val d2 = (b1 ++ r ++ b2).mkString(" ")
        winnowLocal(d1).intersect(winnowLocal(d2)).nonEmpty
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(80), prop)
    assert(res.passed, res.status.toString)
    // and the Spark operator computes exactly the local reference sets
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 12L).map(i =>
      (i, Seq.fill(5 + rnd.nextInt(30))(s"v${rnd.nextInt(12)}").mkString(" ")))
    val sdf = corpus.toDF("doc_id", "text")
    val got = TextOps.winnowing(sdf, "text", "doc_id", n, w)
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    for ((id, text) <- corpus)
      assert(got.getOrElse(id, Set.empty) == winnowLocal(text),
        s"Spark winnowing != local reference for doc $id")
  }

  test("winnowing: a shared run of >= w+n-1 words always shares a fingerprint") {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d1 = s"unique one two three four $run closing words here now"
    val d2 = s"different prefix tokens entirely $run and another ending"
    val d3 = "nothing in common with those documents at all whatsoever today"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val fps = TextOps.winnowing(df, "text", "doc_id", n = 3, w = 4)
    val byDoc = fps.as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // 10-word shared run >= w+n-1 = 6 -> guaranteed common fingerprint
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty)
    assert(byDoc(1L).intersect(byDoc(3L)).isEmpty)
    val m = TextOps.winnowMatches(fps, minShared = 1, maxDocFreq = 50)
      .as[(Long, Long, Long, Double)].collect()
    assert(m.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(m.head._4 > 0.0 && m.head._4 <= 1.0)
  }

  test("lang id is deterministic and covers marker languages") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "xyzzy plugh")).toDF("doc_id", "text")
    val got = TextOps.langId(df, "text").select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "unknown")
  }

  test("incrementalDedup classifies every delta-vs-snapshot case") {
    val c2 = "query plan shuffles the fact table by join key and broadcasts " +
      "the small dimension side to every executor for the hash join stage"
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, c2)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact in corpus
      (11L, "brand new content about catalyst rule ordering in the optimizer"),
      (12L, "brand new content about catalyst rule ordering in the optimizer"), // copy of 11
      (13L, c2 + " tonight"), // near-dup of corpus doc 2 (J = 18/19)
      (14L, "completely fresh text with no relation to anything stored before")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup
      .incrementalDedup(corpus, batch, "text", "doc_id", 3, 16, 4, 0.8)
      .as[(Long, String)].collect().toMap
    assert(got(10L) == "dup_exact_corpus", got.toString)
    assert(got(11L) == "admitted")
    assert(got(12L) == "dup_exact_batch")
    assert(got(13L) == "near_dup_corpus", got.toString)
    assert(got(14L) == "admitted")
  }

  test("indexed incremental dedup equals the recomputed path; bands come from the index") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
    val idx = java.nio.file.Files.createTempDirectory("dedup_idx").toString
    graft.ops.Dedup.writeDedupIndex(corpus, "text", "doc_id", idx, 3, 16, 4)
    val direct = graft.ops.Dedup
      .incrementalDedup(corpus, batch, "text", "doc_id", 3, 16, 4, 0.8)
      .as[(Long, String)].collect().toMap
    val viaIndex = graft.ops.Dedup
      .incrementalDedupIndexed(idx, corpus, batch, "text", "doc_id", 3, 16, 4, 0.8)
    assert(viaIndex.as[(Long, String)].collect().toMap == direct && direct.nonEmpty)
    // the snapshot text feeds ONLY the candidate verify fetch: exactly
    // one scan of the corpus source remains in the indexed plan (vs
    // three in the recomputed path: hashes, bands, verify)
    val leaves = viaIndex.queryExecution.executedPlan.collectLeaves()
      .map(_.toString)
    assert(leaves.count(_.contains("documents.parquet")) <= 2, // corpus verify + batch
      leaves.mkString("\n").take(2000))
    assert(leaves.exists(_.contains("bands.parquet")) &&
      leaves.exists(_.contains("hashes.parquet")), leaves.mkString("\n").take(1000))
  }

  test("softDedupWeights divides mass by cluster size, singletons keep 1.0") {
    val dup = "repeated boilerplate text that appears in three documents verbatim today"
    val df = Seq(
      (1L, dup), (2L, dup), (3L, dup),
      (4L, "unique document with entirely distinct content and no duplicates at all")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup
      .softDedupWeights(df, "text", "doc_id", 3, 16, 4, 0.8)
      .select("doc_id", "component", "cluster_size", "weight_micro")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(g => (g._1, g._2, g._3, g._4)).toSeq == Seq(
      (1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L),
      (3L, 1L, 3L, 333333L), (4L, 4L, 1L, 1000000L)))
  }

  test("leakageSafeSplit never strands duplicates across splits") {
    val dup = "repeated boilerplate text that appears in three documents verbatim today"
    val df = Seq(
      (1L, dup), (2L, dup), (7L, dup),
      (4L, "unique document with entirely distinct content and no duplicates at all"),
      (5L, "another singleton piece about something else entirely different here")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup
      .leakageSafeSplit(df, "text", "doc_id", 10, 10)
      .select("doc_id", "component", "split")
      .as[(Long, Long, String)].collect()
    // all three copies share a component, hence a split
    val dups = got.filter(g => Set(1L, 2L, 7L)(g._1))
    assert(dups.map(_._2).distinct.length == 1)
    assert(dups.map(_._3).distinct.length == 1)
    assert(got.map(_._3).forall(Set("train", "val", "test")))
    // deterministic across repartitioning
    val again = graft.ops.Dedup
      .leakageSafeSplit(df.repartition(7), "text", "doc_id", 10, 10)
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(again == got.map(g => (g._1, g._3)).toSet)
  }

  test("minhashCalibration: exact copies estimate J=1 with zero error") {
    val dup = "identical document text reused verbatim across a pair of rows here"
    val df = Seq((1L, dup), (2L, dup),
      (3L, "unrelated filler content that should never collide with the pair")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup
      .minhashCalibration(df, "text", "doc_id", 3, 16, 4)
      .select("doc_a", "doc_b", "est_micro", "jac_micro", "err_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1000000L, 1000000L, 0L)))
  }
}
