package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Corpus

class CorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("duplicateSpanStats flags shared boilerplate, not unique text") {
    val boiler = "subscribe to our newsletter for updates and offers every day"
    val df = Seq(
      (1L, s"$boiler unique article one about spark catalyst internals"),
      (2L, s"$boiler another unique piece on tungsten codegen here now"),
      (3L, "entirely singular content with no repeated spans anywhere in corpus at all")
    ).toDF("doc_id", "text")
    val got = Corpus.duplicateSpanStats(df, "text", "doc_id", 8)
      .orderBy("doc_id")
      .select("doc_id", "dup_ratio").as[(Long, Double)].collect()
    assert(got(0)._2 > 0.0 && got(1)._2 > 0.0)
    assert(got(2)._2 == 0.0)
  }

  test("removeDuplicateSpans cuts shared boilerplate, keeps unique text, retains all docs") {
    val boiler = "subscribe to our newsletter for updates and offers every day"
    val df = Seq(
      (1L, s"$boiler unique article one about spark catalyst internals today"),
      (2L, s"$boiler another unique piece on tungsten codegen here now"),
      (3L, "entirely singular content with no repeated spans anywhere in corpus at all"),
      (4L, boiler)
    ).toDF("doc_id", "text")
    val got = Corpus.removeDuplicateSpans(df, "text", "doc_id", 8)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect()
    // the 10-word boilerplate prefix is covered by shared 8-gram spans
    assert(got(0)._2 == "unique article one about spark catalyst internals today",
      got(0)._2)
    assert(got(1)._2 == "another unique piece on tungsten codegen here now")
    assert(got(2)._2.startsWith("entirely singular") && got(2)._3 == 0L)
    // the all-boilerplate doc survives as an empty row, not a dropped one
    assert(got(3) == ((4L, "", 10L)))
  }

  test("contamination is 1.0 for a doc copied into eval, 0 for disjoint text") {
    val leaked = "what is the capital of france the capital of france is paris"
    val corpus = Seq((1L, leaked),
      (2L, "totally unrelated words in this training document nothing shared whatsoever today"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, leaked)).toDF("doc_id", "text")
    val got = Corpus.contamination(corpus, eval, "text", "doc_id", 8)
      .orderBy("doc_id")
      .select("doc_id", "contamination_ratio").as[(Long, Double)].collect()
    assert(got(0)._2 == 1.0)
    assert(got(1)._2 == 0.0)
  }

  test("repetitionStats scores a repetitive doc above a varied one") {
    val loop = (1 to 12).map(_ => "buy now click here pay less").mkString(" ")
    val varied = (1 to 60).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, loop), (2L, varied)).toDF("doc_id", "text")
    val got = Corpus.repetitionStats(df, "text", "doc_id").orderBy("doc_id")
      .select("doc_id", "top2_char_ratio", "dup5_ratio", "dup10_ratio")
      .as[(Long, Double, Double, Double)].collect()
    assert(got(0)._2 > 0.15 && got(0)._3 > 0.8 && got(0)._4 > 0.8)
    assert(got(1)._2 < 0.15 && got(1)._3 == 0.0 && got(1)._4 == 0.0)
  }

  test("bloom-prefiltered contamination equals the exact path") {
    val leaked = "what is the capital of france the capital of france is paris"
    val corpus = Seq((1L, leaked),
      (2L, "totally unrelated words in this training document nothing shared whatsoever today"),
      (3L, s"prefix words then $leaked"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, leaked)).toDF("doc_id", "text")
    val exact = Corpus.contamination(corpus, eval, "text", "doc_id", 8)
      .orderBy("doc_id").collect().toSeq
    val bloom = Corpus.contaminationBloom(corpus, eval, "text", "doc_id", 8)
      .orderBy("doc_id").collect().toSeq
    assert(bloom == exact)
  }

  test("temperatureResample upweights rare groups and hits the target size") {
    val df = ((1L to 9000L).map((_, "big")) ++ (9001L to 10000L).map((_, "small")))
      .toDF("doc_id", "grp")
    val kept = Corpus.temperatureResample(df, "doc_id", "grp",
        alpha = 0.5, targetRows = 2000L)
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    // alpha=0.5 weights: sqrt(9000):sqrt(1000) = 3:1 -> 1500 vs 500
    // expected; the rare group's KEEP RATE (0.5) must far exceed the
    // dominant group's (0.167).
    val total = kept.values.sum
    assert(math.abs(total - 2000L) < 200, s"total kept $total")
    val rateBig = kept("big").toDouble / 9000
    val rateSmall = kept("small").toDouble / 1000
    assert(rateSmall > 2.5 * rateBig, s"rates $rateSmall vs $rateBig")
  }

  test("packSequences lays out a gapless stream and cuts exact 10-token windows") {
    val df = Seq((1L, "a", 4L), (2L, "a", 7L), (3L, "b", 12L), (4L, "b", 3L))
      .toDF("doc_id", "grp", "n_tok")
    val got = Corpus.packSequences(df, "doc_id", "n_tok", "grp", 10L)
      .select("doc_id", "start_tok", "first_seq", "last_seq")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // stream order (a,1)(a,2)(b,3)(b,4): offsets 0,4,11,23
    assert(got.toSeq == Seq((1L, 0L, 0L, 0L), (2L, 4L, 0L, 1L),
      (3L, 11L, 1L, 2L), (4L, 23L, 2L, 2L)))
  }

  test("a deliberately undersized bloom filter still returns exact results") {
    // the bloom is only a prefilter: false positives survive to the
    // exact join and die there, so even a saturated 64-bit filter
    // (every probe positive) must reproduce the exact answer
    val leaked = "what is the capital of france the capital of france is paris"
    val corpus = Seq((1L, leaked),
      (2L, "totally unrelated words in this training document nothing shared whatsoever today"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, leaked)).toDF("doc_id", "text")
    val exact = Corpus.contamination(corpus, eval, "text", "doc_id", 8)
      .orderBy("doc_id").collect().toSeq
    val tiny = Corpus.contaminationBloom(corpus, eval, "text", "doc_id", 8,
        estimatedItems = 4L, bits = 64L)
      .orderBy("doc_id").collect().toSeq
    assert(tiny == exact)
  }

  test("dsirWeights scores target-like docs above off-domain ones") {
    val target = Seq(
      (100L, "quantum physics lecture notes on entanglement and superposition states"),
      (101L, "quantum mechanics problem set on entanglement and measurement"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "quantum physics notes on entanglement and superposition"),
      (2L, "cheap shoes sale buy discount sneakers online free shipping now"))
      .toDF("doc_id", "text")
    val w = Corpus.dsirWeights(raw, target, "text", "doc_id", 1024)
      .select("doc_id", "wq").as[(Long, Long)].collect().toMap
    assert(w(1L) > w(2L), s"in-domain ${w(1L)} must beat off-domain ${w(2L)}")
  }

  test("dsirSelect is exact-k, partitioning-invariant, and ranks the target-like doc first") {
    // DSIR weights are ln p_target - ln p_raw: a gram COMMON in raw is
    // penalized, so the in-domain doc must be the only one carrying the
    // target vocabulary while noise docs share a different vocabulary.
    val docs = (1L, "alpha beta gamma delta epsilon zeta") +:
      (2L to 40L).map(i => (i, "noise filler words here only common text"))
    val target = Seq((999L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val raw = docs.toDF("doc_id", "text")
    val a = Corpus.dsirSelect(raw, target, "text", "doc_id", 10, 1024)
      .select("doc_id").as[Long].collect().toSeq
    val b = Corpus.dsirSelect(raw.repartition(7), target.repartition(3),
        "text", "doc_id", 10, 1024)
      .select("doc_id").as[Long].collect().toSeq
    assert(a.size == 10 && a == b)
    assert(a.head == 1L, s"target-like doc must rank first, got ${a.mkString(",")}")
  }

  test("lmScore ranks target-fluent text above scrambled/off-domain text") {
    // same vocabulary, different word ORDER: only a bigram (conditional)
    // model separates these — a unigram model would tie them
    val target = Seq(
      (100L, "the cat sat on the mat and the dog sat on the rug"),
      (101L, "the dog sat on the mat and the cat sat on the rug"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "the cat sat on the rug and the dog sat on the mat"),
      (2L, "rug the on sat mat dog the cat and the on sat the"),
      (3L, "zq xv qy wk jj zz pf vv gg hh kk ll mm nn"))
      .toDF("doc_id", "text")
    val got = Corpus.lmScore(raw, target, "text", "doc_id", 256)
      .select("doc_id", "avg_logp").as[(Long, Double)].collect().toMap
    assert(got(1L) > got(2L), s"fluent ${got(1L)} must beat scrambled ${got(2L)}")
    assert(got(2L) > got(3L), s"in-vocab ${got(2L)} must beat OOV ${got(3L)}")
    val sel = Corpus.lmSelect(raw, target, "text", "doc_id", 1, 256)
      .select("doc_id").as[Long].collect()
    assert(sel.toSeq == Seq(1L))
  }

  test("duplicateSpanRuns merges overlapping duplicate windows into one maximal run") {
    val boiler = "one two three four five six seven eight nine ten"  // 10 shared words
    val a = s"alpha beta gamma delta epsilon zeta eta theta $boiler"
    val b = s"$boiler iota kappa lambda mu nu xi omicron pi"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val runs = Corpus.duplicateSpanRuns(df, "text", "doc_id", 8)
      .select("doc_id", "span_start", "span_len")
      .as[(Long, Long, Long)].collect().toSet
    // three 8-gram windows over the 10 shared words merge into ONE
    // 10-word run per doc: at the end of doc 1, the start of doc 2
    assert(runs == Set((1L, 8L, 10L), (2L, 0L, 10L)))
  }

  test("embeddingContamination flags the copied eval vector, not the orthogonal one") {
    val evalDf = Seq((900L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.99f, 0.01f, 0.0f, 0.0f)),   // near-copy of the eval item
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)))      // orthogonal
      .toDF("vec_id", "embedding")
    val got = Corpus.embeddingContamination(
        corpus, evalDf, "vec_id", "embedding", minCos = 0.9)
      .select("vec_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(got(1L) && !got(2L))
  }

  test("lmTerciles reproduces exact ntile(3) semantics without a global window") {
    val target = Seq((100L, "the cat sat on the mat and the dog sat on the rug"))
      .toDF("doc_id", "text")
    // 7 docs -> ntile(3) buckets of sizes 3,2,2
    val raw = (1L to 7L).map(i =>
      (i, Seq.fill(i.toInt + 1)("the cat sat").mkString(" ") + " xq zz"))
      .toDF("doc_id", "text")
    val got = Corpus.lmTerciles(raw, target, "text", "doc_id", 256)
    val expected = {
      import org.apache.spark.sql.expressions.Window
      Corpus.lmScore(raw, target, "text", "doc_id", 256)
        .withColumn("tl", ntile(3).over(
          Window.orderBy(col("avg_logp").desc, col("doc_id"))))
        .select(col("doc_id"), element_at(
          typedLit(Seq("head", "middle", "tail")), col("tl")).as("tercile"))
        .as[(Long, String)].collect().toMap
    }
    val gotMap = got.select("doc_id", "tercile")
      .as[(Long, String)].collect().toMap
    assert(gotMap == expected && gotMap.values.toSeq.sorted ==
      Seq("head", "head", "head", "middle", "middle", "tail", "tail"))
    // ranks are the global 1..n rank, duplicate-free
    val ranks = got.select("rank").as[Long].collect().sorted
    assert(ranks.toSeq == (1L to 7L).toSeq)
  }

  test("tokenBudgetFill equals the global-window greedy fill on fixture docs") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val raw = docs.filter(col("source") =!= "src0")
    val tgt = docs.filter(col("source") === "src0")
    val budget = 1500L
    val got = Corpus.tokenBudgetFill(raw, tgt, "text", "doc_id", budget)
      .select("doc_id", "start_tok").as[(Long, Long)].collect().toMap
    // reference: the same greedy rule with a plain global window
    val exp = Corpus.lmScore(raw, tgt, "text", "doc_id")
      .withColumn("n_tok", col("n_bigrams") + 1)
      .withColumn("start", coalesce(sum("n_tok").over(
        Window.orderBy(col("avg_logp").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .where(col("start") < budget)
      .select("doc_id", "start").as[(Long, Long)].collect().toMap
    assert(got == exp && got.nonEmpty)
    // greedy contract: every kept doc starts inside the budget
    assert(got.values.forall(_ < budget))
  }

  test("clusterBalancedSelect caps every cell and keeps the most-central first") {
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val df = Seq(
      (1L, Array(1.0f, 0.05f)), (2L, Array(1.0f, 0.3f)), (3L, Array(1.0f, 0.6f)),
      (4L, Array(0.05f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Corpus.clusterBalancedSelect(df, "vec_id", "embedding",
        centroids, perCell = 2)
      .select("cell", "vec_id", "rank").as[(Int, Long, Int)].collect().toSet
    // cell 1 overflows: doc 3 (least central) is the one dropped
    assert(got == Set((1, 1L, 1), (1, 2L, 2), (2, 4L, 1)))
  }

  test("shardAssign permutes deterministically with contiguous per-shard positions") {
    val df = (1L to 1000L).toDF("doc_id")
    val got = Corpus.shardAssign(df, "doc_id", 8)
      .select("doc_id", "shard", "pos", "global_pos")
      .as[(Long, Int, Long, Long)].collect()
    assert(got.map(_._2).toSet == (0 until 8).toSet)
    for ((sh, rows) <- got.groupBy(_._2))
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq,
        s"shard $sh positions not contiguous")
    // round-robin interleave is injective and actually shuffles
    assert(got.map(_._4).distinct.length == 1000)
    assert(got.sortBy(_._4).map(_._1).take(20).toSeq != (1L to 20L).toSeq)
    // partitioning-invariant
    val again = Corpus.shardAssign(df.repartition(13), "doc_id", 8)
      .select("doc_id", "shard", "pos", "global_pos")
      .as[(Long, Int, Long, Long)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("stratifiedSample is deterministic and tracks the requested fraction") {
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("doc_id", "bucket")
    val frac = when(col("bucket") === "even", lit(0.5)).otherwise(lit(0.1))
    val a = Corpus.stratifiedSample(df, "doc_id", frac)
    val b = Corpus.stratifiedSample(df, "doc_id", frac)
    val rowsA = a.select("doc_id").as[Long].collect().toSet
    assert(rowsA == b.select("doc_id").as[Long].collect().toSet)
    val evenKept = a.filter(col("bucket") === "even").count().toDouble / 2000
    val oddKept = a.filter(col("bucket") === "odd").count().toDouble / 2000
    assert(math.abs(evenKept - 0.5) < 0.05, s"even kept $evenKept")
    assert(math.abs(oddKept - 0.1) < 0.05, s"odd kept $oddKept")
  }

  test("removeRepeatedSegments drops corpus-wide repeated chunks, keeps order") {
    // With segWords=3 the shared 6-word prefix forms two aligned
    // repeated segments in docs 1-2; their 3-word tails and doc 3 stay.
    val boiler = "subscribe to our newsletter every day"
    val df = Seq(
      (1L, s"$boiler unique article one"),
      (2L, s"$boiler second piece here"),
      (3L, "entirely singular content kept")
    ).toDF("doc_id", "text")
    val got = Corpus.removeRepeatedSegments(df, "text", "doc_id",
        segWords = 3, minDocs = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_segs", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0) == ((1L, 3L, 1L, "unique article one")), got(0).toString)
    assert(got(1) == ((2L, 3L, 1L, "second piece here")))
    assert(got(2) == ((3L, 2L, 2L, "entirely singular content kept")))
  }

  test("curriculumShards ranks globally and cuts balanced contiguous shards") {
    val df = (1L to 103L).map(i => (i, (i * 7) % 50)).toDF("doc_id", "score")
    val got = Corpus.curriculumShards(df, "doc_id", "score", 4, 5.0)
      .select("doc_id", "score", "rank", "shard", "pos")
      .as[(Long, Long, Long, Int, Long)].collect().sortBy(_._3)
    // rank is the exact global (score, id) order
    val want = (1L to 103L).map(i => (i, (i * 7) % 50))
      .sortBy { case (id, sc) => (sc, id) }.map(_._1)
    assert(got.map(_._1).toSeq == want)
    // shards are contiguous in rank and balanced within one row
    val sizes = got.groupBy(_._4).view.mapValues(_.length).toMap
    assert(sizes.keySet == Set(0, 1, 2, 3))
    assert(sizes.values.max - sizes.values.min <= 1, sizes.toString)
    for (g <- got) assert(g._5 >= 0 && g._5 < sizes(g._4) &&
      got.filter(_._4 == g._4).map(_._3).sorted.zipWithIndex
        .find(_._1 == g._3).exists(_._2 == g._5))
    // partitioning-invariant
    val again = Corpus.curriculumShards(df.repartition(11), "doc_id", "score", 4, 5.0)
      .select("doc_id", "rank").as[(Long, Long)].collect().toSet
    assert(again == got.map(g => (g._1, g._3)).toSet)
  }

  test("lengthBucketBatches pads to the batch max, never across buckets") {
    // 10 docs of 3 words and one of 40: the long doc must land in its
    // own bucket (width 16) so the short batches pad at most 0.
    val df = ((1L to 10L).map(i => (i, "a b c")) :+ (11L, Seq.fill(40)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Corpus.lengthBucketBatches(df, "doc_id", "text",
        bucketWidth = 16, batchSize = 4)
      .select("doc_id", "n_tok", "bucket", "batch_idx", "pad")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.filter(_._1 <= 10).forall(g => g._3 == 0L && g._5 == 0L))
    val long = got.find(_._1 == 11L).get
    assert(long._3 == 2L && long._5 == 0L) // own bucket, alone in batch
    // batches of 4 within the short bucket: ranks 1-4 -> 0, 5-8 -> 1, 9-10 -> 2
    assert(got.filter(_._1 <= 10).map(_._4).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("weightedSample is exact-k, partitioning-invariant, and weight-biased") {
    val df = (1L to 1000L)
      .map(i => (i, if (i <= 100) 1000L else 1L)) // 100 heavy docs
      .toDF("doc_id", "w")
    val a = Corpus.weightedSample(df, "doc_id", "w", 50)
      .select("doc_id").as[Long].collect().toSet
    val b = Corpus.weightedSample(df.repartition(13), "doc_id", "w", 50)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b && a.size == 50)
    // heavy docs are 10% of the corpus but carry ~99% of the weight;
    // an E-S sample of 50 must be dominated by them
    assert(a.count(_ <= 100L) >= 40, s"heavy picked ${a.count(_ <= 100L)}")
  }

  test("contextChunks tiles documents with overlapping windows") {
    val text = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val df = Seq((1L, text), (2L, "solo")).toDF("doc_id", "text")
    val got = Corpus.contextChunks(df, "text", "doc_id", winTokens = 4, stride = 2)
      .orderBy("doc_id", "chunk_no")
      .select("doc_id", "chunk_no", "tok_start", "tok_end", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 2L, 6L, "t3 t4 t5 t6"),
      (1L, 2L, 4L, 8L, "t5 t6 t7 t8"),
      (1L, 3L, 6L, 10L, "t7 t8 t9 t10"),
      (1L, 4L, 8L, 10L, "t9 t10"),
      (2L, 0L, 0L, 1L, "solo")))
    intercept[IllegalArgumentException] {
      Corpus.contextChunks(df, "text", "doc_id", winTokens = 2, stride = 4)
    }
  }

  test("snapshotDiff reports exactly the churn rows, null text included") {
    val oldV = Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, null), (6L, "x"))
      .toDF("doc_id", "text")
    val newV = Seq((2L, "b"), (3L, "c2"), (4L, "d"), (5L, null), (6L, null))
      .toDF("doc_id", "text")
    val got = Corpus.snapshotDiff(oldV, newV, "text", "doc_id")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    // 5: null->null is carried over unchanged; 6: 'x'->null is a change
    assert(got == Seq((1L, "removed"), (3L, "changed"), (4L, "added"),
      (6L, "changed")))
  }

  test("domainCap keeps at most cap docs per group, highest priority first") {
    val df = (1L to 30L).map(i => (i, s"s${i % 2}", i * 10)).toDF("doc_id", "src", "pri")
    val got = Corpus.domainCap(df, "doc_id", "src", "pri", cap = 3)
      .select("doc_id", "src").as[(Long, String)].collect()
    assert(got.length == 6)
    // top-3 by pri desc in each parity class: 30,28,26 and 29,27,25
    assert(got.map(_._1).toSet == Set(30L, 28L, 26L, 29L, 27L, 25L))
  }

  test("epochExpand: copy counts bracket the rate and survive repartitioning") {
    // 3+ groups so the normalizer sum has a partition-order-sensitive
    // association — the quantized-weight contract must hold anyway.
    def grp(i: Long) = if (i <= 200) "big" else if (i <= 270) "mid" else "rare"
    val df = (1L to 300L).map(i => (i, grp(i))).toDF("doc_id", "grp")
    val a = Corpus.epochExpand(df, "doc_id", "grp", 0.5, 600L)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    val b = Corpus.epochExpand(df.repartition(17), "doc_id", "grp", 0.5, 600L)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(a == b, "copy counts must be partitioning-invariant")
    val sizes = Map("big" -> 200, "mid" -> 70, "rare" -> 30)
    val totQ = sizes.values.map(n => math.floor(math.sqrt(n) * 1e6 + 0.5)).sum
    def rate(n: Int) =
      600.0 * math.floor(math.sqrt(n) * 1e6 + 0.5) / totQ / n
    for (i <- 1L to 300L) {
      val n = sizes(grp(i))
      val c = a.getOrElse(i, 0L)
      assert(c >= math.floor(rate(n)).toLong && c <= math.ceil(rate(n)).toLong,
        s"doc $i copies $c outside [floor,ceil] of rate ${rate(n)}")
    }
    // rare group is upweighted: its per-doc rate must exceed big's
    assert(rate(30) > rate(200))
  }

  test("embeddingContaminationCells: hits are a sound subset of the broadcast-exact answer") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val model = emb.agg(graft.functions.MlAggregators.kmeansFit(
        col("embedding").cast("array<double>"), 8, iters = 0).as("m"))
      .head().getString(0)
    val seeds = model.stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
      .map(_.split(",").map(_.toDouble).toSeq).toSeq
    val (corpus, ev) = (emb.filter(col("vec_id") >= 16),
      emb.filter(col("vec_id") < 16))
    val cellHits = Corpus.embeddingContaminationCells(
        corpus, ev, "vec_id", "embedding", seeds, 0.2)
      .select("doc_id", "max_cos").as[(Long, Double)].collect().toMap
    val exact = Corpus.embeddingContamination(corpus, ev, "vec_id", "embedding", 0.2)
      .where(col("contaminated"))
      .select(col("vec_id"), col("max_cos")).as[(Long, Double)].collect().toMap
    assert(cellHits.keySet.subsetOf(exact.keySet),
      "a cell hit must also be an exact hit (within-cell max <= global max)")
    for ((id, mc) <- cellHits)
      assert(mc <= exact(id) + 1e-9, s"cell max_cos exceeds exact for $id")
    assert(cellHits.nonEmpty, "the fixture must produce some within-cell hits")
  }

  test("contextChunks tiling property: full coverage, exact stride overlap (fuzz)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      s <- Gen.chooseNum(1, 12)
      l <- Gen.chooseNum(s, 24)
    } yield (n, l, s)
    // local replica of the layout math (the Spark op is pinned equal below)
    def chunks(n: Int, l: Int, s: Int): Seq[(Long, Long)] =
      (0 to (n - 1) / s).map(i => (i.toLong * s, math.min(i.toLong * s + l, n)))
    val prop = Prop.forAll(gen) { case (n, l, s) =>
      val cs = chunks(n, l, s)
      val covered = cs.flatMap { case (a, b) => a until b }.toSet
      covered == (0L until n).toSet &&                  // every token in >= 1 chunk
      cs.zip(cs.tail).forall { case ((a1, _), (a2, _)) => a2 - a1 == s } &&
      cs.forall { case (a, b) => b - a <= l }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(80), prop)
    assert(res.passed, res.status.toString)
    // Spark == the local layout on a mixed corpus
    val docs = Seq((1L, (1 to 13).map("t" + _).mkString(" ")),
      (2L, "a"), (3L, (1 to 40).map("x" + _).mkString(" "))).toDF("doc_id", "text")
    val got = Corpus.contextChunks(docs, "text", "doc_id", 7, 3)
      .select("doc_id", "tok_start", "tok_end")
      .as[(Long, Long, Long)].collect().toSet
    val want = Seq(1L -> 13, 2L -> 1, 3L -> 40).flatMap { case (id, n) =>
      chunks(n, 7, 3).map { case (a, b) => (id, a, b) } }.toSet
    assert(got == want)
  }

  test("dupClusterHistogram summarizes component sizes exactly") {
    // components: {1,2,3} root 1; {7,8} root 7
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "component")
    val got = Corpus.dupClusterHistogram(comp)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L)))
  }

  test("groupPercentile == in-group rank reference; singleton group scores 0") {
    for (seed <- Seq(17, 113)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 300).map(i =>
        ("s" + rnd.nextInt(4), i.toLong, rnd.nextInt(1000).toLong)) :+
        (("solo", 9999L, 500L))
      val ref = rows.groupBy(_._1).flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._3, e._2))
        val n = sorted.size.toLong
        sorted.zipWithIndex.map { case ((g, id, s), i) =>
          id -> ((g, s, if (n > 1) i.toLong * 1000000L / (n - 1) else 0L))
        }
      }
      val got = Corpus.groupPercentile(
          rows.toDF("source", "doc_id", "len"),
          "source", "doc_id", col("len"), bandWidth = 64L)
        .select("doc_id", "source", "score", "pct_ppm")
        .as[(Long, String, Long, Long)].collect()
      assert(got.length == ref.size, s"seed $seed")
      got.foreach { case (id, g, s, p) =>
        assert(ref(id) == ((g, s, p)), s"seed $seed doc $id")
      }
      assert(got.find(_._1 == 9999L).get._4 == 0L)
    }
  }

  test("bandedRank == a global row_number over (band, order, id) on a skewed frame") {
    import org.apache.spark.sql.expressions.Window
    // one band holds most rows, many bands hold one; the order column
    // ties inside the big band, so the id decides
    val rows = (1L to 60L).map(i => (i, 0L, i % 4)) ++
      (61L to 80L).map(i => (i, i, 0L))
    val df = rows.toDF("id", "__band", "score")
    val (ranked, r) = Corpus.bandedRank(df, col("score"), col("id"))
    val got = ranked.select(col("id"), r.as("rank"), col("__n"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val want = df.withColumn("rank", row_number().over(
        Window.orderBy(col("__band"), col("score"), col("id"))))
      .select(col("id"), col("rank").cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got.map(g => (g._1, g._2)).toSeq == want.toSeq)
    assert(got.forall(_._3 == rows.size.toLong))
  }
}
