package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Corpus, Dedup, Similarity, TextOps}

/** Semantic properties for the late round-7 operator tranches
  * (q309–q342). Each operator already earns a green CORRECTNESS row
  * against its DuckDB oracle; these cases pin the CLAIMS the oracles
  * can't express — discount/invariance/equivalence properties, recall
  * curves, and the plan shapes the scale contracts rest on.
  */
class SignalsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("weightedJaccard discounts boilerplate agreement, keeps identity at 1.0") {
    val boiler = ((1 to 30).map(i => s"b$i")).mkString(" ")
    // Docs 1/2 share ONLY the 30-word boilerplate; their tails are
    // disjoint. Docs 3..8 repeat the boilerplate so its grams carry
    // high df (ln(N/df) ~ 0). Docs 9/10 are exact copies of each other
    // with text seen nowhere else (df=2 of N=10 → weight > 0).
    val rare = (1 to 20).map(i => s"r$i").mkString(" ")
    val rows = Seq(
      (1L, s"$boiler ta1 ta2 ta3 ta4 ta5"),
      (2L, s"$boiler tb1 tb2 tb3 tb4 tb5")) ++
      (3L to 18L).map(i => (i, s"$boiler t${i}x t${i}y")) ++
      Seq((19L, rare), (20L, rare))
    val df = rows.toDF("doc_id", "text")
    val plain = Dedup.ngramJaccard(df, "text", "doc_id", 3, 16, 4, 0.0)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val weighted = Dedup.weightedJaccard(df, "text", "doc_id", 3, 16, 4, -1.0)
      .select("doc_a", "doc_b", "weighted_jaccard")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // boilerplate-only pair: plain Jaccard calls it a near-dup, the
    // IDF weighting demotes it hard
    assert(plain((1L, 2L)) > 0.6, s"plain=${plain((1L, 2L))}")
    assert(weighted((1L, 2L)) < plain((1L, 2L)) / 3,
      s"weighted=${weighted((1L, 2L))} plain=${plain((1L, 2L))}")
    // exact copies of rare content: both metrics say 1.0, and the
    // integer micro-nat ratio is EXACTLY 1.0, not 0.999…
    assert(plain((19L, 20L)) == 1.0 && weighted((19L, 20L)) == 1.0,
      s"rare pair plain=${plain((19L, 20L))} weighted=${weighted((19L, 20L))}")
  }

  test("weightedJaccard plan: candidates-then-verify, no quadratic join") {
    val df = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val p = plan(Dedup.weightedJaccard(df, "text", "doc_id"))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the only broadcast-nested-loop is the 1-row corpus-count N
    // attached to the gram-DF table (model-sized, not data-sized)
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1, p.take(2000))
  }

  test("tokenEntropy: 0 for a one-word doc, ln(n) for uniform, partitioning-invariant") {
    val uniform = (1 to 8).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, "same same same same same"),
      (2L, uniform),
      (3L, "aa aa aa aa bb bb cc dd " + uniform)).toDF("doc_id", "text")
    def collectH(d: org.apache.spark.sql.DataFrame) =
      TextOps.tokenEntropy(d, "text", "doc_id")
        .select("doc_id", "entropy_nats").as[(Long, Double)].collect().toMap
    val h = collectH(df)
    assert(h(1L) == 0.0)
    assert(math.abs(h(2L) - math.log(8)) < 1e-5, s"h2=${h(2L)}")
    assert(h(3L) > 0.0 && h(3L) < math.log(16))
    // micro-nat quantization before the sum → identical at any layout
    assert(collectH(df.repartition(7)) == h)
  }

  test("stitchPairs finds tail==head continuations exactly, no self-pairs") {
    val p8 = (1 to 8).map(i => s"p$i").mkString(" ")
    val df = Seq(
      (1L, s"front matter of the page body $p8"), // tail = p8
      (2L, s"$p8 rest of the continuation text here"), // head = p8
      (3L, "completely unrelated page with its own eight word run"),
      (4L, p8) // head == own tail: must NOT self-pair
    ).toDF("doc_id", "text")
    val got = TextOps.stitchPairs(df, "text", "doc_id", 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.forall(p => p._1 != p._2), got.toString)
    // doc 4 IS the phrase, so it stitches both ways with 1 and 2 —
    // but its own head==tail match is excluded
    assert(got == Set((1L, 2L), (1L, 4L), (4L, 2L)), got.toString)
  }

  test("sourceTemplates reports the modal opening phrase and breaks ties high") {
    val df = Seq(
      (1L, "alpha header one two three four five six tail a", "s1"),
      (2L, "alpha header one two three four five six tail b", "s1"),
      (3L, "different opening words entirely here for this doc", "s1"),
      (4L, "aaa one two three four five six seven x", "s2"),
      (5L, "zzz one two three four five six seven y", "s2")
    ).toDF("doc_id", "text", "source")
    val got = TextOps.sourceTemplates(df, "text", "source", 8)
      .select("source", "template_phrase", "n_template", "template_share")
      .as[(String, String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("s1") ==
      (("alpha header one two three four five six", 2L, 0.666667)))
    // 1–1 tie in s2 → lexicographically greatest phrase wins (the
    // max(struct) contract shared with the q241 top-gram rule)
    assert(got("s2")._1.startsWith("zzz") && got("s2")._2 == 1L)
  }

  test("decontaminateSpans excises exactly the eval-covered positions") {
    val leak = (1 to 8).map(i => s"e$i").mkString(" ")
    val corpus = Seq(
      (1L, s"u1 u2 $leak u3 u4"),
      (2L, "totally clean document with no overlap at all in it"),
      (3L, leak)).toDF("doc_id", "text")
    val eval = Seq((100L, s"$leak other eval words")).toDF("doc_id", "text")
    val got = Corpus.decontaminateSpans(corpus, eval, "text", "doc_id", 8)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, "u1 u2 u3 u4", 8L)), got(0).toString)
    assert(got(1)._3 == 0L &&
      got(1)._2 == "totally clean document with no overlap at all in it")
    // the fully-contaminated doc survives as an empty row, not a drop
    assert(got(2) == ((3L, "", 8L)))
    // the invariant the op exists for: NO eval n-gram survives anywhere
    val cleaned = got.map(r => (r._1, r._2)).toSeq.toDF("doc_id", "text")
    assert(Corpus.contamination(cleaned.where(col("text") =!= ""), eval,
        "text", "doc_id", 8)
      .agg(sum("n_contaminated")).as[Long].head() == 0L)
  }

  test("sourceDrift: exactly 0 for an unchanged source, positive under drift") {
    val oldDf = Seq(
      (1L, "stable words one two three four five", "keep"),
      (2L, "stable words one two three four five", "keep"),
      (3L, "old vocabulary alpha beta gamma delta", "moved")).toDF("doc_id", "text", "source")
    val newDf = Seq(
      (4L, "stable words one two three four five", "keep"),
      (5L, "stable words one two three four five", "keep"),
      (6L, "new vocabulary zeta eta theta iota kappa", "moved")).toDF("doc_id", "text", "source")
    val got = Corpus.sourceDrift(oldDf, newDf, "text", "source", 64)
      .select("source", "kl_nats").as[(String, Double)].collect().toMap
    assert(got("keep") == 0.0, got.toString)
    // Laplace smoothing over 64 buckets dampens tiny-fixture KL; the
    // point is a clear nonzero gap, not the magnitude
    assert(got("moved") > 0.05, got.toString)
  }

  test("retrievalQuality is exactly 1.0 on separated clusters") {
    val rows = (0 until 6).map(i =>
      (i.toLong, Array(1.0f, 0.001f * i, 0f), 0)) ++
      (6 until 12).map(i => (i.toLong, Array(0.001f * i, 1.0f, 0f), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.retrievalQuality(emb,
        emb.where(col("vec_id").isin(0L, 7L)), "vec_id", "embedding",
        "label", Seq(1, 3, 5))
      .select("k", "n_retrieved", "n_relevant", "precision_at_k")
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1, 3, 5))
    got.foreach { case (k, nr, rel, p) =>
      assert(nr == 2L * k && rel == nr && p == 1.0, got.mkString(","))
    }
  }

  test("incrementalComponents == full recompute, including cross-component merges") {
    val oldEdges = Seq((1L, 2L), (2L, 20L), (3L, 4L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val assign = Dedup.connectedComponents(oldEdges, "doc_a", "doc_b")
    // delta MERGES {1,2,20} with {3,4}, extends {7,8}, adds a new pair
    val delta = Seq((20L, 3L), (8L, 9L), (11L, 12L)).toDF("doc_a", "doc_b")
    val inc = Dedup.incrementalComponents(assign, delta, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val full = Dedup.connectedComponents(
        oldEdges.unionByName(delta), "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(inc == full, s"inc=$inc full=$full")
    assert(inc.contains((4L, 1L)) && inc.contains((9L, 7L)) &&
      inc.contains((12L, 11L)), inc.toString)
  }

  test("contaminationMatrix is dense: proved-clean zeros per (doc, suite)") {
    val leakA = (1 to 8).map(i => s"a$i").mkString(" ")
    val leakB = (1 to 8).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      (1L, s"prefix words $leakA suffix words"),
      (2L, "spotless document nothing shared with any benchmark suite at all"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, leakA, "suiteA"), (101L, leakB, "suiteB"))
      .toDF("doc_id", "text", "suite")
    val got = Corpus.contaminationMatrix(corpus, eval, "text", "doc_id", "suite", 8)
      .select("doc_id", "suite", "n_contaminated")
      .as[(Long, String, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2)) ==
      Set((1L, "suiteA"), (1L, "suiteB"), (2L, "suiteA"), (2L, "suiteB")))
    assert(got.contains((1L, "suiteA", 1L)) && got.contains((1L, "suiteB", 0L)))
    assert(got.filter(_._1 == 2L).forall(_._3 == 0L))
  }

  test("normalizeCol: NFC composes accents, controls strip, runs collapse; ASCII is a no-op") {
    val df = Seq(
      (1L, "cafe\u0301 du\tmonde  et   plus"),
      (2L, "plain ascii text untouched")).toDF("doc_id", "text")
    val got = TextOps.normalizeText(df, "text", "doc_id")
      .select("doc_id", "norm_text", "changed")
      .as[(Long, String, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, "caf\u00e9 du monde et plus", true)), got(0))
    assert(got(1) == ((2L, "plain ascii text untouched", false)))
    // normalized forms of composed and decomposed inputs are IDENTICAL --
    // the property exact dedup over norm_text (q321) rests on
    val pair = Seq((1L, "nai\u0308ve caf\u00e9"),
      (2L, "na\u00efve cafe\u0301")).toDF("doc_id", "text")
    val norms = TextOps.normalizeText(pair, "text", "doc_id")
      .select("norm_text").as[String].collect()
    assert(norms(0) == norms(1), norms.mkString(" vs "))
  }

  test("pcaFit recovers an orthonormal top-k basis with Cv = λv") {
    // anisotropic deterministic cloud: variance concentrated on axes
    // 0 and 1 (hash-based pseudo-noise on the rest)
    val dim = 8
    def u(i: Long, d: Int): Double = // deterministic uniform in [-1, 1)
      (((i * 2654435761L + d * 40503L) & 0xffff).toDouble / 32768.0) - 1.0
    val rows = (0L until 400L).map { i =>
      val v = Array.tabulate(dim)(d => 0.05 * u(i, d))
      v(0) += 3.0 * u(i, 100); v(1) += 1.5 * u(i, 200)
      (i, v.map(_.toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val comps = Similarity.pcaFit(df, "embedding", dim, 3)
    assert(comps.length == 3)
    def dotv(a: Array[Double], b: Array[Double]) =
      a.zip(b).map(p => p._1 * p._2).sum
    for (a <- comps; b <- comps if !(a eq b))
      assert(math.abs(dotv(a, b)) < 1e-6, "components not orthogonal")
    comps.foreach(c => assert(math.abs(dotv(c, c) - 1.0) < 1e-6))
    // the top-2 components point (almost) along axes 0 and 1
    assert(math.abs(comps(0)(0)) > 0.99, comps(0).mkString(","))
    assert(math.abs(comps(1)(1)) > 0.99, comps(1).mkString(","))
    // eigen property against the same covariance the gate row checks
    val cov = Array.ofDim[Double](dim, dim)
    Similarity.covarianceUT(df, "embedding", dim)
      .select("i", "j", "cov").as[(Long, Long, Double)].collect()
      .foreach { case (i, j, c) =>
        cov(i.toInt)(j.toInt) = c; cov(j.toInt)(i.toInt) = c }
    val eig = Similarity.jacobiEigen(cov, 3)
    assert(eig.map(_._1) == eig.map(_._1).sorted.reverse, "λ not descending")
    eig.foreach { case (lambda, v) =>
      val cv = Array.tabulate(dim)(r => dotv(cov(r), v))
      val resid = math.sqrt(cv.zip(v).map { case (x, y) =>
        val d = x - lambda * y; d * d }.sum)
      assert(resid < 1e-6 * math.max(1.0, math.abs(lambda)), s"‖Cv−λv‖=$resid")
    }
    // projection is map-only: zero exchanges at any corpus size
    val proj = Similarity.pcaProject(df, "vec_id", "embedding", comps)
    assert(!plan(proj).contains("Exchange"), plan(proj).take(1000))
    // projected coordinate 0 ≈ the dominant raw axis (sign-canonical)
    val row0 = proj.where(col("vec_id") === 0L)
      .select(element_at(col("projected"), 1)).as[Double].head()
    val raw0 = rows(0)._2.head
    assert(math.abs(math.abs(row0) - math.abs(raw0)) < 0.2,
      s"proj=$row0 raw=$raw0")
  }

  test("scriptProfile counts code points per script class exactly") {
    val df = Seq(
      (1L, "abc 123 \u043f\u0440\u0438\u0432\u0435\u0442 \u4f60\u597d"),
      (2L, "")).toDF("doc_id", "text")
    val got = TextOps.scriptProfile(df, "text", "doc_id")
      .select("doc_id", "n_chars", "n_latin", "n_cyrillic", "n_han", "n_digit")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 17L, 3L, 6L, 2L, 3L)), got(0).toString)
    assert(got(1) == ((2L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("syndication reports only cross-source exact-copy groups") {
    val df = Seq(
      (1L, "same wire story text", "reuters"),
      (2L, "same wire story text", "ap"),
      (3L, "same wire story text", "reuters"),
      (4L, "single source duplicate", "blogA"),
      (5L, "single source duplicate", "blogA"),
      (6L, "unique content here", "blogB")).toDF("doc_id", "text", "source")
    val got = graft.ops.Corpus.syndication(df, "text", "doc_id", "source")
      .select("n_copies", "n_sources", "keeper_id", "sources")
      .as[(Long, Long, Long, String)].collect()
    // only the wire story spans sources; the single-source dup and the
    // unique doc are both excluded
    assert(got.toSeq == Seq((3L, 2L, 1L, "ap,reuters")), got.mkString(","))
  }

  test("keepBestQuality keeps the highest-score copy per cluster, min-id on ties") {
    val txt = "shared near duplicate content with plenty of overlapping words here"
    val df = Seq(
      (1L, txt, 10L), (2L, txt, 30L), (3L, txt, 30L), // cluster: 2 wins (tie→min id)
      (9L, "completely different singleton document about other things entirely", 5L))
      .toDF("doc_id", "text", "score")
    val got = Dedup.keepBestQuality(df, "text", "doc_id", "score")
      .select("doc_id", "keeper_id", "keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L, false), (2L, 2L, true),
      (3L, 2L, false), (9L, 9L, true)), got.mkString(","))
  }

  test("dedup-diversity (q347 composition): exact dedup raises a dup-heavy source's distinct-ngram ratio") {
    val txt = "the quick brown fox jumps over the lazy dog again"
    val df = Seq((1L, txt, "dup"), (2L, txt, "dup"), (3L, txt, "dup"),
      (4L, "one of a kind phrase never repeated anywhere else", "dup"),
      (5L, "clean source with only original text in it", "clean"))
      .toDF("doc_id", "text", "source")
    val keepers = Dedup.exact(df, "text", "doc_id")
      .select(col("keeper_id").as("doc_id"))
    val surv = df.join(keepers, "doc_id")
    def ratio(d: org.apache.spark.sql.DataFrame, src: String) =
      TextOps.distinctNgramRatio(d, "text", "source")
        .where(col("source") === src && col("n") === 1)
        .select("distinct_ratio").as[Double].head()
    assert(ratio(surv, "dup") > ratio(df, "dup"))
    assert(ratio(surv, "clean") == ratio(df, "clean")) // untouched slice
    assert(surv.count() == 3L) // 3 distinct texts survive
  }

  test("keepBestQuality compares fractional scores without truncation") {
    // all scores in (0,1): a long-cast would zero every score and
    // degrade the keeper to min-id (the r7 ADVICE bug)
    val txt = "shared near duplicate content with plenty of overlapping words here"
    val df = Seq((1L, txt, 0.2), (2L, txt, 0.9), (3L, txt, 0.5))
      .toDF("doc_id", "text", "score")
    val got = Dedup.keepBestQuality(df, "text", "doc_id", "score")
      .select("doc_id", "keeper_id", "keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L, false), (2L, 2L, true), (3L, 2L, false)),
      got.mkString(","))
  }

  test("sq8TopK ranks like exact L2 on well-separated vectors and never shuffles the corpus") {
    // clusters far apart relative to quantization error
    val rows = (0 until 20).map { i =>
      val center = if (i < 10) 0.0 else 10.0
      (i.toLong, Array.tabulate(8)(d => (center + 0.01 * ((i * 7 + d) % 5)).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.sq8TopK(df, df.where(col("vec_id") === 0L),
        "vec_id", "embedding", 5)
      .select("neighbor_id").as[Long].collect().toSet
    // all 5 neighbors of a cluster-0 query come from cluster 0
    assert(got.forall(_ < 10L), got.toString)
    val p = plan(Similarity.sq8TopK(df, df.where(col("vec_id") === 0L),
      "vec_id", "embedding", 5))
    // corpus side: codes are map-only; the only exchange is the
    // per-query rank window (partitioned by query_id)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("paddingWaste: length-grouped batching never pads more than naive") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val got = Corpus.paddingWaste(docs, "doc_id", "text")
      .select("strategy", "total_tokens", "pad_tokens")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // token mass identical (same docs), pad mass strictly helped by
    // grouping on this naturally length-varied corpus
    assert(got("naive")._1 == got("length_grouped")._1)
    assert(got("length_grouped")._2 < got("naive")._2, got.toString)
  }

  test("doremiReweight: shares normalize to 1 and excess-loss slices gain weight") {
    val target = Seq((100L, "clean fluent text about spark and data pipelines", "t"))
      .toDF("doc_id", "text", "source")
    // src 'fluent' repeats target-like bigrams; 'noisy' is out-of-domain
    val raw = (
      (1L to 6L).map(i => (i, "clean fluent text about spark and data pipelines", "fluent")) ++
      (7L to 12L).map(i => (i, s"zzz$i qqq$i vvv$i kkk$i jjj$i www$i yyy$i xxx$i", "noisy")))
      .toDF("doc_id", "text", "source")
    val got = Corpus.doremiReweight(raw, target, "text", "doc_id", "source")
      .select("source", "share", "excess_nats", "new_share")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-5, got.toString)
    // the out-of-domain slice carries the excess loss and gains share
    assert(got("noisy")._2 > 0.0 && got("fluent")._2 == 0.0, got.toString)
    assert(got("noisy")._3 > got("noisy")._1, got.toString)
    assert(got("fluent")._3 < got("fluent")._1, got.toString)
  }

  test("containment reports direction: embedded doc scores 1.0 and is flagged") {
    val core = (1 to 20).map(i => s"c$i").mkString(" ")
    val df = Seq(
      (1L, core), // fully contained in 2
      (2L, s"$core x1 x2 x3"),
      (3L, "unrelated words in a separate document about nothing shared here"))
      .toDF("doc_id", "text")
    val got = Dedup.containment(df, "text", "doc_id", 3, 16, 4, 0.5)
      .select("doc_a", "doc_b", "containment_a", "contained_doc")
      .as[(Long, Long, Double, Long)].collect()
    assert(got.length == 1, got.mkString(","))
    val (a, b, ca, contained) = got.head
    assert((a, b) == ((1L, 2L)) && ca == 1.0 && contained == 1L,
      got.head.toString)
  }

  test("bm25TopK: rare-term doc outranks common-term doc; idf orders terms") {
    val corpus = Seq(
      (1L, "zebra quantum flux appears in this rare specialist article today"),
      (2L, "zebra mentioned once in a long rambling piece " +
        (1 to 30).map(i => s"filler$i").mkString(" ")),
      (3L, "entirely unrelated text about cooking pasta and sauces tonight"),
      (4L, "the word today appears here too with other common words"))
      .toDF("doc_id", "text")
    val q = Seq((100L, "zebra quantum flux")).toDF("doc_id", "qtext")
    val got = TextOps.bm25TopK(corpus, q, "doc_id", "text", "qtext", 10)
      .select("doc_id", "rank", "n_terms", "bm25")
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    // doc 1 matches all 3 terms and wins; doc 2 matches only 'zebra'
    // and is length-penalized; docs 3/4 match nothing
    assert(got.map(d => (d._1, d._2)).toSeq == Seq((1L, 1), (2L, 2)),
      got.mkString(","))
    assert(got(0)._3 == 3L && got(1)._3 == 1L)
    assert(got(0)._4 > got(1)._4 && got(1)._4 > 0.0)
  }

  test("rrfFuse sums reciprocal ranks exactly and counts contributing lists") {
    def mk(rows: Seq[(Long, Long, Int)]) =
      rows.toDF("query_id", "neighbor_id", "rank")
    val a = mk(Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)))
    val b = mk(Seq((1L, 11L, 1), (1L, 13L, 2)))
    val got = Similarity.rrfFuse(Seq(a, b), 10)
      .select("neighbor_id", "rank", "n_lists", "rrf_q")
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    def c(r: Int) = math.floor(1e9 / (60 + r) + 0.5).toLong
    // 11 appears in both lists (rank 2 + rank 1) and wins the fusion
    assert(got.map(_._1).toSeq == Seq(11L, 10L, 13L, 12L), got.mkString(","))
    assert(got(0) == ((11L, 1, 2L, c(2) + c(1))), got(0).toString)
    assert(got(1) == ((10L, 2, 1L, c(1))))
  }

  test("phraseSearch: positional AND finds exact phrases, counts occurrences, handles repeats") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta alpha beta gamma"),
      (2L, "gamma beta alpha delta"), // words present, order wrong
      (3L, "xx alpha beta gamma yy"),
      (4L, "go go go stop")).toDF("doc_id", "text")
    val qs = Seq((100L, "alpha beta gamma"), (101L, "go go"))
      .toDF("doc_id", "phrase")
    val got = TextOps.phraseSearch(corpus, qs, "doc_id", "text", "phrase")
      .select("query_id", "doc_id", "n_matches", "first_pos")
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1 contains the phrase twice (pos 0 and 4); doc 2 has the
    // words but not the order; repeated-word phrase 'go go' matches
    // twice in doc 4 (overlapping starts 0 and 1)
    assert(got == Set((100L, 1L, 2L, 0L), (100L, 3L, 1L, 1L),
      (101L, 4L, 2L, 0L)), got.toString)
  }

  test("bqTopK recall vs exact cosine on the embeddings fixture") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.where(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(emb, qs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recalls = Seq(50, 100, 200).map { sl =>
      val bq = Similarity.bqTopK(emb, qs, "vec_id", "embedding", 5, 64, sl)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      sl -> (exact & bq).size.toDouble / exact.size
    }.toMap
    info(s"bq recall@5 by shortlist: $recalls")
    // the shortlist IS the recall knob (the q297 matryoshka contract):
    // wider shortlist → recall rises toward exact
    assert(recalls(200) >= recalls(50), recalls.toString)
    assert(recalls(50) >= 0.6 && recalls(200) >= 0.9, recalls.toString)
  }

  test("dedupExplain ledgers exact and near drops with keeper and evidence") {
    val base = (1 to 25).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base), (2L, base), // exact pair: 2 drops to 1
      (3L, base + " extra trailing words here"), // near-dup of 1
      (9L, "totally different content in this standalone document right here"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupExplain(df, "text", "doc_id", 3, 16, 4, 0.5)
      .select("doc_id", "reason", "keeper_id", "evidence")
      .as[(Long, String, Long, Double)].collect().sortBy(_._1)
    assert(got.length == 2, got.mkString(","))
    assert(got(0) == ((2L, "exact", 1L, 1.0)), got(0).toString)
    assert(got(1)._1 == 3L && got(1)._2 == "near" && got(1)._3 == 1L &&
      got(1)._4 > 0.5 && got(1)._4 < 1.0, got(1).toString)
  }

  test("dedupThresholdSweep is monotonically non-increasing in the threshold") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val got = Dedup.dedupThresholdSweep(docs, "text", "doc_id")
      .orderBy("threshold")
      .select("threshold", "n_pairs", "n_docs")
      .as[(Double, Long, Long)].collect()
    assert(got.length == 8)
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2 && a._3 >= b._3, got.mkString(",")) }
    assert(got.head._2 > 0, "fixture has near-dups; sweep found none")
  }

  test("bm25Snippets picks the densest window, earliest on ties") {
    // 'zebra' appears alone at pos 1, then 'zebra quantum' together
    // at pos 8-9 — the window must anchor on the dense region
    val corpus = Seq(
      (1L, "aa zebra bb cc dd ee ff gg zebra quantum hh ii jj kk"),
      (2L, "nothing relevant in this other document at all here"))
      .toDF("doc_id", "text")
    val q = Seq((100L, "zebra quantum")).toDF("doc_id", "qtext")
    val got = TextOps.bm25Snippets(corpus, q, "doc_id", "text", "qtext", 3, 4)
      .select("doc_id", "hits_in_window", "best_start", "snippet")
      .as[(Long, Long, Long, String)].collect()
    assert(got.length == 1, got.mkString(","))
    // best 4-word window starts at pos 8 ('zebra quantum hh ii'): 2 hits
    assert(got.head == ((1L, 2L, 8L, "zebra quantum hh ii")),
      got.head.toString)
  }

  test("plan pins: bm25/phrase are keyed probes, signal card scans twice") {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001", "documents")
    val qs = docs.where(col("doc_id") < 5)
      .select(col("doc_id"), concat_ws(" ",
        slice(split(col("text"), " "), 1, 5)).as("qtext"))
    // BM25: the inverted probe joins by WORD; the only nested-loop is
    // the broadcast 1-row corpus-stats frame
    val pB = plan(TextOps.bm25TopK(docs, qs, "doc_id", "text", "qtext", 10))
    assert(!pB.contains("CartesianProduct"), pB.take(2000))
    assert(pB.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1, pB.take(2000))
    // phrase search: word-keyed postings join only — no quadratic join
    val qp = docs.where(col("doc_id") < 5)
      .select(col("doc_id"), concat_ws(" ",
        slice(split(col("text"), " "), 4, 3)).as("phrase"))
    val pP = plan(TextOps.phraseSearch(docs, qp, "doc_id", "text", "phrase"))
    for (j <- Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!pP.contains(j), pP.take(2000))
    // signal card: map-only signals chain into ONE scan lineage +
    // entropy's scan — exactly two parquet scans, not one per signal
    val card = graft.SparkEntry.queries("q329_signal_card")(
      spark, "/root/testdata/sf0.001")
    val scans = plan(card).sliding("FileScan parquet".length)
      .count(_ == "FileScan parquet")
    assert(scans == 2, s"expected 2 parquet scans, saw $scans")
  }

  test("sq8 indexed path equals inline and scans only the code table") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.where(col("vec_id") < 10)
    val idx = s"/tmp/graft_sq8_spec_${System.nanoTime()}"
    try {
      Similarity.writeSq8Index(emb, "vec_id", "embedding", idx)
      val inline = Similarity.sq8TopK(emb, qs, "vec_id", "embedding", 5)
        .collect().map(_.toSeq).toSet
      val viaIdx = Similarity.sq8TopKIndexed(spark, idx, qs,
        "vec_id", "embedding", 5)
      assert(viaIdx.collect().map(_.toSeq).toSet == inline)
      // the corpus side of the scan is the CODE table: the embeddings
      // parquet appears only under the broadcast query subtree
      val leaves = viaIdx.queryExecution.executedPlan.collectLeaves()
        .mkString("\n")
      assert(leaves.contains(idx), leaves.take(1500))
    } finally graft.queries.Fixture.deleteDir(idx)
  }

  test("quotaCosineTopK enforces per-label quotas; filtered ANN pushes the predicate to the scan") {
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.where(col("vec_id") < 10)
    val got = Similarity.quotaCosineTopK(emb, qs, "vec_id", "embedding",
        "label", 5, 2)
      .select("query_id", "label").as[(Long, Int)].collect()
      .groupBy(identity).map(_._2.size)
    assert(got.nonEmpty && got.forall(_ <= 2), got.toString)
    // filtered ANN: the metadata predicate reaches the parquet scan
    val filtered = Similarity.cosineTopK(
      emb.where(col("label") === 1), qs, "vec_id", "embedding", 5)
    val leaves = filtered.queryExecution.executedPlan
      .collectLeaves().mkString("\n")
    assert(leaves.contains("PushedFilters") &&
      leaves.matches("(?s).*PushedFilters: \\[[^\\]]*label[^\\]]*\\].*"),
      leaves.take(1500))
  }

  test("rankAgreement: identical lists score tau 1.0, reversed score -1.0") {
    def mk(rs: Seq[Int]) = rs.zipWithIndex.map { case (r, i) =>
      (1L, 10L + i, r) }.toDF("query_id", "neighbor_id", "rank")
    val a = mk(Seq(1, 2, 3, 4, 5))
    val same = Similarity.rankAgreement(a, mk(Seq(1, 2, 3, 4, 5)), 10)
      .select("n_shared", "n_pairs", "kendall_tau")
      .as[(Long, Long, Double)].head()
    assert(same == ((5L, 10L, 1.0)), same.toString)
    val rev = Similarity.rankAgreement(a, mk(Seq(5, 4, 3, 2, 1)), 10)
      .select("kendall_tau").as[Double].head()
    assert(rev == -1.0, rev.toString)
  }

  test("rankAgreement: fully disjoint lists still emit a row (n_shared=0, null tau)") {
    // the worst disagreement case must be visible, not absent (r7 ADVICE)
    val a = Seq((1L, 10L, 1), (1L, 11L, 2))
      .toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 20L, 1), (1L, 21L, 2), (2L, 30L, 1))
      .toDF("query_id", "neighbor_id", "rank")
    val got = Similarity.rankAgreement(a, b, 10)
      .select("query_id", "n_shared", "n_pairs", "n_concordant")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 0L, 0L, 0L), (2L, 0L, 0L, 0L)),
      got.mkString(","))
    val taus = Similarity.rankAgreement(a, b, 10)
      .select("kendall_tau").collect().map(_.isNullAt(0)).toSeq
    assert(taus == Seq(true, true), taus.toString)
  }

  test("embeddingOutliers flags the planted garbage vector") {
    val rows = (0 until 39).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (1.0 + 0.01 * ((i + d) % 3)).toFloat).toSeq)
    } :+ (99L, Array.tabulate(8)(d =>
      if (d == 7) -1.0f else 0.0f).toSeq) // orthogonal junk
    val df = rows.toDF("vec_id", "embedding")
    val seeds = Seq(Seq.fill(8)(1.0))
    val got = Similarity.embeddingOutliers(df, "vec_id", "embedding", seeds)
      .select("vec_id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(got(99L), "junk vector not flagged")
    assert(got.count(_._2) <= 3, s"too many outliers: ${got.count(_._2)}")
  }

  test("sourceSimilarity: cloned sources score 1.0, disjoint vocabularies near 0") {
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon common words", "a"),
      (2L, "alpha beta gamma delta epsilon common words", "a_clone"),
      (3L, "completely disjoint vocabulary here zz yy xx ww", "c"))
      .toDF("doc_id", "text", "source")
    val got = Corpus.sourceSimilarity(rows, "text", "source")
      .select("src_a", "src_b", "profile_cosine")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("a", "a_clone")) == 1.0, got.toString)
    assert(got.getOrElse(("a", "c"), 0.0) < 0.3, got.toString)
  }

  test("contaminationAttribution picks the worst suite, smallest on ties") {
    val leakA = (1 to 8).map(i => s"a$i").mkString(" ")
    val leakB = (1 to 8).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$leakA x1 $leakB x2 $leakB x3"), // B overlap 2 grams? build by words
      (2L, s"$leakA z1 z2 $leakB")) // equal single-gram hit per suite → tie → suiteA
      .toDF("doc_id", "text")
    val eval = Seq((100L, leakA, "suiteA"), (101L, leakB, "suiteB"))
      .toDF("doc_id", "text", "suite")
    val got = Corpus.contaminationAttribution(corpus, eval,
        "text", "doc_id", "suite")
      .select("doc_id", "top_suite", "n_suites_hit")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got.map(g => (g._1, g._3)) == Seq((1L, 2L), (2L, 2L)), got.toString)
    // doc 2 hits both suites equally (1 distinct 8-gram each) → suiteA
    assert(got(1)._2 == "suiteA", got.toString)
  }

  test("retrievalMetrics: perfect clusters score MRR=nDCG=1, singletons 0") {
    val rows = (0 until 6).map(i =>
      (i.toLong, Array(1.0f, 0.001f * i, 0f).toSeq, 0)) ++
      (6 until 12).map(i => (i.toLong, Array(0.001f * i, 1.0f, 0f).toSeq, 1)) :+
      ((99L, Array(0f, 0f, 1.0f).toSeq, 7)) // singleton label: nothing relevant
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.retrievalMetrics(emb,
        emb.where(col("vec_id").isin(0L, 7L, 99L)), "vec_id", "embedding",
        "label", 5)
      .select("query_id", "reciprocal_rank", "ndcg")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got(0) == ((0L, 1.0, 1.0)), got(0).toString)
    assert(got(1) == ((7L, 1.0, 1.0)), got(1).toString)
    assert(got(2) == ((99L, 0.0, 0.0)), got(2).toString)
  }

  test("streamingStitchPairs matches across micro-batches (symmetric state)") {
    val p8 = (1 to 8).map(i => s"q$i").mkString(" ")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)](spark)
    val out = s"stitch_${System.nanoTime()}"
    val q = graft.streaming.Streaming.streamingStitchPairs(
        in.toDF.toDF("doc_id", "text"), "text", "doc_id", 8)
      .writeStream.outputMode("append").format("memory").queryName(out).start()
    // the TAIL side arrives first; the matching HEAD a batch later —
    // then the reverse orientation in a third batch
    in.addData((1L, s"some page body ending with $p8")); q.processAllAvailable()
    in.addData((2L, s"$p8 continuation of the same page")); q.processAllAvailable()
    in.addData((3L, s"another ending with $p8")); q.processAllAvailable()
    q.stop()
    val got = spark.table(out).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    spark.catalog.dropTempView(out)
    assert(got == Set((1L, 2L), (3L, 2L)), got.toString)
  }
}
