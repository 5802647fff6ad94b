package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Similarity, TextOps}

/** Seeded-random fuzz for the retrieval/normalization tranche: each
  * case generates adversarial inputs from fixed seeds (deterministic
  * across runs) and compares the distributed operator against a naive
  * in-memory reference — the property the DuckDB gate can't express
  * (the oracle mirrors the algorithm; the reference here is a DIFFERENT
  * implementation of the spec).
  */
class RetrievalPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("phraseSearch == naive sliding-window scan on random corpora") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee")
      val docs = (1L to 25L).map(i =>
        (i, Vector.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))))
      val phrases = (1 to 3).map { j =>
        (100L + j, Vector.fill(2 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.size))))
      }
      val expected = (for {
        (qid, ph) <- phrases
        (did, ws) <- docs
        starts = ws.indices.filter(s =>
          s + ph.length <= ws.length && ws.slice(s, s + ph.length) == ph)
        if starts.nonEmpty
      } yield (qid, did) -> ((starts.length.toLong, starts.head.toLong))).toMap
      val got = TextOps.phraseSearch(
          docs.map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("doc_id", "text"),
          phrases.map { case (i, ph) => (i, ph.mkString(" ")) }.toDF("doc_id", "phrase"),
          "doc_id", "text", "phrase")
        .select("query_id", "doc_id", "n_matches", "first_pos")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      assert(got == expected, s"seed=$seed diff=${
        (got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
    }
  }

  test("bm25TopK == in-memory reference implementation on random corpora") {
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val vocab = (1 to 30).map(i => s"w$i")
      val docs = (1L to 20L).map(i =>
        (i, Vector.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))))
      val queries = (1 to 2).map(j =>
        (200L + j, Vector.fill(3)(vocab(rnd.nextInt(vocab.size))).distinct))
      // reference: same formula, same quantization, different code path
      val k1 = 1.2; val b = 0.75
      val tf = docs.flatMap { case (d, ws) =>
        ws.groupBy(identity).map { case (w, g) => (d, w, g.size.toLong) } }
      val dfm = tf.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
      val lens = docs.map { case (d, ws) => d -> ws.length.toLong }.toMap
      val nd = docs.size.toLong; val tl = lens.values.sum
      val expected = queries.flatMap { case (qid, terms) =>
        val scores = docs.flatMap { case (d, _) =>
          val tqs = terms.flatMap { w =>
            tf.find(t => t._1 == d && t._2 == w).map { case (_, _, f) =>
              val idf = math.log(1.0 + (nd - dfm(w) + 0.5) / (dfm(w) + 0.5))
              val nrm = k1 * ((1.0 - b) + b * lens(d) / (tl.toDouble / nd))
              math.floor(idf * (f * (k1 + 1.0)) / (f + nrm) * 1e9 + 0.5).toLong
            }
          }
          if (tqs.isEmpty) None
          else Some((d, tqs.sum, tqs.length.toLong))
        }
        scores.sortBy { case (d, s, _) => (-s, d) }.take(10).zipWithIndex.map {
          case ((d, s, nt), i) =>
            (qid, d, i + 1, nt, math.rint(s / 1e9 * 1e6) / 1e6)
        }
      }.toSet
      val got = TextOps.bm25TopK(
          docs.map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("doc_id", "text"),
          queries.map { case (i, ts) => (i, ts.mkString(" ")) }.toDF("doc_id", "qtext"),
          "doc_id", "text", "qtext", 10)
        .as[(Long, Long, Int, Long, Double)].collect().toSet
      assert(got == expected, s"seed=$seed\nonly got: ${got diff expected}\n" +
        s"only exp: ${expected diff got}")
    }
  }

  test("incrementalComponents == full recompute on random graphs") {
    for (seed <- Seq(2, 9, 17)) {
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 30).map(_ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(e => e._1 != e._2).distinct
      val (oldE, deltaE) = edges.splitAt(edges.length / 2)
      if (oldE.nonEmpty && deltaE.nonEmpty) {
        val assign = Dedup.connectedComponents(
          oldE.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        val inc = Dedup.incrementalComponents(assign,
            deltaE.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
          .as[(Long, Long)].collect().toSet
        val full = Dedup.connectedComponents(
            edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
          .as[(Long, Long)].collect().toSet
        assert(inc == full, s"seed=$seed inc!=full")
      }
    }
  }

  test("normalizeCol is idempotent and form-invariant on adversarial strings") {
    val rnd = new scala.util.Random(5)
    val pieces = Vector("abc", "déf", "déf", "x\ty", "a  b",
      "ctl", " lead", "trail ", "nĩo", "nño")
    val rows = (1L to 60L).map { i =>
      (i, Vector.fill(1 + rnd.nextInt(6))(pieces(rnd.nextInt(pieces.size)))
        .mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
    val once = df.select(col("doc_id"),
      TextOps.normalizeCol(col("text")).as("n1"))
    val twice = once.select(col("doc_id"),
        TextOps.normalizeCol(col("n1")).as("n2"), col("n1"))
      .where(col("n1") =!= col("n2"))
    assert(twice.count() == 0L, "normalizeCol not idempotent")
    // composed and decomposed spellings of the same word normalize equal
    val pair = Seq((1L, "d\u00e9f x", "de\u0301f x"),
      (2L, "ni\u00f1o  y", "nin\u0303o\ty")).toDF("id", "a", "b")
    val diff = pair.where(TextOps.normalizeCol(col("a")) =!=
      TextOps.normalizeCol(col("b")))
    assert(diff.count() == 0L, "NFC forms diverge")
  }

  test("rrfFuse == in-memory reference on random rank lists") {
    import graft.ops.Similarity
    for (seed <- Seq(4, 21)) {
      val rnd = new scala.util.Random(seed)
      def mkList(qids: Seq[Long]) = qids.flatMap { q =>
        val neighbors = rnd.shuffle((1L to 30L).toList).take(5 + rnd.nextInt(6))
        neighbors.zipWithIndex.map { case (n, i) => (q, n, i + 1) }
      }
      val qids = Seq(1L, 2L, 3L)
      val la = mkList(qids); val lb = mkList(qids); val lc = mkList(qids)
      def c(r: Int) = math.floor(1e9 / (60 + r) + 0.5).toLong
      val expected = (la ++ lb ++ lc)
        .groupBy(t => (t._1, t._2))
        .map { case ((q, n), rows) =>
          (q, n, rows.map(r => c(r._3)).sum, rows.size.toLong) }
        .groupBy(_._1).flatMap { case (_, rows) =>
          rows.toSeq.sortBy(r => (-r._3, r._2)).take(4).zipWithIndex
            .map { case ((q, n, s, nl), i) => (q, n, i + 1, nl, s) }
        }.toSet
      val got = Similarity.rrfFuse(Seq(
          la.toDF("query_id", "neighbor_id", "rank"),
          lb.toDF("query_id", "neighbor_id", "rank"),
          lc.toDF("query_id", "neighbor_id", "rank")), 4)
        .as[(Long, Long, Int, Long, Long)].collect().toSet
      assert(got == expected, s"seed=$seed\ngot-exp=${got diff expected}\n" +
        s"exp-got=${expected diff got}")
    }
  }

  test("packBoundaries == in-memory reference packer on random corpora") {
    import graft.ops.Corpus
    for (seed <- Seq(6, 19)) {
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 40L).map(i =>
        (i, s"g${rnd.nextInt(3)}", 1L + rnd.nextInt(40)))
      val seqLen = 64L
      // reference: lay docs out in (group, id) order, record starts
      val ordered = docs.sortBy(d => (d._2, d._1))
      val starts = ordered.scanLeft(0L)(_ + _._3).init
      val expected = starts.map(s => (s / seqLen, s % seqLen))
        .groupBy(_._1).map { case (seq, bs) =>
          (seq, bs.size.toLong, bs.map(_._2).sorted.mkString(",")) }.toSet
      val got = Corpus.packBoundaries(
          docs.toDF("doc_id", "source", "n_tok"),
          "doc_id", "n_tok", "source", seqLen)
        .as[(Long, Long, String)].collect().toSet
      assert(got == expected, s"seed=$seed\ngot-exp=${got diff expected}")
    }
  }

  test("sq8TopK top-1 equals exact L2 top-1 on separated random clusters") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(23)
    val rows = (0 until 30).map { i =>
      val center = (i % 3) * 8.0
      (i.toLong, Array.tabulate(8)(d =>
        (center + 0.05 * rnd.nextDouble()).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.sq8TopK(df,
        df.where(col("vec_id") < 6), "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    // with clusters 8.0 apart and SQ8 error ~ (hi-lo)/512 ≈ 0.016, the
    // nearest neighbor always comes from the query's own cluster
    got.foreach { case (q, n) =>
      assert(q % 3 == n % 3, s"query $q got cross-cluster neighbor $n") }
  }

  test("containment: constructed subset docs score 1.0 whenever banded") {
    val rnd = new scala.util.Random(13)
    val vocab = (1 to 60).map(i => s"v$i")
    val rows = (0 until 8).flatMap { g =>
      val core = Vector.fill(18 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
      val suffix = Vector.fill(1 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size)))
      Seq((g * 2L, core.mkString(" ")),
        (g * 2L + 1, (core ++ suffix).mkString(" ")))
    }
    val got = Dedup.containment(rows.toDF("doc_id", "text"),
        "text", "doc_id", 3, 16, 4, 0.0)
      .select("doc_a", "doc_b", "containment_a", "contained_doc")
      .as[(Long, Long, Double, Long)].collect()
    val subsetPairs = got.filter(r => r._2 == r._1 + 1 && r._1 % 2 == 0)
    assert(subsetPairs.nonEmpty, "no constructed pair survived banding")
    subsetPairs.foreach { r =>
      assert(r._3 == 1.0 && r._4 == r._1, r.toString)
    }
  }

  test("rankPerQuery: score ties go to the lower neighbor_id, the (lo, hi] band is kept") {
    // every neighbor of query 1 scores 0.5, query 2's scores descend
    // with the id, so rank order is id order for query 1 and the
    // reverse for query 2
    val scored = ((1L to 8L).map(n => (1L, n, 0.5)) ++
      (1L to 8L).map(n => (2L, n, n.toDouble)))
      .toDF("query_id", "neighbor_id", "score")
    val (lo, hi) = (2, 5)
    val got = Similarity.rankPerQuery(scored, col("score").desc,
        r => r > lo && r <= hi)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val want = (lo + 1 to hi).flatMap(r =>
      Seq((1L, r.toLong, r), (2L, 9L - r, r))).toSet
    assert(got == want)
  }
}
