package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Similarity, TextOps, UrlOps}

/** Seeded-random fuzz for the round-8 tranche: distributed operators
  * vs naive in-memory references on adversarial inputs (the property
  * the DuckDB gate can't express — the oracle mirrors the algorithm;
  * the reference here is a DIFFERENT implementation of the spec).
  */
class Round8PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("canonicalUrl: every messy variant of a base URL canonicalizes identically; fixed point") {
    for (seed <- Seq(3, 11, 29)) {
      val rnd = new scala.util.Random(seed)
      val bases = (1 to 15).map { i =>
        val host = s"site${rnd.nextInt(5)}.org"
        val path = s"/a${rnd.nextInt(3)}/b${rnd.nextInt(3)}"
        val params = rnd.shuffle(List("a=1", "b=2", "c=3"))
          .take(rnd.nextInt(3))
        (s"https://$host$path", params.sorted)
      }
      val variants = bases.flatMap { case (base, params) =>
        val canonical = base + (if (params.isEmpty) ""
          else "?" + params.mkString("&"))
        (1 to 4).map { _ =>
          val scheme = if (rnd.nextBoolean()) "HTTPS" else "https"
          val www = if (rnd.nextBoolean()) "www." else ""
          val port = if (rnd.nextBoolean()) ":443" else ""
          val rest = base.stripPrefix("https://")
          val host = rest.takeWhile(_ != '/')
          val path = rest.dropWhile(_ != '/')
          val slash = if (rnd.nextBoolean()) "/" else ""
          val track = rnd.shuffle("utm_source=x" :: "gclid=g" :: params)
          val q = if (track.isEmpty) "" else "?" + track.mkString("&")
          val frag = if (rnd.nextBoolean()) "#f" else ""
          val mixedHost = host.map(c =>
            if (rnd.nextBoolean()) c.toUpper else c)
          (s"$scheme://$www$mixedHost$port$path$slash$q$frag", canonical)
        }
      }
      val got = variants.map(_._1).toDF("u")
        .select(UrlOps.canonicalUrl(col("u"))).as[String].collect().toSeq
      assert(got == variants.map(_._2),
        got.zip(variants).filter(p => p._1 != p._2._2).take(3).toString)
      // fixed point: canonicalizing a canonical URL changes nothing
      val twice = got.distinct.toDF("u")
        .select(UrlOps.canonicalUrl(col("u"))).as[String].collect().toSeq
      assert(twice == got.distinct, "canonicalUrl must be idempotent")
    }
  }

  test("repetitionSignals == naive gram-count reference on random word streams") {
    for (seed <- Seq(5, 17)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("x", "y", "z", "w")
      val docs = (1L to 30L).map(i =>
        (i, Vector.fill(1 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))))
      val expected = docs.map { case (i, ws) =>
        // the operator's gram rule: sequence(0, max(len-n, 0)) over
        // 2-slices — a 1-word doc yields one truncated gram
        val grams = (0 to math.max(ws.length - 2, 0))
          .map(s => ws.slice(s, s + 2).mkString(" "))
        val counts = grams.groupBy(identity).map(_._2.size)
        val total = grams.size.toLong
        i -> ((total, counts.size.toLong,
          math.floor((total - counts.size).toDouble / math.max(total, 1)
            * 1e6 + 0.5) / 1e6,
          math.floor(counts.max.toDouble / math.max(total, 1)
            * 1e6 + 0.5) / 1e6))
      }.toMap
      val got = TextOps.repetitionSignals(
          docs.map { case (i, ws) => (i, ws.mkString(" ")) }
            .toDF("doc_id", "text"), "text", "doc_id", 2)
        .select("doc_id", "total_grams", "distinct_grams", "dup_gram_frac",
          "top_gram_frac")
        .as[(Long, Long, Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(got == expected,
        got.keySet.filter(k => got(k) != expected(k)).take(3)
          .map(k => s"$k: ${got(k)} vs ${expected(k)}").mkString(";"))
    }
  }

  test("segmentDupFraction == naive shared-segment reference on planted corpora") {
    for (seed <- Seq(2, 13)) {
      val rnd = new scala.util.Random(seed)
      val w = 5
      val sharedBlock = Vector.fill(w)(s"s${rnd.nextInt(3)}")
      val docs = (1L to 20L).map { i =>
        val own = Vector.fill(w * (1 + rnd.nextInt(3)))(s"u${i}_${rnd.nextInt(9)}")
        val ws = if (i % 4 == 0) sharedBlock ++ own else own
        (i, ws)
      }
      def segs(ws: Vector[String]) =
        ws.grouped(w).map(_.mkString(" ")).toVector
      val holders = docs.flatMap { case (i, ws) =>
        segs(ws).distinct.map(s => s -> i) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
      val expected = docs.map { case (i, ws) =>
        val ss = segs(ws)
        val dups = ss.count(s => holders(s) > 1).toLong
        i -> ((ss.size.toLong, dups,
          math.floor(dups.toDouble / ss.size * 1e6 + 0.5) / 1e6))
      }.toMap
      val got = TextOps.segmentDupFraction(
          docs.map { case (i, ws) => (i, ws.mkString(" ")) }
            .toDF("doc_id", "text"), "text", "doc_id", w)
        .select("doc_id", "n_segments", "n_dup_segments", "dup_segment_frac")
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expected,
        got.keySet.filter(k => got(k) != expected(k)).take(3)
          .map(k => s"$k: ${got(k)} vs ${expected(k)}").mkString(";"))
    }
  }

  test("unigramSurprisal == exact micro-nat reference") {
    for (seed <- Seq(19, 23)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta")
      val docs = (1L to 20L).map(i =>
        (i, Vector.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))))
      val all = docs.flatMap(_._2)
      val counts = all.groupBy(identity).map { case (k, v) => k -> v.size }
      val n = all.size.toDouble
      val expected = docs.map { case (i, ws) =>
        val qs = ws.map(wd =>
          math.floor(-math.log(counts(wd) / n) * 1e6 + 0.5).toLong)
        i -> ((ws.size.toLong,
          math.floor(qs.sum.toDouble / 1e6 / ws.size * 1e6 + 0.5) / 1e6))
      }.toMap
      val got = TextOps.unigramSurprisal(
          docs.map { case (i, ws) => (i, ws.mkString(" ")) }
            .toDF("doc_id", "text"), "text", "doc_id")
        .select("doc_id", "n_words", "mean_surprisal_nats")
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expected,
        got.keySet.filter(k => got(k) != expected(k)).take(3)
          .map(k => s"$k: ${got(k)} vs ${expected(k)}").mkString(";"))
    }
  }

  test("appendSq8Index == full rebuild on random corpora, both drift paths") {
    for ((seed, forceDrift) <- Seq((31, false), (37, true))) {
      val rnd = new scala.util.Random(seed)
      val d = 4
      def v(scale: Double) = Seq.fill(d)(rnd.nextDouble() * scale)
      val corpus = ((1L to 30L).map(i => (i, v(10.0))) ++
        // pin the bounds so an in-bounds delta is constructible
        Seq((98L, Seq.fill(d)(0.0)), (99L, Seq.fill(d)(10.0))))
        .toDF("vec_id", "embedding")
      val delta = (100L to 110L).map(i =>
        (i, if (forceDrift && i == 105L) v(10.0).updated(0, 25.0)
            else v(10.0))).toDF("vec_id", "embedding")
      val qs = (200L to 203L).map(i => (i, v(10.0)))
        .toDF("vec_id", "embedding")
      val idxA = graft.queries.Fixture.tempIndexDir("graft_fz_a_")
      val idxF = graft.queries.Fixture.tempIndexDir("graft_fz_f_")
      try {
        Similarity.writeSq8Index(corpus, "vec_id", "embedding", idxA)
        val appended = Similarity.appendSq8Index(spark, idxA, delta,
          "vec_id", "embedding", corpus)
        assert(appended != forceDrift, s"seed $seed: wrong drift path")
        Similarity.writeSq8Index(corpus.unionByName(delta),
          "vec_id", "embedding", idxF)
        val a = Similarity.sq8TopKIndexed(spark, idxA, qs, "vec_id",
          "embedding", 5).collect().map(_.toSeq).toSet
        val f = Similarity.sq8TopKIndexed(spark, idxF, qs, "vec_id",
          "embedding", 5).collect().map(_.toSeq).toSet
        assert(a == f, s"seed $seed: appended != rebuilt")
      } finally {
        graft.queries.Fixture.deleteDir(idxA)
        graft.queries.Fixture.deleteDir(idxF)
      }
    }
  }

  test("urlSeenFilter == set-membership reference on random URL pools") {
    for (seed <- Seq(41, 43)) {
      val rnd = new scala.util.Random(seed)
      def url(i: Int) = {
        val www = if (rnd.nextBoolean()) "WWW." else ""
        val track = if (rnd.nextBoolean()) "?utm_source=t" else ""
        (s"https://$www" + s"h${i % 7}.net/p${i % 11}$track", // messy
          s"https://h${i % 7}.net/p${i % 11}")                // canonical
      }
      val seen = (1 to 40).map(i => (i.toLong, url(rnd.nextInt(30))))
      val cands = (100 to 140).map(i => (i.toLong, url(rnd.nextInt(60))))
      val seenSet = seen.map(_._2._2).toSet
      val expected = cands.map { case (i, (_, canon)) =>
        i -> seenSet.contains(canon) }.toMap
      val got = UrlOps.urlSeenFilter(
          seen.map { case (i, (raw, _)) => (i, raw) }.toDF("doc_id", "url"),
          cands.map { case (i, (raw, _)) => (i, raw) }.toDF("doc_id", "url"),
          "url", "doc_id", estimatedItems = 64L)
        .select("doc_id", "seen").as[(Long, Boolean)].collect().toMap
      assert(got == expected,
        got.keySet.filter(k => got(k) != expected(k)).take(5).toString)
    }
  }

  test("evalReport == in-memory confusion reference on random predictions incl. abstentions") {
    for (seed <- Seq(47, 53)) {
      val rnd = new scala.util.Random(seed)
      val classes = Vector("a", "b", "c", "d")
      val truth = (1L to 60L).map(i => (i, classes(rnd.nextInt(4))))
      val pred = truth.filter(_ => rnd.nextInt(10) > 1) // ~20% abstain
        .map { case (i, _) => (i, classes(rnd.nextInt(4))) }
      val predMap = pred.toMap
      val allCls = (truth.map(_._2) ++ pred.map(_._2)).distinct.sorted
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val expected = allCls.map { c =>
        val support = truth.count(_._2 == c).toLong
        val tp = truth.count { case (i, y) =>
          y == c && predMap.get(i).contains(c) }.toLong
        val nPred = pred.count(_._2 == c).toLong
        val (fp, fn) = (nPred - tp, support - tp)
        c -> ((support, tp, fp, fn,
          if (tp + fp > 0) r6(tp.toDouble / (tp + fp)) else 0.0,
          if (support > 0) r6(tp.toDouble / support) else 0.0,
          if (2 * tp + fp + fn > 0) r6(2.0 * tp / (2 * tp + fp + fn))
          else 0.0))
      }.toMap
      val got = graft.ops.Classify.evalReport(
          pred.toDF("id", "p"), truth.toDF("id", "y"), "id", "p", "y")
        .select("cls", "support", "tp", "fp", "fn", "precision", "recall",
          "f1")
        .as[(String, Long, Long, Long, Long, Double, Double, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7,
          r._8))).toMap
      assert(got == expected,
        got.keySet.filter(k => got.get(k) != expected.get(k)).take(3)
          .map(k => s"$k: ${got(k)} vs ${expected(k)}").mkString(";"))
    }
  }

  test("packingSweep == in-memory ceil-arithmetic reference on random token loads") {
    for (seed <- Seq(59, 61)) {
      val rnd = new scala.util.Random(seed)
      val toks = (1L to 80L).map(i => (i, 1L + rnd.nextInt(700).toLong))
      val lens = Seq(32L, 128L, 512L)
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val expected = lens.map { l =>
        val total = toks.map(_._2).sum
        val nPad = toks.map(t => (t._2 + l - 1) / l).sum
        val nPack = (total + l - 1) / l
        l -> ((toks.size.toLong, total, nPad,
          r6((nPad * l - total).toDouble / (nPad * l)), nPack,
          r6((nPack * l - total).toDouble / (nPack * l))))
      }.toMap
      val got = graft.ops.Corpus.packingSweep(toks.toDF("id", "tok"),
          "tok", lens)
        .select("seq_len", "n_docs", "tokens_total", "n_seq_padded",
          "pad_share_padded", "n_seq_packed", "pad_share_packed")
        .as[(Long, Long, Long, Long, Double, Long, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7)))
        .toMap
      assert(got == expected, s"$got vs $expected")
    }
  }

  test("shardManifest == in-memory xor reference on random shardings") {
    def h60ref(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.map(b => f"$b%02x").mkString.take(15), 16)
    }
    for (seed <- Seq(67, 71)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1L to 120L).map(i =>
        (i, rnd.nextInt(5), 1L + rnd.nextInt(99).toLong, s"body${rnd.nextInt(1000)}"))
      val expected = rows.groupBy(_._2).map { case (sh, rs) =>
        sh -> ((rs.size.toLong, rs.map(_._3).sum,
          rs.map(_._1).min, rs.map(_._1).max,
          rs.map(r => h60ref(s"${r._1}:${r._4}")).reduce(_ ^ _)))
      }
      val got = graft.core.Layout.shardManifest(
          rows.toDF("id", "shard", "tok", "body"), "shard", "id", "tok",
          "body")
        .select("shard", "n_docs", "n_tokens", "min_id", "max_id",
          "checksum")
        .as[(Int, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
      assert(got == expected,
        got.keySet.filter(k => got.get(k) != expected.get(k)).toString)
    }
  }

  test("domainSafeSplit == md5-threshold reference; deterministic across reruns") {
    def h60ref(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.map(b => f"$b%02x").mkString.take(15), 16)
    }
    val rows = (1L to 80L).map(i => (i, s"https://site${i % 13}.net/p$i"))
    val expected = rows.map { case (i, _) =>
      val dom = s"site${i % 13}.net"
      val h = h60ref(dom) % 100
      i -> (if (h < 15) "test" else if (h < 40) "val" else "train")
    }.toMap
    val got = UrlOps.domainSafeSplit(rows.toDF("doc_id", "url"), "url",
        "doc_id", valPct = 25, testPct = 15)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got == expected,
      got.keySet.filter(k => got(k) != expected(k)).take(5)
        .map(k => s"$k: ${got(k)} vs ${expected(k)}").mkString(","))
  }
}
