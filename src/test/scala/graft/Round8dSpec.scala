package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Events, Quality, Scale, TextOps}

/** Round-8 batch-4 specs: TF-IDF keywords, Flesch readability,
  * l-diversity, t-closeness, association rules, key-space-sharded
  * distinct (+ its HLL sketch twin), Pareto/ABC. References are
  * independent in-memory implementations, seeded where random.
  */
class Round8dSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("plan pins: tranche 28 ops are keyed shuffles, no stray cartesians") {
    val sf = "/root/testdata/sf0.001"
    import TestSpark.{plan, bnlj}
    // documents via raw scan (no Tables.spread): the readability pin
    // asserts the OP adds zero exchanges, which the table-level spread
    // exchange would mask
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ev = graft.core.Tables(spark, sf, "events")
    // tfidf: word-keyed tf/df aggregates + ONE 1-row broadcast N
    val tk = plan(TextOps.tfidfKeywords(docs, "text", "doc_id"))
    assert(!tk.contains("CartesianProduct"), tk.take(1500))
    assert(bnlj(tk) <= 1, tk.take(1500))
    // readability is map-only: ZERO exchanges of any kind
    val rd = plan(TextOps.readability(docs, "text", "doc_id"))
    assert(!rd.contains("Exchange"), rd.take(1500))
    // t-closeness: sparse cells only — no class x sensitive cross
    // join; the only BNLJs are copies of the SAME 1-row N and G
    // scalars, fanned by lineage reuse across the global/gTotal
    // branches (the ksDrift precedent)
    val proj = ev.select(col("event_type"),
      floor(col("value") / 100.0).cast("long").as("vb"))
    val tc = plan(Quality.tCloseness(proj, "vb", Seq("event_type")))
    assert(!tc.contains("CartesianProduct"), tc.take(1500))
    assert(bnlj(tc) <= 3, tc.take(1500))
    // assoc rules: basket-keyed self-join, item-keyed count joins,
    // 1-row broadcast N
    val ar = plan(Events.assocRules(ev, "user_id", "event_type"))
    assert(!ar.contains("CartesianProduct"), ar.take(1500))
    assert(bnlj(ar) <= 1, ar.take(1500))
    // sharded distinct: keyed aggregates only
    val sd = plan(Scale.shardedDistinct(ev, "event_type", "user_id"))
    assert(!sd.contains("CartesianProduct") && !sd.contains("Nested"))
    assert(sd.contains("Exchange hashpartitioning"), sd.take(1500))
    // pareto: the window runs over the PER-KEY aggregate (an
    // aggregate feeds the window, never raw fact rows)
    val li = graft.core.Tables(spark, sf, "lineitem")
    val pa = plan(Quality.paretoAbc(li, "l_partkey",
      col("l_extendedprice") * (lit(1) - col("l_discount"))))
    assert(!pa.contains("CartesianProduct"), pa.take(1500))
    assert(bnlj(pa) <= 1, pa.take(1500))
    assert(pa.contains("Window"), pa.take(1500))
  }

  test("tfidfKeywords == in-memory nano-quantized reference") {
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("data", "spark", "query", "plan", "join",
        "scan", "agg")
      val docs = (1L to 30L).map { id =>
        val words = (1 to 25).map(_ => vocab(rnd.nextInt(vocab.size))) ++
          (if (id % 7 == 0) Seq("rareword" + id) else Nil)
        (id, words.mkString(" "))
      }
      val got = TextOps.tfidfKeywords(
          docs.toDF("doc_id", "text"), "text", "doc_id", k = 3)
        .select("doc_id", "rank", "word", "tf")
        .as[(Long, Long, String, Long)].collect().toSet
      // independent reference
      val toks = docs.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toSeq }.toMap
      val dfreq = toks.values.flatMap(_.distinct)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = toks.count(_._2.nonEmpty).toLong
      val want = toks.flatMap { case (id, ws) =>
        val scored = ws.groupBy(identity).view.mapValues(_.size.toLong)
          .toSeq.map { case (w, tf) =>
            val idf = math.floor(
              math.log(n.toDouble / dfreq(w)) * 1e9 + 0.5).toLong
            (w, tf, tf * idf)
          }
          .sortBy { case (w, _, s) => (-s, w) }.take(3)
        scored.zipWithIndex.map { case ((w, tf, _), i) =>
          (id, (i + 1).toLong, w, tf) }
      }.toSet
      assert(got == want)
      // a doc's planted unique word must be its #1 keyword
      val tops = got.filter(t => t._2 == 1L && t._1 % 7 == 0)
      assert(tops.forall(t => t._3 == "rareword" + t._1))
    }
  }

  test("readability: exact counts and Flesch on crafted docs") {
    val docs = Seq(
      (1L, "The cat sat on the mat. It was fun!"),
      (2L, "grr brr."),         // no-vowel words still count 1 syllable
      (3L, "no terminator here"), // fragment -> 1 sentence
      (4L, "")).toDF("doc_id", "text")
    val got = TextOps.readability(docs, "text", "doc_id")
      .select("doc_id", "n_words", "n_sentences", "n_syllables", "flesch")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(!got.contains(4L)) // empty doc excluded
    assert(got(1L)._2 == 9L && got(1L)._3 == 2L && got(1L)._4 == 9L)
    assert(math.abs(got(1L)._5 -
      (206.835 - 1.015 * 9.0 / 2 - 84.6 * 9.0 / 9)) < 1e-6)
    assert(got(2L) == ((2L, 2L, 1L, 2L,
      math.rint((206.835 - 1.015 * 2.0 - 84.6) * 1e6) / 1e6)))
    assert(got(3L)._3 == 1L) // min 1 sentence
  }

  test("lDiversity flags homogeneous classes, excludes null sensitive") {
    val rows = Seq[(String, java.lang.Long)](
      ("homog", 1L), ("homog", 1L), ("homog", 1L),
      ("diverse", 1L), ("diverse", 2L), ("diverse", 3L),
      ("nully", null), ("nully", null), ("nully", 9L))
      .toDF("cls", "s")
    val got = Quality.lDiversity(rows, "s", Seq("cls"), l = 3L)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set("homog", "nully"))
    assert(got("homog") == (("homog", 3L, 1L)))
    // nulls dropped up front: 1 surviving row, 1 distinct value
    assert(got("nully") == (("nully", 1L, 1L)))
  }

  test("tCloseness: 0 when class == global, 0.5 on disjoint halves, in [0,1]") {
    val same = Seq(("only", 1L), ("only", 1L), ("only", 2L), ("only", 2L))
      .toDF("cls", "s")
    val g0 = Quality.tCloseness(same, "s", Seq("cls"))
      .select("tvd").as[Double].head()
    assert(g0 == 0.0)
    val split = Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L))
      .toDF("cls", "s")
    val g1 = Quality.tCloseness(split, "s", Seq("cls"))
      .select("cls", "tvd").as[(String, Double)].collect().toMap
    assert(g1("a") == 0.5 && g1("b") == 0.5)
    val rnd = new scala.util.Random(5)
    val rand = (1 to 400).map(_ =>
      ("c" + rnd.nextInt(6), rnd.nextInt(9).toLong)).toDF("cls", "s")
    val tvds = Quality.tCloseness(rand, "s", Seq("cls"))
      .select("tvd").as[Double].collect()
    assert(tvds.forall(t => t >= 0.0 && t <= 1.0))
  }

  test("assocRules == in-memory truncating-division reference") {
    val rnd = new scala.util.Random(13)
    val items = Vector("x", "y", "z", "w")
    val baskets = (1L to 50L).flatMap { b =>
      items.filter(_ => rnd.nextInt(3) > 0).map(i => (b, i))
    }
    val got = Events.assocRules(baskets.toDF("u", "i"), "u", "i",
        minBaskets = 2L)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val sets = baskets.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val n = sets.size.toLong
    val cnt = items.map(i =>
      i -> sets.values.count(_.contains(i)).toLong).toMap
    for (a <- items; b <- items if a != b) {
      val cab = sets.values.count(s => s.contains(a) && s.contains(b)).toLong
      if (cab >= 2) {
        val want = (a, b, cab, cab * 1000000L / n, cab * 1000000L / cnt(a),
          cab * n * 1000L / (cnt(a) * cnt(b)))
        assert(got((a, b)) == want, s"rule $a->$b")
      } else assert(!got.contains((a, b)))
    }
  }

  test("shardedDistinct == plain countDistinct, invariant to shard count; HLL twin within tolerance") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 5000).map(_ =>
      ("g" + rnd.nextInt(4), rnd.nextInt(700).toLong)).toDF("g", "k")
    val exact = rows.groupBy("g").agg(countDistinct(col("k")).as("n"))
      .as[(String, Long)].collect().toMap
    for (shards <- Seq(1, 64)) {
      val got = Scale.shardedDistinct(rows, "g", "k", shards)
        .select("g", "n_unique").as[(String, Long)].collect().toMap
      assert(got == exact, s"nShards=$shards")
    }
    val hit = Scale.shardedDistinct(rows, "g", "k", 64)
      .as[(String, Long, Long)].collect()
    assert(hit.forall(r => r._3 <= math.min(64L, r._2)))
    // sketch twin: per-shard HLL sketches merged with hll_union_agg.
    // NOT asserted equal to the direct global sketch — datasketches
    // HLL serves the stream-order-dependent HIP estimator for
    // directly-fed sketches and falls back to the plain estimator
    // after a union, so merged and direct estimates legitimately
    // differ by a few counts. The contract is accuracy: BOTH paths
    // land within 5% of the exact cardinality.
    val sharded = rows
      .withColumn("shard", pmod(xxhash64(col("k")), lit(64L)))
      .groupBy("g", "shard").agg(hll_sketch_agg(col("k")).as("sk"))
      .groupBy("g").agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .as("est"))
      .as[(String, Long)].collect().toMap
    val global = rows.groupBy("g")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("k"))).as("est"))
      .as[(String, Long)].collect().toMap
    for ((g, est) <- sharded ++ global)
      assert(math.abs(est - exact(g)).toDouble / exact(g) < 0.05,
        s"$g: est=$est exact=${exact(g)}")
  }

  test("plan pins: tranche 29 — corr single-scan, silhouette broadcast-only, IVM state-sized") {
    val sf = "/root/testdata/sf0.001"
    import TestSpark.{plan, bnlj}
    val li = graft.core.Tables(spark, sf, "lineitem")
    val ev = graft.core.Tables(spark, sf, "events")
    val emb = graft.core.Tables(spark, sf, "embeddings")
    // corrMatrix: ONE global aggregate — the only exchange is the
    // single-partition final merge; no joins at all
    val cm = plan(graft.ops.Fit.corrMatrix(li, Seq(
      ("q", col("l_quantity"), 1.0), ("p", col("l_extendedprice"), 100.0))))
    assert(!cm.contains("Join"), cm.take(1500))
    assert(cm.sliding("Exchange".length).count(_ == "Exchange") == 1,
      cm.take(1500))
    // rocAuc: corpus collapses to the distinct-score table before any
    // window; no cartesians
    val ra = plan(graft.ops.Classify.rocAuc(ev, col("value"),
      col("event_type") === "purchase"))
    assert(!ra.contains("CartesianProduct"), ra.take(1500))
    // silhouette: the ONLY fan-out is the broadcast centroid table
    // (model-sized); the corpus never reshuffles for the distance pass
    val si = plan(graft.ops.Similarity.simplifiedSilhouette(
      emb, "vec_id", "embedding", "label"))
    assert(!si.contains("CartesianProduct"), si.take(1500))
    assert(bnlj(si) <= 1, si.take(1500))
    // kaplanMeier: subject-keyed agg then duration-table window
    val km = plan(graft.ops.Events.kaplanMeier(ev, "user_id", "ts",
      "event_type", "purchase"))
    assert(!km.contains("CartesianProduct"), km.take(1500))
    assert(bnlj(km) <= 1, km.take(1500))
  }

  test("corrMatrix: planted correlations exact, zero variance yields null") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 300).map { _ =>
      val x = rnd.nextInt(1000).toDouble
      (x, 3.0 * x + 7.0, -2.0 * x + 5.0, rnd.nextInt(1000).toDouble, 4.2)
    }
    val df = rows.toDF("x", "ylin", "yneg", "noise", "const")
    val got = graft.ops.Fit.corrMatrix(df, Seq(
        ("x", col("x"), 1.0), ("ylin", col("ylin"), 1.0),
        ("yneg", col("yneg"), 1.0), ("noise", col("noise"), 1.0),
        ("const", col("const"), 1.0)))
      .select("col_a", "col_b", "r")
      .as[(String, String, Option[Double])].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got(("x", "ylin")).contains(1.0))
    assert(got(("x", "yneg")).contains(-1.0))
    assert(got(("x", "const")).isEmpty) // zero variance -> null
    // vs in-memory Pearson on the noisy pair
    val xs = rows.map(_._1); val ns = rows.map(_._4)
    val n = xs.size.toDouble
    val (sx, sy) = (xs.sum, ns.sum)
    val sxy = xs.zip(ns).map { case (a, b) => a * b }.sum
    val (sxx, syy) = (xs.map(a => a * a).sum, ns.map(a => a * a).sum)
    val want = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(math.abs(got(("x", "noise")).get - want) < 1e-6)
  }

  test("rocAuc: perfect separation, reversal, all-ties, tie-average reference") {
    def auc(rows: Seq[(Double, Boolean)]): Option[Double] =
      graft.ops.Classify.rocAuc(rows.toDF("s", "y"), col("s"), col("y"))
        .select("auc").as[Option[Double]].head()
    val perfect = (1 to 20).map(i => (i.toDouble, i > 10))
    assert(auc(perfect).contains(1.0))
    assert(auc(perfect.map { case (s, y) => (s, !y) }).contains(0.0))
    assert(auc((1 to 20).map(i => (5.0, i % 2 == 0))).contains(0.5))
    // random scores with ties vs the O(n^2) pair-count definition
    val rnd = new scala.util.Random(41)
    val rows = (1 to 200).map(_ =>
      (rnd.nextInt(12).toDouble, rnd.nextBoolean()))
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val pairs = for (p <- pos; q <- neg)
      yield if (p > q) 1.0 else if (p == q) 0.5 else 0.0
    val want = pairs.sum / (pos.size.toLong * neg.size)
    assert(math.abs(auc(rows).get - want) < 1e-6)
  }

  test("kaplanMeier == hand-computed product-limit with censoring") {
    // subjects: A converts at +10, B at +20, C censored at +15,
    // D converts at +20, E censored at +5
    val ev = Seq(
      ("A", 0L, "view"), ("A", 10L, "purchase"),
      ("B", 0L, "view"), ("B", 20L, "purchase"),
      ("C", 0L, "view"), ("C", 15L, "view"),
      ("D", 0L, "view"), ("D", 20L, "purchase"),
      ("E", 0L, "view"), ("E", 5L, "view"))
      .map { case (u, t, k) => (u, t * 1000L, k) } // us -> ns
      .toDF("user_id", "ts", "event_type")
    val got = graft.ops.Events.kaplanMeier(ev, "user_id", "ts",
        "event_type", "purchase")
      .select("dur_us", "n_risk", "d", "log_survival", "survival_zero")
      .as[(Long, Long, Long, Option[Double], Boolean)].collect()
      .sortBy(_._1)
    // event times: t=10 (E already censored at 5, so n=4, d=1 ->
    // S=3/4), t=20 (C censored at 15: n=2, d=2 -> S=0)
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((10L, 4L, 1L), (20L, 2L, 2L)))
    assert(math.abs(got(0)._4.get - math.log(3.0 / 4)) < 1e-6)
    assert(!got(0)._5 && got(1)._5 && got(1)._4.isEmpty)
  }

  test("simplifiedSilhouette: separated clusters near 1, reference match") {
    val rnd = new scala.util.Random(17)
    def vec(center: Double) =
      Array.fill(8)((center + rnd.nextGaussian() * 0.01).toFloat)
    val rows = (1 to 60).map { i =>
      val lbl = i % 3
      (i.toLong, vec(lbl * 100.0), lbl)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.simplifiedSilhouette(
        df, "vec_id", "embedding", "label")
      .select("label", "n_points", "mean_silhouette")
      .as[(Int, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(got.size == 3 && got.values.forall(_._2 == 20L))
    assert(got.values.forall(_._3 > 0.99))
    // in-memory simplified silhouette on the same data
    val byLbl = rows.groupBy(_._3)
    val cents = byLbl.map { case (l, vs) =>
      // mirror the op's micro-quantized centroid sums
      l -> (0 until 8).map { d =>
        vs.map(v => math.floor(v._2(d).toDouble * 1e6 + 0.5)).sum /
          1e6 / vs.size }
    }
    def dist(v: Array[Float], c: Seq[Double]) = math.sqrt(
      v.zip(c).map { case (x, cc) => (x.toDouble - cc) * (x.toDouble - cc) }.sum)
    val want = byLbl.map { case (l, vs) =>
      val sms = vs.map { v =>
        val a = dist(v._2, cents(l))
        val b = cents.filter(_._1 != l).values.map(dist(v._2, _)).min
        if (math.max(a, b) > 0)
          math.floor((b - a) / math.max(a, b) * 1e6 + 0.5).toLong else 0L
      }
      l -> math.rint(sms.sum.toDouble / 1e6 / vs.size * 1e6) / 1e6
    }
    for ((l, w) <- want) assert(math.abs(got(l)._3 - w) < 1e-9, s"label $l")
  }

  test("seqRules: direction and gap respected, == brute-force reference") {
    // user 1: a at t=0, b at t=5 (within gap 10); user 2: b then a
    // (wrong direction); user 3: a at 0, b at 50 (beyond gap)
    val ev = Seq(
      (1L, "a", 0L), (1L, "b", 5L),
      (2L, "b", 0L), (2L, "a", 5L),
      (3L, "a", 0L), (3L, "b", 50L))
      .map { case (u, et, t) => (u, et, t * 1000L) } // us -> ns
      .toDF("user_id", "event_type", "ts")
    val got = graft.ops.Events.seqRules(ev, "user_id", "event_type",
        "ts", gapUs = 10L)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // a->b supported only by user 1; b->a only by user 2; N = 3
    assert(got == Map(("a", "b") -> ((1L, 333333L)),
      ("b", "a") -> ((1L, 333333L))))
  }

  test("abChiSquare matches the textbook 2x2 and flags SRM") {
    // variant 0: 30/100 convert; variant 1: 50/100 convert
    val rows = (1 to 200).map { i =>
      val v = i % 2
      val conv = if (v == 0) (i / 2) % 10 < 3 else (i / 2) % 10 < 5
      (i.toLong, v.toLong, if (conv) "purchase" else "view")
    }
    val df = rows.toDF("user_id", "variant", "event_type")
    val got = graft.ops.Events.abChiSquare(df, "user_id",
        col("user_id") % 2, "event_type", "purchase")
      .select("n_a", "n_b", "conv_a", "conv_b", "chi2", "srm_chi2")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    // i%2==0 -> variant 0 has 100 users etc.
    val (a, b, c, d) = (got._3, got._1 - got._3, got._4, got._2 - got._4)
    val n = (a + b + c + d).toDouble
    val det = (a * d - b * c).toDouble
    val want = n * det * det /
      ((a + b).toDouble * (c + d) * (a + c) * (b + d))
    assert(math.abs(got._5 - want) < 1e-6)
    assert(got._6 == 0.0) // balanced split -> zero SRM statistic
  }

  test("cuped: pure-carryover variants equalize, reference theta math") {
    // post == pre exactly (theta = 1): variant raw means differ by
    // the pre-period imbalance, adjusted means must coincide
    val rows = (1 to 100).flatMap { i =>
      val v = i % 2
      val spend = if (v == 0) 10.0 + (i % 7) else 20.0 + (i % 7)
      Seq((i.toLong, "pre", spend), (i.toLong, "post", spend))
    }
    val ns = graft.functions.PixieFunctions.tsNsLit("2024-01-16")
    val df = rows.map { case (u, phase, sp) =>
      (u, if (phase == "pre") ns - 1000L else ns + 1000L, sp) }
      .toDF("user_id", "ts", "value")
    val got = graft.ops.Events.cuped(df, "user_id", col("user_id") % 2,
        col("value"), "ts", ns)
      .select("variant", "mean_post", "mean_adjusted")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(0L)._2 != got(1L)._2) // raw means differ
    assert(math.abs(got(0L)._3 - got(1L)._3) < 1e-6) // adjusted coincide
    // adjusted means preserve the global mean (CUPED is mean-neutral)
    val globalPost = (got(0L)._2 + got(1L)._2) / 2
    val globalAdj = (got(0L)._3 + got(1L)._3) / 2
    assert(math.abs(globalPost - globalAdj) < 1e-4)
  }

  test("JaroWinkler expression: textbook values, conventions, fuzz invariants") {
    import graft.expressions.JaroWinkler
    // classic Winkler census pair — the exact double DuckDB's
    // jaro_similarity returns (the op's own IEEE sequence; plain
    // 17.0/18 rounds to ...44, one ulp off both engines)
    def jaroS(a: String, b: String): Double = JaroWinkler.jaro(
      a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    assert(jaroS("MARTHA", "MARHTA") == 0.9444444444444445)
    val mj = jaroS("MARTHA", "MARHTA")
    assert(JaroWinkler.jw(
      org.apache.spark.unsafe.types.UTF8String.fromString("MARTHA"),
      org.apache.spark.unsafe.types.UTF8String.fromString("MARHTA"))
      == mj + 3 * 0.1 * (1.0 - mj))
    def jw(a: String, b: String): Double = JaroWinkler.jw(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    // DuckDB conventions: either side empty (incl. both) -> 0.0
    assert(jw("", "") == 0.0 && jw("", "abc") == 0.0 && jw("abc", "") == 0.0)
    assert(jw("equal", "equal") == 1.0)
    // no boost at or below 0.7; prefix capped at 4
    assert(jw("ab", "ba") == jaroS("ab", "ba"))
    val rnd = new scala.util.Random(43)
    def randStr() = (0 until rnd.nextInt(12))
      .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    for (_ <- 1 to 500) {
      val (a, b) = (randStr(), randStr())
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0)
      assert(s == jw(b, a)) // symmetric
      if (a.nonEmpty) assert(jw(a, a) == 1.0)
    }
    // through the Column API inside codegen, nulls propagate
    val df = Seq(("martha", "marhta"), ("dixon", null))
      .toDF("a", "b")
      .select(JaroWinkler.column(col("a"), col("b")).as("jw"))
    val got = df.as[Option[Double]].collect()
    assert(got(0).contains(jw("martha", "marhta")) && got(1).isEmpty)
  }

  test("DamerauLevenshtein: full-metric textbook cases, fuzz invariants") {
    import graft.expressions.DamerauLevenshtein
    def dl(a: String, b: String): Long = DamerauLevenshtein.dl(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    // UNRESTRICTED metric: transposition with intervening edits
    assert(dl("ca", "abc") == 2L) // OSA would say 3
    assert(dl("ab", "ba") == 1L)
    assert(dl("abcdef", "abcfad") == 3L)
    assert(dl("kitten", "sitting") == 3L)
    assert(dl("", "") == 0L && dl("abc", "") == 3L && dl("", "ab") == 2L)
    val rnd = new scala.util.Random(47)
    def randStr() = (0 until rnd.nextInt(9))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    for (_ <- 1 to 500) {
      val (a, b, c) = (randStr(), randStr(), randStr())
      assert(dl(a, b) == dl(b, a))                 // symmetric
      assert(dl(a, b) <= dl(a, c) + dl(c, b))      // triangle (metric)
      assert((dl(a, b) == 0L) == (a == b))         // identity
      // dominated by plain Levenshtein (transpositions only help)
      def lev(x: String, y: String): Long = {
        val d = Array.tabulate(x.length + 1, y.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to x.length; j <- 1 to y.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
        d(x.length)(y.length).toLong
      }
      assert(dl(a, b) <= lev(a, b))
    }
    // Column API + null propagation
    val got = Seq(("ca", "abc"), ("x", null))
      .toDF("a", "b")
      .select(DamerauLevenshtein.column(col("a"), col("b")).as("d"))
      .as[Option[Long]].collect()
    assert(got(0).contains(2L) && got(1).isEmpty)
    // the full-matrix DP is LOUDLY capped (SQL-reachable input)
    intercept[IllegalArgumentException](dl("a" * 3000, "b" * 3000))
  }

  test("ByteLevenshtein: byte-wise parity domain, == code-point lev on ASCII") {
    import graft.expressions.ByteLevenshtein
    def bl(a: String, b: String): Long = ByteLevenshtein.lev(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    // DuckDB semantics: bytes, not code points ('é' is 2 UTF-8 bytes)
    assert(bl("é", "x") == 2L)
    assert(bl("kitten", "sitting") == 3L && bl("", "ab") == 2L)
    // on ASCII it equals Spark's builtin levenshtein
    val rnd = new scala.util.Random(53)
    val pairs = (1 to 100).map { _ =>
      def s() = (0 until rnd.nextInt(10))
        .map(_ => ('a' + rnd.nextInt(5)).toChar).mkString
      (s(), s())
    }
    val spark2 = pairs.toDF("a", "b")
      .select(levenshtein(col("a"), col("b")).cast("long").as("l"),
        ByteLevenshtein.column(col("a"), col("b")).as("bl"))
      .as[(Long, Long)].collect()
    assert(spark2.forall(r => r._1 == r._2))
    // and dl <= byte-lev (same domain now)
    import graft.expressions.DamerauLevenshtein
    for ((a, b) <- pairs)
      assert(DamerauLevenshtein.dl(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= bl(a, b))
  }

  test("GraftFunctions: native expressions callable from SQL after registration") {
    graft.plans.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT jaro_winkler('martha', 'marhta') AS jw,
        |  damerau_levenshtein('ca', 'abc') AS dl,
        |  md5_long60(cast('x' AS BINARY)) AS h,
        |  nfc_normalize('e' || 'x') AS n""".stripMargin)
      .as[(Double, Long, Long, String)].head()
    assert(row._1 == 0.9611111111111111 && row._2 == 2L)
    assert(row._3 == graft.expressions.Md5Long60.hash60("x".getBytes))
    assert(row._4 == "ex")
    // arity misuse fails loudly at analysis, not silently at runtime
    intercept[Exception](spark.sql("SELECT jaro_winkler('a')").collect())
    // the extensions class wires the SAME list + the pushdown rule
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
  }

  test("q450 experiment panel rows == standalone detectors") {
    val sf = "/root/testdata/sf0.001"
    val panel = graft.SparkEntry.queries("q450_experiment_panel")(spark, sf)
      .select("variant", "n_subjects", "rate_ppm", "mean_post",
        "mean_adjusted", "chi2", "srm_chi2", "auc")
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val cu = graft.SparkEntry.queries("q449_cuped")(spark, sf)
      .select("variant", "n_subjects", "mean_post", "mean_adjusted")
      .as[(Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val ab = graft.SparkEntry.queries("q448_ab_chi_square")(spark, sf)
      .select("rate_a_ppm", "rate_b_ppm", "chi2", "srm_chi2")
      .as[(Long, Long, Option[Double], Option[Double])].head()
    val auc = graft.SparkEntry.queries("q443_roc_auc")(spark, sf)
      .select("auc").as[Option[Double]].head()
    for ((v, row) <- panel) {
      assert(row._2 == cu(v)._2 && row._4 == cu(v)._3 && row._5 == cu(v)._4)
      assert(row._3 == (if (v == 0) ab._1 else ab._2))
      assert(row._6 == ab._3 && row._7 == ab._4 && row._8 == auc)
    }
    assert(panel.keySet == Set(0L, 1L))
  }

  test("foldDistinctState: pruned fold == full recompute; keys scan is partition-filtered") {
    val rnd = new scala.util.Random(59)
    val rows = (1 to 3000).map(i =>
      ("g" + rnd.nextInt(4), rnd.nextInt(400).toLong, i % 5 == 0))
    val full = rows.toDF("g", "k", "isDelta")
    val dir = graft.queries.Fixture.tempIndexDir("graft_spec_dstate_")
    try {
      Scale.writeDistinctState(full.where(!col("isDelta")), "g", "k",
        nShards = 8, dir)
      val folded = Scale.foldDistinctState(spark, dir,
        full.where(col("isDelta")), "g", "k", nShards = 8)
      val got = folded.as[(String, Long)].collect().toMap
      val want = full.groupBy("g").agg(countDistinct(col("k")).as("n"))
        .as[(String, Long)].collect().toMap
      assert(got == want)
      // the KEYS scan (the partitioned read) carries a NON-EMPTY
      // partition filter on __shard — `contains("PartitionFilters")`
      // alone is vacuous (every parquet scan prints an empty list)
      val plan = folded.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*__shard".r
        .findFirstIn(plan).isDefined, plan.take(3000))
      // a mismatched shard count is refused, never silently folded
      intercept[IllegalArgumentException](Scale.foldDistinctState(
        spark, dir, full.where(col("isDelta")), "g", "k", nShards = 16))
    } finally graft.queries.Fixture.deleteDir(dir)
  }

  test("foldDistinctState: summary branch carries untouched shards; empty-state bootstrap") {
    val snap = (1 to 2000).map(i =>
      ("g" + i % 3, (i % 500).toLong)).toDF("g", "k")
    // 3 delta keys over 64 shards: almost every shard is UNTOUCHED and
    // must flow through the summary rollup alone — deleting that
    // branch must fail this case
    val delta = Seq(("g0", 9000L), ("g1", 9001L), ("g2", 250L))
      .toDF("g", "k")
    val dir = graft.queries.Fixture.tempIndexDir("graft_spec_dstate2_")
    try {
      Scale.writeDistinctState(snap, "g", "k", nShards = 64, dir)
      val got = Scale.foldDistinctState(spark, dir, delta, "g", "k", 64)
        .as[(String, Long)].collect().toMap
      val want = snap.unionByName(delta).groupBy("g")
        .agg(countDistinct(col("k")).as("n"))
        .as[(String, Long)].collect().toMap
      assert(got == want)
    } finally graft.queries.Fixture.deleteDir(dir)
    // day-0 bootstrap: state written from an EMPTY corpus (fileless
    // partitioned keys table) must fold the first delta, not crash
    val dir2 = graft.queries.Fixture.tempIndexDir("graft_spec_dstate3_")
    try {
      Scale.writeDistinctState(snap.where(lit(false)), "g", "k", 8, dir2)
      val got = Scale.foldDistinctState(spark, dir2, delta, "g", "k", 8)
        .as[(String, Long)].collect().toMap
      assert(got == Map("g0" -> 1L, "g1" -> 1L, "g2" -> 1L))
    } finally graft.queries.Fixture.deleteDir(dir2)
  }

  test("foldAggState(delta) == aggState over the full union") {
    val rnd = new scala.util.Random(29)
    val rows = (1 to 2000).map(i =>
      ("g" + rnd.nextInt(5), rnd.nextDouble() * 100, i % 4 == 0))
    val full = rows.toDF("g", "v", "isDelta")
    val state = Scale.aggState(full.where(!col("isDelta")), "g", col("v"))
    val got = Scale.foldAggState(state, full.where(col("isDelta")),
        "g", col("v"))
      .select("g", "n_rows", "sum_cents")
      .as[(String, Long, Long)].collect().toSet
    val want = Scale.aggState(full, "g", col("v"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("paretoAbc: reference cum shares, class cuts, final row at 1e6 ppm") {
    // revenues: 790, 150, 40, 20 cents -> total 1000 cents
    val rows = Seq((1L, 7.90), (2L, 1.50), (3L, 0.40), (4L, 0.20))
      .toDF("k", "v")
    val got = Quality.paretoAbc(rows, "k", col("v"))
      .select("k", "rank", "cents", "cum_ppm", "abc_class")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._2)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got.map(_._4).toSeq == Seq(790000L, 940000L, 980000L, 1000000L))
    assert(got.map(_._5).toSeq == Seq("A", "B", "C", "C"))
    // ties break key-ascending, deterministic ranks
    val ties = Seq((9L, 1.0), (3L, 1.0), (5L, 1.0)).toDF("k", "v")
    val tg = Quality.paretoAbc(ties, "k", col("v"))
      .select("k", "rank").as[(Long, Long)].collect().toMap
    assert(tg == Map(3L -> 1L, 5L -> 2L, 9L -> 3L))
  }
}
