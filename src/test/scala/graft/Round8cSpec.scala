package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Events, Multimodal, Quality, Similarity, TextOps}

/** Round-8 batch-3 specs: phrase mining, k-anonymity, closed-form
  * CUSUM (vs the direct recursion — the property the window trick
  * must preserve), centroid drift, margin mining (vs brute-force
  * mutual-NN), OLS trend, Benford ladder, shot boundaries. References
  * here are independent in-memory implementations, seeded where
  * random.
  */
class Round8cSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("plan pins: tranche 22-24 ops are keyed shuffles, no stray cartesians") {
    val sf = "/root/testdata/sf0.001"
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    def bnlj(p: String): Int =
      p.sliding("BroadcastNestedLoopJoin".length)
        .count(_ == "BroadcastNestedLoopJoin")
    val docs = graft.core.Tables(spark, sf, "documents")
    val ev = graft.core.Tables(spark, sf, "events")
    // phrase mining: word-keyed counts + two keyed joins + 1-row N
    val pm = plan(TextOps.phraseMining(docs, "text"))
    assert(!pm.contains("CartesianProduct"), pm.take(1500))
    assert(bnlj(pm) <= 1, pm.take(1500))
    // debounce: the burst agg reuses the key window's partitioning —
    // exactly ONE hash exchange moves event rows
    val deb = plan(Events.debounce(ev, Seq("user_id", "event_type"),
      "ts", "event_id", 86400000000L))
    assert(!deb.contains("CartesianProduct"))
    assert(deb.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1, deb.take(2000))
    // CUSUM/KS: every window is partitioned (no global-sort window on
    // data rows); broadcasts are the 1-row grid/midpoint bounds only
    val cu = plan(Events.cusumDrift(ev, "event_type", "ts", 3600000000L))
    assert(!cu.contains("CartesianProduct"))
    assert(!cu.contains("Window [") || cu.contains("windowspecdefinition"),
      cu.take(1000))
    val ks = plan(Quality.ksDrift(ev, "event_type", "ts", "value", 1.0))
    assert(!ks.contains("CartesianProduct"))
    // the only BNLJs are copies of the SAME 1-row midpoint bound,
    // fanned by lineage reuse across the a/b/totals branches
    assert(bnlj(ks) <= 4, ks.take(1500))
    // margin mining: the ONE cartesian is the documented exact-baseline
    // cross of the sampled sides — nothing else may fan out
    val emb = graft.core.Tables(spark, sf, "embeddings")
      .where(col("vec_id") % 5 === 0)
      .withColumn("side", col("label") % 2)
    val mm = plan(Similarity.marginMining(emb, "vec_id", "embedding",
      "side"))
    assert(bnlj(mm) + mm.sliding("CartesianProduct".length)
      .count(_ == "CartesianProduct") == 1, mm.take(2000))
    // native session_window: the session aggregate is present and the
    // only exchange is user-keyed
    val sw = plan(graft.SparkEntry.queries("q418_session_window")(spark, sf))
    assert(sw.contains("session_window"), sw.take(1500))
    assert(!sw.contains("CartesianProduct"))
  }

  test("phraseMining == in-memory staged-integer reference on random word streams") {
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
      val docs = (1 to 40).map { _ =>
        // plant a sticky bigram "alpha beta" amid random words
        (1 to 20).flatMap { _ =>
          if (rnd.nextInt(4) == 0) Seq("alpha", "beta")
          else Seq(vocab(rnd.nextInt(vocab.size)))
        }.mkString(" ")
      }
      val toks = docs.map(_.split(" ").toSeq)
      val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = toks.map(_.size.toLong).sum
      val bi = toks.flatMap(w => w.zip(w.tail))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expect = bi.collect { case ((a, b), cab) if cab >= 3 =>
        val score = (cab - 2L) * 1000000L / uni(a) * n / uni(b)
        ((a, b), (cab, uni(a), uni(b), score))
      }.filter(_._2._4 >= 0L)
      val got = TextOps.phraseMining(docs.toDF("text"), "text",
          delta = 2L, minCount = 3L, minScoreE6 = Long.MinValue)
        .collect().map(r => ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got == expect, s"seed $seed")
      assert(got.contains(("alpha", "beta")))
    }
  }

  test("kAnonymity flags exactly the sub-k QI groups; repeat rows don't inflate subjects") {
    // group A: 2 subjects x 3 rows each (violates k=3)
    // group B: 3 subjects (meets k=3), group C: 1 subject (violates)
    val rows = Seq.fill(3)(("A", 1L)) ++ Seq.fill(3)(("A", 2L)) ++
      Seq(("B", 10L), ("B", 11L), ("B", 12L)) ++ Seq(("C", 20L))
    val got = Quality.kAnonymity(rows.toDF("qi", "subj"), "subj",
        Seq("qi"), k = 3L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("A", 2L, 6L), ("C", 1L, 1L)))
  }

  test("cusumDrift closed form == direct max(0, S+x) recursion on random grids") {
    for (seed <- Seq(5, 23, 41)) {
      val rnd = new scala.util.Random(seed)
      val nBins = 48
      val counts = (0 until nBins).map(b =>
        (b.toLong, (1 + rnd.nextInt(9) + (if (b > 30) rnd.nextInt(20) else 0)).toLong))
      // events: c(b) rows in hour-bucket b (epoch hour b)
      val ev = counts.flatMap { case (b, c) =>
        Seq.fill(c.toInt)(("t", b * 3600L * 1000000000L))
      }
      val slackDen = 4L; val hMult = 2L
      val got = Events.cusumDrift(ev.toDF("event_type", "ts"),
          "event_type", "ts", binUs = 3600000000L, slackDen, hMult)
        .collect().map(r => (r.getLong(2), r.getLong(5))).toMap
      // independent reference: the literal sequential recursion
      val total = counts.map(_._2).sum
      val mm = total * 1000L / nBins
      val slack = mm / slackDen
      var s = 0L
      val ref = scala.collection.mutable.Map.empty[Long, Long]
      for ((b, c) <- counts) {
        s = math.max(0L, s + c * 1000L - mm - slack)
        if (s >= mm * hMult) ref(b) = s
      }
      assert(got == ref.toMap, s"seed $seed")
      assert(ref.nonEmpty, s"seed $seed planted drift must alarm")
    }
  }

  test("olsTrend recovers a planted exact line; constant series yields null slope/r2=1 line") {
    // y = 3x + 2 on 24 hourly bins: slope 3, intercept 2, r2 = 1
    val ev = (0 until 24).flatMap { b =>
      Seq.fill(3 * b + 2)(("t", b * 3600L * 1000000000L))
    }
    val r = Events.olsTrend(ev.toDF("event_type", "ts"), "event_type",
      "ts", 3600000000L).collect().head
    assert(r.getLong(1) == 24L)
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 2.0
      && r.getDouble(4) == 1.0)
    // constant series: dyy = 0 -> r2 null, slope 0
    val flat = (0 until 10).flatMap { b =>
      Seq.fill(4)(("t", b * 3600L * 1000000000L))
    }
    val f = Events.olsTrend(flat.toDF("event_type", "ts"), "event_type",
      "ts", 3600000000L).collect().head
    assert(f.getDouble(2) == 0.0 && f.getDouble(3) == 4.0 && f.isNullAt(4))
  }

  test("benford digit ladder: boundary values land on their digit; out-of-range excluded") {
    val vals = Seq(0.001, 0.0099, 0.1, 0.35, 1.0, 9.99, 10.0, 99.0,
      100.0, 999.0, 1000.0, 9999.0, 10000.0, 0.0005, -5.0, 0.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("g", v) }
      .toDF("grp", "v")
    val got = Quality.benford(df, "grp", "v")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // 10000, 0.0005, -5, 0 excluded -> 12 in-ladder values
    assert(got.values.sum == 12L)
    assert(got(1L) == 6L) // 0.1, 1.0, 10.0, 100.0, 1000.0, 0.001
    assert(got(3L) == 1L) // 0.35
    assert(got(9L) == 5L) // 0.0099, 9.99, 99, 999, 9999
    // ppm shares sum to <= 1e6 and deviations are vs the fixed table
    val full = Quality.benford(df, "grp", "v").collect()
    full.foreach { r =>
      assert(r.getLong(4) == Quality.benfordPpmTable(r.getLong(1).toInt - 1))
      assert(r.getLong(5) == r.getLong(3) - r.getLong(4))
    }
  }

  test("centroidDrift: identical halves -> dist2 0; planted one-dim shift -> that dim tops") {
    // ids 0..3: even half == odd half -> zero drift
    val same = Seq(
      (0L, Seq(1.0, 2.0, 3.0), 7), (1L, Seq(1.0, 2.0, 3.0), 7),
      (2L, Seq(5.0, 5.0, 5.0), 7), (3L, Seq(5.0, 5.0, 5.0), 7))
    val z = Similarity.centroidDrift(same.toDF("id", "vec", "lab"),
      "id", "vec", "lab").collect().head
    assert(z.getDouble(3) == 0.0 && z.getLong(6) == 0L)
    // plant +2.0 on dim 1 of the odd half only
    val shifted = Seq(
      (0L, Seq(1.0, 2.0, 3.0), 7), (1L, Seq(1.0, 4.0, 3.0), 7),
      (2L, Seq(1.0, 2.0, 3.0), 7), (3L, Seq(1.0, 4.0, 3.0), 7))
    val s = Similarity.centroidDrift(shifted.toDF("id", "vec", "lab"),
      "id", "vec", "lab").collect().head
    assert(s.getInt(4) == 1, "top_dim must be the planted dim")
    assert(s.getLong(5) == -1L, "even-half centroid is below the odd")
    assert(s.getDouble(3) == 4.0) // (2.0)^2
    assert(s.getLong(6) == 2000000000L) // 2.0 in nano units
  }

  test("marginMining == brute-force mutual-NN with identical quantization") {
    for (seed <- Seq(13, 31)) {
      val rnd = new scala.util.Random(seed)
      val vecs = (0 until 30).map { i =>
        (i.toLong, Seq.fill(8)(rnd.nextDouble() * 2 - 1), i % 2)
      }
      val k = 3
      val got = Similarity.marginMining(vecs.toDF("id", "vec", "side"),
          "id", "vec", "side", k)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getDouble(3)))).toMap
      // reference
      val q = vecs.map { case (id, v, s) =>
        (id, v.map(x => math.floor(x * 1e6 + 0.5).toLong), s)
      }
      val as = q.filter(_._3 == 0); val bs = q.filter(_._3 == 1)
      def dot(a: Seq[Long], b: Seq[Long]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      val dots = (for (a <- as; b <- bs)
        yield ((a._1, b._1), dot(a._2, b._2))).toMap
      def top(items: Seq[(Long, Long)]) = // (otherId, dot) sorted
        items.sortBy { case (o, d) => (-d, o) }
      val ref = for {
        a <- as
        ranksA = top(bs.map(b => (b._1, dots((a._1, b._1)))))
        (bBest, d) = ranksA.head
        ranksB = top(as.map(x => (x._1, dots((x._1, bBest)))))
        if ranksB.head._1 == a._1
      } yield {
        val ka = ranksA.take(k).map(_._2).sum
        val kb = ranksB.take(k).map(_._2).sum
        ((a._1, bBest), (d,
          if (ka + kb > 0) BigDecimal(2.0 * k * d / (ka + kb))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          else Double.NaN))
      }
      assert(got.keySet == ref.map(_._1).toSet, s"seed $seed")
      ref.foreach { case (pair, (d, m)) =>
        assert(got(pair)._1 == d)
        if (!m.isNaN) assert(math.abs(got(pair)._2 - m) < 1e-9)
      }
    }
  }

  test("debounce == in-memory leading-edge reference; gap-chains merge into one burst") {
    // key A: chain 0, 5, 10, 22 (gap 6): 0-5-10 chain, 22 new burst
    // key B: singleton
    val ns = 1000L // work in µs*1000 = ns inputs
    val ev = Seq(
      ("A", 1L, 0L), ("A", 2L, 5000000L), ("A", 3L, 10000000L),
      ("A", 4L, 22000000L), ("B", 9L, 3000000L))
      .map { case (k, id, us) => (k, id, us * ns) }
    val got = graft.ops.Events.debounce(ev.toDF("k", "id", "ts"),
        Seq("k"), "ts", "id", gapUs = 6000000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == Set(("A", 1L, 1L, 3L, 2L), ("A", 2L, 4L, 1L, 0L),
      ("B", 1L, 9L, 1L, 0L)))
    // exact-gap boundary: delta == gap merges (strictly-greater opens)
    val edge = Seq(("C", 1L, 0L), ("C", 2L, 6000000L * ns))
    val g2 = graft.ops.Events.debounce(edge.toDF("k", "id", "ts"),
      Seq("k"), "ts", "id", 6000000L).collect()
    assert(g2.length == 1 && g2.head.getLong(4) == 2L)
  }

  test("native session_window == island sessionization incl. the delta==gap boundary") {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 1000000L
    // user 1: deltas exactly gap (must merge), gap+1 (must split)
    val ev = Seq((1L, 0L), (1L, gapUs), (1L, 2 * gapUs),
      (1L, 3 * gapUs + 1), (2L, 5L))
      .map { case (u, us) => (u, us * 1000L) } // ns
      .toDF("user_id", "ts")
    def islands = {
      val w = Window.partitionBy("user_id").orderBy("ts_us")
      ev.select(col("user_id"),
          graft.functions.PixieFunctions.nsToUs(col("ts")).as("ts_us"))
        .withColumn("ns", when(lag(col("ts_us"), 1).over(w).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
        .withColumn("sn", sum(col("ns")).over(w))
        .groupBy("user_id", "sn")
        .agg(count(lit(1)).as("n"), min("ts_us").as("s"), max("ts_us").as("e"))
        .select("user_id", "sn", "n", "s", "e")
    }
    val native = ev.select(col("user_id"),
        graft.functions.PixieFunctions.nsToUs(col("ts")).as("ts_us"))
      .withColumn("__t", timestamp_micros(col("ts_us")))
      .groupBy(col("user_id"),
        session_window(col("__t"), s"$gapUs microsecond"))
      .agg(count(lit(1)).as("n"), min("ts_us").as("s"), max("ts_us").as("e"))
      .withColumn("sn", row_number().over(
        Window.partitionBy("user_id").orderBy("s")).cast("long"))
      .select("user_id", "sn", "n", "s", "e")
    val a = islands.collect().map(_.toSeq).toSet
    val b = native.collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.contains(Seq(1L, 1L, 3L, 0L, 2 * gapUs)),
      "delta==gap events must merge into one session")
  }

  test("psiDrift: identical halves -> 0; planted band shift -> large positive psi") {
    // two halves with identical band histograms -> every term 0
    def ns(us: Long) = us * 1000L
    val same = (0 until 50).flatMap { i =>
      Seq(("t", ns(i.toLong), (i % 5) * 50.0 + 1),
        ("t", ns(1000000L + i), (i % 5) * 50.0 + 1))
    }
    val z = graft.ops.Quality.psiDrift(same.toDF("g", "ts", "v"), "g",
      "ts", "v", 50.0, 10).collect().head
    assert(z.getDouble(3) == 0.0)
    // first half all band 0, second half all band 9
    val shift = (0 until 50).map(i => ("t", ns(i.toLong), 1.0)) ++
      (0 until 50).map(i => ("t", ns(1000000L + i), 490.0))
    val s = graft.ops.Quality.psiDrift(shift.toDF("g", "ts", "v"), "g",
      "ts", "v", 50.0, 10).collect().head
    assert(s.getDouble(3) > 3.0, s"planted shift psi ${s.getDouble(3)}")
  }

  test("gini: even mass -> 0; concentrated mass -> (n-1)/n-ish; staged ppm exact") {
    val even = (1 to 4).flatMap(k => Seq.fill(5)(s"k$k")).toDF("k")
    assert(graft.ops.Quality.gini(even, "k").collect().head.getLong(2) == 0L)
    // one key holds 97 of 100 rows, three singletons:
    // sorted x = (1,1,1,97), ranks 1..4: rx = 1+2+3+388 = 394
    val conc = (Seq.fill(97)("big") ++ Seq("a", "b", "c")).toDF("k")
    val g = graft.ops.Quality.gini(conc, "k").collect().head
    assert(g.getLong(0) == 4L && g.getLong(1) == 100L)
    assert(g.getLong(2) == ((2L * 394L - 5L * 100L) * 1000L / 4L) * 1000L / 100L)
  }

  test("ksDrift: identical halves -> 0; planted shift -> d at the crossing band") {
    def ns(us: Long) = us * 1000L
    val same = (0 until 40).flatMap { i =>
      Seq(("t", ns(i.toLong), (i % 4).toDouble),
        ("t", ns(1000000L + i), (i % 4).toDouble))
    }
    val z = graft.ops.Quality.ksDrift(same.toDF("g", "ts", "v"), "g",
      "ts", "v", 1.0).collect().head
    assert(z.getLong(3) == 0L)
    // half A uniform on {0,1}, half B uniform on {2,3}: D = 1 at band 1
    val shift = (0 until 40).map(i => ("t", ns(i.toLong), (i % 2).toDouble)) ++
      (0 until 40).map(i => ("t", ns(1000000L + i), (2 + i % 2).toDouble))
    val s = graft.ops.Quality.ksDrift(shift.toDF("g", "ts", "v"), "g",
      "ts", "v", 1.0).collect().head
    assert(s.getLong(3) == 1000000L && s.getLong(4) == 1L)
  }

  test("vocabGrowth == in-memory first-occurrence reference on seeded docs") {
    val rnd = new scala.util.Random(17)
    val vocab = (1 to 60).map(i => s"w$i")
    val docs = (0 until 40).map { id =>
      (id.toLong,
        (1 to 8).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = TextOps.vocabGrowth(docs.toDF("doc_id", "text"), "text",
        "doc_id", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(_._1)
    // reference: scan docs in id order, record first occurrences
    val seen = scala.collection.mutable.Set.empty[String]
    val ref = docs.sortBy(_._1).map { case (id, txt) =>
      val newW = txt.split(" ").filterNot(seen).distinct.length
      seen ++= txt.split(" ")
      (id / 10, newW.toLong, seen.size.toLong)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (cp, rows) =>
      (cp, rows.map(_._2).sum, rows.last._3)
    }
    assert(got.map(g => (g._1, g._3, g._5)) == ref)
    assert(got.map(_._2).sum == 40L)
    assert(got.last._4 == 40L)
  }

  test("zipfFit on an exact power law recovers slope -1") {
    // freq(r) = 1024 / r for r = 1..32, each word repeated freq times:
    // ln(freq) = ln(1024) - ln(rank) exactly -> slope -1, r2 1
    val words = (1 to 32).flatMap { r =>
      Seq.fill(1024 / r)(s"w${"%02d".format(r)}")
    }
    // one word per doc keeps the split trivial
    val f = TextOps.zipfFit(words.map(Tuple1.apply).toDF("text"), "text",
      minCount = 1L).collect().head
    assert(f.getLong(0) == 32L)
    assert(math.abs(f.getDouble(1) + 1.0) < 0.01, s"slope ${f.getDouble(1)}")
    assert(f.getDouble(3) > 0.999, s"r2 ${f.getDouble(3)}")
  }

  test("mutualInfo: bijective dependence -> MI == H(a) exactly; independence -> ~0") {
    // b = a: every cell is its own marginal -> identical quantized terms
    val dep = (0 until 100).map(i => (s"k${i % 4}", s"k${i % 4}"))
    val d = graft.ops.Quality.mutualInfo(dep.toDF("a", "b"), "a", "b")
      .collect().head
    assert(d.getDouble(1) == d.getDouble(2) && d.getDouble(2) == d.getDouble(3))
    assert(d.getDouble(1) > 1.3) // ln(4) ~ 1.386 for the uniform 4-way
    // independent uniform grid: every (a,b) cell has c*N == ca*cb
    val ind = for (i <- 0 until 4; j <- 0 until 5; _ <- 0 until 3)
      yield (s"a$i", s"b$j")
    val z = graft.ops.Quality.mutualInfo(ind.toDF("a", "b"), "a", "b")
      .collect().head
    assert(z.getDouble(1) == 0.0)
    assert(z.getLong(0) == 20L)
  }

  test("streamingDebounce is invariant to batch boundaries and == batch minus open bursts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming
    val gap = 10L
    // key (1,x): bursts {0,5,9}, {30}, {60} (last open); key (2,y): {0} open
    val rows = Seq(
      Streaming.DebEvent(1, "x", 0, 1), Streaming.DebEvent(1, "x", 5, 2),
      Streaming.DebEvent(1, "x", 9, 3), Streaming.DebEvent(1, "x", 30, 4),
      Streaming.DebEvent(1, "x", 60, 5), Streaming.DebEvent(2, "y", 0, 6))
    def run(chunks: Seq[Seq[Streaming.DebEvent]]): Set[Streaming.DebBurst] = {
      val mem = MemoryStream[Streaming.DebEvent](spark)
      val out = s"r8c_deb_${System.nanoTime()}"
      val q = Streaming.streamingDebounce(mem.toDS(), gap)
        .writeStream.outputMode("append").format("memory")
        .queryName(out).start()
      try {
        chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
        spark.table(out).as[Streaming.DebBurst].collect().toSet
      } finally { q.stop(); spark.catalog.dropTempView(out) }
    }
    val one = run(Seq(rows))
    val split = run(Seq(rows.take(2), rows.slice(2, 4), rows.drop(4)))
    assert(one == split)
    assert(one == Set(
      Streaming.DebBurst(1, "x", 1, 0, 1, 3, 2),
      Streaming.DebBurst(1, "x", 2, 30, 4, 1, 0)))
  }

  test("triangleCounts == brute force on random graphs; K4/path sanity") {
    // K4: every node sits in C(3,2) = 3 triangles
    val k4 = (for (i <- 0 until 4; j <- i + 1 until 4) yield (i.toLong, j.toLong))
    val gk4 = graft.ops.Graph.triangleCounts(k4.toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gk4 == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // path graph: no triangles at all
    val path = (0L until 5L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(graft.ops.Graph.triangleCounts(path.toDF("a", "b"), "a", "b")
      .count() == 0L)
    // random graphs vs in-memory brute force
    for (seed <- Seq(3, 27)) {
      val rnd = new scala.util.Random(seed)
      val edges = (for (i <- 0 until 14; j <- i + 1 until 14
        if rnd.nextInt(3) == 0) yield (i.toLong, j.toLong))
      val got = graft.ops.Graph.triangleCounts(edges.toDF("a", "b"),
        "a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val adj = edges.toSet
      def conn(x: Long, y: Long) = adj((x min y, x max y))
      val ref = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for (i <- 0L until 14L; j <- i + 1 until 14L; k <- j + 1 until 14L
        if conn(i, j) && conn(j, k) && conn(i, k)) {
        ref(i) += 1; ref(j) += 1; ref(k) += 1
      }
      assert(got == ref.toMap, s"seed $seed")
    }
  }

  test("recordLinkage: planted variant verified, cross-block twins never meet") {
    val rows = Seq(
      (1L, "smith john", "NY"), (2L, "smith jon", "NY"),   // dist 1, same block
      (3L, "smith john", "CA"),                            // twin, other block
      (4L, "jones mary", "NY"), (5L, "totally else", "NY"))
    val got = graft.ops.Dedup.recordLinkage(rows.toDF("id", "nm", "st"),
        "id", "nm", Seq("st"), maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(got == Set((1L, 2L, 1L)))
  }

  test("residualAnomalies: spike on a trending+seasonal series tops; clean series ~0") {
    // counts = 10 + b (trend) + 20*(hod==3) (seasonal), 4 days hourly
    def series(spike: Map[Long, Long]) = (0 until 96).flatMap { b =>
      val c = 10 + b / 4 + (if (b % 24 == 3) 20 else 0) +
        spike.getOrElse(b.toLong, 0L).toInt
      Seq.fill(c)(("t", b * 3600L * 1000000000L))
    }
    val clean = Events.residualAnomalies(
      series(Map.empty).toDF("event_type", "ts"), "event_type", "ts",
      3600000000L, 5).collect()
    // trend + seasonality both removed: residuals are quantization dust
    assert(clean.forall(r => math.abs(r.getDouble(5)) < 1500.0),
      clean.map(_.getDouble(5)).mkString(","))
    val spiked = Events.residualAnomalies(
      series(Map(50L -> 40L)).toDF("event_type", "ts"), "event_type",
      "ts", 3600000000L, 5).collect()
    val top = spiked.find(_.getInt(1) == 1).get
    assert(top.getLong(2) == 50L, s"bin ${top.getLong(2)}")
    assert(top.getDouble(5) > 25000.0, s"dev ${top.getDouble(5)}")
  }

  test("seriesCorrelation: planted 2h shift peaks at lag +2 with r 1.0; antiphase -> -1") {
    // type a: counts 1..48 cyclic pattern; type b = a shifted by +2 bins
    def at(b: Int) = 5 + (b % 7) * 3
    val ev = (0 until 48).flatMap { b =>
      Seq.fill(at(b))(("a", b * 3600L * 1000000000L)) ++
        Seq.fill(at(b - 2))(("b", b * 3600L * 1000000000L))
    }
    val rows = Events.seriesCorrelation(ev.toDF("event_type", "ts"),
        "event_type", "ts", 3600000000L, maxLag = 3)
      .collect().map(r => (r.getLong(2), r.getDouble(4), r.getBoolean(5)))
    val best = rows.find(_._3).get
    assert(best._1 == 2L && best._2 == 1.0, best.toString)
    // antiphase: c = K - a on the same bins -> r == -1.0 at lag 0
    val ev2 = (0 until 48).flatMap { b =>
      Seq.fill(at(b))(("a", b * 3600L * 1000000000L)) ++
        Seq.fill(30 - at(b))(("c", b * 3600L * 1000000000L))
    }
    val anti = Events.seriesCorrelation(ev2.toDF("event_type", "ts"),
        "event_type", "ts", 3600000000L, maxLag = 0)
      .collect().head
    assert(anti.getDouble(4) == -1.0)
  }

  test("rfm: planted extremes land in the right quintile cells") {
    // 10 users: user i has recency i days, frequency 10-i, monetary
    // proportional to 10-i -> user 0 is the 555 champion, user 9 the 111
    val now = 100L * 86400L * 1000000000L
    val ev = (0 until 10).flatMap { u =>
      (0 until (10 - u)).map { k =>
        (u.toLong, now - (u.toLong * 86400L + k) * 1000000000L * 1000L,
          (10 - u) * 10.0)
      }
    }
    val got = Events.rfm(ev.toDF("user_id", "ts", "value"), "user_id",
        "ts", "value", nowUs = now / 1000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7))).toMap
    assert(got(0L) == ((5L, 5L, 5L, 555L)), got(0L).toString)
    assert(got(9L) == ((1L, 1L, 1L, 111L)), got(9L).toString)
    // monotone: scores never increase as the user index worsens
    val ordered = (0 until 10).map(u => got(u.toLong))
    assert(ordered.sliding(2).forall(p => p(0)._1 >= p(1)._1 &&
      p(0)._2 >= p(1)._2 && p(0)._3 >= p(1)._3))
  }

  test("burstiness: constant series -> fano 0; 0/2 alternation -> fano 1") {
    val flat = (0 until 24).flatMap(b =>
      Seq.fill(7)(("t", b * 3600L * 1000000000L)))
    val f = Events.burstiness(flat.toDF("event_type", "ts"),
      "event_type", "ts", 3600000000L).collect().head
    assert(f.getLong(2) == 7000L && f.getDouble(3) == 0.0
      && f.getDouble(4) == 0.0)
    // alternating 0 and 2: mean 1, population var 1 -> fano 1, cv2 1.
    // Odd-index bins carry the events; bin 0/last must be nonempty so
    // the grid spans exactly the intended range -> use bins 0..23 with
    // events at EVEN bins (bin 0 occupied).
    val alt = (0 until 24 by 2).flatMap(b =>
      Seq.fill(2)(("t", b * 3600L * 1000000000L)))
    val a = Events.burstiness(alt.toDF("event_type", "ts"),
      "event_type", "ts", 3600000000L).collect().head
    // grid range is [0, 22]: 23 bins, 12 occupied with 2 -> mean 24/23
    assert(a.getLong(1) == 23L)
    assert(a.getDouble(3) > 0.9 && a.getDouble(4) > 0.8, a.toString)
  }

  test("ops panel rows agree with the standalone detectors on the fixture") {
    val sf = "/root/testdata/sf0.001"
    val panel = graft.SparkEntry.queries("q433_ops_panel")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val ev = graft.core.Tables(spark, sf, "events")
    val cus = Events.cusumDrift(ev, "event_type", "ts", 3600000000L, 4L, 3L)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val burst = Events.burstiness(ev, "event_type", "ts", 3600000000L)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(panel.keySet == burst.keySet)
    panel.foreach { case (et, row) =>
      assert(row.getLong(5) == cus.getOrElse(et, 0L), s"$et alarms")
      assert(row.getDouble(3) == burst(et), s"$et fano")
    }
  }

  test("needle haystack: checksum matches an in-memory replant at the declared position") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("q434_needle_haystack")(
        spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toMap
    val docs = graft.core.Tables(spark, sf, "documents")
      .where(col("doc_id") % 7 === 0)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == docs.keySet && got.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.foreach { case (id, text) =>
      val w = text.split(" ", -1)
      val depth = Seq(10L, 25L, 50L, 75L, 90L)(((id / 7) % 5).toInt)
      val pos = (w.length * depth / 100).toInt
      val planted = (w.take(pos) ++ Array(s"needle$id marker") ++
        w.drop(pos)).mkString(" ")
      val sum = md.digest(planted.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(got(id) == ((depth, w.length.toLong, pos.toLong, sum)), s"doc $id")
    }
  }

  test("shotBoundaries: flat energy -> none; step change -> one cut; relative threshold") {
    // 64-byte frames of 'a' (97) then 'z' (122): |delta| = 64*25 = 1600,
    // 30% of max(7808, 6208) = 2342 -> NOT a cut at 30%, IS at 20%
    val gentle = ("a" * 128) + ("z" * 128)
    // 'a' frames then '!' (33) frames: delta 64*64=4096 vs 30% of 6208 -> cut
    val sharp = ("a" * 128) + ("!" * 128)
    val flat = "a" * 256
    val media = Multimodal.asMediaTable(
      Seq((1L, gentle), (2L, sharp), (3L, flat)).toDF("id", "txt"),
      "id", "txt")
    val cuts30 = Multimodal.shotBoundaries(media, 64, 30L)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cuts30 == Set((2L, 2)))
    val cuts20 = Multimodal.shotBoundaries(media, 64, 20L)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cuts20 == Set((1L, 2), (2L, 2)))
    // shot_no ranks boundaries per media
    val multi = Multimodal.asMediaTable(
      Seq((9L, ("a" * 64) + ("!" * 64) + ("a" * 64) + ("!" * 64)))
        .toDF("id", "txt"), "id", "txt")
    val sn = Multimodal.shotBoundaries(multi, 64, 30L)
      .collect().map(r => (r.getInt(1), r.getLong(5))).toSeq.sorted
    assert(sn == Seq((1, 1L), (2, 2L), (3, 3L)))
  }
}
