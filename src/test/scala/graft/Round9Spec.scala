package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Events, Quality, Scale}

/** Round-9 regression proofs: the signed-zero normalization helper
  * (q322 postmortem), the three ADVICE overflow/domain bugs (fuzzyPairs
  * byte-verify, fileAssign multiply-first banding, olsSums raw-b long
  * wrap), the HLL distinct-state fold contracts, and the two new ops
  * (sessionize, winsorizedMean) against brute-force expectations.
  */
class Round9Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("zround: tiny negatives round to +0.0, never -0.0 (q322 class)") {
    val vals = Seq(-1e-9, -4.9e-7, 4.9e-7, -0.0, 0.0,
      1.2345675, -1.2345675, -5.1e-7, 3.14, -3.14)
    val got = vals.toDF("x")
      .select(graft.core.Exact.zround(col("x"), 6).as("z"))
      .as[Double].collect()
    for (z <- got if z == 0.0)
      assert(java.lang.Double.doubleToRawLongBits(z) == 0L,
        s"zround emitted -0.0")
    // non-zero results are bit-identical to plain round
    val plain = vals.toDF("x").select(round(col("x"), 6)).as[Double].collect()
    for ((z, p) <- got.zip(plain) if p != 0.0)
      assert(java.lang.Double.doubleToRawLongBits(z) ==
        java.lang.Double.doubleToRawLongBits(p))
    // the tiny negatives landed at exactly +0.0 (|x| > 5e-7 rounds
    // away from zero and must survive signed)
    assert(got(0) == 0.0 && got(1) == 0.0 && got(7) == -1.0e-6)
  }

  test("fuzzyPairs verifies byte-wise (DuckDB's levenshtein domain)") {
    val words = Seq("cafe", "café", "cafés", "cafx").toDF("w")
    val got = Dedup.fuzzyPairs(words, "w")
      .as[(String, String, Long)].collect().toSet
    // 'cafe' vs 'café' is 1 CODE POINT but 2 BYTES apart — the byte
    // verify must reject it (Spark's builtin levenshtein keeps it,
    // breaking parity with the byte-wise oracle)
    assert(!got.exists(p => p._1 == "cafe" && p._2 == "café"))
    assert(got.contains(("café", "cafés", 1L)))
    assert(got.contains(("cafe", "cafx", 1L)))
  }

  test("fileAssign bands survive epoch-ns-scale ord ranges (linear layout)") {
    // x spans ~2.4e18 — the multiply-first band form (x-x0)*256 wraps
    // past a 2^55 range, scrambling file assignment; division-first
    // keeps the linear layout's files rank-contiguous, so a 1/16-range
    // predicate touches 1 of 8 files, not all of them.
    val n = 4096L
    val step = 586000000000000L // ~5.86e14; range = 4095 * step ~ 2.4e18
    val x0 = 1700000000000000000L
    val df = spark.range(n).select(col("id"),
      (col("id") * step + x0).as("x"), pmod(col("id"), lit(64L)).as("y"))
    val pred = (x0, x0 + (n / 16 - 1) * step, 0L, 63L)
    val rep = Scale.zonemapSkipReport(df, "x", "y", "id", 8, 8, Seq(pred))
      .where(col("layout") === "linear")
      .select("files_scanned", "files_total", "rows_matched")
      .as[(Long, Long, Long)].head()
    assert(rep._3 == n / 16, s"selectivity: $rep")
    assert(rep._1 <= 2, s"linear layout scanned ${rep._1}/${rep._2} files " +
      "for a 1/16-range predicate — banding wrapped")
  }

  test("olsSums: raw-b moments don't wrap at epoch-scale bucket ids") {
    // 12,000 minute bins in 2026: b ~ 2.945e7, sum(b*b) ~ 1.04e19 >
    // Long.MaxValue — the pre-fix long accumulator wraps silently.
    val n = 12000
    val t0ns = 1767225600000000000L // 2026-01-01
    val rows = (0 until n).flatMap { i =>
      val ts = t0ns + i.toLong * 60000000000L
      if (i % 2 == 0) Seq(("a", ts), ("a", ts + 1000000000L))
      else Seq(("a", ts))
    }
    val got = Events.olsTrend(rows.toDF("event_type", "ts"),
        "event_type", "ts", 60000000L)
      .select("n_bins", "slope", "intercept", "r2")
      .as[(Long, Double, Double, Double)].head()
    // brute-force the shifted sums exactly (x = 0..n-1, y = 2,1,2,1,…)
    val y = (0 until n).map(i => if (i % 2 == 0) 2L else 1L)
    val nn = n.toLong
    val sx = (0L until nn).sum
    val sy = y.sum
    val sxy = y.zipWithIndex.map { case (c, i) => i * c }.sum
    val sxx = (0L until nn).map(i => i * i).sum
    val syy = y.map(c => c * c).sum
    val dxx = nn * sxx - sx * sx; val dyy = nn * syy - sy * sy
    val dxy = nn * sxy - sx * sy
    def r6(d: Double) = BigDecimal(d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._1 == nn)
    assert(got._2 == r6(dxy.toDouble / dxx.toDouble) + 0.0)
    assert(got._3 == r6((sy * sxx - sx * sxy).toDouble / dxx.toDouble) + 0.0)
    assert(got._4 == r6(dxy.toDouble * dxy.toDouble /
      (dxx.toDouble * dyy.toDouble)))
  }

  test("foldHllState: nShards contract, bootstrap == direct, order-invariant, 5%") {
    val sf = "/root/testdata/sf0.001"
    val ev = graft.core.Tables(spark, sf, "events")
      .where(col("event_id").isNotNull && col("user_id").isNotNull)
    val snap = ev.where(pmod(col("event_id"), lit(5L)) =!= 0)
    val d1 = ev.where(pmod(col("event_id"), lit(10L)) === 0)
    val d2 = ev.where(pmod(col("event_id"), lit(10L)) === 5)
    val dir = java.nio.file.Files.createTempDirectory("hll9").toString
    // contract: a fold with a different shard count is refused
    Scale.writeHllState(snap, "event_type", "user_id", 16, s"$dir/s0")
    intercept[IllegalArgumentException](
      Scale.foldHllState(spark, s"$dir/s0", d1, "event_type", "user_id", 8))
    // day-0 bootstrap: fold into an EMPTY state == the delta's own
    // one-pass sketches (the empty side passes the delta through
    // un-unioned, so even the HIP estimator survives)
    Scale.writeHllState(ev.where(lit(false)), "event_type", "user_id",
      16, s"$dir/empty")
    val boot = Scale.hllEstimate(Scale.foldHllState(spark, s"$dir/empty",
        d1, "event_type", "user_id", 16), "event_type")
      .select("event_type", "n_unique_est").as[(String, Long)].collect().toMap
    val direct = d1.select(col("event_type"),
        pmod(xxhash64(col("user_id")), lit(16L)).as("sh"),
        col("user_id").as("k"))
      .groupBy("event_type", "sh")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("k"), lit(12))).as("e"))
      .groupBy("event_type").agg(sum(col("e")).as("est"))
      .as[(String, Long)].collect().toMap
    assert(boot == direct)
    // fold order invariance (register-wise max is batch-invariant)
    def fold2(a: org.apache.spark.sql.DataFrame,
              b: org.apache.spark.sql.DataFrame, tag: String) = {
      Scale.foldHllState(spark, s"$dir/s0", a, "event_type", "user_id", 16)
        .write.parquet(s"$dir/$tag/sketches")
      Scale.hllEstimate(Scale.foldHllState(spark, s"$dir/$tag", b,
          "event_type", "user_id", 16), "event_type")
        .select("event_type", "n_unique_est")
        .as[(String, Long)].collect().toMap
    }
    val e12 = fold2(d1, d2, "o12"); val e21 = fold2(d2, d1, "o21")
    assert(e12 == e21)
    // accuracy: folded estimate within 5% of exact
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    for ((g, est) <- e12)
      assert(math.abs(est - exact(g)).toDouble / exact(g) < 0.05,
        s"$g: est=$est exact=${exact(g)}")
  }

  test("sessionize: gap islands, counts, and durations (brute-forced)") {
    // user 1: sessions [0,500], [1600,2000], [5000] at gap 1000us
    val us = Seq(0L, 500L, 1600L, 2000L, 5000L)
    val df = us.map(u => (1L, u * 1000L)).toDF("user_id", "ts")
    val got = Events.sessionize(df, "user_id", "ts", 1000L)
      .orderBy("session_id")
      .select("session_id", "n_events", "start_us", "end_us", "dur_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 0L, 500L, 500L),
      (2L, 2L, 1600L, 2000L, 400L), (3L, 1L, 5000L, 5000L, 0L)))
    // invariant on the fixture: session event counts partition events
    val sf = "/root/testdata/sf0.001"
    val ev = graft.core.Tables(spark, sf, "events")
    val sess = Events.sessionize(ev, "user_id", "ts", 1800000000L)
    assert(sess.agg(sum("n_events")).head().getLong(0) ==
      ev.where(col("user_id").isNotNull).count())
    assert(sess.where(col("end_us") < col("start_us")).count() == 0)
  }

  test("cmsSketch/foldCms/cmsEstimate: est >= exact always, fold == rebuild") {
    val rows = ((1 to 400).map(i => ("g", s"k${i % 37}")) ++
      (1 to 50).map(_ => ("g", "hot")) ++
      (1 to 200).map(i => ("h", s"k${i % 11}"))).toDF("g", "k")
    val a = rows.where(pmod(xxhash64(col("k")), lit(3L)) =!= 0)
    val b = rows.where(pmod(xxhash64(col("k")), lit(3L)) === 0)
    val folded = Scale.foldCms(Scale.cmsSketch(a, "g", "k", 4, 64),
      Scale.cmsSketch(b, "g", "k", 4, 64), "g")
    val rebuild = Scale.cmsSketch(rows, "g", "k", 4, 64)
    assert(folded.exceptAll(rebuild).isEmpty &&
      rebuild.exceptAll(folded).isEmpty)
    // the deterministic CMS side: estimate >= exact for EVERY key
    // (width 64 << 37 keys forces real collisions, so overcounts occur)
    val est = Scale.cmsEstimate(rebuild, rows.distinct(), "g", "k", 4, 64)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val exact = rows.groupBy("g", "k").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(exact.forall { case (k, n) => est(k) >= n })
    assert(est(("g", "hot")) >= 50L)
    // absent key probes never go negative
    val miss = Scale.cmsEstimate(rebuild,
        Seq(("g", "never-seen")).toDF("g", "k"), "g", "k", 4, 64)
      .as[(String, String, Long)].head()
    assert(miss._3 >= 0L)
  }

  test("sourceJsd: zero for identical profiles, symmetric-bounded") {
    val docs = (1 to 50).flatMap { i =>
      val txt = s"alpha beta gamma delta token$i"
      Seq((i.toLong, txt, "same_a"), (i.toLong + 100, txt, "same_b"),
        (i.toLong + 200, s"zeta eta theta iota other$i", "diff"))
    }.toDF("doc_id", "text", "source")
    val got = graft.ops.Corpus.sourceJsd(docs, "text", "source")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // identical word multisets -> identical profiles -> JSD exactly 0
    assert(got(("same_a", "same_b")) == 0.0)
    // disjoint-heavy pairs are strictly positive and <= ln 2
    for ((p, v) <- got) {
      assert(v >= 0.0 && v <= 0.693148, s"$p -> $v")
      if (p._1 == "diff" || p._2 == "diff") assert(v > 0.1, s"$p -> $v")
    }
  }

  test("kcorePeel: brute-force tiny graph; fixture peel reaches fixpoint by round 12") {
    // K4 on {1,2,3,4} plus a pendant chain 4-5, 5-6: the 3-core is
    // exactly the K4 (every node degree 3); 5 and 6 peel off.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    val got = graft.ops.Graph.kcorePeel(edges, "a", "b", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // the q461 graph converges within the 12-round bound: round 12 ==
    // round 13 (so the bounded-peel output IS the true 3-core there)
    val sf = "/root/testdata/sf0.001"
    val l = graft.core.Tables(spark, sf, "lineitem")
      .where(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val co = l.toDF("o", "a").join(l.toDF("o", "b"), "o")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .where(col("w") >= 2)
      .localCheckpoint(true)
    val r12 = graft.ops.Graph.kcorePeel(co, "a", "b", 3, rounds = 12)
      .as[(Long, Long)].collect().toSet
    val r13 = graft.ops.Graph.kcorePeel(co, "a", "b", 3, rounds = 13)
      .as[(Long, Long)].collect().toSet
    assert(r12 == r13 && r12.nonEmpty)
  }

  test("sessionize rollup invariants (q459 legs)") {
    val sf = "/root/testdata/sf0.001"
    val ev = graft.core.Tables(spark, sf, "events")
    val sess = Events.sessionize(ev, "user_id", "ts", 1800000000L)
    val buckets = sess.withColumn("bucket",
        when(col("n_events") === 1, "1").when(col("n_events") <= 2, "2")
          .when(col("n_events") <= 5, "3-5")
          .when(col("n_events") <= 10, "6-10").otherwise("11+"))
      .groupBy("bucket").count().as[(String, Long)].collect().toMap
    assert(buckets.values.sum == sess.count())
  }

  test("window count state: binUs contract, fold == rebuild, expiry real") {
    val dir = java.nio.file.Files.createTempDirectory("win9").toString
    // hourly buckets over a 10-bucket span; window = 4 buckets
    val t0 = 1704067200000000000L
    def ev(b: Int, n: Int) = (1 to n).map(i =>
      ("a", t0 + b.toLong * 3600000000000L + i.toLong * 1000000L))
    val snap = (0 to 6).flatMap(b => ev(b, b + 1)).toDF("event_type", "ts")
    val delta = (7 to 9).flatMap(b => ev(b, 2)).toDF("event_type", "ts")
    Scale.writeWindowState(snap, "event_type", "ts", 3600000000L, 4,
      s"$dir/s")
    intercept[IllegalArgumentException](Scale.foldWindowState(spark,
      s"$dir/s", delta, "event_type", "ts", 60000000L, 4))
    val folded = Scale.foldWindowState(spark, s"$dir/s", delta,
      "event_type", "ts", 3600000000L, 4)
    val got = Scale.windowTotals(folded, "event_type")
      .as[(String, Long, Long, Long)].head()
    // horizon = bucket 9; window = buckets 6..9: snap bucket 6 (7 evs)
    // + delta 7,8,9 (2 each) — state contributes AND buckets 0-5
    // expired (both branches real)
    assert(got == (("a", 13L, 4L, 7L)))
    // fold == rebuild over the same rows
    Scale.writeWindowState(snap.unionByName(delta), "event_type", "ts",
      3600000000L, 4, s"$dir/r")
    val rb = spark.read.parquet(s"$dir/r/buckets")
    assert(folded.exceptAll(rb).isEmpty && rb.exceptAll(folded).isEmpty)
  }

  test("ewmaAnomalies: exact binary half-life weights (brute-forced)") {
    // 45 hourly buckets, count = 1 everywhere except a spike of 100 at
    // bucket 43. At any full-horizon bucket before the spike, the
    // history is all-ones: W = 2^40 - 1, ewma_milli = exactly 1000.
    val t0 = 1704067200000000000L
    val rows = (0 until 45).flatMap { b =>
      val n = if (b == 43) 100 else 1
      (1 to n).map(i => ("a", t0 + b.toLong * 3600000000000L + i.toLong))
    }.toDF("event_type", "ts")
    val got = Events.ewmaAnomalies(rows, "event_type", "ts", 3600000000L)
      .orderBy("rank")
      .select("rank", "bin", "c", "ewma_milli", "dev_milli")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    val b0 = t0 / 1000 / 3600000000L
    // rank 1: the spike bucket (history all-ones -> ewma exactly 1000)
    assert(got.head == ((1, b0 + 43, 100L, 1000L, 99000L)))
    // rank 2: the bucket AFTER the spike — W = (2^40-1) - 2^39 + 100*2^39
    val w2 = BigInt(2).pow(40) - 1 - BigInt(2).pow(39) + 100 * BigInt(2).pow(39)
    val e2 = (w2 * 1000 / (BigInt(2).pow(40) - 1)).toLong
    assert(got(1) == ((2, b0 + 44, 1L, e2, 1000L - e2)))
  }

  test("sessionFunnel: within-session conversion (brute-forced)") {
    val t0 = 1704067200000000000L
    def e(u: Long, offUs: Long, ty: String) = (u, t0 + offUs * 1000L, ty)
    val rows = Seq(
      // user 1 session 1: signup then purchase -> converted
      e(1, 0, "signup"), e(1, 100, "purchase"),
      // user 1 session 2 (2h later): purchase BEFORE signup, none after
      e(1, 7200000000L, "purchase"), e(1, 7200000100L, "signup"),
      // user 2: one session, no signup at all
      e(2, 0, "view"), e(2, 50, "purchase"),
      // user 3: signup, no purchase
      e(3, 0, "signup")
    ).toDF("user_id", "ts", "event_type")
    val got = Events.sessionFunnel(rows, "user_id", "ts", "event_type",
        1800000000L, "signup", "purchase")
      .as[(Long, Long, Long, Option[Long])].head()
    assert(got == ((4L, 3L, 1L, Some(333333L))))
  }

  test("quantileBands: exact order statistics (brute-forced)") {
    val df = (1 to 100).map(v => ("a", v.toDouble)).toDF("g", "v")
    val got = Quality.quantileBands(df, "g", col("v"))
      .select("n", "p25_cents", "p50_cents", "p75_cents", "p90_cents",
        "p99_cents")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(got == ((100L, 2500L, 5000L, 7500L, 9000L, 9900L)))
  }

  test("sessionState fold: boundary merge, close, bootstrap, gap contract") {
    val dir = java.nio.file.Files.createTempDirectory("sess9").toString
    val t0 = 1704067200000000000L
    def e(u: Long, offUs: Long) = (u, t0 + offUs * 1000L)
    // cut at offset 1000us. gap 300us.
    // user 1: 800 | 1000 -> spans the cut, MUST merge (gap 200 <= 300)
    // user 2: 100 | 1000 -> tail closes (gap 900 > 300), delta separate
    // user 3: snap only (stays open through the fold)
    // user 4: delta only (bootstrap-within-fold), two sessions
    val snap = Seq(e(1, 800), e(2, 100), e(3, 0)).toDF("user_id", "ts")
    val delta = Seq(e(1, 1000), e(2, 1000), e(4, 1000), e(4, 2000))
      .toDF("user_id", "ts")
    Events.writeSessionState(snap, "user_id", "ts", 300L, s"$dir/s")
    intercept[IllegalArgumentException](Events.foldSessionState(spark,
      s"$dir/s", delta, "user_id", "ts", 999L))
    val got = Events.foldSessionState(spark, s"$dir/s", delta,
        "user_id", "ts", 300L)
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events", "start_us", "dur_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val base = t0 / 1000
    assert(got == Seq(
      (1L, 1L, 2L, base + 800, 200L),
      (2L, 1L, 1L, base + 100, 0L), (2L, 2L, 1L, base + 1000, 0L),
      (3L, 1L, 1L, base, 0L),
      (4L, 1L, 1L, base + 1000, 0L), (4L, 2L, 1L, base + 2000, 0L)))
    // fold == from-scratch sessionize over the union
    val full = Events.sessionize(snap.unionByName(delta), "user_id",
        "ts", 300L)
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events", "start_us", "dur_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == full)
    // day-0 bootstrap: empty state folds to exactly the delta sessions
    Events.writeSessionState(snap.where(lit(false)), "user_id", "ts",
      300L, s"$dir/empty")
    val boot = Events.foldSessionState(spark, s"$dir/empty", delta,
        "user_id", "ts", 300L)
      .select("user_id", "session_id", "n_events").as[(Long, Long, Long)]
      .collect().toSet
    assert(boot == Set((1L, 1L, 1L), (2L, 1L, 1L), (4L, 1L, 1L),
      (4L, 2L, 1L)))
  }

  test("shardSplitReport: divisor doubling scatters into 2, 16->24 into 3") {
    val keys = (1 to 5000).map(i => s"user$i").toDF("k")
    val d32 = Scale.shardSplitReport(keys, "k", 16, 32)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(d32.length == 16 && d32.forall(_._4 <= 2))
    val d24 = Scale.shardSplitReport(keys, "k", 16, 24)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(d24.forall(_._4 <= 3) && d24.exists(_._4 == 3))
    // moved <= n_keys and ppm consistent
    for (r <- d32 ++ d24) {
      assert(r._3 <= r._2)
      assert(r._5 == r._3 * 1000000L / r._2)
    }
  }

  test("joinExplosionAudit: exact per-key products (brute-forced)") {
    val a = Seq("x", "x", "x", "y", "z").toDF("k")
    val b = Seq("x", "x", "y", "y", "y", "w").toDF("k")
    val got = Scale.joinExplosionAudit(a, b, "k", 10)
      .select("key", "n_a", "n_b", "rows_out", "share_ppm")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // x: 3*2=6, y: 1*3=3; total 9; z/w never match
    assert(got == Seq(("x", 3L, 2L, 6L, 666666L),
      ("y", 1L, 3L, 3L, 333333L)))
    assert(got.map(_._4).sum ==
      a.join(b, "k").count())
  }

  test("Cdc.apply/scd2: latest-state merge and validity intervals (brute-forced)") {
    // key 1: I then U -> survives with the U value, 2 ops
    // key 2: I then D -> deleted
    // key 3: I, D, U (reinsert-by-update) -> survives with last value
    // key 4: tie at same ts -> higher event_id wins
    val ch = Seq(
      (1L, 10L, 100L, "I", 11L), (1L, 20L, 101L, "U", 12L),
      (2L, 10L, 200L, "I", 21L), (2L, 30L, 201L, "D", 22L),
      (3L, 10L, 300L, "I", 31L), (3L, 20L, 301L, "D", 32L),
      (3L, 30L, 302L, "U", 33L),
      (4L, 10L, 400L, "I", 41L), (4L, 10L, 401L, "U", 42L)
    ).toDF("user_id", "tus", "event_id", "op", "vc")
    val snap = graft.ops.Cdc.apply(ch, "user_id", col("tus"),
        col("event_id"), col("op"), col("vc"))
      .as[(Long, Long, Long)].collect().toSet
    assert(snap == Set((1L, 2L, 12L), (3L, 3L, 33L), (4L, 2L, 42L)))
    val hist = graft.ops.Cdc.scd2(ch, "user_id", col("tus"),
        col("event_id"), col("op"), col("vc"))
      .where(col("user_id") === 3L)
      .orderBy("version")
      .select("version", "valid_from_us", "valid_to_us", "is_current")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
    assert(hist == Seq((1L, 10L, Some(20L), false),
      (2L, 20L, Some(30L), false), (3L, 30L, None, true)))
    // every key's intervals tile: valid_to(n) == valid_from(n+1)
    val all = graft.ops.Cdc.scd2(ch, "user_id", col("tus"),
        col("event_id"), col("op"), col("vc"))
    assert(all.where(col("is_current")).count() == 4)
  }

  test("collocations + fightinWords: known-corpus properties") {
    // 'new york' always co-occurs; 'the' pairs with everything
    val docs = ((1 to 30).map(i => (i.toLong,
        "the cat sat on the mat near new york city", "a")) ++
      (1 to 30).map(i => (i.toLong + 100,
        "quantum flux capacitors emit quantum flux noise", "b")))
      .toDF("doc_id", "text", "source")
    val col20 = graft.ops.TextOps.collocations(docs, "text", 5L, 20)
      .as[(String, Long, Long, Long, Double)].collect()
    val byB = col20.map(r => r._1 -> r._5).toMap
    // a deterministic collocation ranks above a function-word pair
    assert(byB("new york") > byB("the cat"))
    assert(col20.forall(r => r._2 >= 5))
    val fw = graft.ops.TextOps.fightinWords(docs, "text", "source")
      .as[(String, Long, String, Long, Double)].collect()
    val topA = fw.filter(r => r._1 == "a" && r._2 <= 3).map(_._3).toSet
    val topB = fw.filter(r => r._1 == "b" && r._2 <= 3).map(_._3).toSet
    // each source's distinctive vocabulary surfaces, with positive z
    assert(topA.subsetOf(Set("the", "cat", "sat", "on", "mat", "near",
      "new", "york", "city")))
    assert(topB.subsetOf(Set("quantum", "flux", "capacitors", "emit",
      "noise")))
    assert(fw.filter(_._2 == 1).forall(_._5 > 0.0))
  }

  test("seasonalNaiveError: planted spike error accounting (brute-forced)") {
    val t0 = 1704067200000000000L
    val rows = (0 until 200).flatMap { b =>
      val n = if (b == 170) 6 else 1
      (1 to n).map(i => ("a", t0 + b.toLong * 3600000000000L + i.toLong))
    }.toDF("event_type", "ts")
    val got = Events.seasonalNaiveError(rows, "event_type", "ts",
        3600000000L)
      .select("n_bins", "mae_milli", "wape_ppm", "vs_naive1_ppm")
      .as[(Long, Long, Long, Long)].head()
    // scored bins 168..199 (32); es = |6-1| at bin 170 = 5;
    // e1 = 5 (169->170) + 5 (170->171) = 10; actual = 32 + 5 = 37
    assert(got == ((32L, 5L * 1000 / 32, 5L * 1000000 / 37,
      5L * 1000000 / 10)))
  }

  test("columnProfile: null/NaN accounting and quantized extrema") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 1.25), (2L, Double.NaN), (3L, null), (null, 4.5), (2L, 0.0))
      .toDF("id", "v")
    val got = Quality.columnProfile(df, Seq(
        ("id", col("id")),
        ("v_cents", when(col("v").isNull || isnan(col("v")), lit(null))
          .otherwise(floor(col("v") * 100.0 + 0.5)).cast("long"))))
      .as[(String, Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("id") == (("id", 5L, 1L, 200000L, 3L, Some(1L), Some(3L))))
    // NaN maps to null by the quantizer's documented choice
    assert(got("v_cents") ==
      (("v_cents", 5L, 2L, 400000L, 3L, Some(0L), Some(450L))))
  }

  test("weekday/weekend day-class math and daily-rate normalization") {
    // 1970-01-03 (epoch day 2) is a Saturday; 1970-01-05 (day 4) Monday
    assert(java.time.LocalDate.ofEpochDay(2).getDayOfWeek ==
      java.time.DayOfWeek.SATURDAY)
    assert(java.time.LocalDate.ofEpochDay(3).getDayOfWeek ==
      java.time.DayOfWeek.SUNDAY)
    // synthetic: 2 weekend days with 3 events/day, 5 weekday days with
    // 2 events/day -> ratio = (6 * 5) / (10 * 2) = 1.5e6 ppm
    val rows = (Seq(2L, 3L).flatMap(d => (1 to 3).map(i => (d, i))) ++
      Seq(4L, 5L, 6L, 7L, 8L).flatMap(d => (1 to 2).map(i => (d, i))))
      .map { case (d, i) =>
        ("a", d * 86400000000000L + i.toLong * 1000000000L) }
      .toDF("event_type", "ts")
    val got = graft.SparkEntry.queries("q480_weekday_profile")(
      spark, "/root/testdata/sf0.001")
    assert(got.columns.toSeq == Seq("event_type", "n_weekday",
      "n_weekend", "weekend_share_ppm", "rate_ratio_ppm"))
    // direct op-shape check on the synthetic frame via the same exprs
    import graft.functions.PixieFunctions.{idiv, nsToUs}
    val e = rows
      .withColumn("__d", idiv(nsToUs(col("ts")), 86400000000L))
      .withColumn("__we", pmod(col("__d"), lit(7L)).isin(2L, 3L))
    val nWe = e.where(col("__we")).count()
    val nWd = e.where(!col("__we")).count()
    assert(nWe == 6 && nWd == 10)
    assert(nWe * 5 * 1000000L / (nWd * 2) == 1500000L)
  }

  test("winsorizedMean: exact order-statistic caps (brute-forced)") {
    val vals = (1 to 100).map(v => ("a", v.toDouble)) ++
      Seq(("a", Double.NaN)) // NaN excluded, n stays 100
    val df = vals.toDF("g", "v")
      .unionByName(Seq(("a", None: Option[Double])).toDF("g", "v"))
    val got = Quality.winsorizedMean(df, "g", col("v"))
      .select("n", "lo_cents", "hi_cents", "mean_raw", "mean_winsorized")
      .as[(Long, Long, Long, Double, Double)].head()
    // ranks ceil(.05*100)=5 -> 5.00, ceil(.95*100)=95 -> 95.00
    assert(got._1 == 100L && got._2 == 500L && got._3 == 9500L)
    assert(got._4 == 50.5)
    // capped sum: 4*500 + sum(500..9500 by 100) + 5*9500 = 5045000 cents
    val capped = (1 to 100).map(v => math.max(500, math.min(9500, v * 100L)))
    assert(got._5 == capped.sum / 100.0 / 100.0)
  }
}
