package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Scale, Similarity}

/** Seeded fuzz for the data-layout (z-order + zone maps) and
  * index-deletion tranche: each distributed operator vs an independent
  * in-memory reference, plus the structural invariants the operators
  * promise (balanced files, retained-bounds tombstones, hash-set
  * refcount semantics).
  */
class LayoutIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def interleaveRef(bx: Long, by: Long, bits: Int): Long =
    (0 until bits).map { k =>
      (((bx >> k) & 1L) << (2 * k)) + (((by >> k) & 1L) << (2 * k + 1))
    }.sum

  test("interleaveBits == reference Morton interleave") {
    val rnd = new scala.util.Random(97)
    val rows = (1 to 200).map(_ =>
      (rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val got = rows.toDF("bx", "byy")
      .select(Scale.interleaveBits(col("bx"), col("byy"), 8).as("z"))
      .as[Long].collect()
    rows.zip(got).foreach { case ((bx, by), z) =>
      assert(z == interleaveRef(bx, by, 8), s"($bx,$by)")
    }
    // interleave is a bijection on the 16-bit grid: distinct inputs
    // stay distinct, and the max lands at 2^16 - 1
    assert(interleaveRef(255, 255, 8) == 65535L)
  }

  /** Full in-memory re-derivation of [[Scale.zonemapSkipReport]]. */
  test("zonemapSkipReport == in-memory layout + overlap reference") {
    for (seed <- Seq(11, 47)) {
      val rnd = new scala.util.Random(seed)
      val bits = 8; val nFiles = 8
      val rows = (1 to 500).map(i =>
        (i.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(100).toLong))
      val preds: Seq[(Long, Long, Long, Long)] =
        Seq((100L, 399L, 0L, 1000L), (0L, 1000L, 20L, 39L),
          (100L, 399L, 20L, 39L))
      val (x0, x1) = (rows.map(_._2).min, rows.map(_._2).max)
      val (y0, y1) = (rows.map(_._3).min, rows.map(_._3).max)
      def bucket(v: Long, lo: Long, hi: Long) =
        (v - lo) / ((hi - lo + (1L << bits)) / (1L << bits))
      val n = rows.size.toLong
      def zones(ord: ((Long, Long, Long)) => (Long, Long)) =
        rows.sortBy(ord).zipWithIndex
          .map { case (r, i) => (i.toLong * nFiles / n, r) }
          .groupBy(_._1).map { case (f, rs) =>
            f -> (rs.map(_._2._2).min, rs.map(_._2._2).max,
              rs.map(_._2._3).min, rs.map(_._2._3).max)
          }
      val zz = zones(r => (interleaveRef(bucket(r._2, x0, x1),
        bucket(r._3, y0, y1), bits), r._1))
      val lz = zones(r => (r._2, r._1))
      val expect = preds.zipWithIndex.flatMap { case ((xl, xh, yl, yh), i) =>
        val rm = rows.count(r =>
          r._2 >= xl && r._2 <= xh && r._3 >= yl && r._3 <= yh).toLong
        Seq(("linear", lz), ("zorder", zz)).map { case (name, zm) =>
          val scanned = zm.values.count { case (mnx, mxx, mny, mxy) =>
            !(mxx < xl || mnx > xh || mxy < yl || mny > yh)
          }.toLong
          (i.toLong, name) ->
            ((scanned, zm.size.toLong,
              (zm.size - scanned) * 1000000L / zm.size, rm))
        }
      }.toMap
      val got = Scale.zonemapSkipReport(rows.toDF("rid", "x", "y"),
          "x", "y", "rid", bits, nFiles, preds)
        .select("pred_id", "layout", "files_scanned", "files_total",
          "skip_ppm", "rows_matched")
        .as[(Long, String, Long, Long, Long, Long)].collect()
      assert(got.length == expect.size, s"seed $seed row count")
      got.foreach { case (p, l, fs, ft, skip, rm) =>
        assert(expect((p, l)) == ((fs, ft, skip, rm)), s"seed $seed ($p,$l)")
      }
    }
  }

  test("zorderLayout: files balanced, zone maps cover every row exactly once") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 777).map(i =>
      (i.toLong, rnd.nextInt(512).toLong, rnd.nextInt(64).toLong))
    val nFiles = 16
    val got = Scale.zorderLayout(rows.toDF("rid", "x", "y"),
        "x", "y", "rid", 8, nFiles)
      .select("file", "n_rows", "min_x", "max_x", "min_y", "max_y")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSet == (0L until nFiles).toSet)
    assert(got.map(_._2).sum == rows.size.toLong)
    // balanced cut: file sizes differ by at most one
    assert(got.map(_._2).max - got.map(_._2).min <= 1L)
    got.foreach { case (_, _, mnx, mxx, mny, mxy) =>
      assert(mnx <= mxx && mny <= mxy)
    }
  }

  test("deleteFromDedupIndex == rebuild over remaining corpus (row sets)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta"), (4L, "iota kappa lambda mu"),
      (5L, "nu xi omicron pi"), (6L, "rho sigma tau upsilon"),
      (7L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // 2 shares 1's hash (survives deletion of 1); 7 shares 3's hash
    // (both deleted -> hash must go); 4 deleted alone
    val deleted = docs.where(col("doc_id").isin(1L, 3L, 4L, 7L))
    val remaining = docs.where(!col("doc_id").isin(1L, 3L, 4L, 7L))
    val idx = graft.queries.Fixture.tempIndexDir("graft_test_deldedup_")
    val ref = graft.queries.Fixture.tempIndexDir("graft_test_refdedup_")
    try {
      Dedup.writeDedupIndex(docs, "text", "doc_id", idx, 3, 16, 4)
      Dedup.deleteFromDedupIndex(spark, idx, docs, deleted, "text", "doc_id")
      Dedup.writeDedupIndex(remaining, "text", "doc_id", ref, 3, 16, 4)
      def rows(p: String) = spark.read.parquet(p).collect()
        .map(_.toSeq.toList).toSet
      assert(rows(s"$idx/hashes.parquet") == rows(s"$ref/hashes.parquet"))
      assert(rows(s"$idx/bands.parquet") == rows(s"$ref/bands.parquet"))
    } finally {
      graft.queries.Fixture.deleteDir(idx)
      graft.queries.Fixture.deleteDir(ref)
    }
  }

  test("deleteFromSq8Index: retained-bounds serve == reference over survivors") {
    val rnd = new scala.util.Random(73)
    val d = 8
    val vecs = (0L until 30L).map(i =>
      i -> Array.fill(d)(rnd.nextFloat() * 2f - 1f))
    val df = vecs.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    val delIds = vecs.map(_._1).filter(_ % 3 == 0).toSet
    val idx = graft.queries.Fixture.tempIndexDir("graft_test_delsq8_")
    try {
      Similarity.writeSq8Index(df, "vec_id", "embedding", idx)
      Similarity.deleteFromSq8Index(spark, idx,
        df.where(col("vec_id") % 3 === 0), "vec_id")
      // reference: encode EVERY vector against FULL-corpus bounds,
      // serve only survivors
      val cols = (0 until d).map(j => vecs.map(_._2(j).toDouble))
      val lo = cols.map(_.min); val hi = cols.map(_.max)
      def code(v: Array[Float], j: Int): Long =
        if (hi(j) == lo(j)) 0L
        else math.min(255L,
          math.floor((v(j) - lo(j)) / (hi(j) - lo(j)) * 256.0).toLong)
      def recon(c: Long, j: Int): Double =
        lo(j) + (c + 0.5) * (hi(j) - lo(j)) / 256.0
      val queries = vecs.filter(_._1 < 5)
      val expect = queries.flatMap { case (qid, qv) =>
        vecs.filterNot(v => delIds(v._1) || v._1 == qid)
          .map { case (nid, nv) =>
            val dist = (0 until d).map { j =>
              val diff = qv(j).toDouble - recon(code(nv, j), j)
              diff * diff
            }.sum
            (qid, nid, dist)
          }
          .sortBy(t => (t._3, t._2)).take(3).zipWithIndex
          .map { case ((q, nid, dist), r) => (q, nid, r + 1) }
      }.toSet
      val got = Similarity.sq8TopKIndexed(spark, idx,
          df.where(col("vec_id") < 5), "vec_id", "embedding", 3)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect()
        .map(t => (t._1, t._2, t._3)).toSet
      assert(got == expect)
      // every deleted id is gone from the code table
      val served = spark.read.parquet(s"$idx/codes")
        .select("neighbor_id").as[Long].collect().toSet
      assert(served.intersect(delIds).isEmpty)
      assert(served.size == vecs.size - delIds.size)
    } finally graft.queries.Fixture.deleteDir(idx)
  }

  test("bucketed tables: co-located join + agg run with ZERO exchanges") {
    // The 100 TB co-location lever made executable: both fact tables
    // written bucketed+sorted by the join key, the join consumes the
    // bucket layout directly — no shuffle for the join AND none for
    // the follow-on key-aligned aggregate. This is the deploy-time
    // answer to "this join shuffles 100 TB every day".
    val dir = graft.queries.Fixture.tempIndexDir("graft_bucket_")
    val sf = "/root/testdata/sf0.001"
    val orders = graft.core.Tables(spark, sf, "orders")
    val li = graft.core.Tables(spark, sf, "lineitem")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$dir/orders").mode("overwrite")
        .saveAsTable("graft_bkt_orders")
      li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$dir/lineitem").mode("overwrite")
        .saveAsTable("graft_bkt_lineitem")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bkt_orders")
        .join(spark.table("graft_bkt_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum(col("l_extendedprice")).as("rev"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(3000))
      // same answer as the plain (shuffling) join
      val expect = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey").agg(sum(col("l_extendedprice")).as("rev"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val got = j.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == expect.keySet)
      got.foreach { case (k, v) =>
        assert(math.abs(v - expect(k)) < 1e-6, s"key $k")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
      graft.queries.Fixture.deleteDir(dir)
    }
  }

  test("saltedJoin == plain join; shuffle runs on (key, salt)") {
    val rnd = new scala.util.Random(61)
    // zipf-ish hot key: ~60% of facts share key 0
    val fact = (1 to 400).map(i =>
      (i.toLong, if (rnd.nextInt(10) < 6) 0L else rnd.nextInt(8).toLong,
        rnd.nextInt(100).toLong)).toDF("fid", "k", "v")
    val dim = (0L to 7L).map(k => (k, s"dim$k")).toDF("k", "label")
    val got = Scale.saltedJoin(fact, dim, "k", "fid", 4)
      .select("fid", "k", "v", "label")
      .collect().map(_.toSeq).toSet
    val plain = fact.join(dim, "k").select("fid", "k", "v", "label")
      .collect().map(_.toSeq).toSet
    assert(got == plain)
    assert(got.size == 400)
    // the join's exchanges hash on (k, __salt) — the hot key spreads
    val plan = Scale.saltedJoin(fact, dim, "k", "fid", 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), plan.take(2000))
    // salt = 1 degenerates to the plain join exactly
    val s1 = Scale.saltedJoin(fact, dim, "k", "fid", 1)
      .select("fid", "k", "v", "label").collect().map(_.toSeq).toSet
    assert(s1 == plain)
    // a pre-existing __salt would be clobbered then dropped — refuse
    intercept[IllegalArgumentException] {
      Scale.saltedJoin(fact.withColumn("__salt", lit(0)), dim, "k",
        "fid", 2)
    }
  }

  test("zorderLayout: epoch-ns-scale dimensions do not overflow the bucketing") {
    // division-first bucketing: a ~2^60-range dim (TIME64NS) must
    // produce valid buckets, balanced files, and full row coverage —
    // the multiply-first form would wrap negative here
    val rows = (1 to 500).map(i =>
      (i.toLong, 1700000000000000000L + i.toLong * 86400L * 1000000000L,
        (i % 64).toLong))
    val got = Scale.zorderLayout(rows.toDF("rid", "t", "y"),
        "t", "y", "rid", 8, 8)
      .select("file", "n_rows", "min_x", "max_x")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._2).sum == 500L)
    assert(got.map(_._2).max - got.map(_._2).min <= 1L)
    got.foreach { case (_, _, mn, mx) => assert(mn <= mx && mn > 0) }
  }

  test("plan pins: layout ops shuffle keyed only; sq8 delete serve reads codes not embeddings") {
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val li = graft.core.Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .withColumn("rid", col("l_orderkey") * 8L + col("l_linenumber"))
    val pz = plan(Scale.zorderLayout(li, "l_partkey", "l_suppkey", "rid",
      8, 16))
    assert(!pz.contains("CartesianProduct"), pz.take(2000))
    val ps = plan(Scale.zonemapSkipReport(li, "l_partkey", "l_suppkey",
      "rid", 8, 16, Seq((0L, 10L, 0L, 10L))))
    assert(!ps.contains("CartesianProduct"), ps.take(2000))
    // the post-delete serving plan scans the CODE table only — the
    // embedding column never appears in any file scan
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val idx = graft.queries.Fixture.tempIndexDir("graft_test_sq8plan_")
    try {
      Similarity.writeSq8Index(emb, "vec_id", "embedding", idx)
      Similarity.deleteFromSq8Index(spark, idx,
        emb.where(col("vec_id") % 7 === 0), "vec_id")
      val serve = Similarity.sq8TopKIndexed(spark, idx,
        emb.where(col("vec_id") < 3), "vec_id", "embedding", 5)
      val leaves = serve.queryExecution.executedPlan.collectLeaves()
      val leafStr = leaves.mkString("\n")
      assert(leafStr.contains(idx), leafStr.take(1500))
      // only the broadcast QUERY side may touch embeddings.parquet:
      // exactly one leaf reads it, and that leaf prunes to the two
      // query columns (never the full corpus read)
      val embLeaves = leaves.filter(_.toString.contains("embeddings"))
      assert(embLeaves.size == 1, leafStr.take(1500))
    } finally graft.queries.Fixture.deleteDir(idx)
  }
}
