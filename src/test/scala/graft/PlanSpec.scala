package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PxTable
import graft.meta.K8sMetadata
import graft.functions.PixieFunctions._

/** Physical-plan assertions: the scale properties the 100 TB design
  * depends on must be visible in explain output, not assumed — time-range
  * predicates reach the parquet scan, dimension joins broadcast, top-k
  * avoids global sorts, aggregates are partial+final.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("time-range scan pushes the ns predicate into the parquet source") {
    val df = PxTable.timeRange(spark, dir, "events", "ts",
      "2024-01-01", "2024-02-01").df
    val scan = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(scan.contains("PushedFilters") &&
      (scan.contains("GreaterThanOrEqual(ts") || scan.contains("IsNotNull(ts")),
      s"no pushed ts filter in:\n$scan")
  }

  test("column pruning reaches the scan (ReadSchema is the projection)") {
    val df = graft.core.Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(scan.contains("l_orderkey") && scan.contains("l_quantity"))
    assert(!scan.contains("l_comment") && !scan.contains("l_shipdate"),
      s"unpruned scan:\n$scan")
  }

  test("as-of metadata resolution is a broadcast join (no fact shuffle)") {
    val ev = graft.core.Tables(spark, dir, "events")
    val dim = K8sMetadata.syntheticPodDim(ev, tsNsLit("2024-01-15"))
    val out = K8sMetadata.resolveAsOf(ev, dim, "user_id", "owner_id", "ts",
      Seq("pod_name"))
    assert(plan(out).contains("BroadcastNestedLoopJoin") ||
      plan(out).contains("BroadcastHashJoin"), plan(out).take(2000))
  }

  test("entity lookup is a broadcast hash join") {
    val ev = graft.core.Tables(spark, dir, "events")
    val dim = K8sMetadata.syntheticEntityDim(ev, tsNsLit("2024-01-15"))
    val out = K8sMetadata.lookupAttr(ev, dim, "user_id", "owner_id",
      Seq("deployment"))
    assert(plan(out).contains("BroadcastHashJoin"), plan(out).take(2000))
  }

  test("topK plans TakeOrderedAndProject, not a global sort") {
    val t = PxTable(graft.core.Tables(spark, dir, "lineitem"))
      .topK(10, col("l_quantity").desc)
    assert(plan(t.df).contains("TakeOrderedAndProject"), plan(t.df).take(2000))
  }

  test("groupbyAgg is partial+final hash aggregation") {
    val t = PxTable(graft.core.Tables(spark, dir, "lineitem"))
      .groupbyAgg(Seq("l_returnflag"), "s" -> sum(col("l_quantity")))
    val p = plan(t.df)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(2000))
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2 ||
      p.contains("partial_sum"), "no partial aggregation visible")
  }

  test("whole-stage codegen covers the scalar pipeline") {
    val df = graft.core.Tables(spark, dir, "events")
      .select(timeBinNs(col("ts"), 3600).as("b"),
        (col("value") * 2 + 1).as("v"))
      .filter(col("v") > 0)
    // executedPlan.toString renders codegen stages as "*(n)" prefixes
    assert(plan(df).contains("*(1)") || plan(df).contains("WholeStageCodegen"),
      plan(df).take(2000))
  }

  test("EmptySource has schema and zero rows; rolling window executes") {
    val s = graft.core.Tables(spark, dir, "events").schema
    val e = PxTable.empty(spark, s)
    assert(e.df.count() == 0 && e.df.schema == s)
    val r = PxTable(graft.core.Tables(spark, dir, "events"))
      .rollingAgg("ts", 7200, 3600, Seq("event_type"),
        "n" -> count(lit(1)))
    assert(r.df.count() > 0)
    assert(r.df.columns.toSeq ==
      Seq("event_type", "n", "window_start_ns"))
  }

  test("dedup candidate joins are bucket-keyed, never unblocked all-pairs") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val p1 = plan(graft.ops.Dedup.embeddingNearDup(
      emb, "vec_id", "embedding", dim = 64, minCos = 0.2))
    assert(!p1.contains("CartesianProduct") &&
      !p1.contains("BroadcastNestedLoopJoin"), p1.take(2000))
    assert(p1.contains("bucket"), "candidate join not keyed on LSH bucket")
    val docs = graft.core.Tables(spark, dir, "documents")
    val p2 = plan(graft.ops.Dedup.ngramJaccard(docs, "text", "doc_id"))
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"), p2.take(2000))
    assert(p2.contains("band_hash"), "candidate join not keyed on band hash")
  }

  test("minhashPairs band self-join reuses one exchange (signatures computed once)") {
    val docs = graft.core.Tables(spark, dir, "documents")
    val df = graft.ops.Dedup.minhashPairs(docs, "text", "doc_id")
    df.collect() // materialize so the AQE plan is final (stage reuse decided)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"), p.take(4000))
  }

  test("metadata sweep joins all broadcast: the fact side never shuffles") {
    val df = graft.SparkEntry.queries("q64_metadata_sweep")(spark, dir)
    val p = plan(df)
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 10, s"expected >=10 broadcast joins, got $broadcasts")
    // the only exchanges allowed are broadcast builds + the final sort
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(3000))
  }

  test("verbatim http_data plan: broadcast dimension joins, no fact shuffle") {
    val df = graft.SparkEntry.queries("q77_pxl_http_data")(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(3000))
  }

  test("spreadIfNarrow repartitions narrow scans only (no-op when parallel)") {
    val cores = spark.sparkContext.defaultParallelism
    // fixture parquet arrives as 1 partition -> spread across cores; the
    // narrowness signal is the file's on-disk size (static), NOT an eager
    // .rdd materialization of the frame's physical plan
    val narrow = graft.core.Tables(spark, dir, "events").select("event_id")
    assert(narrow.rdd.getNumPartitions < cores)
    val spread = graft.queries.Q.spreadIfNarrow(spark, narrow,
      s"$dir/events.parquet")
    assert(spread.rdd.getNumPartitions == cores)
    // a source too big to scan narrow (or un-stat-able: size 0) passes
    // through with NO added exchange (at 100 TB every scan is already
    // thousands of partitions)
    val wide = spark.range(0, 10000, 1, cores).toDF("event_id")
    val passthrough = graft.queries.Q.spreadIfNarrow(spark, wide,
      "/nonexistent/source.parquet")
    assert(passthrough eq wide, "expected identity pass-through")
    assert(!plan(passthrough).contains("Exchange"), plan(passthrough).take(1000))
  }

  test("as-of join is union + one keyed window: NO join operator at all") {
    val ev = graft.core.Tables(spark, dir, "events")
    val left = ev.select(col("user_id"), col("ts"), col("value"))
    val right = ev.select(col("user_id"), col("ts"), col("event_type"))
    val p = plan(graft.ops.AsOf.joinBackward(
      left, right, Seq("user_id"), "ts", "ts"))
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p.contains(j), s"unexpected $j in as-of plan:\n${p.take(2000)}")
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"expected exactly 1 keyed exchange, got $keyed:\n${p.take(2000)}")
  }

  test("packSequences: the only single-partition exchange is the O(#groups) offsets frame") {
    val docs = graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val p = plan(graft.ops.Corpus.packSequences(docs, "doc_id", "n_tok",
      "source", 512L))
    val sp = "Exchange SinglePartition".r.findAllIn(p).length
    assert(sp == 1,
      s"expected exactly 1 SinglePartition exchange (group offsets), got $sp:\n${p.take(3000)}")
    // the corpus-wide cumsum stays partitioned; offsets broadcast back
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("embeddingContamination: broadcast eval matrix, zero corpus shuffle") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val p = plan(graft.ops.Corpus.embeddingContamination(
      emb.filter(col("vec_id") >= 16), emb.filter(col("vec_id") < 16),
      "vec_id", "embedding", 0.2))
    // the 1-row eval model reaches the corpus as a broadcast nested-loop
    // (free: one row), and the corpus side never hash-shuffles
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed == 0, s"corpus-side shuffle in map-only op ($keyed):\n${p.take(3000)}")
  }

  test("classifier models join broadcast: knn votes shuffle k rows, Rocchio none") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val (u, l) = (emb.filter(pmod(col("vec_id"), lit(5)) === 0),
      emb.filter(pmod(col("vec_id"), lit(5)) =!= 0))
    val knn = plan(graft.ops.Similarity.knnClassify(
      u, l, "vec_id", "embedding", "label", 7))
    assert(knn.contains("BroadcastNestedLoopJoin") &&
      !knn.contains("SortMergeJoin"), knn.take(3000))
    val rocchio = plan(graft.ops.Classify.nearestCentroid(
      l, u, "vec_id", "embedding", "label"))
    assert(rocchio.contains("BroadcastNestedLoopJoin") &&
      !rocchio.contains("SortMergeJoin"), rocchio.take(3000))
    // Rocchio classify is map-only: its exchanges are all model-sized
    // (the per-(class, dim) fit), never keyed by the test corpus
    assert(!rocchio.contains("hashpartitioning(vec_id"),
      s"test-corpus shuffle in Rocchio plan:\n${rocchio.take(3000)}")
  }

  test("fluency rank ops: the only single-partition exchange is the band-offsets frame") {
    val docs = graft.core.Tables(spark, dir, "documents")
    val (raw, tgt) = (docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"))
    for ((name, df) <- Seq(
        "lmTerciles" -> graft.ops.Corpus.lmTerciles(raw, tgt, "text", "doc_id"),
        "tokenBudgetFill" -> graft.ops.Corpus.tokenBudgetFill(
          raw, tgt, "text", "doc_id", 12000L))) {
      val p = plan(df)
      val sp = "Exchange SinglePartition".r.findAllIn(p).length
      assert(sp == 1,
        s"$name: expected 1 SinglePartition exchange (band offsets), got $sp:\n${p.take(3000)}")
      assert(p.contains("BroadcastHashJoin"), s"$name offsets not broadcast back")
    }
  }

  test("shardAssign sorts per shard only — no single-partition exchange anywhere") {
    val docs = graft.core.Tables(spark, dir, "documents")
    val p = plan(graft.ops.Corpus.shardAssign(docs, "doc_id", 8))
    assert(!p.contains("Exchange SinglePartition"),
      s"global sort leaked into shard layout:\n${p.take(3000)}")
  }

  test("curriculumShards: the only single-partition exchange is the band-offsets frame") {
    val docs = graft.core.Tables(spark, dir, "documents")
    val out = graft.ops.Corpus.curriculumShards(docs, "doc_id", "n_chars", 8, 16.0)
    val p = plan(out)
    // the offsets frame is O(#bands) rows; the corpus-side rank is a
    // per-band window joined back by broadcast — assert the broadcast
    // exists and the corpus never range-partitions globally
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort leaked into curriculum rank:\n${p.take(3000)}")
  }

  test("contaminationBloom probes the bloom MAP-SIDE, below the exact join") {
    val docs = graft.core.Tables(spark, dir, "documents")
    val df = graft.ops.Corpus.contaminationBloom(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), "text", "doc_id", 8)
    val p = plan(df)
    val filterLine = p.linesIterator.toSeq
      .exists(l => l.contains("Filter") && l.contains("might_contain"))
    assert(filterLine, s"no map-side bloom Filter in plan:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("connected-components star step: keyed exchanges only, no quadratic joins") {
    val edges = graft.core.Tables(spark, dir, "documents")
      .select((col("doc_id") % 50).as("u"), (col("doc_id") % 97).as("v"))
      .where(col("u") =!= col("v"))
    for (large <- Seq(true, false)) {
      val p = plan(graft.ops.Dedup.ccStar(edges, large))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"quadratic join in star(large=$large):\n${p.take(2000)}")
      val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(keyed <= 4,
        s"star(large=$large) grew to $keyed keyed exchanges:\n${p.take(3000)}")
    }
  }

  test("groupbyAgg with no aggregates is distinct groups (empty-agg guard)") {
    val t = PxTable(graft.core.Tables(spark, dir, "events"))
    val got = t.groupbyAgg(Seq("event_type")).df.orderBy("event_type").collect()
    val want = t.distinctGroups("event_type").df.orderBy("event_type").collect()
    assert(got.toSeq == want.toSeq && got.nonEmpty)
  }

  test("Tables resolve is conf-idempotent (nanosAsLong set once, kept true)") {
    graft.core.Tables(spark, dir, "events")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    graft.core.Tables(spark, dir, "events") // second resolve: no re-set, no throw
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("script runner executes each script per round") {
    var n = 0
    val scripts = Seq(graft.streaming.ScriptRunner.CronScript(
      "count-events", 1000L,
      s => graft.core.Tables(s, dir, "events").groupBy("event_type").count(),
      df => n += df.collect().length))
    graft.streaming.ScriptRunner.runOnce(spark, scripts)
    assert(n > 0)
  }

  test("incrementalDedup: delta side broadcasts, corpus never shuffles for candidates") {
    val docs = graft.core.Tables(spark, dir, "documents")
    val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
    val out = graft.ops.Dedup
      .incrementalDedup(corpus, batch, "text", "doc_id", 3, 16, 4, 0.8)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the band candidate join builds on the broadcast delta side
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("weightedSample is a TakeOrdered top-k, not a global sort") {
    val docs = graft.core.Tables(spark, dir, "documents")
    val p = graft.ops.Corpus.weightedSample(docs, "doc_id", "n_chars", 40)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
  }

  // The two op-shape tests below read documents.parquet RAW (no
  // Tables.spread): they pin the OPS' own zero-shuffle contracts, which
  // the table-level scan-spread exchange would otherwise mask.
  test("contextChunks is map-only: zero exchanges, fan-out without repartition") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.Corpus.contextChunks(docs, "text", "doc_id", 64, 32))
    assert(!p.contains("Exchange"), s"chunking must never shuffle:\n${p.take(2000)}")
  }

  test("phash pipeline: hash is map-only; near-dup is keyed exchanges, no quadratic join") {
    val png = udf((id: Long) => graft.ops.Multimodal.syntheticPngVar(id))
    val media = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"), png(col("doc_id")).as("payload"))
    val hashed = graft.ops.Multimodal.dHash(graft.ops.Multimodal.decodeCells(media))
    val hp = plan(hashed)
    assert(!hp.contains("Exchange"),
      s"decode+hash must be map-only:\n${hp.take(2000)}")
    val np = plan(graft.ops.Multimodal.phashNearDup(hashed, maxDist = 3))
    for (j <- Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!np.contains(j), s"unexpected $j in near-dup plan:\n${np.take(3000)}")
  }

  test("hardNegatives: anchors broadcast, threshold cut before the rank exchange") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val p = plan(graft.ops.Similarity.hardNegativesBelow(
      emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3, 0.95))
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin"),
      p.take(3000))
    // one keyed exchange: the per-anchor window rank (threshold filter is
    // map-side, so only surviving candidates reach it)
    val keyed = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"expected 1 keyed exchange (rank), got $keyed:\n${p.take(3000)}")
  }

  test("gramNovelty materializes the gram stream once: no Generate above the scan twice") {
    val docs = graft.core.Tables(spark, dir, "documents")
    val p = plan(graft.ops.TextOps.gramNovelty(docs, "text", "doc_id", 3))
    // the postings list is checkpointed (the projections differ, so
    // Catalyst cannot reuse the exchange across the DF aggregate and
    // the join-back): both consumers must scan the materialized RDD,
    // leaving ZERO Generate (explode) operators in the executed plan
    val explodes = "Generate explode".r.findAllIn(p).length
    assert(explodes == 0,
      s"expected the explode to run pre-checkpoint only, got $explodes:\n${p.take(3000)}")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p.take(1500))
  }

  test("embeddingContaminationCells joins by cell: no broadcast matrix, no BNLJ") {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val seeds = Seq.fill(4)(Seq.fill(64)(0.1))
    val p = plan(graft.ops.Corpus.embeddingContaminationCells(
      emb.filter(col("vec_id") >= 16), emb.filter(col("vec_id") < 16),
      "vec_id", "embedding", seeds, 0.2))
    for (j <- Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p.contains(j), s"unexpected $j:\n${p.take(3000)}")
  }

  test("salted join equals the direct join and spreads the hot key") {
    val t = PxTable(graft.core.Tables(spark, dir, "events"))
    val dim = graft.core.Tables(spark, dir, "events")
      .select(col("event_type")).distinct()
      .withColumn("dim_rank", length(col("event_type")))
    val direct = t.df.join(dim, Seq("event_type")).collect()
      .map(_.toString).sorted.toSeq
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val salted = t.saltedJoin(dim, Seq("event_type"), salt = 8).df
      assert(salted.collect().map(_.toString).sorted.toSeq == direct)
      // the join key really is (event_type, salt): the hot key's rows
      // hash across 8 sub-keys instead of one reducer
      val p = salted.queryExecution.executedPlan.toString
      assert(p.contains("__salt"), p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted two-phase agg equals direct agg and adds a pre-shuffle stage") {
    val t = PxTable(graft.core.Tables(spark, dir, "events"))
    val direct = t.groupbyAgg(Seq("event_type"),
      "n" -> count(lit(1)), "mx" -> max(col("value"))).df
      .orderBy("event_type").collect()
    val salted = t.saltedGroupbyAgg(Seq("event_type"), 16,
      ("n", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c)),
      ("mx", max(col("value")), (c: org.apache.spark.sql.Column) => max(c))).df
      .orderBy("event_type").collect()
    assert(direct.toSeq == salted.toSeq)
  }

  test("round-8 plans: urlDedup keyed distinct-agg shuffles only; surprisal word join is hash; card has no cartesian") {
    val docs = graft.core.Tables(spark, dir, "documents")
      .withColumn("url", graft.queries.TextCuration.rawUrlCol)
    // urlDedup: canonicalization is in the map phase; the only
    // exchanges are the two keyed shuffles of Spark's distinct-agg
    // expansion ((key, raw) pre-agg + key agg) — never single-partition
    val ud = plan(graft.ops.UrlOps.urlDedup(docs, "url", "doc_id"))
    val nEx = "Exchange hashpartitioning".r.findAllIn(ud).size
    assert(nEx == 2, s"urlDedup expected 2 keyed exchanges, saw $nEx:\n${ud.take(1200)}")
    assert(!ud.contains("SinglePartition"), ud.take(1200))
    // unigramSurprisal: the word-count join must be a hash join keyed
    // by word (the 1-row total broadcasts)
    val us = plan(graft.ops.TextOps.unigramSurprisal(docs, "text", "doc_id"))
    assert(!us.contains("CartesianProduct"), us.take(1200))
    assert(us.contains("HashJoin"), us.take(1200))
    // the composed curation card: five lineages, zero cartesians /
    // nested-loop joins anywhere
    val card = plan(graft.SparkEntry.queries("q358_curation_card")(
      spark, dir))
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!card.contains(bad), card.take(1500))
  }

  test("round-8 plans: segment explode is map-side; frontier bloom filter sits before the verify join") {
    val docs = graft.core.Tables(spark, dir, "documents")
      .withColumn("url", graft.queries.TextCuration.rawUrlCol)
    // segmentDupFraction: the explode feeding the seg-hash agg happens
    // before any exchange (map-side), and joins stay keyed
    val sd = plan(graft.ops.TextOps.segmentDupFraction(docs, "text",
      "doc_id", 20))
    assert(!sd.contains("CartesianProduct") &&
      !sd.contains("BroadcastNestedLoopJoin"), sd.take(1200))
    // urlSeenFilter: the bloom might-contain predicate must appear as a
    // FILTER in the candidate lineage (pre-join kill), and the verify
    // join is a hash join
    val sf0 = graft.ops.UrlOps.urlSeenFilter(
      docs.where(pmod(col("doc_id"), lit(5L)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(5L)) === 0), "url", "doc_id")
    val sp = plan(sf0)
    assert(sp.contains("might_contain"), sp.take(1500))
    assert(sp.contains("HashJoin"), sp.take(1200))
  }
}
