package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PixieFunctions.idiv

/** Iterative graph computation beyond connected components
  * ([[Dedup.connectedComponents]]): weighted PageRank, the crawl-
  * frontier prioritization signal — given the syndication graph
  * (domains linked by how much content they share), rank domains by
  * centrality to decide where recrawl budget goes.
  *
  * Scale design: each iteration is ONE src-keyed join (edges x ranks)
  * and ONE dst-keyed sum — the standard two-shuffle Pregel round,
  * O(iters) rounds total with no driver-side state. Edge and rank
  * frames are keyed shuffles at any graph size; nothing is collected.
  *
  * Determinism contract: ranks live in integer ppm units and every
  * redistribution step is an integer division chain
  * (`d*pr // 1e6 * w // out_w`), so the fixed-iteration result is
  * bit-identical in any engine and at any partitioning. Dangling-node
  * mass is dropped (the classic simplification) and noted in the
  * docstring rather than silently redistributed.
  */
object Graph {

  /** Bounded-hop BFS distances from a seed node: `hop(v)` = the
    * minimum number of edges from `seed` to v, explored `maxHops`
    * rounds — the "how far is every domain from the seed crawl"
    * frontier-radius read next to [[pageRank]]'s centrality.
    * Unreached nodes are absent (a production run unions them with
    * hop = null).
    *
    * Shape: each round is ONE node-keyed join (frontier x edges) and
    * ONE min-aggregate — the Pregel round again; the frontier frame is
    * materialized per round via the same checkpoint discipline as
    * [[pageRank]] so round k never re-derives rounds 0..k-1's lineage.
    * All integers; fixed iteration count = engine-exact.
    */
  def hopDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seed: Column, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "hopDistances: maxHops >= 0")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint(false)
    val seedDf = edges.agg(seed.as("node"))
      .select(col("node"), lit(0L).as("hop"))
    (1 to maxHops).foldLeft(seedDf) { (dist, h) =>
      // expand only the (h-1)-frontier: nodes discovered earlier have
      // already contributed their neighborhoods
      val next = e.join(dist.where(col("hop") === (h - 1).toLong)
          .withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), lit(h.toLong).as("hop"))
      dist.unionByName(next)
        .groupBy("node").agg(min(col("hop")).as("hop"))
        .localCheckpoint(false)
    }
  }

  /** `iters` rounds of damped weighted PageRank over `edges`
    * (directed, positive integer weights). Nodes = union of endpoints;
    * initial rank = 1e6/N ppm; rank'(v) = (1e6-d)/N +
    * sum_{u->v} d*rank(u)//1e6 * w_uv // out_w(u), all integer.
    *
    * Output: (node, pr_ppm) — one row per node.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               wCol: String, iters: Int,
               dampingPpm: Long = 850000L): DataFrame = {
    require(iters >= 0, "pageRank: iters >= 0")
    // materialize the graph ONCE: every iteration references e / nodes
    // / outW, so without this the final plan re-derives the edge
    // lineage (often a corpus scan) per round. Lazy local checkpoint —
    // on a multi-executor cluster swap for checkpoint() (reliable
    // storage), the same trade documented at Dedup's postings sites.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("long").as("w")).localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val outW = e.groupBy("src").agg(sum(col("w")).as("out_w"))
    val n = nodes.agg(count(lit(1)).as("__n"))
    val withN = nodes.crossJoin(broadcast(n))
    val base = idiv(lit(1000000L - dampingPpm), col("__n"))
    var pr = withN.select(col("node"), col("__n"),
      idiv(lit(1000000L), col("__n")).as("pr_ppm"))
    for (_ <- 0 until iters) {
      val contrib = e
        .join(outW, "src")
        .join(pr.select(col("node").as("src"), col("pr_ppm")), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(idiv(idiv(lit(dampingPpm) * col("pr_ppm"), lit(1000000L))
          * col("w"), col("out_w"))).as("__in"))
      pr = withN
        .join(contrib, Seq("node"), "left")
        .na.fill(0L, Seq("__in"))
        .select(col("node"), col("__n"), (base + col("__in")).as("pr_ppm"))
    }
    pr.select(col("node"), col("pr_ppm"))
  }

  /** Lexical-affinity edges: both directed arcs between every pair of
    * sources, weighted by the INTEGER dot product of their hashed
    * word-bucket profiles ([[Corpus.wordProfile]] — the same
    * fingerprint [[Corpus.sourceSimilarity]] normalizes to a cosine;
    * PageRank needs the unnormalized integer mass). Sparse bucket-keyed
    * join: the shuffle carries O(sources x buckets) profile rows, never
    * corpus rows.
    */
  def profileEdges(df: DataFrame, textCol: String, sourceCol: String,
                   buckets: Int = 256): DataFrame = {
    val prof = Corpus.wordProfile(df, textCol, sourceCol, buckets)
    prof.toDF("src", "b", "ca")
      .join(prof.toDF("dst", "b", "cb"), "b")
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(sum(col("ca") * col("cb")).as("w"))
  }

  /** Sparsify a weighted directed graph to each node's top-k
    * neighbors (by weight desc, then dst — deterministic), then
    * UNDIRECT to canonical (a < b) edges — the standard similarity-
    * graph construction before triangle/community analysis. One
    * src-keyed window + one distinct.
    */
  def knnEdges(edges: DataFrame, srcCol: String, dstCol: String,
               wCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "knnEdges: k >= 1")
    val top = edges.withColumn("__r", row_number().over(
        Window.partitionBy(srcCol)
          .orderBy(col(wCol).desc, col(dstCol))))
      .where(col("__r") <= k)
    top.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
  }

  /** Bounded synchronous k-core peel: exactly `rounds` rounds of
    * "drop every node with degree < k, then re-count" over an
    * undirected (a < b canonical) edge list — the density-core
    * extractor that separates hub-backed clusters (template farms,
    * co-purchase communities) from incidental pairwise links. The
    * OUTPUT SEMANTICS are the round-`rounds` survivor set (not the
    * fixpoint): both engine and oracle compute the identical bounded
    * peel, and once the peel stabilizes early every further round is a
    * no-op, so a converged graph's result IS the true k-core
    * (Round9bSpec pins convergence on the fixture).
    *
    * Scale — FRONTIER peel: the arc list is built, v-partitioned and
    * checkpointed ONCE; each round touches only the frontier (nodes
    * whose degree just dropped below k). A round joins the (small)
    * frontier against the immutable arc table to count each survivor's
    * lost neighbors, then updates the O(nodes) degree table — so the
    * per-round shuffle volume is the frontier plus the arcs incident
    * to it (work proportional to edges REMOVED), never the surviving
    * arc set, and nothing E-sized is rewritten after the build. Each
    * node enters the frontier at most once, so across ALL rounds every
    * arc contributes at most one decrement. An empty frontier is the
    * fixpoint (every further bounded round is a no-op) and short-
    * circuits. Lineage cuts go through [[graft.core.Ckpt]] (reliable-
    * checkpoint swappable, exercised by CkptSwapSpec).
    */
  def kcorePeel(und: DataFrame, aCol: String, bCol: String, k: Int,
                rounds: Int = 12): DataFrame = {
    require(k >= 1 && rounds >= 1, "kcorePeel: k >= 1, rounds >= 1")
    import graft.core.Ckpt
    val arcs = Ckpt(und
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .unionByName(und.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
      .repartition(col("v"))) // rounds join on v; shuffle arcs once
    var deg = Ckpt(arcs.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("__deg")))
    var fixpoint = false
    for (_ <- 1 to rounds if !fixpoint) {
      val frontier = Ckpt(deg.where(col("__deg") < k).select("node"))
      if (frontier.isEmpty) fixpoint = true
      else {
        val dec = arcs
          .join(frontier.withColumnRenamed("node", "v"), "v")
          .groupBy(col("u").as("node")).agg(count(lit(1)).as("__dec"))
        deg = Ckpt(deg
          .join(frontier, Seq("node"), "left_anti")
          .join(dec, Seq("node"), "left_outer")
          .select(col("node"),
            (col("__deg") - coalesce(col("__dec"), lit(0L))).as("__deg")))
      }
    }
    // Round-`rounds` survivor semantics: a survivor zero-degreed by the
    // FINAL round's removals holds no surviving arc — identical to the
    // arc-derived output of a full re-count, so it is excluded.
    deg.where(col("__deg") >= 1L)
      .select(col("node"), col("__deg").as("degree"))
  }

  /** Per-node triangle counts via DEGREE ORIENTATION (the standard
    * scalable algorithm): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, enumerate wedges
    * u->v, u->w (v before w in orientation order), and close them
    * against the oriented edge v->w. Each triangle is generated
    * EXACTLY once (at its lowest-ranked vertex), and every node's
    * wedge fan-out is bounded by its out-degree <= O(sqrt(E)) — the
    * property that keeps the join from exploding on high-degree hubs
    * at any graph size. All joins are node-keyed shuffles.
    */
  def triangleCounts(und: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = und.select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("u"),
      when(fwd, col("b")).otherwise(col("a")).as("v"),
      when(fwd, col("db")).otherwise(col("da")).as("dv"))
    val wedges = oriented.select(col("u"), col("v"), col("dv"))
      .join(oriented.select(col("u"), col("v").as("w"),
        col("dv").as("dw")), "u")
      .where(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val tris = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")),
      Seq("v", "w"))
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
