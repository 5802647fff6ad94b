package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** ML-flavored UDAs from the reference's ml_ops/pprof_ops surface
  * (src/carnot/funcs/builtins/ml_ops.h KMeansUDA — streaming-coreset
  * k-means; src/carnot/funcs/builtins/pprof_ops.cc — stack-histogram
  * merge). Both are re-designed to be ORDER- AND PARTITIONING-INDEPENDENT
  * (the reference's coreset/reservoir are not), because at 100 TB the agg
  * runs as partial+final across an arbitrary shuffle: every buffer here
  * is a canonical sorted structure, so merge order cannot change results.
  */
object MlAggregators {

  // ---- _kmeans (ml_ops.h:88) ----------------------------------------

  /** Canonical point-set buffer: the lexicographically smallest `cap`
    * distinct points seen — a deterministic coreset substitute (the
    * reference's coreset is also a bounded summary; ours trades sampling
    * optimality for exact reproducibility).
    */
  case class KMBuf(cap: Int, flat: Array[Double], dim: Int)

  class KMeansAgg(k: Int, cap: Int = 128, iters: Int = 20)
      extends Aggregator[Seq[Double], KMBuf, String] {

    private def pts(b: KMBuf): Array[Array[Double]] =
      if (b.dim == 0) Array.empty else b.flat.grouped(b.dim).toArray
    private def canon(cap: Int, dim: Int, ps: Array[Array[Double]]): KMBuf = {
      implicit val ord: Ordering[Array[Double]] =
        (a, b) => {
          var i = 0
          var c = 0
          while (c == 0 && i < math.min(a.length, b.length)) {
            c = java.lang.Double.compare(a(i), b(i))
            i += 1
          }
          if (c != 0) c else a.length - b.length
        }
      // distinctBy(_.toSeq): Array equality is referential; dedup must be
      // structural or the canonical set degenerates to copies of the min.
      val top = ps.distinctBy(_.toSeq).sorted.take(cap)
      KMBuf(cap, top.flatten, dim)
    }

    def zero: KMBuf = KMBuf(cap, Array.empty, 0)
    /** Amortized: append rows and compact only when the buffer exceeds
      * 4x cap. Dropping a point at compaction is safe — the kept set is
      * the cap smallest DISTINCT points, all <= any dropped point, so no
      * dropped point can re-enter the canonical set later. O(1) amortized
      * per row instead of a full sort per row.
      */
    def reduce(b: KMBuf, x: Seq[Double]): KMBuf =
      if (x == null || x.isEmpty) b
      else {
        val grown = KMBuf(b.cap, b.flat ++ x, x.length)
        if (grown.flat.length > 4 * b.cap * x.length)
          canon(b.cap, x.length, pts(grown))
        else grown
      }
    def merge(a: KMBuf, b: KMBuf): KMBuf = {
      val dim = if (a.dim != 0) a.dim else b.dim
      canon(a.cap, dim, pts(a) ++ pts(b))
    }

    /** Lloyd's iterations with deterministic evenly-spaced init over the
      * canonical point set; centroids reported sorted, 1e-6-rounded.
      */
    def finish(b0: KMBuf): String = {
      val b = if (b0.dim == 0) b0 else canon(b0.cap, b0.dim, pts(b0))
      val ps = pts(b)
      if (ps.isEmpty) return "[]"
      val kk = math.min(k, ps.length)
      var centroids = Array.tabulate(kk)(i => ps(i * ps.length / kk).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(kk)(new Array[Double](b.dim))
        val counts = new Array[Long](kk)
        ps.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          for (c <- 0 until kk) {
            var d = 0.0
            var i = 0
            while (i < b.dim) { val t = p(i) - centroids(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
          }
          counts(best) += 1
          var i = 0
          while (i < b.dim) { sums(best)(i) += p(i); i += 1 }
        }
        centroids = Array.tabulate(kk)(c =>
          if (counts(c) == 0) centroids(c)
          else sums(c).map(_ / counts(c)))
      }
      centroids
        .map(_.map(v => math.rint(v * 1e6) / 1e6))
        .sortBy(_.toSeq)(Ordering.Implicits.seqOrdering[Seq, Double])
        .map(_.mkString("[", ",", "]"))
        .mkString("[", ",", "]")
    }

    def bufferEncoder: Encoder[KMBuf] = Encoders.product[KMBuf]
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  // ---- pprof (pprof_ops.cc) -----------------------------------------

  /** Sorted stack->count histogram buffer (canonical; merge is a sorted
    * map union, the reference's profile merge in spirit).
    */
  case class PBuf(stacks: Array[String], counts: Array[Long])

  class PprofAgg extends Aggregator[(String, Long), PBuf, String] {
    private def merged(a: PBuf, b: PBuf): PBuf = {
      val m = scala.collection.mutable.TreeMap.empty[String, Long]
      a.stacks.indices.foreach(i => m.update(a.stacks(i), m.getOrElse(a.stacks(i), 0L) + a.counts(i)))
      b.stacks.indices.foreach(i => m.update(b.stacks(i), m.getOrElse(b.stacks(i), 0L) + b.counts(i)))
      PBuf(m.keys.toArray, m.values.toArray)
    }
    def zero: PBuf = PBuf(Array.empty, Array.empty)
    def reduce(b: PBuf, x: (String, Long)): PBuf =
      if (x == null || x._1 == null) b else merged(b, PBuf(Array(x._1), Array(x._2)))
    def merge(a: PBuf, b: PBuf): PBuf = merged(a, b)
    /** JSON object sorted by stack — deterministic under any merge order. */
    def finish(b: PBuf): String =
      b.stacks.indices
        .map(i => s""""${b.stacks(i)}":${b.counts(i)}""")
        .mkString("{", ",", "}")
    def bufferEncoder: Encoder[PBuf] = Encoders.product[PBuf]
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  private implicit val seqDoubleEnc: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  private implicit val tupEnc: Encoder[(String, Long)] = ExpressionEncoder[(String, Long)]()

  /** Column entry points (2-arg udaf for pprof: stack, count). */
  def kmeans(c: Column, k: Int): Column = udaf(new KMeansAgg(k)).apply(c)
  /** Parameterized fit — iters=0 is the init-only coarse quantizer
    * (evenly-spaced picks from the canonical sorted point set): zero
    * floating-point accumulation, so a SQL oracle can re-derive the
    * identical model; raise iters for Lloyd refinement at deployment.
    */
  def kmeansFit(c: Column, k: Int, iters: Int, cap: Int = 128): Column =
    udaf(new KMeansAgg(k, cap, iters)).apply(c)

  /** The centroids of a [[kmeansFit]] model string `[[x,..],[x,..],..]`. */
  def kmeansCentroids(model: String): Seq[Seq[Double]] =
    model.stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
      .map(_.split(",").map(_.toDouble).toSeq).toSeq

  /** The init-only `k`-cell quantizer of `c` over `df`: one agg job. */
  def fitCentroids(df: DataFrame, c: Column, k: Int): Seq[Seq[Double]] =
    kmeansCentroids(df.agg(kmeansFit(c, k, iters = 0).as("m")).head().getString(0))
  def pprof(stack: Column, count: Column): Column =
    udaf(new PprofAgg).apply(stack, count)
}
