package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{MlScalars, PixieFunctions}

/** Edge cases for the time-fn / ML-scalar surface beyond the oracle
  * queries' fully-populated inputs.
  */
class ExtendedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): String =
    Seq(1).toDF("x").select(c.cast("string")).as[String].head()

  test("format_duration edges: zero, sub-second, exact units, negative") {
    assert(one(PixieFunctions.formatDuration(lit(0L))) == "0s")
    assert(one(PixieFunctions.formatDuration(lit(999999999L))) == "0s")
    assert(one(PixieFunctions.formatDuration(lit(86400L * 1000000000L))) == "1d")
    assert(one(PixieFunctions.formatDuration(
      lit(-90L * 60L * 1000000000L))) == "-1h30m")
    assert(one(PixieFunctions.formatDuration(
      lit((86400L + 3661L) * 1000000000L))) == "1d1h1m1s")
  }

  test("parse_time: absolute and relative forms") {
    val now = PixieFunctions.tsNsLit("2024-02-01")
    assert(PixieFunctions.parseTimeNs("-5m", now) == now - 300L * 1000000000L)
    assert(PixieFunctions.parseTimeNs("2024-01-31", now) ==
      now - 86400L * 1000000000L)
  }

  test("predict_request_path_cluster: no match is null, depth must agree") {
    val ts = typedLit(Seq("/a/*/c", "/a/b"))
    assert(one(MlScalars.predictRequestPathCluster(lit("/a/x/c"), ts)) == "/a/*/c")
    assert(one(MlScalars.predictRequestPathCluster(lit("/a/b"), ts)) == "/a/b")
    val noMatch = Seq(1).toDF("x")
      .select(MlScalars.predictRequestPathCluster(lit("/a/b/c/d"), ts))
      .collect()(0)
    assert(noMatch.isNullAt(0))
  }

  test("kmeans_inference: first minimum wins ties; centroids JSON round-trip") {
    val cents = MlScalars.parseCentroids(lit("[[0.0],[2.0]]"))
    assert(one(MlScalars.kmeansInference(typedLit(Seq(1.0)), cents)) == "0")
    assert(one(MlScalars.kmeansInference(typedLit(Seq(1.9)), cents)) == "1")
  }

  test("sentencepiece BPE: in-vocab words collapse to whole-word tokens") {
    // '▁window'/'▁value' are learned whole-word merges in the bundled
    // model; 'hello' is out-of-vocab and stays at character pieces.
    val out = Seq(1).toDF("x")
      .select(MlScalars.encodeSentencePiece(lit("window value hello")))
      .as[Seq[String]].head()
    assert(out == Seq("▁window", "▁value",
      "▁", "h", "e", "l", "l", "o"))
  }

  test("sentencepiece BPE: consecutive/leading spaces drop empty words") {
    val out = Seq(1).toDF("x")
      .select(MlScalars.encodeSentencePiece(lit(" a  b ")))
      .as[Seq[String]].head()
    assert(out == Seq("▁a", "▁b"))
  }

  test("make_upid masks out-of-contract asid/pid to 32 bits") {
    val wide = lit(0x1FFFFFFFFL) // 33 bits; in-field value is 0xFFFFFFFF
    val hexStr = Seq(1).toDF("x")
      .select(lower(hex(graft.types.Upid.makeUpid(wide, lit(7L), lit(9L)))))
      .as[String].head()
    assert(hexStr == "ffffffff" + "00000007" + "0000000000000009")
    val asid = Seq(1).toDF("x")
      .select(graft.types.Upid.upidToAsid(
        graft.types.Upid.makeUpid(wide, lit(7L), lit(9L))))
      .as[Long].head()
    assert(asid == 0xFFFFFFFFL)
  }

  test("text_embedding default: deterministic, bounded, dim-sized") {
    val e = Seq(1).toDF("x")
      .select(MlScalars.textEmbedding(lit("doc"), 8)).as[Seq[Double]].head()
    assert(e.length == 8)
    assert(e.forall(v => v >= -1.0 && v <= 1.0))
    val e2 = Seq(1).toDF("x")
      .select(MlScalars.textEmbedding(lit("doc"), 8)).as[Seq[Double]].head()
    assert(e == e2)
  }

  test("text_embedding hashed path: unit-norm lexical vectors, env-selected") {
    def emb(t: String) = Seq(1).toDF("x")
      .select(MlScalars.textEmbeddingHashed(lit(t), 16)).as[Seq[Double]].head()
    val a = emb("the quick brown fox")
    val b = emb("the quick brown fox")
    val c = emb("completely different words here")
    assert(a == b && a.length == 16)
    val norm = math.sqrt(a.map(v => v * v).sum)
    assert(math.abs(norm - 1.0) < 1e-9)
    def cos(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    // shared tokens -> higher cosine than disjoint text
    val d = emb("the quick brown dog")
    assert(cos(a, d) > cos(a, c))
    // empty text: zero vector, no NaNs from the normalize guard
    assert(emb("").forall(_ == 0.0))
    // the public _text_embedding scalar IS the hashed embedding
    val viaDispatch = Seq(1).toDF("x")
      .select(MlScalars.textEmbedding(lit("doc"), 8)).as[Seq[Double]].head()
    val hashed = Seq(1).toDF("x")
      .select(MlScalars.textEmbeddingHashed(lit("doc"), 8)).as[Seq[Double]].head()
    assert(viaDispatch == hashed)
  }

  test("hashed embedding one-token-pass == per-dimension formulation, bit-exact") {
    // The single-pass bucket-map fold must reproduce the O(dim*tokens)
    // per-dimension rescan exactly (per-bucket ±1.0 sums are integer-
    // valued doubles — order-free), per the restructure contract.
    def perDimension(text: Column, dim: Int): Column = {
      val toks = filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)
      val raw = transform(sequence(lit(0), lit(dim - 1)), i =>
        aggregate(toks, lit(0.0), (acc, t) => {
          val h = graft.expressions.Md5Long60.column(t.cast("binary"))
          acc + when(pmod(h, lit(dim)) === i,
            when(pmod(h, lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0)))
            .otherwise(lit(0.0))
        }))
      val nrm = sqrt(aggregate(raw, lit(0.0), (a, x) => a + x * x))
      transform(raw, x => when(nrm > 0, x / nrm).otherwise(x))
    }
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "to be or not to be that is the question", "", "a a a a b b c")
    texts.foreach { t =>
      val fast = Seq(1).toDF("x")
        .select(MlScalars.textEmbeddingHashed(lit(t), 16)).as[Seq[Double]].head()
      val ref = Seq(1).toDF("x")
        .select(perDimension(lit(t), 16)).as[Seq[Double]].head()
      assert(fast == ref, s"mismatch for '$t'")
    }
  }
}
