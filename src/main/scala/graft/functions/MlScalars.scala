package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar ML surface (reference: src/carnot/funcs/builtins/ml_ops.cc —
  * `_kmeans_inference`, `_encode_sentence_piece`, `_text_embedding`;
  * src/carnot/funcs/builtins/request_path_ops.cc —
  * `_predict_request_path_cluster`).
  *
  * Everything here is declarative higher-order-function Spark (codegen'd,
  * no UDFs). The reference's sentence-piece/transformer models
  * (exec/ml/transformer_executor.h) are embedded ONNX models we cannot
  * ship — those two are DETERMINISTIC STUBS with the real Spark plumbing
  * (types, shapes, cross-engine-reproducible hashing) and a swap-in point
  * for a real model UDF.
  */
object MlScalars {

  /** _kmeans_inference: index of the nearest centroid (squared L2) in a
    * centroids array-of-arrays column (as produced by
    * MlAggregators.kmeans after from_json).
    */
  def kmeansInference(vec: Column, centroids: Column): Column = {
    val dists = transform(centroids, c =>
      aggregate(zip_with(vec, c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, d) => acc + d))
    array_position(dists, array_min(dists)) - 1
  }

  /** Parse a centroids JSON string ("[[1.0,2.0],...]") into
    * array<array<double>> for kmeansInference.
    */
  def parseCentroids(json: Column): Column =
    from_json(json, org.apache.spark.sql.types.DataTypes.createArrayType(
      org.apache.spark.sql.types.DataTypes.createArrayType(
        org.apache.spark.sql.types.DataTypes.DoubleType)))

  /** _predict_request_path_cluster: first template in `templates` that
    * matches `path` segment-wise ('*' matches any one segment); null if
    * none. Structural match, not regex — no per-row pattern compilation.
    */
  def predictRequestPathCluster(path: Column, templates: Column): Column = {
    val segs = split(regexp_replace(path, "^/", ""), "/")
    try_element_at(
      filter(templates, t => {
        val ts = split(regexp_replace(t, "^/", ""), "/")
        size(ts) === size(segs) &&
          forall(zip_with(ts, segs, (a, b) => a === lit("*") || a === b),
            x => x)
      }), lit(1))
  }

  /** _text_embedding (ml_ops.cc TransformerUDF ->
    * exec/ml/transformer_executor.h). The reference runs an embedded
    * ONNX transformer that cannot ship here (no model runtime on the
    * offline classpath), so the scalar is the hashing-trick
    * bag-of-words embedding ([[textEmbeddingHashed]]): real lexical
    * signal (token buckets + signs, L2-normalized), model-free,
    * deterministic, and oracle-reproducible in any engine.
    */
  def textEmbedding(text: Column, dim: Int): Column =
    textEmbeddingHashed(text, dim)

  /** Hashing-trick embedding: each lowercased token hashes to one of
    * `dim` buckets with a ±1 sign, the bucket counts L2-normalize —
    * the classic feature-hashing text vectorizer, exact under any
    * partitioning (per-row, no state).
    *
    * ONE pass over the tokens: fold them into a bucket->sum map, then
    * read the map per dimension. The md5 hash (the dominant cost) is
    * computed O(tokens) times, not O(dim * tokens) as a per-dimension
    * re-scan would; per-bucket sums accumulate in token order, and ±1.0
    * sums are integer-exact in double, so the output is bit-identical
    * to the per-dimension formulation.
    */
  def textEmbeddingHashed(text: Column, dim: Int): Column = {
    val toks = filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)
    val emptyMap = map_from_arrays(
      array().cast("array<int>"), array().cast("array<double>"))
    val buckets = aggregate(toks, emptyMap, (acc, t) => {
      val h = graft.expressions.Md5Long60.column(t.cast("binary"))
      val b = pmod(h, lit(dim)).cast("int")
      val s = when(pmod(h, lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))
      map_concat(map_filter(acc, (k, _) => k =!= b),
        map_from_arrays(array(b), array(coalesce(element_at(acc, b), lit(0.0)) + s)))
    })
    val raw = transform(sequence(lit(0), lit(dim - 1)),
      i => coalesce(element_at(buckets, i.cast("int")), lit(0.0)))
    val nrm = sqrt(aggregate(raw, lit(0.0), (a, x) => a + x * x))
    transform(raw, x => when(nrm > 0, x / nrm).otherwise(x))
  }

  /** The bundled sentence-piece model: a BPE merge table trained by
    * [[graft.ops.TextOps.bpeTrain]] on the fixture corpus (sf0.001
    * documents, 48 merges, '▁' word prefix) — the merge list IS the
    * model artifact, exactly as sentencepiece ships a learned model
    * file. Regenerate with `runMain graft.BpeTrain <sfDir> 48`.
    * BpeSpec asserts the trainer reproduces this table.
    */
  val sentencePieceMerges: Seq[(String, String)] = Seq(
    "▁" -> "s", "e" -> "r", "o" -> "r", "i" -> "n",
    "o" -> "w", "l" -> "u", "▁" -> "a", "▁" -> "v",
    "a" -> "r", "p" -> "ar", "▁" -> "c", "a" -> "s",
    "▁" -> "f", "m" -> "er", "▁" -> "t", "a" -> "t",
    "▁" -> "b", "a" -> "n", "c" -> "an", "▁s" -> "can",
    "lu" -> "m", "lum" -> "n", "o" -> "lumn", "▁c" -> "olumn",
    "d" -> "ow", "in" -> "dow", "w" -> "indow", "▁" -> "window",
    "d" -> "er", "or" -> "der", "▁" -> "order", "or" -> "t",
    "▁s" -> "ort", "par" -> "t", "u" -> "p", "▁" -> "part",
    "g" -> "g", "▁a" -> "gg", "a" -> "lu", "alu" -> "e",
    "▁v" -> "alue", "in" -> "e", "l" -> "ine", "▁" -> "line",
    "e" -> "y", "k" -> "ey", "▁" -> "key", "j" -> "o")

  /** _encode_sentence_piece (ml_ops.cc SentencePieceUDF): real BPE
    * subword tokenization in the sentencepiece framing — each word gets
    * the '▁' word-boundary marker, then the bundled merge table applies
    * via the codegen'd replace-chain encode (TextOps.bpeEncodeWord; no
    * UDF). The reference's difference is the model, not the mechanism:
    * its embedded .model file drops in as a different `merges` argument.
    * Empty words (consecutive spaces) are dropped before encoding.
    */
  def encodeSentencePiece(text: Column,
      merges: Seq[(String, String)] = sentencePieceMerges): Column =
    flatten(transform(filter(split(text, " "), w => length(w) > 0), w =>
      filter(
        split(graft.ops.TextOps.bpeEncodeWord(
          concat(lit("▁"), w), merges), "\\|"),
        t => t =!= "")))
}
