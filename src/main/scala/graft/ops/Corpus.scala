package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Exact.zround
import graft.functions.PixieFunctions.idiv

/** Corpus-curation operators for training-data pipelines: the standard
  * cleanup stages between raw crawl and training set that aren't
  * per-document (TextOps) or pairwise (Dedup) — duplicate-span
  * statistics (the C4/RefinedWeb boilerplate signal), benchmark
  * contamination checks, and deterministic stratified sampling.
  *
  * Scale contract: every operator is explode -> keyed shuffle ->
  * join-back — nothing quadratic, nothing driver-side, and all hashing
  * is the cross-engine md5 arithmetic from [[Dedup]], so results are
  * partitioning- and engine-independent at any corpus size.
  */
object Corpus {

  /** C4-style duplicate-span statistics: per document, how much of it
    * is made of word n-gram spans that also occur in OTHER documents
    * (doc-frequency >= 2). High dup_ratio = boilerplate/templated text —
    * the C4 pipeline drops repeated lines corpus-wide; with no line
    * structure in the corpus the n-gram span is the unit. Two keyed
    * shuffles (span frequency, span->doc join-back), then one per-doc
    * aggregate.
    */
  def duplicateSpanStats(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 8): DataFrame = {
    val sp = df.select(col(idCol),
      explode(Dedup.shingles(col(textCol), n)).as("span"))
    val freq = sp.groupBy("span")
      .agg(countDistinct(col(idCol)).as("dfreq"))
    sp.join(freq, "span")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("dfreq") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
  }

  /** Benchmark-contamination check: per corpus document, the share of
    * its distinct n-grams that appear anywhere in the evaluation set.
    * The eval n-gram set is deduplicated once; the join is keyed by
    * n-gram (broadcastable when the benchmark is small — the usual
    * case — while the corpus side streams).
    */
  def contamination(corpus: DataFrame, eval: DataFrame, textCol: String,
                    idCol: String, n: Int = 8): DataFrame = {
    val evalGrams = eval
      .select(explode(array_distinct(Dedup.shingles(col(textCol), n))).as("g"))
      .distinct()
    val corpusGrams = corpus.select(col(idCol),
      explode(array_distinct(Dedup.shingles(col(textCol), n))).as("g"))
    contaminationReport(corpus, corpusGrams, evalGrams, textCol, idCol, n)
  }

  /** Shared tail of [[contamination]] / [[contaminationBloom]]: the
    * gram join, per-doc hit count, and ratio report — one definition so
    * the bloom-prefiltered path can never drift from the exact one
    * (their results are equal by construction and gate-shared).
    */
  private def contaminationReport(corpus: DataFrame, corpusGrams: DataFrame,
                                  evalGrams: DataFrame, textCol: String,
                                  idCol: String, n: Int): DataFrame = {
    val totals = corpus.select(col(idCol),
      size(array_distinct(Dedup.shingles(col(textCol), n))).cast("long")
        .as("n_grams"))
    val hits = corpusGrams.join(evalGrams, "g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    contaminationRatio(totals.join(hits, Seq(idCol), "left"))
  }

  /** Zero-filled hit count and its ratio to the doc's gram count. */
  private def contaminationRatio(df: DataFrame): DataFrame =
    df.na.fill(0L, Seq("n_contaminated"))
      .withColumn("contamination_ratio",
        round(col("n_contaminated").cast("double") / col("n_grams"), 6))

  /** Multi-suite contamination matrix — [[contamination]] generalized
    * to N eval benchmarks in ONE pass: the eval side carries a
    * `suiteCol`, the gram join propagates it, and every (doc, suite)
    * pair reports its overlap — the decontamination sweep a team runs
    * against its whole benchmark battery without re-scanning the corpus
    * per suite. Same plan shape as [[contamination]] (the corpus gram
    * explode happens once, not once per suite) plus the suite key in
    * the hit aggregate; output is corpus-docs × suites-with-hits plus
    * one row per (doc, suite) with zero hits (dense via the tiny
    * suite-list cross join, so a clean doc is PROVED clean per suite).
    */
  def contaminationMatrix(corpus: DataFrame, eval: DataFrame,
                          textCol: String, idCol: String, suiteCol: String,
                          n: Int = 8): DataFrame = {
    val evalGrams = eval
      .select(col(suiteCol).as("suite"),
        explode(array_distinct(Dedup.shingles(col(textCol), n))).as("g"))
      .distinct()
    val corpusGrams = corpus.select(col(idCol),
      explode(array_distinct(Dedup.shingles(col(textCol), n))).as("g"))
    val totals = corpus.select(col(idCol),
      size(array_distinct(Dedup.shingles(col(textCol), n))).cast("long")
        .as("n_grams"))
    val suites = evalGrams.select("suite").distinct()
    val hits = corpusGrams.join(evalGrams, "g")
      .groupBy(col(idCol), col("suite"))
      .agg(count(lit(1)).as("n_contaminated"))
    contaminationRatio(totals.crossJoin(broadcast(suites))
      .join(hits, Seq(idCol, "suite"), "left"))
  }

  /** [[contamination]] with Spark's native bloom runtime-filter driven
    * explicitly: the eval n-gram set builds a BloomFilterAggregate (the
    * driver receives only the filter bytes — the same model-fetch
    * pattern as the kmeans fits), and corpus grams probe it MAP-SIDE
    * before the exact join, so at 100 TB ~every clean gram dies before
    * the shuffle instead of being exchanged just to miss the join. The
    * bloom admits false positives but never false negatives, and the
    * exact join still runs — results are identical to [[contamination]]
    * (the gate reuses its oracle) even when the filter is undersized;
    * undersizing only costs prefilter selectivity.
    *
    * Sizing is SELF-ENFORCING: when the caller leaves `numBits` at the
    * `autoBits` sentinel it derives as estimatedItems × 8 (the ~3%-FPR
    * rule for BloomFilterAggregate's default hash count), so a larger
    * eval corpus can't silently shrink the bits-per-item ratio to a
    * useless filter. Passing numBits explicitly is the expert knob.
    */
  val autoBits: Long = -1L
  def contaminationBloom(corpus: DataFrame, eval: DataFrame,
                         textCol: String, idCol: String, n: Int = 8,
                         estimatedItems: Long = 1000000L,
                         bits: Long = autoBits): DataFrame = {
    val numBits = if (bits == autoBits) math.max(64L, estimatedItems * 8L)
                  else bits
    val evalGrams = eval
      .select(explode(array_distinct(Dedup.shingles(col(textCol), n))).as("g"))
      .distinct()
    val bf = evalGrams
      .agg(graft.expressions.Bloom.agg(xxhash64(col("g")),
        estimatedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    val corpusGrams = corpus.select(col(idCol),
        explode(array_distinct(Dedup.shingles(col(textCol), n))).as("g"))
      .where(graft.expressions.Bloom.mightContain(lit(bf), xxhash64(col("g"))))
    contaminationReport(corpus, corpusGrams, evalGrams, textCol, idCol, n)
  }

  /** C4-style duplicate-span REMOVAL (Raffel et al. 2020 drop repeated
    * three-sentence spans corpus-wide; the word n-gram is the unit here
    * as in [[duplicateSpanStats]]): rewrite each document keeping only
    * word positions NOT covered by any n-gram span that also occurs in
    * another document. The transform counterpart of the stats operator
    * — output is (id, clean_text, n_removed) with ALL input docs
    * retained (fully-boilerplate docs come back empty).
    *
    * Scale shape: span explode -> span-frequency shuffle -> covered-
    * position explode -> anti-join -> per-DOC ordered re-assembly. The
    * collect_list is bounded by a single document's length (never
    * corpus-wide), and every join is keyed by span or (doc, position).
    */
  /** Word positions of `df` covered by any n-gram span that also
    * occurs in another document (doc-freq >= 2) — the shared
    * corpus-wide stage of [[removeDuplicateSpans]] and
    * [[duplicateSpanRuns]]: one span-frequency shuffle + one
    * span→doc join-back.
    */
  private def coveredPositions(df: DataFrame, textCol: String,
                               idCol: String, n: Int): DataFrame = {
    val sp = df.select(col(idCol),
      posexplode(Dedup.shingles(col(textCol), n)).as(Seq("pos", "span")))
    val freq = sp.groupBy("span").agg(countDistinct(col(idCol)).as("dfreq"))
    sp.join(freq.where(col("dfreq") >= 2), "span")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("wi"))
      .distinct()
  }

  /** Per-document MAXIMAL duplicated spans (the reporting half of Lee
    * et al. 2022's ExactSubstr dedup, at n-gram window granularity):
    * word positions covered by cross-document duplicate windows merge
    * into maximal runs by per-doc gaps-and-islands — (doc, span start,
    * span length). The only per-doc step is a window partitioned by
    * document; everything corpus-wide is the same span-frequency
    * shuffle as [[duplicateSpanStats]].
    */
  def duplicateSpanRuns(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 8): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("wi")
    coveredPositions(df, textCol, idCol, n)
      .withColumn("__grp", col("wi") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("wi")).cast("long").as("span_start"),
        count(lit(1)).as("span_len"))
      .select(col(idCol), col("span_start"), col("span_len"))
  }

  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 8): DataFrame =
    excisePositions(df, textCol, idCol,
      coveredPositions(df, textCol, idCol, n))

  /** Shared reassembly tail of [[removeDuplicateSpans]] /
    * [[decontaminateSpans]]: anti-join the covered `(idCol, wi)` word
    * positions, rebuild each doc's remainder in order, and report the
    * removal count — one definition so the two excision operators can
    * never drift. The collect_list is bounded by ONE document's length.
    */
  private def excisePositions(df: DataFrame, textCol: String, idCol: String,
                              covered: DataFrame): DataFrame = {
    val words = df.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("wi", "w")))
    val kept = words.join(covered, Seq(idCol, "wi"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("wi"), col("w")))),
            s => s.getField("w"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("__nw"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__nw") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Surgical span-level decontamination — the alternative to dropping
    * a whole doc for one leaked benchmark sentence: every corpus word
    * position covered by an n-gram that appears in the EVAL set is
    * excised, the remainder reassembled in order (the
    * [[removeDuplicateSpans]] machinery with eval-membership instead of
    * corpus-duplicate frequency as the kill rule). Per doc: the cleaned
    * text and how many words were removed. Scale shape: corpus span
    * explode -> semi-join against the (distinct, usually small) eval
    * gram set -> position anti-join -> per-doc ordered reassembly —
    * all keyed shuffles, the eval side broadcastable.
    */
  def decontaminateSpans(corpus: DataFrame, eval: DataFrame,
                         textCol: String, idCol: String,
                         n: Int = 8): DataFrame = {
    val evalGrams = eval
      .select(explode(array_distinct(Dedup.shingles(col(textCol), n))).as("span"))
      .distinct()
    val covered = corpus.select(col(idCol),
        posexplode(Dedup.shingles(col(textCol), n)).as(Seq("pos", "span")))
      .join(evalGrams, "span")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("wi"))
      .distinct()
    excisePositions(corpus, textCol, idCol, covered)
  }

  /** Padding-efficiency report: the wasted-pad-token comparison that
    * justifies length-grouped batching — naive arrival-order batches
    * vs [[lengthBucketBatches]], one row per strategy with total and
    * pad token mass. The naive layout's global order rank is the
    * banded two-level prefix sum (the [[curriculumShards]] shape),
    * never a corpus-wide single-partition window.
    *
    * Contract: `idCol` must be NUMERIC — the band derivation is
    * id/1024, so the "arrival order" being measured is id order.
    * String/UUID ids need a numeric arrival rank first (ANSI mode
    * fails loudly on the cast; this is by design, not an accident).
    */
  def paddingWaste(df: DataFrame, idCol: String, textCol: String,
                   bucketWidth: Int = 16, batchSize: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTok = size(split(col(textCol), " ")).cast("long")
    val (ranked, r) = bandedRank(
      df.select(col(idCol).cast("long").as("id"), nTok.as("n_tok"))
        .withColumn("__band", idiv(col("id"), 1024L)),
      col("id"))
    val naive = ranked
      .withColumn("batch", idiv(r - 1, batchSize.toLong))
      .withColumn("pad",
        max(col("n_tok")).over(Window.partitionBy("batch")) - col("n_tok"))
    val bucketed = lengthBucketBatches(df, idCol, textCol, bucketWidth, batchSize)
    def report(d: DataFrame, strategy: String) =
      d.agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("pad")).as("pad_tokens"))
        .select(lit(strategy).as("strategy"), col("n_docs"),
          col("total_tokens"), col("pad_tokens"),
          round(col("pad_tokens").cast("double") /
            (col("total_tokens") + col("pad_tokens")), 6).as("pad_ratio"))
    report(naive, "naive").unionByName(report(bucketed, "length_grouped"))
  }

  /** One-round DoReMi-style mixture reweighting (Xie et al. 2023,
    * reduced to a single deterministic multiplicative-weights update —
    * the same published-algorithm-to-counting-core reduction as
    * [[dsirWeights]] and [[lmScore]]): each corpus slice's weight moves
    * up by how much WORSE than the corpus mean its target-LM loss is
    * (excess loss = the domain still has something to learn), using the
    * textbook MW update w·(1 + η·excess) rather than the exp form so
    * every arithmetic step is a fixed formula over exact integers —
    * engine-reproducible at any partitioning (raw weights are
    * nano-quantized before the normalizer sum).
    *
    * Scale shape: [[lmScore]]'s one corpus pass + two O(#slices)
    * aggregates with broadcast 1-row totals.
    */
  def doremiReweight(raw: DataFrame, target: DataFrame, textCol: String,
                     idCol: String, groupCol: String,
                     eta: Double = 0.5): DataFrame = {
    val per = lmScore(raw, target, textCol, idCol)
      .join(raw.select(col(idCol), col(groupCol).as("src")), idCol)
      .groupBy("src")
      .agg(sum(col("n_bigrams")).as("nb"), sum(col("lp_sum_q")).as("lps"))
    val tot = per.agg(sum(col("nb")).as("tnb"), sum(col("lps")).as("tlps"))
    val w = per.crossJoin(broadcast(tot))
      .withColumn("share", col("nb").cast("double") / col("tnb"))
      .withColumn("loss_nats", -col("lps").cast("double") / 1e6 / col("nb"))
      .withColumn("excess_nats", greatest(
        col("loss_nats") + col("tlps").cast("double") / 1e6 / col("tnb"),
        lit(0.0)))
      .withColumn("rwq", floor(col("share") *
        (lit(1.0) + lit(eta) * col("excess_nats")) * 1e9 + 0.5).cast("long"))
    val z = w.agg(sum(col("rwq")).as("z"))
    w.crossJoin(broadcast(z))
      .select(col("src").as(groupCol), col("nb").as("n_bigrams"),
        round(col("share"), 6).as("share"),
        round(col("loss_nats"), 6).as("loss_nats"),
        zround(col("excess_nats"), 6).as("excess_nats"),
        round(col("rwq").cast("double") / col("z"), 6).as("new_share"))
  }

  /** Source-redundancy matrix: cosine similarity between the hashed
    * word-profile vectors of every source PAIR — the slice-level
    * redundancy report ("are these two crawls the same site?") read
    * before buying/keeping a source, complementing doc-level dedup.
    * Profiles are the [[sourceDrift]] bucket counts (exact integers),
    * the dot products are sparse joins keyed by bucket (sources only
    * meet on buckets both populate), and the cosine is one fixed
    * double formula over exact longs. Output is O(#sources²) — report-
    * sized, not data-sized.
    */
  def sourceSimilarity(df: DataFrame, textCol: String, groupCol: String,
                       buckets: Int = 256): DataFrame = {
    val prof = wordProfile(df, textCol, groupCol, buckets)
    val norms = prof.groupBy("src")
      .agg(sum(col("c") * col("c")).as("n2"))
    prof.toDF("src_a", "b", "ca")
      .join(prof.toDF("src_b", "b", "cb"), "b")
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(sum(col("ca") * col("cb")).as("dot"))
      .join(norms.toDF("src_a", "na2"), "src_a")
      .join(norms.toDF("src_b", "nb2"), "src_b")
      .select(col("src_a"), col("src_b"),
        round(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))),
          6).as("profile_cosine"))
  }

  /** Jensen-Shannon divergence matrix between the hashed word-bucket
    * profiles of every source pair — the SYMMETRIC, bounded (<= ln 2)
    * companion of [[sourceDrift]]'s KL and [[sourceSimilarity]]'s
    * cosine: cosine sees shared vocabulary mass, JSD sees the
    * distribution gap, and unlike KL it never blows up on one-sided
    * buckets. Laplace-smoothed over a DENSE source x bucket grid (so
    * absent buckets need no closed-form special case), each bucket's
    * contribution `pa*ln(pa/m) + pb*ln(pb/m)` quantized to integer
    * nano-nats BEFORE the per-pair sum (the engine-exactness
    * contract; ln per-term nano-quantized is cross-engine safe, raw
    * exp/sums of doubles are not).
    *
    * Shape: one profile aggregate, a dense S x B grid (model-sized:
    * sources x 256), a bucket-keyed pair join carrying O(S² · B)
    * rows — source-level, never corpus rows. Output O(S²).
    */
  def sourceJsd(df: DataFrame, textCol: String, groupCol: String,
                buckets: Int = 256): DataFrame = {
    val prof = wordProfile(df, textCol, groupCol, buckets)
    val totals = prof.groupBy("src").agg(sum(col("c")).as("n"))
    val grid = totals.crossJoin(
        df.sparkSession.range(buckets).select(col("id").as("b")))
      .join(prof, Seq("src", "b"), "left")
      .select(col("src"), col("b"), col("n"),
        coalesce(col("c"), lit(0L)).as("c"))
    val pa = (col("ca") + 1.0) / (col("na") + buckets.toDouble)
    val pb = (col("cb") + 1.0) / (col("nb") + buckets.toDouble)
    val m = (pa + pb) / 2.0
    grid.toDF("src_a", "b", "na", "ca")
      .join(grid.toDF("src_b", "b", "nb", "cb"), "b")
      .where(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        floor((pa * log(pa / m) + pb * log(pb / m)) * 1e9 + 0.5)
          .cast("long").as("__t"))
      .groupBy("src_a", "src_b")
      .agg(graft.core.Exact.zround(
        sum(col("__t")).cast("double") / 2.0e9, 6).as("jsd_nats"))
  }

  /** Contamination attribution: for each doc the [[contaminationMatrix]]
    * flags, WHICH benchmark suite it leaks (max overlapping suite, ties
    * to the lexicographically smallest) and how badly — the triage view
    * of the matrix. One argmax over the matrix rows; output scales with
    * contaminated docs.
    */
  def contaminationAttribution(corpus: DataFrame, eval: DataFrame,
                               textCol: String, idCol: String,
                               suiteCol: String, n: Int = 8): DataFrame = {
    val m = contaminationMatrix(corpus, eval, textCol, idCol, suiteCol, n)
      .where(col("n_contaminated") > 0)
    // min(struct(−count, suite, …)): largest count wins, ties go to the
    // lexicographically SMALLEST suite
    m.groupBy(col(idCol))
      .agg(min(struct((-col("n_contaminated")).as("negc"),
          col("suite").as("suite"),
          col("contamination_ratio").as("r"))).as("__best"),
        count(lit(1)).as("n_suites_hit"))
      .select(col(idCol), col("__best.suite").as("top_suite"),
        (-col("__best.negc")).as("n_contaminated"),
        col("__best.r").as("contamination_ratio"), col("n_suites_hit"))
  }

  /** CONTAMINATION REJECT EVIDENCE — the steward's "which benchmark
    * document blocked me" query (the [[contaminationAttribution]]
    * triage at DOC grain, and the contamination member of the
    * reject-evidence family: [[Dedup.rejectEvidence]] names the
    * lexical partner, [[graft.ops.PhashIndex.search]] the perceptual,
    * the SemIndex cells the semantic): per document, the gate's OWN
    * arithmetic (distinct n-grams, how many appear anywhere in the
    * eval set, the exact integer ppm the ContamPpm threshold reads)
    * plus the single most-overlapping eval document — partner =
    * rank 1 by (shared distinct n-grams DESC, eval id ASC) — and the
    * count of eval documents hit at all. Docs with zero eval overlap
    * report null partner columns (a contaminated-flagged doc always
    * has one — its flag WAS an overlap).
    *
    * 100 TB shape: the eval battery is model-sized next to the corpus
    * — both eval frames (the global gram set and the per-doc gram
    * pairs) are BROADCAST, so the corpus side streams map-only into
    * a gram join keyed on its own exploded grams; nothing doc × doc,
    * nothing driver-side.
    */
  def contaminationEvidence(corpus: DataFrame, eval: DataFrame,
                            textCol: String, idCol: String,
                            n: Int = 8): DataFrame = {
    val grams = (c: Column) =>
      explode(array_distinct(Dedup.shingles(c, n))).as("g")
    val totals = corpus.select(col(idCol),
      size(array_distinct(Dedup.shingles(col(textCol), n))).cast("long")
        .as("n_grams"))
    val dg = corpus.select(col(idCol), grams(col(textCol)))
    val bg = eval.select(col(idCol).as("__pid"), grams(col(textCol)))
      .distinct()
    val global = dg.join(broadcast(bg.select("g").distinct()), "g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    // per-(doc, eval-doc) shared distinct grams -> rank-1 partner
    val top = dg.join(broadcast(bg), "g")
      .groupBy(col(idCol), col("__pid"))
      .agg(count(lit(1)).as("shared"))
      .groupBy(col(idCol))
      .agg(min(struct((-col("shared")).as("negs"),
          col("__pid").as("pid"))).as("__best"),
        count(lit(1)).as("n_eval_hit"))
      .select(col(idCol), col("__best.pid").as("partner_id"),
        (-col("__best.negs")).as("partner_shared"), col("n_eval_hit"))
    totals.join(global, Seq(idCol), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .withColumn("contam_ppm",
        idiv(col("n_contaminated") * 1000000L, col("n_grams")))
      .join(top, Seq(idCol), "left")
  }

  /** REPETITION (QUALITY) REJECT EVIDENCE — the explanation behind a
    * `low_quality` verdict from the duplicate-2-gram-mass gate
    * ([[graft.ops.MultiDay.decisions6]] / the curation day's RepTenths
    * contract): per document the gate's own integers (total 2-grams,
    * distinct 2-grams, duplicate mass ×10 vs the RepTenths budget)
    * plus the CULPRIT — the single most-repeated 2-gram (rank 1 by
    * count DESC, gram ASC) and its count, so the steward sees "your
    * doc repeats «of the» 17 times", not just a ratio. Docs with no
    * repeated 2-gram report null culprit columns.
    *
    * Pure per-doc arithmetic: one shingle explode keyed by (doc,
    * gram) — map-side combinable, nothing pairwise, output one row
    * per input doc.
    */
  def repetitionEvidence(df: DataFrame, textCol: String,
                         idCol: String): DataFrame = {
    val g2 = Dedup.shingles(col(textCol), 2)
    val totals = df.select(col(idCol),
      size(g2).cast("long").as("n_2grams"),
      size(array_distinct(g2)).cast("long").as("n_distinct_2grams"))
    val culprit = df
      .select(col(idCol), explode(g2).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2L)
      .groupBy(col(idCol))
      .agg(min(struct((-col("c")).as("negc"), col("g").as("g")))
        .as("__best"))
      .select(col(idCol), col("__best.g").as("top_gram"),
        (-col("__best.negc")).as("top_gram_n"))
    totals
      .withColumn("dup_mass_tenths",
        (col("n_2grams") - col("n_distinct_2grams")) * 10L)
      .withColumn("budget_tenths",
        lit(CurationDay.RepTenths) * col("n_2grams"))
      .join(culprit, Seq(idCol), "left")
  }

  /** Cross-source syndication report: exact-copy groups that span MORE
    * THAN ONE source (wire-syndicated articles, mirrored pages) — the
    * duplication class a per-source dedup run never sees. One shuffle
    * keyed by content hash; output scales with syndicated groups, not
    * corpus.
    */
  def syndication(df: DataFrame, textCol: String, idCol: String,
                  sourceCol: String): DataFrame =
    // null texts would collapse into one NULL content_hash group and
    // report bogus cross-source "copies" of nothing (r8 review)
    df.where(col(textCol).isNotNull)
      .groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col(sourceCol)).as("n_sources"),
        min(col(idCol)).as("keeper_id"),
        concat_ws(",", array_sort(collect_set(col(sourceCol)))).as("sources"))
      .where(col("n_sources") > 1)

  /** Hashed word-bucket profile `(src, b, c)` of a corpus grouped by
    * `groupCol` — the shared distribution fingerprint behind
    * [[sourceDrift]], [[sourceSimilarity]], and the syndication-graph
    * edges ([[Graph.profileEdges]]). One explode + one (src, b)-keyed
    * count aggregate (map-side combinable); empty tokens from doubled
    * spaces are excluded.
    */
  def wordProfile(df: DataFrame, textCol: String, groupCol: String,
                  buckets: Int): DataFrame =
    df.select(col(groupCol).as("src"),
        explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .select(col("src"), pmod(Dedup.h60(col("w")), lit(buckets.toLong)).as("b"))
      .groupBy("src", "b").agg(count(lit(1)).as("c"))

  /** Per-source distribution drift between two snapshots — the data
    * monitoring check before promoting a crawl refresh: KL(new || old)
    * over hashed word buckets per source, Laplace-smoothed so
    * new-in-snapshot buckets stay finite. Per-bucket terms are
    * quantized to integer micro-nats BEFORE the per-source sum (the
    * engine-exactness contract). Two count aggregates + one
    * bucket-keyed join; output is O(#sources).
    */
  def sourceDrift(oldDf: DataFrame, newDf: DataFrame, textCol: String,
                  groupCol: String, buckets: Int = 256): DataFrame = {
    val o = wordProfile(oldDf, textCol, groupCol, buckets)
      .withColumnRenamed("c", "co")
    val nw = wordProfile(newDf, textCol, groupCol, buckets)
      .withColumnRenamed("c", "cn")
    // FULL-outer totals: a source present in only one snapshot (added
    // or removed by the refresh) is exactly what this monitoring
    // report exists to surface — an inner join silently dropped it
    // (r8 review); the absent side contributes 0 tokens and the
    // Laplace smoothing keeps the KL defined against uniform.
    val totals = nw.groupBy("src").agg(sum(col("cn")).as("tn"))
      .join(o.groupBy("src").agg(sum(col("co")).as("to")),
        Seq("src"), "full_outer")
      .na.fill(0L, Seq("tn", "to"))
    // KL(new||old) = sum_b p_n(b) * ln(p_n(b)/p_o(b)), Laplace-smoothed
    // over the FULL bucket support: buckets empty in BOTH snapshots
    // still carry p0*ln(p0/q0) under smoothing — their identical term
    // is added analytically ((B - present) * term0) instead of
    // materializing absent rows (r8 review: without it the sum is not
    // a true smoothed KL and can even go negative).
    val joined = nw.join(o, Seq("src", "b"), "full_outer")
      .na.fill(0L, Seq("cn", "co"))
      .join(totals, "src")
      .withColumn("__term", floor(
        ((col("cn") + 1.0) / (col("tn") + buckets.toDouble)) *
          log(((col("cn") + 1.0) / (col("tn") + buckets.toDouble)) /
              ((col("co") + 1.0) / (col("to") + buckets.toDouble)))
          * 1e9 + 0.5).cast("long"))
    joined
      .groupBy(col("src").as(groupCol))
      .agg(sum(col("__term")).as("__s"), count(lit(1)).as("__present"),
        max(col("tn")).as("n_tokens_new"), max(col("to")).as("n_tokens_old"))
      .withColumn("__t0", floor(
        (lit(1.0) / (col("n_tokens_new") + buckets.toDouble)) *
          log((col("n_tokens_old") + buckets.toDouble) /
              (col("n_tokens_new") + buckets.toDouble))
          * 1e9 + 0.5).cast("long"))
      .select(col(groupCol),
        round((col("__s") + (lit(buckets.toLong) - col("__present")) *
          col("__t0")).cast("double") / 1e9, 6).as("kl_nats"),
        col("n_tokens_new"), col("n_tokens_old"))
  }

  /** Gopher-style within-document repetition signals (Rae et al. 2021,
    * §A1.1 "repetition" filters), word-token based since the corpus has
    * no line structure: the character share of the single most frequent
    * word 2-gram (ties broken to the lexicographically greatest gram so
    * every engine picks the same one), and the duplicated-instance share
    * of 5-gram / 10-gram occurrences. Each signal is one explode and at
    * most two aggregates keyed by doc (map-side partial combine applies);
    * the three signals join back on the doc key.
    */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = df.select(col(idCol), length(col(textCol)).as("len"))
    val g2cnt = df.select(col(idCol),
        explode(Dedup.shingles(col(textCol), 2)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
    val top2 = g2cnt.groupBy(col(idCol))
      .agg(max(struct(col("c"), col("g"))).as("t"))
      .select(col(idCol), col("t.c").as("top2_count"), col("t.g").as("top2_gram"))
    def dupFrac(n: Int, name: String) =
      df.select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("g"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("tot"), countDistinct(col("g")).as("dist"))
        .select(col(idCol), round(
          (col("tot") - col("dist")).cast("double") / col("tot"), 6).as(name))
    base.join(top2, idCol)
      .join(dupFrac(5, "dup5_ratio"), idCol)
      .join(dupFrac(10, "dup10_ratio"), idCol)
      .withColumn("top2_char_ratio", round(
        col("top2_count") * length(col("top2_gram")).cast("double") / col("len"), 6))
      .select(col(idCol), col("top2_gram"), col("top2_count"),
        col("top2_char_ratio"), col("dup5_ratio"), col("dup10_ratio"))
  }

  /** Training-sequence packing: lay documents out on one concatenated
    * token stream in the deterministic order (groupCol, idCol) and cut
    * it into fixed seqLen windows — the GPT-style concatenate-and-chunk
    * prep. Per doc: its stream offset and the first/last sequence index
    * it lands in.
    *
    * The global exclusive prefix-sum is TWO-LEVEL, never a
    * single-partition window over the corpus: within-group cumsum runs
    * partitioned by groupCol (parallel), group offsets come from a
    * groupCol-cardinality aggregate (tiny — its global window and the
    * broadcast join-back are O(#groups)). One giant group would
    * serialize its own sort; sub-split such a group with a hash bucket
    * as a secondary group key.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    groupCol: String, seqLen: Long): DataFrame = {
    val wIn = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = df.withColumn("__cum", sum(col(tokenCol)).over(wIn))
    val wOff = Window.orderBy(groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = df.groupBy(col(groupCol)).agg(sum(col(tokenCol)).as("__tot"))
      .withColumn("__off", sum(col("__tot")).over(wOff) - col("__tot"))
      .drop("__tot")
    local.join(broadcast(offsets), groupCol)
      .withColumn("start_tok", col("__off") + col("__cum") - col(tokenCol))
      .withColumn("first_seq", idiv(col("start_tok"), seqLen))
      .withColumn("last_seq",
        idiv(col("start_tok") + col(tokenCol) - 1, seqLen))
      .drop("__cum", "__off")
  }

  /** Per-sequence document-boundary offsets for the [[packSequences]]
    * layout — the cu_seqlens-style table a packed-attention trainer
    * feeds so attention resets at document starts instead of bleeding
    * across packed neighbors. One row per sequence: how many docs START
    * in it and their sorted in-sequence offsets (a doc CONTINUING from
    * the previous sequence starts at offset 0 and is not a boundary —
    * the standard convention). Derived from the packed layout with one
    * seq-keyed aggregate; output is O(#sequences).
    */
  /** Output contract (r8 review, made explicit): rows are SPARSE —
    * only sequences where at least one doc STARTS appear; a sequence
    * interior to one long document has no row (its cu_seqlens is just
    * [0, seqLen]), so consumers must treat absent seq as "no resets",
    * not as missing data. Zero-token docs are excluded — they occupy
    * no stream positions, and emitting their offset would duplicate
    * the next doc's boundary.
    */
  def packBoundaries(df: DataFrame, idCol: String, tokenCol: String,
                     groupCol: String, seqLen: Long): DataFrame =
    packSequences(df.where(col(tokenCol) > 0), idCol, tokenCol, groupCol,
        seqLen)
      .select(col("first_seq").as("seq"),
        pmod(col("start_tok"), lit(seqLen)).as("boundary"))
      .groupBy("seq")
      .agg(count(lit(1)).as("n_docs_starting"),
        concat_ws(",", sort_array(collect_list(col("boundary"))))
          .as("boundaries"))

  /** DSIR — Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023): score every raw document by how target-like its
    * hashed n-gram profile is. Features are word unigrams + bigrams
    * hashed into `buckets` slots; per-bucket Laplace-smoothed unigram
    * models are fit for the target and raw corpora, and a document's
    * log importance weight is the sum of per-gram log-likelihood
    * ratios log p_target(b) − log p_raw(b).
    *
    * Scale shape: two count aggregates (target grams, raw grams), a
    * ≤`buckets`-row log-ratio table broadcast against the raw gram
    * stream, one per-doc sum — nothing quadratic, nothing driver-side.
    * Per-gram ratios are quantized to integer micro-nats BEFORE the
    * per-doc sum, so the sum is order-independent (exact at any
    * partitioning) and re-derivable by any engine from the same md5
    * bucket arithmetic.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: String,
                  idCol: String, buckets: Int = 1024): DataFrame = {
    def grams(c: Column) = concat(Dedup.shingles(c, 1), Dedup.shingles(c, 2))
    def bucket(g: Column) = pmod(Dedup.h60(g), lit(buckets.toLong))
    val rb = raw.select(col(idCol), explode(grams(col(textCol))).as("g"))
      .select(col(idCol), bucket(col("g")).as("b"))
    val tb = target.select(explode(grams(col(textCol))).as("g"))
      .select(bucket(col("g")).as("b"))
    // One explode + one (doc, bucket) shuffle serves BOTH the raw
    // model fit and the per-doc scoring: rc derives from db (identical
    // subtree → ReusedExchange, the gram stream is never re-exploded),
    // and the scoring join input shrinks from |grams| rows to
    // |distinct (doc, bucket)|.
    val db = rb.groupBy(col(idCol), col("b")).agg(count(lit(1)).as("n"))
    val rc = db.groupBy("b").agg(sum(col("n")).as("rc"))
    val tc = tb.groupBy("b").agg(count(lit(1)).as("tc"))
    val totals = rc.agg(sum(col("rc")).as("rt"))
      .crossJoin(tc.agg(sum(col("tc")).as("tt")))
    // Every raw gram's bucket has rc >= 1 by construction, so the raw
    // count table is the grid; target-absent buckets take the Laplace
    // floor ln(1/(tt+B)) via the fill-0.
    val lr = rc.join(tc, Seq("b"), "left").na.fill(0L, Seq("tc"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor((log(col("tc") + 1.0) - log(col("tt") + buckets.toDouble)
          - log(col("rc") + 1.0) + log(col("rt") + buckets.toDouble))
          * 1000000.0 + 0.5).cast("long").as("lr_q"))
    db.join(broadcast(lr), "b")
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_grams"), sum(col("n") * col("lr_q")).as("wq"))
  }

  /** [[dsirWeights]] + the deterministic selection step: the k most
    * target-like documents (ties to the smaller id). Spark plans the
    * sort+limit as a distributed TakeOrdered — no global sort, no
    * single-partition window.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, textCol: String,
                 idCol: String, k: Int, buckets: Int = 1024): DataFrame =
    dsirWeights(raw, target, textCol, idCol, buckets)
      .orderBy(col("wq").desc, col(idCol))
      .limit(k)
      .withColumn("log_weight", zround(col("wq") / 1000000.0, 6))
      .drop("wq")

  /** CCNet-style LM fluency scoring (Wenzek et al. 2020 — the KenLM
    * perplexity filter between crawl and training set), reduced to its
    * counting core the way [[graft.ops.Classify.naiveBayes]] reduces
    * fastText: a Laplace-smoothed BIGRAM language model over hashed
    * word buckets is fit on the target (in-domain) corpus, and every
    * raw document is scored by its mean per-bigram log-likelihood —
    * high avg_logp = target-fluent, the keep signal; low = the noise
    * CCNet's perplexity tail-cut drops.
    *
    * Scale shape: one bigram-count aggregate over the target, the
    * (<= buckets²-row, usually far sparser) model broadcast against the
    * raw bigram stream, one per-doc sum — the [[dsirWeights]] pattern
    * with a conditional (bigram) model instead of a marginal one.
    * Per-bigram log-probs are quantized to integer micro-nats BEFORE
    * the per-doc sum, so results are exact at any partitioning and
    * re-derivable by any engine from the same md5 bucket arithmetic.
    * Single-word documents have no bigram and no row (documented:
    * fluency of a one-token doc is undefined).
    */
  def lmScore(raw: DataFrame, target: DataFrame, textCol: String,
              idCol: String, buckets: Int = 256): DataFrame = {
    def bucket(w: Column) = pmod(Dedup.h60(w), lit(buckets.toLong))
    def bigrams(df: DataFrame, keep: Seq[Column]) =
      df.select(keep :+ explode(Dedup.shingles(col(textCol), 2)).as("g"): _*)
        .where(size(split(col("g"), " ")) === 2)
        .select(keep ++ Seq(
          bucket(element_at(split(col("g"), " "), 1)).as("b1"),
          bucket(element_at(split(col("g"), " "), 2)).as("b2")): _*)
    val tb = bigrams(target, Nil)
    val big = tb.groupBy("b1", "b2").agg(count(lit(1)).as("c12"))
    val ctx = tb.groupBy("b1").agg(count(lit(1)).as("c1"))
    bigrams(raw, Seq(col(idCol)))
      .join(broadcast(big), Seq("b1", "b2"), "left").na.fill(0L, Seq("c12"))
      .join(broadcast(ctx), Seq("b1"), "left").na.fill(0L, Seq("c1"))
      .select(col(idCol),
        floor((log(col("c12") + 1.0) - log(col("c1") + buckets.toDouble))
          * 1000000.0 + 0.5).cast("long").as("lp_q"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_q")).as("lp_sum_q"))
      .withColumn("avg_logp",
        zround(col("lp_sum_q") / 1000000.0 / col("n_bigrams"), 6))
  }

  /** [[lmScore]] + CCNet's selection step: the k most target-fluent
    * documents by mean bigram log-likelihood (ties to the smaller id).
    * Distributed TakeOrdered — no global sort.
    */
  def lmSelect(raw: DataFrame, target: DataFrame, textCol: String,
               idCol: String, k: Int, buckets: Int = 256): DataFrame =
    lmScore(raw, target, textCol, idCol, buckets)
      .orderBy(col("avg_logp").desc, col(idCol))
      .limit(k)

  /** Embedding-space eval-set decontamination — the semantic sibling of
    * the lexical n-gram [[contamination]] check: a corpus document is
    * contaminated when its embedding's cosine against ANY benchmark
    * vector clears `minCos` (near-paraphrases of eval items that share
    * no n-grams).
    *
    * Scale shape: the eval matrix (vectors + norms) aggregates to ONE
    * row that broadcasts to every executor, and each corpus vector's
    * max cosine is then a single codegen'd higher-order-function
    * projection over that broadcast array — ZERO shuffle over the
    * corpus, the only 100 TB-viable shape for a full-corpus scan
    * against a small eval set. ([[contaminationBloom]] has the same
    * asymmetry for the lexical signal.)
    */
  def embeddingContamination(corpus: DataFrame, eval: DataFrame,
                             idCol: String, vecCol: String,
                             minCos: Double): DataFrame = {
    import graft.ops.Similarity.{dot, norm}
    def prep(df: DataFrame, keep: Seq[Column]) =
      df.select(keep :+ col(vecCol).cast("array<double>").as("e"): _*)
        .withColumn("nrm", norm(col("e")))
    val evalMat = prep(eval, Nil)
      .agg(collect_list(struct(col("e"), col("nrm"))).as("evs"))
    prep(corpus, Seq(col(idCol)))
      .crossJoin(broadcast(evalMat))
      .select(col(idCol),
        zround(array_max(transform(col("evs"), v =>
          dot(col("e"), v.getField("e")) / (col("nrm") * v.getField("nrm")))),
          6).as("max_cos"))
      .withColumn("contaminated", col("max_cos") >= minCos)
  }

  /** The banded two-level global rank: `banded` carries a `__band`
    * column whose order agrees with `order`; the rank is the in-band
    * row_number over `order` plus the band's offset `__off` (the rows
    * of all lower bands), which equals a global row_number over
    * (`__band`, `order`). Returns `banded` joined with the broadcast
    * per-band offsets (`__off`, and `__n`, the total row count) and
    * the rank column. The window work runs per band; only the
    * O(#bands) offsets frame takes a global window.
    */
  private[graft] def bandedRank(banded: DataFrame,
                                order: Column*): (DataFrame, Column) = {
    val wIn = Window.partitionBy("__band").orderBy(order: _*)
    val wOff = Window.orderBy("__band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = banded.groupBy("__band").agg(count(lit(1)).as("__c"))
      .withColumn("__off", sum(col("__c")).over(wOff) - col("__c"))
      .withColumn("__n", sum(col("__c")).over(
        Window.orderBy("__band").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("__c")
    (banded.join(broadcast(offsets), Seq("__band")),
      col("__off") + row_number().over(wIn))
  }

  /** CCNet's head/middle/tail split (Wenzek et al. 2020): rank every
    * document by target-LM fluency ([[lmScore]]) and cut the corpus
    * into perplexity terciles — `head` trains first, `tail` is usually
    * dropped. Semantics are exactly SQL `ntile(3) OVER (ORDER BY
    * avg_logp DESC, id)`.
    *
    * The global rank is NEVER a single-partition window: docs group
    * into coarse score bands (a deterministic quantization of
    * avg_logp), the within-band row_number runs partitioned by band
    * (parallel), and band offsets come from a band-cardinality
    * aggregate whose global window and broadcast join-back are
    * O(#bands) — the [[packSequences]] two-level prefix-sum shape. A
    * pathological all-one-band distribution degrades to the serial
    * sort; narrow the band width for such data.
    */
  def lmTerciles(raw: DataFrame, target: DataFrame, textCol: String,
                 idCol: String, buckets: Int = 256): DataFrame = {
    val scored = lmScore(raw, target, textCol, idCol, buckets)
    // band: higher fluency -> lower band id, so rank order follows bands
    val band = (-floor(col("avg_logp") * 100.0)).cast("long")
    val (ranked, r) = bandedRank(scored.withColumn("__band", band),
      col("avg_logp").desc, col(idCol))
    // ntile(3): first (n % 3) buckets take one extra row
    val (q3, m3) = (idiv(col("__n"), lit(3L)), pmod(col("__n"), lit(3L)))
    val tile = when(r <= (q3 + 1) * m3, idiv(r - 1, q3 + 1) + 1)
      .otherwise(m3 + idiv(r - 1 - (q3 + 1) * m3, q3) + 1)
    ranked.select(col(idCol), col("avg_logp"), r.as("rank"),
        element_at(typedLit(Seq("head", "middle", "tail")),
          tile.cast("int")).as("tercile"))
  }

  /** Token-budget corpus fill: order documents by target-LM fluency
    * (best first, CCNet's priority) and keep them greedily until the
    * token budget is exhausted — "fill a B-token training budget with
    * the most fluent docs". A doc is kept iff the budget is not
    * already full when it starts (start_tok < budget), so exactly one
    * doc may straddle the boundary. Token count derives from
    * [[lmScore]]'s bigram count (n_tok = n_bigrams + 1 for
    * whitespace tokens); sub-2-token docs are out of scope, as in
    * lmScore itself.
    *
    * The running token total is the same banded two-level prefix sum
    * as [[lmTerciles]] — never a single-partition window over the
    * corpus.
    */
  def tokenBudgetFill(raw: DataFrame, target: DataFrame, textCol: String,
                      idCol: String, budget: Long,
                      buckets: Int = 256): DataFrame = {
    val scored = lmScore(raw, target, textCol, idCol, buckets)
      .withColumn("n_tok", col("n_bigrams") + 1)
    val band = (-floor(col("avg_logp") * 100.0)).cast("long")
    val wIn = Window.partitionBy("__band")
      .orderBy(col("avg_logp").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy("__band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val banded = scored.withColumn("__band", band)
    val offsets = banded.groupBy("__band").agg(sum(col("n_tok")).as("__t"))
      .withColumn("__off", sum(col("__t")).over(wOff) - col("__t"))
      .drop("__t")
    banded.join(broadcast(offsets), Seq("__band"))
      .withColumn("start_tok",
        col("__off") + sum(col("n_tok")).over(wIn) - col("n_tok"))
      .where(col("start_tok") < budget)
      .select(col(idCol), col("avg_logp"), col("n_tok"), col("start_tok"))
  }

  /** Cluster-balanced selection (the DataComp/DoReMi-adjacent topic
    * balancer): assign every embedding to its nearest coarse k-means
    * cell (the same init-only quantizer contract as SemDeDup) and keep
    * at most `perCell` documents per cell, most-central first — a
    * dominant topic cluster can no longer flood the training mix.
    *
    * Scale shape: cell assignment is map-only against a literal
    * centroid matrix; the per-cell top-k is ONE window partitioned by
    * cell, so parallelism = #cells and each task is bounded by cell
    * occupancy — grow the cell count with the corpus (SemDeDup's k
    * knob) to hold occupancy constant.
    */
  def clusterBalancedSelect(df: DataFrame, idCol: String, vecCol: String,
                            centroids: Seq[Seq[Double]],
                            perCell: Int): DataFrame = {
    val a = Similarity.cellAssign(df, idCol, vecCol, centroids)
    val w = Window.partitionBy("cell")
      .orderBy(col("cell_cos").desc, col("id"))
    a.withColumn("rank", row_number().over(w))
      .where(col("rank") <= perCell)
      .select(col("cell"), col("id").as(idCol),
        zround(col("cell_cos"), 6).cast("float").as("cos"), col("rank"))
  }

  /** Deterministic training-shard layout (the WebDataset/tar-shard
    * prep): every document lands in shard `h60(id) % nShards` with a
    * pseudo-random but reproducible within-shard position, and
    * `global_pos = pos * nShards + shard` is the round-robin interleave
    * — a full deterministic corpus shuffle for training order with NO
    * global sort: the only sorts are per-shard, so parallelism =
    * nShards and each task is |corpus|/nShards (grow nShards with the
    * corpus; a real writer keys the output files by shard).
    */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    val h = Dedup.h60(col(idCol).cast("string"))
    val w = Window.partitionBy("shard").orderBy(col("__h"), col(idCol))
    df.select(col(idCol), h.as("__h"),
        pmod(h, lit(nShards.toLong)).cast("int").as("shard"))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .withColumn("global_pos", col("pos") * nShards + col("shard"))
      .drop("__h")
  }

  /** BUDGET-CAPPED admission: admit documents in strict priority
    * order (priority desc, ties to the smaller id) until the
    * cumulative token budget is exhausted; everything after the first
    * overflow is DEFERRED to the next window (the daily ingest-quota
    * policy — strict priority, no knapsack backfill, so the admitted
    * set is a deterministic PREFIX of the priority order and any
    * engine re-derives it). `priorityCol` must be integer-valued
    * (ppm-quantize a float score first — the house rule).
    *
    * Scale shape: the global priority-order prefix sum is
    * [[packSequences]]' two-level shape with band = −priority (the
    * within-band id order then completes the total order), so the
    * parallel window runs per priority value and the offset window is
    * O(#distinct priorities) — quantize the score coarsely enough
    * that its cardinality stays model-sized (ppm scores: ≤ 1e6+1
    * bands by construction).
    */
  def budgetAdmit(df: DataFrame, idCol: String, tokCol: String,
                  priorityCol: Column, budgetTokens: Long): DataFrame = {
    // enforce the documented contract instead of silently degrading: a
    // float priority would both lose exact cross-engine re-derivability
    // (float __band keys) and blow the O(#distinct priorities) offset
    // window unbounded. Resolve the column's type against the input.
    val prioType = df.select(priorityCol.as("__p")).schema("__p").dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(prioType),
      s"budgetAdmit: priorityCol must be integer-valued (got $prioType); " +
        "ppm-quantize a float score first — the offset window is " +
        "O(#distinct priorities), bounded only for quantized scores")
    packSequences(df.withColumn("__band", -priorityCol), idCol, tokCol,
        "__band", seqLen = Long.MaxValue)
      .withColumn("decision",
        when(col("start_tok") + col(tokCol) <= budgetTokens,
          lit("admitted")).otherwise(lit("deferred")))
      .drop("first_seq", "last_seq", "__band")
  }

  /** LEAKAGE-SAFE train/val/test split: every GROUP (URL domain,
    * source, site) lands wholly in ONE split via a deterministic hash
    * draw on the group key in exact integer ppm — near-duplicates and
    * templated pages cluster within a domain, so a document-level
    * random split leaks eval text into training through its intra-
    * domain near-copies; group-atomic assignment is the standard
    * defense (the held-out-domain protocol). Pure per-row function of
    * the group key: NO shuffle, no group materialization, no state —
    * the same row always lands in the same split on any engine at any
    * scale. draw = h60(group) mod 1e6; [0, testPpm) → test,
    * [testPpm, testPpm+valPpm) → val, rest → train.
    */
  def groupSplit(df: DataFrame, groupCol: String, valPpm: Long,
                 testPpm: Long): DataFrame = {
    require(valPpm >= 0 && testPpm >= 0 && valPpm + testPpm <= 1000000L,
      "groupSplit: ppm weights must be non-negative and sum <= 1e6")
    val draw = pmod(Dedup.h60(col(groupCol)), lit(1000000L))
    df.withColumn("split",
      when(draw < testPpm, lit("test"))
        .when(draw < testPpm + valPpm, lit("val"))
        .otherwise(lit("train")))
  }

  /** Deterministic hash-based stratified sampling: keep a row iff its
    * id hashes under the stratum's fraction — reproducible across runs,
    * engines, and partitionings (no RNG, no seed plumbing), the
    * property a 100 TB pipeline needs to re-derive the same sample in
    * a later job. `fraction` is a per-row Column so the stratum policy
    * is data-driven. Map-only: no shuffle at all.
    */
  def stratifiedSample(df: DataFrame, idCol: String,
                       fraction: Column): DataFrame =
    df.where(pmod(Dedup.h60(col(idCol).cast("string")), lit(10000L)) <
      floor(fraction * 10000.0).cast("long"))

  /** Temperature-based mixture resampling (the mT5 / multilingual-LM
    * data-mixing rule): group g's share of the output is proportional
    * to n_g^alpha — alpha < 1 upweights rare groups — targeting
    * `targetRows` total. Per-group keep fractions derive from one
    * group-cardinality aggregate; the 1-row normalizer joins by
    * broadcast (no driver round-trip) and rows are kept by the same
    * deterministic hash rule as [[stratifiedSample]], so the mixture
    * re-derives identically in any engine at any partitioning.
    */
  def temperatureResample(df: DataFrame, idCol: String, groupCol: String,
                          alpha: Double, targetRows: Long): DataFrame = {
    val weights = df.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__w", pow(col("__n"), alpha))
    val tot = weights.agg(sum(col("__w")).as("__tot"))
    val frac = weights.crossJoin(broadcast(tot))
      .select(col(groupCol), least(lit(1.0),
        lit(targetRows.toDouble) * col("__w") / (col("__tot") * col("__n")))
        .as("__f"))
    stratifiedSample(df.join(broadcast(frac), groupCol), idCol, col("__f"))
      .drop("__f")
  }

  /** Curriculum shard layout: exact global rank by (score, id) —
    * easy-to-hard under a difficulty signal (length, perplexity,
    * classifier margin) — cut into `nShards` contiguous rank ranges
    * (shard 0 = the easiest slice), with the in-shard position, so a
    * trainer can anneal difficulty across shards while each shard
    * stays an independent file. Balanced cuts: shard sizes differ by
    * at most one (floor((rank-1)·S/n) arithmetic, engine-exact).
    *
    * The global rank is the banded two-level prefix sum of
    * [[lmTerciles]]: per-band windows + an O(#bands) offsets frame
    * broadcast back — never a corpus-wide single-partition window.
    * `bandWidth` sets band granularity in score units; a degenerate
    * distribution collapsing into one band degrades to serial — narrow
    * the width until bands are balanced.
    */
  def curriculumShards(df: DataFrame, idCol: String, scoreCol: String,
                       nShards: Int, bandWidth: Double): DataFrame = {
    val band = floor(col(scoreCol) / lit(bandWidth)).cast("long")
    val (ranked, r) = bandedRank(
      df.select(col(idCol), col(scoreCol)).withColumn("__band", band),
      col(scoreCol), col(idCol))
    val shard = idiv((r - 1) * nShards, col("__n"))
    // shard s starts at global rank ceil(s*n/S) + 1
    val pos = (r - 1) -
      idiv(shard * col("__n") + (nShards - 1), lit(nShards.toLong))
    ranked.select(col(idCol), col(scoreCol), r.as("rank"),
      shard.cast("int").as("shard"), pos.as("pos"))
  }

  /** Percentile rank of an integer score within its group — the
    * "where does this doc sit in its source's length/quality
    * distribution" signal that feeds per-source mixture and filter
    * thresholds. `pct_ppm = (rank-1) * 1e6 // (n-1)` with rank by
    * (score, id) — exact, deterministic, 0 for singleton groups.
    *
    * The in-group rank is the banded two-level prefix
    * ([[curriculumShards]] pattern, partitioned by group): per-(group,
    * score-band) windows + an O(#groups x #bands) offsets frame
    * broadcast back — no per-group corpus-wide window.
    */
  def groupPercentile(df: DataFrame, groupCol: String, idCol: String,
                      score: Column, bandWidth: Long): DataFrame = {
    // bandWidth = 0 NULLs every band (empty result, no error);
    // negative widths anti-sort the bands — refuse loudly
    require(bandWidth > 0, "groupPercentile: bandWidth > 0")
    import graft.functions.PixieFunctions.idiv
    val banded = df.select(col(groupCol).as("g"), col(idCol).as("id"),
        score.cast("long").as("s"))
      .withColumn("__band", idiv(col("s"), lit(bandWidth)))
    val wOff = Window.partitionBy("g").orderBy("__band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = banded.groupBy("g", "__band").agg(count(lit(1)).as("__c"))
      .withColumn("__off", sum(col("__c")).over(wOff) - col("__c"))
      .withColumn("__n", sum(col("__c")).over(
        Window.partitionBy("g").orderBy("__band").rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("__c")
    val wIn = Window.partitionBy("g", "__band").orderBy(col("s"), col("id"))
    banded.join(broadcast(offsets), Seq("g", "__band"))
      .withColumn("__r", col("__off") + row_number().over(wIn))
      .select(col("g").as(groupCol), col("id").as(idCol),
        col("s").as("score"),
        when(col("__n") > 1,
          idiv((col("__r") - 1) * 1000000L, col("__n") - 1))
          .otherwise(lit(0L)).as("pct_ppm"))
  }

  /** Line/segment-level boilerplate removal (RefinedWeb, Penedo et al.
    * 2023 §3; CCNet's paragraph dedup): drop every segment whose exact
    * content recurs in >= `minDocs` DISTINCT documents (headers,
    * navboxes, cookie banners, license footers), keeping each doc's
    * remaining segments in original order. On a corpus without line
    * structure the segment is a fixed `segWords`-word chunk; with real
    * line-delimited text the same op applies to the line split.
    *
    * Shape: one segment explode → distinct-doc frequency keyed by the
    * segment content → anti-join back keyed the same way → per-doc
    * ordered reassembly (sort_array over (idx, seg) structs) — the
    * [[removeDuplicateSpans]] skeleton with a doc-frequency gate, so the
    * corpus-wide work is two keyed shuffles regardless of scale.
    */
  def removeRepeatedSegments(df: DataFrame, textCol: String, idCol: String,
                             segWords: Int = 10, minDocs: Int = 3): DataFrame = {
    val w = split(col(textCol), " ")
    val segArr = transform(
      sequence(lit(0), floor((size(w) - 1) / lit(segWords)).cast("int")),
      i => concat_ws(" ", slice(w, i * segWords + 1, lit(segWords))))
    val segs = df.select(col(idCol),
      posexplode(segArr).as(Seq("seg_idx", "seg")))
    val boiler = segs.select(col(idCol), col("seg")).distinct()
      .groupBy("seg").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDocs).select("seg")
    val kept = segs.join(boiler, Seq("seg"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("seg_idx"), col("seg")))),
            s => s.getField("seg"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol), size(segArr).cast("long").as("n_segs"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Length-grouped batching (the padding-minimizing alternative to
    * sequence packing; `group_by_length` in common trainers): documents
    * are bucketed by token count (`bucketWidth` tokens per bucket) and
    * batched WITHIN a bucket in (n_tok, id) order, so each batch pads
    * to a nearby maximum instead of the corpus maximum. Emits per doc
    * its (bucket, batch_idx, n_tok, pad) where pad = batch-max − n_tok
    * — the wasted-compute number a data engineer actually monitors.
    *
    * All-integer arithmetic (bucket = n_tok / width, batch = in-bucket
    * rank / batchSize), so layout and padding re-derive exactly in any
    * engine. Shape: per-bucket windows only — parallelism = #buckets,
    * and bucketWidth bounds each bucket's population skew; no global
    * sort, no single-partition exchange.
    */
  def lengthBucketBatches(df: DataFrame, idCol: String, textCol: String,
                          bucketWidth: Int = 16,
                          batchSize: Int = 8): DataFrame = {
    val nTok = size(split(col(textCol), " ")).cast("long")
    val base = df.select(col(idCol), nTok.as("n_tok"))
      .withColumn("bucket", idiv(col("n_tok"), bucketWidth.toLong))
    val wIn = Window.partitionBy("bucket").orderBy(col("n_tok"), col(idCol))
    val batched = base.withColumn("batch_idx",
      idiv(row_number().over(wIn).cast("long") - 1, batchSize.toLong))
    val wBatch = Window.partitionBy("bucket", "batch_idx")
    batched
      .withColumn("pad", max(col("n_tok")).over(wBatch) - col("n_tok"))
      .select(col(idCol), col("n_tok"), col("bucket"),
        col("batch_idx"), col("pad"))
  }

  /** Heavy-hitter vocabulary report under a Count-Min-Sketch error
    * contract: the exact top-`k` words beside the CMS estimate's
    * in-tolerance claim (est >= true always; est <= true + eps·N with
    * the sketch's confidence). At 100 TB the sketch is how streaming
    * ingest tracks vocabulary frequencies in O(1/eps) memory; this op
    * PROVES the bound on real data instead of assuming it —
    * completing the sketch family next to the t-digest (q22), HLL
    * (q274) and bloom (q248) contracts.
    *
    * Shape: one partial-agg pass builds the sketch (mergeable,
    * map-side combined); the driver fetches only the sketch bytes (the
    * model-fetch pattern, same as the bloom filter) and probes the k
    * result rows. The exact side is a groupBy + TakeOrdered top-k.
    */
  def heavyHittersCms(df: DataFrame, textCol: String, k: Int = 20,
                      eps: Double = 0.001): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "") // doubled spaces/empty docs would
      // otherwise inject phantom "" tokens into the vocabulary and
      // inflate eps*totalCount's tolerance slack (r8 review)
    val skBytes = words.agg(
        count_min_sketch(col("word"), lit(eps), lit(0.99), lit(42)).as("s"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes))
    val slack = math.ceil(eps * cms.totalCount()).toLong
    val top = words.groupBy("word").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("word")).limit(k).collect()
    top.toSeq.map { r =>
      val (w, n) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(w)
      (w, n, est >= n && est <= n + slack)
    }.toDF("word", "n_exact", "within_tol").orderBy("word")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis, IPL
    * 97(5), 2006): select `k` docs with inclusion probability
    * proportional to `weightCol`, as one map pass + a top-k — the
    * distributed-safe form of weighted selection (no sequential draws,
    * no rejection loop, no RNG state). Each doc gets the E-S key
    * ln(u)/w with u a deterministic md5-uniform in (0,1]; the k LARGEST
    * keys are exactly an E-S sample (equivalent to ranking u^(1/w)).
    *
    * Keys are micro-nat quantized with an id tie-break (the
    * lmScore/dsirWeights determinism contract), so the selected set is
    * engine- and partitioning-exact. The top-k executes as
    * TakeOrderedAndProject — per-partition heaps, no global sort — so
    * at 100 TB the shuffle carries k rows per partition, not the corpus.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    val u = (pmod(Dedup.h60(col(idCol).cast("string")), lit(Dedup.P)) + 1)
      .cast("double") / (Dedup.P + 1).toDouble
    // Efraimidis-Spirakis is defined for w > 0 only: a negative weight
    // flips ln(u)/w POSITIVE and would deterministically outrank every
    // valid doc; zero weights produce null keys (r8 review). Rows with
    // w <= 0 have zero inclusion probability by definition — drop them.
    df.where(col(weightCol) > 0)
      .select(col(idCol), col(weightCol),
        floor(log(u) / col(weightCol) * 1e6).cast("long").as("es_key"))
      .orderBy(col("es_key").desc, col(idCol)).limit(k)
  }

  /** Context-window chunking with stride — the long-document prep that
    * turns each doc into overlapping token windows of `winTokens`
    * advancing by `stride` (the standard sliding-window layout for
    * fixed-context training and retrieval passage indexes). Chunk
    * starts are 0, stride, 2*stride, ... while start < n_tokens, so a
    * doc emits ceil(n/stride) windows and the final window may be
    * short (tok_end = min(start + winTokens, n)).
    *
    * Map-only: sequence + explode + array slice, all codegen'd — zero
    * shuffle, row fan-out bounded by n/stride per doc. At 100 TB this
    * is the shape you want: chunking never repartitions the corpus,
    * and downstream stages key by (doc, chunk) for free.
    */
  def contextChunks(df: DataFrame, textCol: String, idCol: String,
                    winTokens: Int, stride: Int): DataFrame = {
    require(stride > 0 && winTokens >= stride,
      s"need stride > 0 and winTokens >= stride, got ($winTokens, $stride)")
    val toks = split(col(textCol), " ")
    df.select(col(idCol), toks.as("__toks"),
        size(toks).cast("long").as("__n"))
      .where(col("__n") > 0)
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0L),
          graft.functions.PixieFunctions.idiv(col("__n") - 1, stride.toLong)))
          .as("chunk_no"))
      .select(col(idCol), col("chunk_no"),
        (col("chunk_no") * stride).as("tok_start"),
        least(col("chunk_no") * stride + winTokens, col("__n")).as("tok_end"),
        concat_ws(" ", slice(col("__toks"),
          (col("chunk_no") * stride + 1).cast("int"),
          lit(winTokens))).as("chunk_text"))
  }

  /** Cell-keyed embedding decontamination — the scale path when the
    * eval set is too big to broadcast as one matrix (the
    * [[embeddingContamination]] pattern caps out at executor memory):
    * both sides assign to a shared coarse quantizer's cells (map-only
    * vs literal centroids), the comparison joins BY CELL (two keyed
    * shuffles, pair fan-out = cell occupancy — the SemDeDup contract),
    * and a corpus doc reports the max cosine against the eval members
    * of its own cell. Approximate BY the cell partition (a cross-cell
    * near-hit is missed — grow k with corpus size and probe multiple
    * cells to trade recall for fan-out); exact within the cell.
    */
  def embeddingContaminationCells(corpus: DataFrame, eval: DataFrame,
                                  idCol: String, vecCol: String,
                                  centroids: Seq[Seq[Double]],
                                  minCos: Double): DataFrame = {
    import graft.ops.Similarity.dot
    val c = Similarity.cellAssign(corpus, idCol, vecCol, centroids)
      .select(col("id").as("doc_id"), col("e").as("ce"),
        col("n").as("cn"), col("cell"))
    val ev = Similarity.cellAssign(eval, idCol, vecCol, centroids)
      .select(col("e").as("ee"), col("n").as("en"), col("cell"))
    c.join(ev, "cell")
      .withColumn("cos", dot(col("ce"), col("ee")) / (col("cn") * col("en")))
      .groupBy(col("doc_id"))
      .agg(round(max(col("cos")), 6).as("max_cos"),
        sum(when(col("cos") >= minCos, 1L).otherwise(0L)).as("n_eval_hits"))
      .where(col("max_cos") >= minCos)
  }

  /** Mixture planning report: for each group (language/source), the
    * temperature-weighted share of a `budgetTokens` training run and
    * the EFFECTIVE EPOCHS over that group's token mass (tokens drawn /
    * tokens available) — the number a data lead checks before
    * committing a mixture (epochs >> 1 on a small slice means
    * memorization risk; the mT5/PaLM-style planning table).
    *
    * Temperature weights are n_tokens^alpha quantized to integer
    * micro-units BEFORE the normalizer sum, so shares are exact at any
    * partitioning (the [[Classify]]/[[Corpus.dsirWeights]] determinism
    * contract — q247's float normalizer is fine for keep-fractions but
    * a report row must hash-match). One group aggregate + a broadcast
    * 1-row normalizer; output is O(#groups).
    *
    * Range envelope (r8 review): the micro-quantized weight is
    * pow(n_tokens, alpha) * 1e6 as a long, so per-GROUP token counts
    * must satisfy n^alpha < 9.2e12 — at alpha=1 that is ~9 trillion
    * tokens per group, alpha=0.5 ~8.4e25. Beyond that, lower the
    * quantization scale (the shares only need 6 digits); the
    * envelope is asserted in-plan (assert_true) so an out-of-range
    * corpus fails loudly instead of silently wrapping.
    */
  def mixtureEpochs(df: DataFrame, groupCol: String, tokenCol: String,
                    alpha: Double, budgetTokens: Long): DataFrame = {
    val g = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col(tokenCol)).cast("long").as("n_tokens"))
    val w = g.withColumn("__wq",
      floor(pow(col("n_tokens").cast("double"), alpha) * 1e6 + 0.5).cast("long"))
      // fail LOUDLY (not wrap) outside the quantization envelope
      .withColumn("__wq", when(assert_true(
        pow(col("n_tokens").cast("double"), alpha) * 1e6 < 9.2e18,
        lit("mixtureEpochs: n_tokens^alpha*1e6 exceeds Long range — " +
          "lower the quantization scale")).isNull, col("__wq")))
    val tot = w.agg(sum(col("__wq")).as("__tot"))
    // epochs divides SEQUENTIALLY in double (budget * wq / tot / n):
    // the long product tot * n_tokens overflows at realistic corpus
    // token masses (~1e11 * 1e9 > Long.MaxValue).
    w.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        round(col("__wq").cast("double") / col("__tot"), 6).as("share"),
        round(lit(budgetTokens.toDouble) * col("__wq") / col("__tot"), 2)
          .as("tokens_drawn"),
        round(lit(budgetTokens.toDouble) * col("__wq")
          / col("__tot") / col("n_tokens"), 6).as("effective_epochs"))
  }

  /** Materialize a temperature mixture WITH replacement — the step
    * after [[mixtureEpochs]] says a rare slice runs >1 effective epoch:
    * group g's sampling rate r_g = target*w_g/(tot*n_g) (the
    * [[temperatureResample]] arithmetic without its keep-fraction cap),
    * and each doc emits floor(r) copies plus one more iff its
    * deterministic md5-uniform falls under frac(r) — so group totals
    * hit the target in expectation with zero RNG state, reproducible at
    * any partitioning. Map-only after the group-cardinality aggregate:
    * broadcast rate table, sequence+explode fan-out (a doc's copy count
    * is ceil(r) at most — bounded row expansion).
    */
  def epochExpand(df: DataFrame, idCol: String, groupCol: String,
                  alpha: Double, targetRows: Long): DataFrame = {
    // Weights quantize to integer micro-units BEFORE the normalizer sum
    // (the [[mixtureEpochs]] contract): a raw-double sum(__w) depends on
    // partition order, and an ulp shift in the total can flip a doc
    // whose frac(rate)*10000 sits on an integer boundary — the copy
    // counts would not survive repartitioning.
    val weights = df.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__wq",
        floor(pow(col("__n"), alpha) * 1e6 + 0.5).cast("long"))
    val tot = weights.agg(sum(col("__wq")).as("__tot"))
    val rates = weights.crossJoin(broadcast(tot))
      .select(col(groupCol),
        (lit(targetRows.toDouble) * col("__wq") / col("__tot") / col("__n"))
          .as("__rate"))
    df.join(broadcast(rates), groupCol)
      .withColumn("__copies", floor(col("__rate")).cast("long") +
        when(pmod(Dedup.h60(col(idCol).cast("string")), lit(10000L)) <
          floor((col("__rate") - floor(col("__rate"))) * 10000.0).cast("long"),
          1L).otherwise(0L))
      .where(col("__copies") > 0)
      .select(col(idCol), col(groupCol),
        explode(sequence(lit(0L), col("__copies") - 1)).as("copy"))
  }

  /** Snapshot diff between two corpus versions — the data-ops change
    * report run before promoting a crawl refresh: per doc id, whether
    * it was ADDED, REMOVED, CHANGED (content hash differs), or carried
    * over unchanged. One full-outer join keyed by id comparing content
    * hashes; emit only the non-unchanged rows (the diff is small even
    * when both snapshots are 100 TB — output scales with churn).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, textCol: String,
                   idCol: String): DataFrame = {
    // Presence is tracked by explicit markers, NOT hash nullness: a doc
    // whose text is NULL hashes to null, and marker-free logic would
    // misreport it (both-null -> "added", one-null -> "removed"/
    // "unchanged"). The hash comparison is null-safe (<=>), so
    // NULL -> 'x' and 'x' -> NULL correctly read as "changed".
    def h(df: DataFrame, mark: String, hash: String) =
      df.select(col(idCol), lit(true).as(mark),
        md5(col(textCol).cast("binary")).as(hash))
    h(oldDf, "__po", "__ho").join(h(newDf, "__pn", "__hn"),
        Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__po").isNull, "added")
          .when(col("__pn").isNull, "removed")
          .when(!(col("__ho") <=> col("__hn")), "changed")
          .otherwise("unchanged"))
      .where(col("status") =!= "unchanged")
      .select(col(idCol), col("status"))
  }

  /** Per-domain document cap (the C4/RefinedWeb anti-domination rule:
    * no source may contribute more than `cap` docs): keep each group's
    * top `cap` by the priority order (priorityCol desc, id asc —
    * deterministic). One window rank partitioned by group — parallelism
    * = #groups x within-group sort, never a global sort; a pathological
    * mega-domain serializes only its own partition (pre-filter such
    * domains by a count aggregate if one dominates the corpus).
    */
  def domainCap(df: DataFrame, idCol: String, groupCol: String,
                priorityCol: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy(col(priorityCol).desc, col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= cap)
      .drop("__rk")
  }

  /** Quality-filter threshold sweep — the keep-rate tradeoff curve a
    * pipeline reads before committing to a cutoff (the q335
    * dedup-threshold-sweep pattern applied to scalar quality scores):
    * for each candidate threshold, how many docs and how much token
    * mass survive `score >= t`, as counts and exact shares. ONE corpus
    * scan: the per-row threshold fan-out is a map-side explode of the
    * O(|thresholds|) literal array, aggregated by threshold — output
    * is O(|thresholds|) rows at any corpus size.
    */
  def filterSweep(df: DataFrame, scoreCol: String, tokenCol: String,
                  thresholds: Seq[Double]): DataFrame =
    df.select(col(scoreCol).cast("double").as("__s"),
        col(tokenCol).cast("long").as("__tok"),
        explode(typedLit(thresholds)).as("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__s") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(col("__tok")).as("tokens_total"),
        sum(when(col("__s") >= col("threshold"), col("__tok"))
          .otherwise(0L)).as("tokens_kept"))
      .select(col("threshold"), col("n_docs"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs"), 6)
          .as("doc_share"),
        col("tokens_total"), col("tokens_kept"),
        round(col("tokens_kept").cast("double") / col("tokens_total"), 6)
          .as("token_share"))

  /** Packing-efficiency sweep over candidate sequence lengths — the
    * trainer-facing companion to [[filterSweep]]: for each seqLen L,
    * the sequence count and padding waste under BOTH layouts a trainer
    * chooses between — pad-per-doc (each doc occupies ceil(tok/L)
    * sequences, the last one padded) and concatenate-and-chunk (one
    * global stream cut every L, only the final sequence padded; doc
    * boundaries handled by cu_seqlens, [[packBoundaries]]). Exact
    * integer arithmetic throughout; one scan, map-side explode of the
    * O(|seqLens|) literal, keyed agg — O(|seqLens|) output rows.
    */
  def packingSweep(df: DataFrame, tokenCol: String,
                   seqLens: Seq[Long]): DataFrame = {
    df.select(col(tokenCol).cast("long").as("__tok"),
        explode(typedLit(seqLens)).as("seq_len"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("tokens_total"),
        sum(idiv(col("__tok") + col("seq_len") - 1, col("seq_len")))
          .as("n_seq_padded"))
      .withColumn("n_seq_packed",
        idiv(col("tokens_total") + col("seq_len") - 1, col("seq_len")))
      .select(col("seq_len"), col("n_docs"), col("tokens_total"),
        col("n_seq_padded"),
        round((col("n_seq_padded") * col("seq_len") - col("tokens_total"))
          .cast("double") / (col("n_seq_padded") * col("seq_len")), 6)
          .as("pad_share_padded"),
        col("n_seq_packed"),
        round((col("n_seq_packed") * col("seq_len") - col("tokens_total"))
          .cast("double") / (col("n_seq_packed") * col("seq_len")), 6)
          .as("pad_share_packed"))
  }

  /** Duplicate-cluster report over a connected-components labeling —
    * the monitoring rollup a curation run publishes per snapshot:
    * cluster-size histogram (how many clusters of 2, 3, ... copies),
    * plus per-size document and redundant-copy mass. Input is
    * [[graft.ops.Dedup.connectedComponents]] output joined back to the
    * corpus; two tiny keyed aggregates (component -> size -> histogram),
    * output is O(max cluster size) rows.
    */
  def dupClusterHistogram(components: DataFrame): DataFrame = {
    val sizes = components.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("cluster_size") - 1).as("n_redundant"))
      .orderBy(col("cluster_size"))
  }

  /** Heaps-law vocabulary-growth curve: the corpus is cut into
    * `steps` equal-count prefixes in doc-id order (the banded
    * [[curriculumShards]] rank — no global sort), and each step
    * reports the CUMULATIVE doc/token/vocabulary counts plus the
    * step's marginal new-vocab rate (new distinct words per million
    * step tokens) — the saturation curve that tells a pipeline when
    * more of the same source stops buying vocabulary. Exact
    * integers end-to-end: a word's step is its FIRST-occurrence
    * step (one gram-keyed min), so cumulative vocab is a running
    * sum over `steps` rows, never a per-prefix re-count. The
    * "vocabulary" is word `gramN`-grams (default bigrams — unigram
    * vocabularies saturate instantly on small-vocab corpora while
    * the n-gram space keeps growing, which is the regime the curve
    * exists to show); token counts are plain words.
    */
  def vocabGrowth(df: DataFrame, textCol: String, idCol: String,
                  steps: Int = 8, gramN: Int = 2,
                  bandWidth: Double = 1024.0): DataFrame = {
    require(steps >= 2 && gramN >= 1, "vocabGrowth: steps >= 2, gramN >= 1")
    val stepOf = curriculumShards(df.select(col(idCol)), idCol, idCol,
        steps, bandWidth)
      .select(col(idCol), col("shard").cast("long").as("step"))
    val docs = df.select(col(idCol), col(textCol)).join(stepOf, idCol)
    val tok = docs
      .select(col("step"), explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("step").agg(count(lit(1)).as("__tok"))
    val dc = docs.groupBy("step").agg(count(lit(1)).as("__docs"))
    val newv = docs
      .select(col("step"),
        explode(Dedup.shingles(col(textCol), gramN)).as("g"))
      .groupBy("g").agg(min(col("step")).as("step"))
      .groupBy("step").agg(count(lit(1)).as("__newv"))
    val w = Window.orderBy("step")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok.join(dc, "step").join(newv, Seq("step"), "left")
      .na.fill(0L, Seq("__newv"))
      .select(col("step"),
        sum(col("__docs")).over(w).as("n_docs_cum"),
        sum(col("__tok")).over(w).as("n_tokens_cum"),
        sum(col("__newv")).over(w).as("n_vocab_cum"),
        idiv(col("__newv") * 1000000L, greatest(col("__tok"), lit(1L)))
          .as("new_vocab_ppm"))
  }

  /** N-gram diversity (type-token ratio) per source for n = 1..maxN:
    * total vs distinct word n-grams and the TTR in ppm — the corpus
    * diversity card that flags template-heavy or boilerplate-heavy
    * sources before they flatten a training mix. Source-keyed gram
    * aggregates; output O(sources x maxN).
    */
  def ngramDiversity(df: DataFrame, textCol: String, srcCol: String,
                     maxN: Int = 3): DataFrame = {
    require(maxN >= 1, "ngramDiversity: maxN >= 1")
    (1 to maxN).map { n =>
      df.select(col(srcCol).as("source"),
          explode(Dedup.shingles(col(textCol), n)).as("g"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("g")).as("n_distinct"))
        .select(col("source"), lit(n.toLong).as("n"), col("n_grams"),
          col("n_distinct"),
          idiv(col("n_distinct") * 1000000L,
            greatest(col("n_grams"), lit(1L))).as("ttr_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Token-budget mixture plan: given per-language token masses, a
    * budget (`total * budgetNum / budgetDen`, ceiling) and a per-
    * language cap, compute each language's final mixture share via
    * cap-and-redistribute (ONE redistribution round, documented
    * contract: excess is given to uncapped languages proportionally
    * to their raw share and may leave a remainder ppm unassigned),
    * then the sampling rate and epoch (repeat) count a sampler needs
    * — sample_ppm > 1e6 means the language must be repeated. The
    * whole plan is exact integer ppm arithmetic over a model-sized
    * per-language table, so the plan an engine ships equals the plan
    * the oracle re-derives at any corpus size.
    */
  def tokenBudgetPlan(df: DataFrame, textCol: String, langCol: String,
                      capPpm: Long = 300000L, budgetNum: Long = 6L,
                      budgetDen: Long = 5L): DataFrame = {
    require(capPpm > 0 && budgetNum > 0 && budgetDen > 0,
      "tokenBudgetPlan: positive cap and budget fraction")
    val perLang = df.where(col(langCol).isNotNull)
      .groupBy(col(langCol).as("lang"))
      .agg(sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).as("__total"))
    val raw = perLang.crossJoin(broadcast(tot))
      .withColumn("raw_ppm", idiv(col("n_tokens") * 1000000L, col("__total")))
      .withColumn("__capped", col("raw_ppm") > capPpm)
    val sums = raw.agg(
      sum(when(col("__capped"), lit(capPpm)).otherwise(col("raw_ppm")))
        .as("__assigned"),
      sum(when(!col("__capped"), col("raw_ppm")).otherwise(0L))
        .as("__raw_uncapped"))
    raw.crossJoin(broadcast(sums))
      .withColumn("final_ppm",
        when(col("__capped"), lit(capPpm))
          .otherwise(col("raw_ppm") +
            when(col("__raw_uncapped") > 0,
              idiv((lit(1000000L) - col("__assigned")) * col("raw_ppm"),
                col("__raw_uncapped"))).otherwise(lit(0L))))
      .withColumn("__budget",
        idiv(col("__total") * budgetNum + (budgetDen - 1), budgetDen))
      .withColumn("target_tokens",
        idiv(col("__budget") * col("final_ppm"), 1000000L))
      .withColumn("sample_ppm",
        idiv(col("target_tokens") * 1000000L,
          greatest(col("n_tokens"), lit(1L))))
      .withColumn("epochs", idiv(col("sample_ppm") + 999999L, 1000000L))
      .select("lang", "n_tokens", "raw_ppm", "final_ppm",
        "target_tokens", "sample_ppm", "epochs")
  }
}
