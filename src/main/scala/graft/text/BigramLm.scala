package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interpolated bigram language model scoring — the n-gram upgrade of
  * [[UnigramLm]] (CCNet trains 5-gram KenLM models for exactly this
  * filter; a bigram with unigram interpolation captures most of the
  * junk/prose separation at a fraction of the state). Per token
  * position t ≥ 2 the probability is
  * `λ · c₂(prev,cur)/c₁(prev) + (1−λ) · c_uni(cur)/N`, with an
  * out-of-model bigram contributing 0 to the first term and the
  * unigram term floored at 0.5/N, so scores stay finite and
  * total-ordered.
  *
  * Scale shape: bigrams are formed ROW-LOCALLY from the token array
  * (an array transform — no window over the token stream, no
  * per-position shuffle); ONE bigram explode is the only corpus-sized
  * pass. Unigram counts need NO token explode of their own: a token's
  * count is its occurrences as a bigram HEAD (positions 1..n−1, =
  * Σ bcnt over its bigrams — a re-aggregation of the vocabulary-sized
  * bigram count table) plus its occurrences as a DOCUMENT-FINAL token
  * (one row-local `element_at(toks, -1)` pass — no explode, one tiny
  * shuffle of doc-count rows). Both models are top-K frequency cuts
  * selected via `TakeOrderedAndProject` (never a full vocabulary sort)
  * and BROADCAST to the scoring join; the bigram model and its head
  * counts are pre-joined into a single vocabulary-sized broadcast, so
  * scoring pays two broadcast joins and one scalar crossJoin — nothing
  * vocabulary-sized ever sits on the driver or in a broadcast beyond
  * the chosen model size. */
object BigramLm {

  /** Bigram-model cut (top-K by count) and the interpolation weight λ;
    * the unigram, head and continuation tables are cut at 1000. */
  private val BigramVocab = 2000
  private val Lambda = 0.7

  /** (prev, cur, bigram-string) structs, row-local; docs with fewer
    * than 2 tokens yield the empty array. Formed as ONE `zip_with` over
    * two shifted slices so the tokenize expression evaluates O(1) times
    * per document — the earlier `transform(sequence(...), i =>
    * element_at(arr, i))` form re-ran the split+filter at EVERY
    * position (Catalyst inlines the array expression into each
    * element_at; no common-subexpression elimination across lambda
    * calls): O(len²) string work per doc, measured 6.2 s of the
    * lm2 gate's 8.5 s at sf0.1. */
  private def bigramStructs(text: org.apache.spark.sql.Column) = {
    val arr = TextAnalysis.tokens(text)
    val n = size(arr)
    when(n >= 2,
      zip_with(slice(arr, lit(1), n - 1), slice(arr, lit(2), n - 1),
        (p, c) => struct(p.as("prev"), c.as("cur"),
          concat(p, lit(" "), c).as("bg"))))
      .otherwise(array().cast("array<struct<prev:string,cur:string,bg:string>>"))
  }

  /** Per-language roll-up of per-document mean interpolated bigram
    * log-probability: (lang, n_docs, mean_logp, min_logp, max_logp).
    * Documents with fewer than 2 tokens drop out (no bigram is
    * defined). */
  def scoreByLang(documents: DataFrame): DataFrame = {
    // the ONLY corpus-sized explode — persisted, consumed twice (model
    // count + scoring pass), released after the eager materialization
    val bgs = documents
      .select(col("doc_id"), col("lang"),
        explode(bigramStructs(col("text"))).as("b"))
      .select(col("doc_id"), col("lang"),
        col("b.prev").as("prev"), col("b.cur").as("cur"), col("b.bg").as("bg"))
      .persist()
    val bgCounts = bgs.groupBy("bg").agg(count(lit(1)).as("bcnt"))
    val bgModel = bgCounts.orderBy(desc("bcnt"), asc("bg")).limit(BigramVocab)
    // c₁ = occurrences as a bigram HEAD. Derived by re-aggregating the
    // DISTINCT-BIGRAM count table (vocabulary-sized) by head — NOT by a
    // second explode of the corpus: Σ bcnt over a head's bigrams is the
    // same number, for a pass over thousands of rows instead of
    // billions.
    val headCounts = bgCounts
      .groupBy(split(col("bg"), " ").getItem(0).as("prev"))
      .agg(sum("bcnt").as("hcnt"))

    // Unigram counts WITHOUT re-tokenizing the corpus into an explode:
    // every token position is either a bigram head (counted in
    // headCounts) or its document's FINAL token — counted here by one
    // row-local element_at over each doc's token array. The union is
    // exact: uc(t) = hcnt(t) + lastcnt(t).
    val toksArr = TextAnalysis.tokens(col("text"))
    val lastCounts = documents
      .select(when(size(toksArr) >= 1, element_at(toksArr, -1)).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy("tok").agg(count(lit(1)).as("lcnt"))
    val uniCounts = headCounts.select(col("prev").as("tok"), col("hcnt"))
      .join(lastCounts, Seq("tok"), "full_outer")
      .select(col("tok"),
        (coalesce(col("hcnt"), lit(0L)) + coalesce(col("lcnt"), lit(0L)))
          .as("ucnt"))
    val uniModel = uniCounts.orderBy(desc("ucnt"), asc("tok")).limit(1000)
    val uniTotal = uniCounts.agg(sum("ucnt").cast("double").as("_n"))

    // fold the model's head counts into the bigram model itself — ONE
    // vocabulary-sized broadcast keyed by bg instead of two: an
    // out-of-model bigram contributes 0 regardless of its head count,
    // so scoring never needs hcnt for a miss
    val bgModelH = bgModel
      .withColumn("prev", split(col("bg"), " ").getItem(0))
      .join(headCounts, Seq("prev"), "left")
      .select(col("bg"), (col("bcnt").cast("double") / col("hcnt")).as("_bp"))

    try {
      bgs
        .join(broadcast(bgModelH), Seq("bg"), "left")
        .join(broadcast(uniModel.withColumnRenamed("tok", "cur")),
          Seq("cur"), "left")
        .crossJoin(broadcast(uniTotal))
        .select(col("doc_id"), col("lang"),
          log(lit(Lambda) * coalesce(col("_bp"), lit(0.0))
            + lit(1.0 - Lambda)
              * coalesce(col("ucnt").cast("double"), lit(0.5)) / col("_n"))
            .as("lp"))
        .groupBy("doc_id", "lang")
        .agg(avg("lp").as("avg_logp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("avg_logp"), 4).as("mean_logp"),
          round(min("avg_logp"), 4).as("min_logp"),
          round(max("avg_logp"), 4).as("max_logp"))
        .orderBy("lang")
        // eager: the languages-sized result materializes while the
        // explode is still cached; callers get a plan with no corpus
        // dependency at all
        .localCheckpoint(true)
    } finally { bgs.unpersist(); () }
  }

  /** Interpolated Kneser–Ney bigram scoring (Chen & Goodman 1999's
    * benchmark smoother — what KenLM models, and so what CCNet-style
    * perplexity filters actually run). Per position t ≥ 2:
    * `P = max(c₂−D,0)/c₁(prev) + (D·N₁₊(prev,·)/c₁(prev)) · P̃(cur)`,
    * with the continuation probability `P̃(cur) = N₁₊(·,cur)/|types|` —
    * "how many contexts has `cur` completed", the correction that makes
    * KN beat raw interpolation on burst-heavy text. Model cuts and OOV
    * floors mirror [[scoreByLang]]: bigram/prev/continuation tables are
    * top-K frequency cuts (TakeOrderedAndProject, broadcast); an
    * out-of-model bigram contributes only its backoff mass, an
    * out-of-model prev falls back to the D·1/1 weight of a singleton
    * head, an out-of-model cur to a 0.5 pseudo-continuation-count — so
    * probabilities stay finite, positive, and total-ordered.
    *
    * Scale shape identical to [[scoreByLang]]: ONE corpus-sized bigram
    * explode (persisted, consumed by model count + scoring); every
    * derived table (head counts, continuation counts, type total) is a
    * re-aggregation of the vocabulary-sized bigram count table, never a
    * second corpus pass. */
  def scoreByLangKN(documents: DataFrame, discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must be in (0,1)")
    val bgs = documents
      .select(col("doc_id"), col("lang"),
        explode(bigramStructs(col("text"))).as("b"))
      .select(col("doc_id"), col("lang"),
        col("b.prev").as("prev"), col("b.cur").as("cur"), col("b.bg").as("bg"))
      .persist()
    val bgCounts = bgs.groupBy("bg").agg(count(lit(1)).as("bcnt"))
    val keyed = bgCounts
      .withColumn("prev", split(col("bg"), " ").getItem(0))
      .withColumn("cur", split(col("bg"), " ").getItem(1))
    val headCounts = keyed.groupBy("prev")
      .agg(sum("bcnt").as("hcnt"), count(lit(1)).as("nf"))
    val contCounts = keyed.groupBy("cur").agg(count(lit(1)).as("np"))
    val nTypes = bgCounts.agg(count(lit(1)).cast("double").as("_t"))
    val bgModel = keyed.orderBy(desc("bcnt"), asc("bg")).limit(BigramVocab)
      .join(headCounts, "prev")
      .select(col("bg"),
        (greatest(col("bcnt").cast("double") - discount, lit(0.0))
          / col("hcnt")).as("_bp"))
    val prevModel = headCounts.orderBy(desc("hcnt"), asc("prev")).limit(1000)
      .select(col("prev"), (lit(discount) * col("nf") / col("hcnt")).as("_w"))
    val contModel = contCounts.orderBy(desc("np"), asc("cur")).limit(1000)
    try {
      bgs
        .join(broadcast(bgModel), Seq("bg"), "left")
        .join(broadcast(prevModel), Seq("prev"), "left")
        .join(broadcast(contModel), Seq("cur"), "left")
        .crossJoin(broadcast(nTypes))
        .select(col("doc_id"), col("lang"),
          log(coalesce(col("_bp"), lit(0.0))
            + coalesce(col("_w"), lit(discount))
              * coalesce(col("np").cast("double"), lit(0.5)) / col("_t"))
            .as("lp"))
        .groupBy("doc_id", "lang")
        .agg(avg("lp").as("avg_logp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("avg_logp"), 4).as("mean_logp"),
          round(min("avg_logp"), 4).as("min_logp"),
          round(max("avg_logp"), 4).as("max_logp"))
        .orderBy("lang")
        .localCheckpoint(true)
    } finally { bgs.unpersist(); () }
  }
}
