package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions

/** DSIR-style importance-weighted data selection (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * score each raw-pool document by how much more likely its hashed
  * n-gram bag is under a TARGET corpus' distribution than under the raw
  * pool's own, then resample the raw pool proportionally via the Gumbel
  * top-k trick — the principled "make the web corpus look like the
  * high-quality corpus" selection pass, one tier above the heuristic
  * quality filters in [[TextAnalysis]].
  *
  * Features are unigrams + bigrams hashed into `buckets` bins
  * (`fnv1a32 mod buckets` — codegen'd, and reproducible in the oracle),
  * so both distributions are fixed-size count vectors regardless of
  * corpus size: the bucket models aggregate to ≤`buckets` rows, join
  * back as broadcasts, and the only corpus-sized shuffle is the per-doc
  * score aggregation (map-side combined on `doc_id`). Selection is a
  * deterministic Gumbel perturbation (`u` from the seeded id hash, the
  * same construction as
  * [[graft.pipeline.TrainingData.weightedSampleExact]]) followed by
  * top-k — a TakeOrderedAndProject, never a global sort.
  */
object Dsir {

  /** Hashed n-gram (unigram + bigram) bucket ids of a text column —
    * row-local codegen'd HOFs end to end. */
  private[text] def featureBuckets(text: Column, buckets: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    transform(concat(toks, TextAnalysis.bigramsOf(toks)),
      f => pmod(HashExpressions.fnv1a32(f), lit(buckets.toLong)).cast("int"))
  }

  /** Per-document log importance weight for every NON-target document:
    * `log_w = Σ_features [ln p_target(b) − ln p_raw(b)]` with add-1
    * smoothing over the `buckets` bins (target model fit on `isTarget`
    * rows, raw model on the rest). Documents with zero features (empty
    * text) drop out — run the length filters first. Output:
    * `(doc_id, n_features, log_w)`. */
  def importanceWeights(documents: DataFrame, isTarget: Column,
                        buckets: Int = 8192): DataFrame = {
    require(buckets > 0, s"dsir: buckets must be positive, got $buckets")
    val feat = documents.select(col("doc_id"), isTarget.as("_t"),
      explode(featureBuckets(col("text"), buckets)).as("_b"))
    val model = feat.filter(col("_t")).groupBy("_b")
      .agg(count(lit(1)).as("_ct"))
      .join(feat.filter(!col("_t")).groupBy("_b")
        .agg(count(lit(1)).as("_cr")), Seq("_b"), "full_outer")
      .select(col("_b"), coalesce(col("_ct"), lit(0L)).as("_ct"),
        coalesce(col("_cr"), lit(0L)).as("_cr"))
    val totals = model.agg(sum("_ct").cast("double").as("_tt"),
      sum("_cr").cast("double").as("_tr"))
    val logRatio = model.crossJoin(broadcast(totals))
      .select(col("_b"),
        (log((col("_ct") + 1.0) / (col("_tt") + buckets))
          - log((col("_cr") + 1.0) / (col("_tr") + buckets))).as("_lr"))
    feat.filter(!col("_t"))
      .join(broadcast(logRatio), Seq("_b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"), sum("_lr").as("log_w"))
  }

  /** Gumbel top-k resample of the raw pool: the k documents with the
    * largest `log_w + Gumbel(u)`, `u` derived from the seeded id hash —
    * sampling WITHOUT replacement with inclusion probability
    * proportional to the importance weight `e^{log_w}`, as a pure
    * function of (corpus, buckets, seed). Output adds the perturbed
    * `gumbel_key`, ranked descending with `doc_id` tiebreak. */
  def selectTopK(documents: DataFrame, isTarget: Column, k: Int,
                 buckets: Int = 8192, seed: Long = 42L): DataFrame = {
    require(k > 0, s"dsir: k must be positive, got $k")
    val u = (pmod(HashExpressions.fnv1a32(
        concat(col("doc_id").cast("string"), lit(":"), lit(seed.toString))),
      lit(1000000L)).cast("double") + 0.5) / 1000000.0
    importanceWeights(documents, isTarget, buckets)
      .withColumn("gumbel_key", col("log_w") - log(-log(u)))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(k)
  }
}
