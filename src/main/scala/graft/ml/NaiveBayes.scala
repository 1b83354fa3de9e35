package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Multinomial Naive Bayes over token counts — the classic curation
  * classifier shape (fastText-style quality/language classifiers are
  * the single most used tool in pretraining-data pipelines; NB is its
  * fully-declarative cousin: one aggregation to train, one broadcast
  * join to score).
  *
  * Train: per-class token counts over a top-`vocab` frequency cut
  * (TakeOrderedAndProject — never a vocabulary sort), add-one
  * smoothing, log-likelihoods `ln((c + 1) / (classTotal + V))` plus
  * log priors. The model is vocab × classes rows — KBs to MBs —
  * BROADCAST to scoring.
  *
  * Score: explode tokens once, join the broadcast model (token →
  * per-class log-likelihood rows), sum per (doc, class) — map-side
  * combine keeps the shuffle at docs × classes — add the prior, argmax
  * by `max_by(class, struct(score, class))` (deterministic tie-break:
  * highest score, then lexicographically LAST class; ties are
  * float-impossible for real text at language-level margins).
  * Out-of-vocabulary tokens are excluded (the vocab cut IS the feature
  * set); an in-vocab token UNSEEN for a class takes the add-one floor
  * `ln(1/(classTotal+V))`, folded in analytically through the per-doc
  * token count — absent (token, class) pairs need no join rows. */
object NaiveBayes {

  /** Top tokens by corpus count kept as the model's vocabulary. */
  private val VocabSize = 2000

  /** Train + self-classify + confusion matrix in one call: documents'
    * `lang` is the class; output is (actual, predicted, n_docs) —
    * the evaluation a curation team actually reads. */
  def confusionMatrix(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), col("lang").as("cls"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))

    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok")).limit(VocabSize)
      .select("tok")
    val inVocab = toks.join(broadcast(vocab), Seq("tok"), "left_semi")

    // per-class totals over IN-VOCAB tokens + doc counts for the prior
    val classTotals = inVocab.groupBy("cls")
      .agg(count(lit(1)).as("class_total"))
    val priors = documents.groupBy(col("lang").as("cls"))
      .agg(count(lit(1)).as("n_docs"))
    val v = lit(VocabSize.toDouble)

    // model: (tok, cls, loglik); absent (tok, cls) pairs take the OOV
    // floor ln(1/(classTotal+V)) — handled at scoring via the analytic
    // fold, so the model stays sparse
    val model = inVocab.groupBy("tok", "cls").agg(count(lit(1)).as("c"))
      .select(col("tok"), col("cls"),
        // ln((c+1)/(total+V)) = ln(c+1) − ln(total+V); the second term
        // rides on the per-doc token count below (absent pairs have
        // c = 0 → ln(1) = 0), so the model stays sparse
        log(col("c") + 1.0).as("lift"))

    // per-doc in-vocab token count (OOV + absent-pair floor base)
    val docLens = inVocab.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"))

    // score(doc, cls) = ln prior + n_tok · ln(1/(total+V)) + Σ lift
    val base = docLens.crossJoin(broadcast(
      classTotals.join(priors, "cls")
        .select(col("cls"), col("class_total"), col("n_docs"))))
    // join on TOKEN ONLY: each token contributes every class's lift
    // (the model's cls column fans out the candidate classes)
    val lifts = inVocab.select("doc_id", "tok")
      .join(broadcast(model), Seq("tok"))
      .groupBy("doc_id", "cls").agg(sum("lift").as("sum_lift"))
    val scored = base
      .join(lifts, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("cls"),
        (log(col("n_docs").cast("double"))
          - col("n_tok") * log(col("class_total") + v)
          + coalesce(col("sum_lift"), lit(0.0))).as("score"))
    val predicted = scored.groupBy("doc_id")
      .agg(max_by(col("cls"), struct(col("score"), col("cls")))
        .as("predicted"))

    documents.select(col("doc_id"), col("lang").as("actual"))
      .join(predicted, "doc_id")
      .groupBy("actual", "predicted")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual", "predicted")
  }
}
