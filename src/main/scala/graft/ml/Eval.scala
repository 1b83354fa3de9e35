package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation metrics over scored rows — the read-side a training
  * pipeline runs on its eval split (and a ranking pipeline on its
  * query logs). All metrics are exact (no sampling, no sketch), built
  * so the data-sized work is hash aggregation or per-query windows:
  *
  *   - [[brierEce]]: Brier score + expected calibration error scalars —
  *     the one-row companion to [[Calibration.reliabilityBins]] (which
  *     owns the per-bin table; AUC lives in [[Calibration.aucExact]]).
  *   - [[ndcgMrr]]: NDCG@k and MRR per ranked query, averaged — the
  *     retrieval-eval pair for the BM25/fusion/ANN operators.
  *   - [[looTargetEncode]]: leave-one-out target (mean) encoding — the
  *     leakage-safe categorical feature, from ONE category aggregate
  *     joined back (never a per-row self-join).
  *
  * Reference analogue: none — beyond-reference scope from the
  * training-data-pipeline charter (the reference has no model-eval
  * surface at all).
  */
object Eval {

  /** Brier score and expected calibration error in one pass: Brier is
    * the row-level mean squared error of the probability; ECE is the
    * bin-count-weighted mean |confidence − accuracy| over the
    * [[calibrationBins]] table (computed here from the same single
    * aggregate — no second scan). Output one row.
    */
  def brierEce(df: DataFrame, probCol: String, labelCol: Column,
               nBins: Int = 10): DataFrame = {
    val p = col(probCol).cast("double")
    val y = when(labelCol, 1.0).otherwise(0.0)
    val bins = df.filter(p.isNotNull)
      .withColumn("bin",
        least(floor(p * nBins), lit(nBins - 1L)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(pow(p - y, 2)).as("se"),
        avg(p).as("conf"), avg(y).as("acc"))
    bins.agg(sum("n").as("n_rows"),
        round(sum("se") / sum("n"), 6).as("brier"),
        round(sum(col("n") * abs(col("conf") - col("acc"))) / sum("n"), 6)
          .as("ece"))
  }

  /** NDCG@k and MRR over ranked queries: rows are (query, candidate)
    * pairs scored by `scoreCol` with binary relevance `relCol`; ranking
    * is descending score with `tieCol` ascending as the unique
    * tie-break (both engines must agree on a total order or DCG is
    * nondeterministic). Per query: DCG@k from the top-k window,
    * IDCG@k = Σ_{i≤min(P,k)} 1/log2(i+1) closed-form from the positive
    * count (binary relevance — no second ranking pass), NDCG = DCG/IDCG,
    * MRR = 1/rank of the first relevant candidate (full list). Queries
    * with no relevant candidate contribute nothing to either average.
    * Output one row: query counts and the two means.
    *
    * Scale shape: windows partitioned by the query key — embarrassingly
    * parallel, state bounded by a query's candidate list; the roll-up
    * is a scalar aggregate over the queries-sized frame.
    */
  def ndcgMrr(df: DataFrame, queryCol: String, scoreCol: String,
              relCol: Column, tieCol: String, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(queryCol)
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    val ranked = df
      .withColumn("rel", when(relCol, 1L).otherwise(0L))
      .withColumn("rnk", row_number().over(w))
    val perQuery = ranked.groupBy(queryCol)
      .agg(sum("rel").as("n_rel"),
        sum(when(col("rnk") <= k && col("rel") === 1L,
          lit(1.0) / log2(col("rnk") + 1)).otherwise(0.0)).as("dcg"),
        min(when(col("rel") === 1L, col("rnk"))).as("first_rel"))
    // IDCG@k needs Σ 1/log2(i+1) for i = 1..min(P,k): explode the ≤k
    // ideal positions per query — bounded fan-out on the queries-sized
    // frame, not on candidates
    val idcg = perQuery
      // filter BEFORE the sequence: sequence(1, 0) is DESCENDING [1,0]
      // in Spark, and the 0 position would divide by log2(1) = 0
      .filter(col("n_rel") > 0)
      .withColumn("ideal_i",
        explode(sequence(lit(1L), least(col("n_rel"), lit(k.toLong)))))
      .groupBy(queryCol)
      .agg(sum(lit(1.0) / log2(col("ideal_i") + 1)).as("idcg"))
    perQuery.join(idcg, Seq(queryCol), "left")
      .agg(count(lit(1)).as("n_queries"),
        count(when(col("n_rel") > 0, 1)).as("n_with_rel"),
        round(avg(when(col("n_rel") > 0, col("dcg") / col("idcg"))), 6)
          .as("mean_ndcg"),
        round(avg(when(col("n_rel") > 0, lit(1.0) / col("first_rel"))), 6)
          .as("mean_mrr"))
  }

  /** Rank-biased overlap (Webber, Moffat, Zobel, TOIS 2010) truncated
    * at depth k, between two rankings of each query's candidate set:
    * `RBO@k = (1−p) Σ_{d=1..k} p^{d−1} · |A_d ∩ B_d| / d`. The
    * evaluation-depth sum collapses to a PER-ITEM lookup: an item
    * ranked (ra, rb) by the two sides is inside both depth-d prefixes
    * exactly when `d ≥ max(ra, rb)`, so its total contribution is the
    * suffix sum `S(m) = Σ_{d=m..k} p^{d−1}/d` — k literals inlined as a
    * when-chain, evaluated row-locally. Two windows partitioned by the
    * query key, one join on (query, item), one aggregate; never a
    * per-depth explode of the candidate lists.
    *
    * Both rankings order by their score DESC with `tieCol` ASC as the
    * shared unique tie-break (cross-engine total order). Output one
    * row: query count and mean RBO@k (queries with fewer than k
    * candidates use their natural prefixes — the truncated-RBO
    * convention).
    */
  def rboTopK(df: DataFrame, queryCol: String, scoreA: Column,
              scoreB: Column, tieCol: String, k: Int = 10,
              p: Double = 0.9): DataFrame = {
    val wA = Window.partitionBy(queryCol).orderBy(scoreA.desc, col(tieCol).asc)
    val wB = Window.partitionBy(queryCol).orderBy(scoreB.desc, col(tieCol).asc)
    val ranked = df
      .withColumn("ra", row_number().over(wA))
      .withColumn("rb", row_number().over(wB))
      .withColumn("m", greatest(col("ra"), col("rb")))
    // S(m) = sum_{d=m..k} p^(d-1)/d, inlined as literals; items with
    // m > k fall through to 0 — a query whose two prefixes are
    // DISJOINT still aggregates (RBO 0), it must not drop from the mean
    val suffix: IndexedSeq[Double] =
      (1 to k).map(m => (m to k).map(d => math.pow(p, d - 1) / d).sum)
    val contrib = (1 to k).foldLeft(lit(0.0)) { (acc, m) =>
      when(col("m") === m, lit(suffix(m - 1))).otherwise(acc)
    }
    ranked.groupBy(queryCol).agg(sum(contrib).as("s"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("s") * (1 - p)), 6).as("mean_rbo"))
  }

  /** Leave-one-out target encoding of `catCol` against numeric
    * `targetCol`: each row's feature is the category's target mean
    * EXCLUDING the row itself, `(S_c − y_i) / (n_c − 1)` (null for
    * singleton categories — no self-information leaks). One category
    * aggregate broadcast-joined back; the per-row arithmetic is
    * row-local. Returns the input plus `loo_enc`.
    */
  def looTargetEncode(df: DataFrame, catCol: String,
                      targetCol: String): DataFrame = {
    val stats = df.groupBy(catCol)
      .agg(sum(col(targetCol).cast("double")).as("_s"),
        count(col(targetCol)).as("_n"))
    df.join(broadcast(stats), Seq(catCol))
      .withColumn("loo_enc",
        when(col("_n") > 1,
          (col("_s") - col(targetCol)) / (col("_n") - 1)))
      .drop("_s", "_n")
  }
}
