package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classifier threshold sweep — precision / recall / F1 at a fixed
  * threshold ladder over a score column, the operating-point table every
  * quality-filter deployment reads before picking its cutoff (pair with
  * [[Calibration]]'s reliability bins and [[Auc]]'s ranking quality).
  *
  * Scale shape: NO explode and NO per-threshold pass — each threshold
  * contributes two conditional-sum aggregates, so the whole ladder is
  * ONE partial→final aggregation over the corpus (2·|T|+2 longs of
  * state) followed by a constant-size reshape of the single result row.
  * All counts are exact integers; the ratios are single divisions of
  * those integers, so a fixed rounding pins cross-engine.
  */
object Thresholds {

  /** Decile lift/gains table — the campaign-targeting eval: sort by
    * score descending, cut into 10 equal-count buckets, report each
    * decile's response rate and the CUMULATIVE lift over the base rate
    * ("how much better than random are the top-k% by model score").
    * A healthy model shows monotone-ish decay; lift(1) is the headline.
    *
    * Scale shape: `ntile` needs a total order — here over (score desc,
    * unique id), the same contract as the quartile/percentile-ladder
    * gates (w7/a42); at extreme scale the two-pass range-partitioned
    * rank substitutes, as documented there. Everything after the tile
    * assignment is exact integer aggregation; only the final ratios are
    * floats. */
  def decileLift(df: DataFrame, score: Column, label: Column,
                 id: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_s").desc, col("_id").asc)
    val tiled = df.select(score.as("_s"), label.cast("long").as("_y"),
        id.as("_id"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("_y").as("n_pos"))
      // the global ntile window is the operator's dominant cost and has
      // TWO consumers (the totals aggregate and the probe side below);
      // eagerly checkpoint the buckets-row result so the sort runs once.
      // Nothing is serialized that the window's single task wasn't
      // already serializing (r14).
      .localCheckpoint(true)
    val tot = tiled.agg(sum("n").as("tot_n"), sum("n_pos").as("tot_pos"))
    val wc = org.apache.spark.sql.expressions.Window.orderBy("decile")
    tiled.crossJoin(broadcast(tot))
      .withColumn("cum_n", sum("n").over(wc))
      .withColumn("cum_pos", sum("n_pos").over(wc))
      .select(col("decile"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("response_rate"),
        round((col("cum_pos").cast("double") / col("cum_n")) /
          (col("tot_pos").cast("double") / col("tot_n")), 6).as("cum_lift"))
      .orderBy("decile")
  }

  /** Confusion counts + precision/recall/F1 for `score > t` at each
    * threshold. Output: (threshold, tp, fp, fn, precision, recall, f1)
    * ordered by threshold; ratios rounded to 6, null when undefined
    * (SQL division semantics — e.g. precision with zero predicted
    * positives). */
  def sweep(df: DataFrame, score: Column, label: Column,
            thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "sweep: need at least one threshold")
    val y = label.cast("long")
    val base = df.select(score.as("_s"), y.as("_y"))
    val aggs =
      sum(col("_y")).as("_pos") +:
      thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
        sum(when(col("_s") > t, col("_y")).otherwise(0L)).as(s"_tp$i"),
        count(when(col("_s") > t, 1)).as(s"_pp$i"))
      }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val rows = thresholds.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("threshold"), col(s"_tp$i").as("tp"),
        (col(s"_pp$i") - col(s"_tp$i")).as("fp"),
        (col("_pos") - col(s"_tp$i")).as("fn"))
    }
    // guarded ratios: double-division of exact longs, CASE-null on an
    // empty denominator (identical semantics spelled on the SQL side;
    // never NaN/Inf, which hash differently across engines)
    def ratio(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den, 6))
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.threshold"), col("r.tp"), col("r.fp"), col("r.fn"),
        ratio(col("r.tp"), col("r.tp") + col("r.fp")).as("precision"),
        ratio(col("r.tp"), col("r.tp") + col("r.fn")).as("recall"),
        ratio(lit(2L) * col("r.tp"),
          lit(2L) * col("r.tp") + col("r.fp") + col("r.fn")).as("f1"))
      .orderBy("threshold")
  }
}
