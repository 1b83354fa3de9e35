package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Split-conformal prediction intervals (Papadopoulos et al. 2002;
  * Lei et al., JASA 2018) — the distribution-free way to put a
  * coverage-guaranteed band around ANY point model: fit on a train
  * split, take the level-q quantile of absolute residuals on a held-out
  * calibration split, and the interval ŷ ± q̂ covers fresh points with
  * probability ≥ level, no matter how wrong the model is.
  *
  * Everything is aggregation-shaped: the fit is [[MultiOls]]'s
  * covariance-form normal equations (one partial→final pass), the
  * coefficients and the calibration quantile are one-row frames
  * broadcast onto the scoring splits, and the output is a constant-size
  * report — nothing driver-side, nothing quadratic, nothing that grows
  * with corpus size. */
object Conformal {

  /** Fit y ~ b0 + b1·x1 + b2·x2 on `train`, calibrate |residual| at
    * `level` on `calib` (exact interpolating percentile), report
    * empirical coverage and width on `eval`. Output one row:
    * (n_train, n_calib, n_eval, q_hat, covered, coverage, avg_width).
    *
    * Reproducibility design: the fitted coefficients are snapped to the
    * 6-decimal grid BEFORE any scoring. The raw covariance moments carry
    * ~1-ulp summation-order drift between engines; left unrounded, that
    * drift propagates into every residual and the calibration quantile,
    * and a single boundary row flips the integer `covered` count.
    * Rounding the three coefficients first makes every downstream
    * residual a fixed-order arithmetic function of exact parquet
    * doubles — bit-identical on any IEEE-754 engine — so the coverage
    * comparison is exact, not probabilistic. */
  def intervalReport(train: DataFrame, calib: DataFrame, eval: DataFrame,
                     y: Column, x1: Column, x2: Column,
                     level: Double = 0.9): DataFrame = {
    require(level > 0 && level < 1, s"level must be in (0,1), got $level")
    def xy(df: DataFrame) = df.select(y.cast("double").as("_y"),
      x1.cast("double").as("_x1"), x2.cast("double").as("_x2"))
    // covariance-form normal equations, unrounded (MultiOls.ols2 rounds
    // for presentation; conformal needs the full-precision fit)
    val m = xy(train).agg(
      covar_pop(col("_x1"), col("_y")).as("c1y"),
      covar_pop(col("_x2"), col("_y")).as("c2y"),
      covar_pop(col("_x1"), col("_x2")).as("c12"),
      var_pop(col("_x1")).as("v1"), var_pop(col("_x2")).as("v2"),
      avg(col("_y")).as("my"), avg(col("_x1")).as("m1"),
      avg(col("_x2")).as("m2"), count(lit(1)).as("n_train"))
    val det = col("v1") * col("v2") - col("c12") * col("c12")
    val fit = m.select(col("n_train"),
      round((col("v2") * col("c1y") - col("c12") * col("c2y")) / det,
        6).as("b1"),
      round((col("v1") * col("c2y") - col("c12") * col("c1y")) / det,
        6).as("b2"),
      col("my"), col("m1"), col("m2"))
      .select(col("n_train"), col("b1"), col("b2"),
        round(col("my") - col("b1") * col("m1") - col("b2") * col("m2"),
          6).as("b0"))
    def absRes = round(abs(col("_y")
      - (col("b0") + col("b1") * col("_x1") + col("b2") * col("_x2"))), 6)
    val qhat = xy(calib).crossJoin(broadcast(fit))
      .agg(count(lit(1)).as("n_calib"),
        round(percentile(absRes, lit(level)), 6).as("q_hat"))
      .select(col("n_calib"), col("q_hat"))
    xy(eval).crossJoin(broadcast(fit)).crossJoin(broadcast(qhat))
      .agg(first(col("n_train")).as("n_train"),
        first(col("n_calib")).as("n_calib"),
        count(lit(1)).as("n_eval"),
        first(col("q_hat")).as("q_hat"),
        sum((absRes <= col("q_hat")).cast("long")).as("covered"))
      .select(col("n_train"), col("n_calib"), col("n_eval"), col("q_hat"),
        col("covered"),
        round(col("covered").cast("double") / col("n_eval"), 4).as("coverage"),
        round(lit(2.0) * col("q_hat"), 6).as("avg_width"))
  }
}
