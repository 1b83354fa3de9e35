package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grouped Mann–Kendall trend test (Mann 1945; Kendall 1975) — the
  * non-parametric "is there a monotone trend" companion to
  * [[TheilSen]]'s slope: S = Σ_{i<j} sign(y_j − y_i) over the
  * x-ordered series, with the tie-corrected variance
  * Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 and the
  * continuity-corrected z = (S ∓ 1)/√Var(S). |z| > 1.96 rejects
  * "no trend" at 5% without assuming any distribution — the standard
  * screen over thousands of per-key metric series.
  *
  * Scale shape identical to [[TheilSen.slopeByGroup]]: the pairwise
  * step is quadratic in the SERIES length only, self-joined
  * co-partitioned on the group key at the calendar-bounded aggregated
  * tier. Kendall's τ_b = S/√(D·D_t) is reported alongside (with D the
  * untied pair count per the tie-corrected denominator). */
object MannKendall {

  /** One row per group: n_points, s_stat, var_s, z, tau_b. */
  def testByGroup(series: DataFrame, groupCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val pts = series.select(col(groupCol).as("_g"),
      col(xCol).cast("double").as("_x"), col(yCol).cast("double").as("_y"))
    val l = pts.select(col("_g"), col("_x").as("_xi"), col("_y").as("_yi"))
    val r = pts.select(col("_g"), col("_x").as("_xj"), col("_y").as("_yj"))
    val s = l.join(r, Seq("_g")).filter(col("_xi") < col("_xj"))
      .groupBy("_g")
      .agg(sum(signum(col("_yj") - col("_yi")).cast("long")).as("s_stat"),
        count(lit(1)).as("n_pairs"))
    // tie groups in y: Σ t(t−1)(2t+5) over each tied-value run
    val ties = pts.groupBy(col("_g"), col("_y"))
      .agg(count(lit(1)).as("_t"))
      .groupBy("_g")
      .agg(count(lit(1)).as("_distinct_y"),
        sum(col("_t") * (col("_t") - 1) * (lit(2) * col("_t") + 5))
          .as("_tie_term"),
        sum(col("_t") * (col("_t") - 1) / 2).as("_tied_pairs"),
        sum(col("_t")).as("n_points"))
    s.join(ties, Seq("_g"))
      .withColumn("_n", col("n_points").cast("double"))
      .withColumn("var_s",
        (col("_n") * (col("_n") - 1) * (lit(2.0) * col("_n") + 5)
          - col("_tie_term")) / 18.0)
      .withColumn("z",
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)))
      // τ_b denominator: √(pairs − tied_x-pairs) · √(pairs − tied_y-pairs);
      // x is strictly ordered here (distinct by construction), so the x
      // term is just the pair count
      .withColumn("tau_b", col("s_stat").cast("double")
        / (sqrt(col("n_pairs").cast("double"))
          * sqrt((col("n_pairs") - col("_tied_pairs")).cast("double"))))
      .select(col("_g").as(groupCol), col("n_points"), col("s_stat"),
        round(col("var_s"), 6).as("var_s"),
        round(col("z"), 6).as("z"),
        round(col("tau_b"), 6).as("tau_b"))
      .orderBy(groupCol)
  }
}
