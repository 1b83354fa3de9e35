package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grouped Theil–Sen robust trend (Theil 1950; Sen, JASA 1968): the
  * slope estimate is the MEDIAN of all pairwise slopes
  * (y_j − y_i)/(x_j − x_i), i < j — a 29%-breakdown estimator that
  * shrugs off the outlier days an OLS trend line chases. The intercept
  * is the median residual median(y − m̂·x), Sen's standard companion.
  *
  * Scale shape: the pairwise step is quadratic IN THE SERIES LENGTH,
  * run per group after aggregation to the (key, x) tier — a daily
  * series is calendar-bounded (§[[graft.operators.Forecast]]: a decade
  * is ~3.7k points → ~7M pairs per key, still one task's work), and
  * the self-join is co-partitioned on the group key so pair generation
  * never shuffles more than the series tier itself. The raw corpus is
  * never paired. Exact medians via the interpolating `percentile`
  * aggregate — identical semantics to the oracle's quantile_cont.
  */
object TheilSen {

  /** One row per group: n_points, n_pairs, Theil–Sen slope and
    * intercept. `series` must be the aggregated (group, x, y) tier with
    * distinct x per group. */
  def slopeByGroup(series: DataFrame, groupCol: String, xCol: String,
                   yCol: String): DataFrame = {
    val pts = series.select(col(groupCol).as("_g"),
      col(xCol).cast("double").as("_x"), col(yCol).cast("double").as("_y"))
    val l = pts.select(col("_g"), col("_x").as("_xi"), col("_y").as("_yi"))
    val r = pts.select(col("_g"), col("_x").as("_xj"), col("_y").as("_yj"))
    val slopes = l.join(r, Seq("_g")).filter(col("_xi") < col("_xj"))
      .select(col("_g"),
        ((col("_yj") - col("_yi")) / (col("_xj") - col("_xi"))).as("_s"))
    val m = slopes.groupBy("_g")
      .agg(count(lit(1)).as("n_pairs"), percentile(col("_s"), lit(0.5)).as("_m"))
    pts.join(m, Seq("_g"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n_points"), first(col("n_pairs")).as("n_pairs"),
        first(col("_m")).as("_m"),
        percentile(col("_y") - col("_m") * col("_x"), lit(0.5)).as("_b"))
      .select(col("_g").as(groupCol), col("n_points"), col("n_pairs"),
        round(col("_m"), 6).as("ts_slope"),
        round(col("_b"), 6).as("ts_intercept"))
      .orderBy(groupCol)
  }
}
