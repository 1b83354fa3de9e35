package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical anomaly detection (SURVEY A22): the reference uses sklearn
  * IsolationForest (`part2.ipynb` cell 23) driver-side on samples; the
  * supported distributed operator here is the IQR / z-score family its
  * cell 31 also uses — exact quantiles per group, then a single
  * broadcast-join of the tiny bounds table back onto the stream.
  */
object Outliers {

  /** Per-group IQR bounds + anomaly counts: value outside
    * [q1 - 1.5·IQR, q3 + 1.5·IQR]. */
  def iqrAnomalies(events: DataFrame): DataFrame = {
    val bounds = events
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
    events
      .join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        count(when(col("value") < col("lo") || col("value") > col("hi"), 1))
          .as("n_anomalies"),
        round(first("lo"), 4).as("lo"),
        round(first("hi"), 4).as("hi"))
      .orderBy("event_type")
  }

  /** Per-group MAD (median absolute deviation) robust outlier report —
    * the heavier-tail-proof sibling of [[iqrAnomalies]]: score =
    * 0.6745·(x − median)/MAD (the 0.6745 consistency constant makes the
    * score ≈ a z-score under normality), flag |score| > `threshold`
    * (3.5 is the standard Iglewicz–Hoaglin cut).
    *
    * Scale shape: two exact-percentile aggregations over the data (the
    * group median, then the median absolute deviation), each producing
    * a groups-sized table that broadcasts back — no window over the
    * corpus, no sort. At 100 TB swap `percentile` for
    * `percentile_approx` (the a27-gated sketch twin); plan unchanged.
    * An all-identical group (MAD = 0) scores 0 everywhere rather than
    * dividing by zero. */
  def madOutliers(events: DataFrame, valueCol: String = "value",
                  threshold: Double = 3.5): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    require(valueCol.matches("[A-Za-z0-9_]+"),
      s"madOutliers valueCol must be a plain identifier, got '$valueCol'")
    val med = events.groupBy("event_type")
      .agg(expr(s"percentile($valueCol, 0.5)").as("_med"))
    val dev = events.join(broadcast(med), "event_type")
      .withColumn("_ad", abs(col(valueCol) - col("_med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(_ad, 0.5)").as("_mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("_z", when(col("_mad") === 0d, lit(0d))
        .otherwise(lit(0.6745) * (col(valueCol) - col("_med")) / col("_mad")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        round(first("_med"), 4).as("med"),
        round(first("_mad"), 4).as("mad"),
        count(when(abs(col("_z")) > threshold, 1)).as("n_flagged"),
        round(max(abs(col("_z"))), 4).as("max_abs_score"))
      .orderBy("event_type")
  }
}
