package graft.taxi

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cleaning rules + derived features over the canonical trip schema.
  *
  * Semantics pinned to the reference's v2 ETL (`spark_jobs/utils.py:35-83`,
  * `spark_jobs/etl_yellow_s3_v2.py:32-77`); constants live here so tests and
  * docs agree (SURVEY P1–P3, P7–P13; FIXTURES §A.6).
  *
  * All rules are plain Catalyst predicates/projections: they push down to
  * the parquet scan (row-group min/max pruning) and stay inside
  * whole-stage codegen — no UDFs anywhere.
  */
object Cleaning {
  // P3 outlier bounds (`spark_jobs/utils.py:67-72`)
  val MinDurationMin = 0.5
  val MaxDurationMin = 1440.0
  val MinDistanceMi  = 0.0   // exclusive
  val MaxDistanceMi  = 500.0 // exclusive
  val MinFare        = 0.0   // inclusive (v2 semantics: fare >= 0)

  /** P7 guarded string→double cast (`utils.py:30-32`): cast only when the
    * value matches a numeric regex, else NULL. */
  def safeDouble(c: Column): Column =
    when(c.rlike("^-?\\d+(\\.\\d+)?$"), c.cast("double"))

  /** P9 trip duration minutes from timestamps (`utils.py:61-64`). */
  def durationMin(pickup: Column, dropoff: Column): Column =
    (unix_timestamp(dropoff) - unix_timestamp(pickup)) / 60.0

  /** P10 guarded speed mph (`utils.py:75`). */
  def speedMph(distance: Column, durMin: Column): Column =
    when(durMin > 0, distance / (durMin / 60.0))

  /** P11 guarded fare per mile (`utils.py:76`). */
  def farePerMile(fare: Column, distance: Column): Column =
    when(distance > 0, fare / distance)

  /** P12 ratio clipped to a cap (`part2.ipynb` cells 11, 27). */
  def clippedRatio(num: Column, den: Column, cap: Double): Column =
    when(den > 0, least(num / den, lit(cap)))

  /** P14 month→season (`scripts/analytics_summary.py:13-14`). A null
    * month stays null — a bare `otherwise("Fall")` would catch the
    * null fall-through and silently inflate Fall aggregates for rows
    * with no date. */
  def season(month: Column): Column =
    when(month.isin(12, 1, 2), "Winter")
      .when(month.isin(3, 4, 5), "Spring")
      .when(month.isin(6, 7, 8), "Summer")
      .when(month.isNotNull, "Fall")

  /** P2 timestamp sanity: both present, dropoff after pickup
    * (`utils.py:54-58`). */
  def timestampSanity(pickup: Column, dropoff: Column): Column =
    pickup.isNotNull && dropoff.isNotNull && dropoff > pickup

  /** Full clean on a canonical frame: P1/P2/P3 filters + P9 derived
    * duration — one `filter` chain, fully pushdown-eligible. */
  def clean(trips: DataFrame): DataFrame = {
    val withDur = trips.withColumn(
      "duration_min", durationMin(col("pickup_ts"), col("dropoff_ts")))
    withDur.filter(
      timestampSanity(col("pickup_ts"), col("dropoff_ts")) &&
        col("duration_min") > MinDurationMin && col("duration_min") < MaxDurationMin &&
        (col("distance_mi").isNull ||
          (col("distance_mi") > MinDistanceMi && col("distance_mi") < MaxDistanceMi)) &&
        (col("fare").isNull || col("fare") >= MinFare))
  }

  /** P13 time-feature projection (`utils.py:79-81`,
    * `etl_yellow_s3_v2.py:74-77`). */
  def withTimeFeatures(trips: DataFrame): DataFrame =
    trips
      .withColumn("pickup_date", to_date(col("pickup_ts")))
      .withColumn("pickup_hour", hour(col("pickup_ts")))
      .withColumn("pickup_dow", date_format(col("pickup_ts"), "E"))
      .withColumn("pickup_year", year(col("pickup_ts")))
      .withColumn("pickup_month", month(col("pickup_ts")))
      .withColumn("pickup_ym", date_format(col("pickup_ts"), "yyyy-MM"))

  /** Feature projection: speed + fare-per-mile (P10/P11). */
  def withRatios(trips: DataFrame): DataFrame =
    trips
      .withColumn("avg_speed_mph", speedMph(col("distance_mi"), col("duration_min")))
      .withColumn("fare_per_mile", farePerMile(col("fare"), col("distance_mi")))
}
