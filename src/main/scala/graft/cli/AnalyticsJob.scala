package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.CuratedWriter

/** The reference's aggregate entry point (SURVEY §3.2,
  * `spark_jobs/analytics_yellow_s3.py`): read the curated tree, filter a
  * year range, and write the headline aggregates plus the monthly trend.
  * Each of the five summaries is its own uncached scan. They read
  * disjoint column sets (`pickup_hour` + `fare_per_mile`, `pickup_dow`,
  * `pu_zone`, `do_zone`, `pickup_ym` + `fare`), so with column pruning
  * the five scans decode every column once, where a cache would decode
  * and re-encode all 18 columns of the tree — and at the reference's
  * 1.7B rows a full-width cache would not fit in memory anyway.
  *
  * Usage: AnalyticsJob --input <curated base> --output <out base>
  *                     [--from-year Y --to-year Y]
  */
object AnalyticsJob {

  /** Q1 `avg_fare_per_mile_by_hour` (`analytics_yellow_s3.py:15-19`). */
  def hourlyFare(trips: DataFrame): DataFrame =
    trips
      .groupBy("pickup_hour")
      .agg(avg("fare_per_mile").as("avg_fare_per_mile"),
        count(lit(1)).as("trip_count"))
      .orderBy("pickup_hour")

  /** Q2 `trips_by_dow` (`analytics_yellow_s3.py:21-23`). */
  def tripsByDow(trips: DataFrame): DataFrame =
    trips.groupBy("pickup_dow").agg(count(lit(1)).as("trip_count"))
      .orderBy("pickup_dow")

  /** Q3/Q4 busiest pickup/dropoff zones (`analytics_yellow_s3.py:25-28`). */
  def busiestZones(trips: DataFrame, zoneCol: String): DataFrame =
    trips.groupBy(zoneCol).agg(count(lit(1)).as("trip_count"))
      .orderBy(desc("trip_count"), asc(zoneCol)).limit(100)

  /** A5+A10 composed (`analytics_pandas.py:219-225`,
    * `comprehensive_trip_analysis.ipynb` cell 18): the monthly
    * volume/fare trend, with each month's volume as a percentage of the
    * EARLIEST month — the reference's COVID-dip framing with the 2019
    * baseline generalized to the first observed month. One aggregation
    * pass; the baseline joins back via an unpartitioned window over the
    * POST-AGGREGATE frame (#months rows, so the single-task window is
    * free — never over raw trips). */
  def monthlyTrend(trips: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = trips.groupBy("pickup_ym")
      .agg(count(lit(1)).as("trip_count"), round(avg("fare"), 4).as("avg_fare"))
    val w = Window.orderBy("pickup_ym")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("base_count", first("trip_count").over(w))
      .select(col("pickup_ym"), col("trip_count"), col("avg_fare"),
        round(col("trip_count") * lit(100.0) / col("base_count"), 4)
          .as("pct_of_baseline"))
      .orderBy("pickup_ym")
  }

  def run(spark: SparkSession, input: String, output: String,
          fromYear: Int, toYear: Int): Unit = {
    val trips = CuratedWriter.readCurated(spark, input)
      .filter(col("pickup_year").between(fromYear, toYear))
    CuratedWriter.writeSummary(hourlyFare(trips), s"$output/avg_fare_per_mile_by_hour")
    CuratedWriter.writeSummary(tripsByDow(trips), s"$output/trips_by_dow")
    CuratedWriter.writeSummary(busiestZones(trips, "pu_zone"), s"$output/busiest_pickup")
    CuratedWriter.writeSummary(busiestZones(trips, "do_zone"), s"$output/busiest_dropoff")
    CuratedWriter.writeSummary(monthlyTrend(trips), s"$output/monthly_trend")
  }

  def main(args: Array[String]): Unit = {
    val a = EtlJob.parseArgs(args)
    val spark = GraftSession.submitted("graft-analytics")
    try run(spark, a("input"), a("output"),
      a.getOrElse("from-year", "1900").toInt, a.getOrElse("to-year", "2999").toInt)
    finally spark.stop()
  }
}
