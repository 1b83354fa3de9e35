package graft.taxi

import org.apache.spark.sql.types._

/** The four divergent NYC-TLC trip schemas plus the canonical target.
  *
  * Column sets per reference survey (SURVEY §1.1, FIXTURES §A):
  *  - yellow: explicit StructType at `spark_jobs/utils.py:9-27`
  *  - green:  yellow + `trip_type`/`ehail_fee`, `lpep_` timestamp prefix
  *  - fhv:    7-column minimal schema with `dropOff_datetime` (camel O) and
  *            `PUlocationID` (lowercase l) traps — `part2.ipynb` cell 2:73
  *  - fhvhv:  `trip_miles`/`trip_time`/`base_passenger_fare`/`tips` naming
  *
  * The canonical "Universal Taxi Schema" (Report.pdf §4) is what every
  * downstream analytic consumes.
  */
object TaxiSchemas {

  private def d(n: String)  = StructField(n, DoubleType)
  private def s(n: String)  = StructField(n, StringType)
  private def i(n: String)  = StructField(n, IntegerType)
  private def ts(n: String) = StructField(n, TimestampType)
  private def dt(n: String) = StructField(n, DateType)

  /** Verbatim-shaped yellow schema (`spark_jobs/utils.py:9-27`). */
  val yellow: StructType = StructType(Seq(
    s("VendorID"), ts("tpep_pickup_datetime"), ts("tpep_dropoff_datetime"),
    i("passenger_count"), d("trip_distance"), s("RatecodeID"),
    s("store_and_fwd_flag"), i("PULocationID"), i("DOLocationID"),
    s("payment_type"), d("fare_amount"), d("extra"), d("mta_tax"),
    d("tip_amount"), d("tolls_amount"), d("improvement_surcharge"),
    d("total_amount"), d("congestion_surcharge"), d("airport_fee")))

  val green: StructType = StructType(Seq(
    s("VendorID"), ts("lpep_pickup_datetime"), ts("lpep_dropoff_datetime"),
    i("passenger_count"), d("trip_distance"), s("RatecodeID"),
    s("store_and_fwd_flag"), i("PULocationID"), i("DOLocationID"),
    s("payment_type"), d("fare_amount"), d("extra"), d("mta_tax"),
    d("tip_amount"), d("tolls_amount"), d("improvement_surcharge"),
    d("total_amount"), d("congestion_surcharge"), i("trip_type"), d("ehail_fee")))

  val fhv: StructType = StructType(Seq(
    s("dispatching_base_num"), ts("pickup_datetime"), ts("dropOff_datetime"),
    d("PUlocationID"), d("DOlocationID"), i("SR_Flag"),
    s("Affiliated_base_number")))

  val fhvhv: StructType = StructType(Seq(
    s("hvfhs_license_num"), s("dispatching_base_num"), s("originating_base_num"),
    ts("request_datetime"), ts("on_scene_datetime"),
    ts("pickup_datetime"), ts("dropoff_datetime"),
    i("PULocationID"), i("DOLocationID"),
    d("trip_miles"), StructField("trip_time", LongType),
    d("base_passenger_fare"), d("tolls"), d("bcf"), d("sales_tax"),
    d("congestion_surcharge"), d("airport_fee"), d("tips"), d("driver_pay"),
    s("shared_request_flag"), s("shared_match_flag"), s("access_a_ride_flag"),
    s("wav_request_flag"), s("wav_match_flag")))

  /** Canonical trips schema every analytic consumes (Report.pdf §4). */
  val canonical: StructType = StructType(Seq(
    s("cab_type"), ts("pickup_ts"), ts("dropoff_ts"),
    i("pu_zone"), i("do_zone"),
    d("distance_mi"), d("fare"), d("tip"), d("total")))

  /** The curated `cab_type/pickup_year/pickup_month` tree as
    * `spark.read.parquet` infers it: the data columns in the order
    * `Cleaning.clean` → `withTimeFeatures` → `withRatios` write them,
    * then the three partition columns in `partitionBy` order. Pinned so
    * curated reads skip the schema-inference job; `CuratedReadSpec`
    * fails if the writer drifts from it. */
  val curated: StructType = StructType(Seq(
    ts("pickup_ts"), ts("dropoff_ts"), i("pu_zone"), i("do_zone"),
    d("distance_mi"), d("fare"), d("tip"), d("total"), d("duration_min"),
    dt("pickup_date"), i("pickup_hour"), s("pickup_dow"), s("pickup_ym"),
    d("avg_speed_mph"), d("fare_per_mile"),
    s("cab_type"), i("pickup_year"), i("pickup_month")))

  /** Zone lookup dimension (`scripts/generate_notebooks_auto.py:383-430`). */
  val zoneLookup: StructType = StructType(Seq(
    i("LocationID"), s("Borough"), s("Zone"), s("service_zone")))
}
