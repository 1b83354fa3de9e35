package graft
package gates

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.Joins

/** Taxi pipeline gates (`x*`): the paper's own path — TLC-shaped raw
  * drops through [[graft.taxi.SchemaNormalizer]], [[graft.taxi.Cleaning]],
  * the curated writer and the [[graft.cli.AnalyticsJob]] aggregates. */
object TaxiGates extends Catalog {
  def gates: Seq[Gate] = Seq(
    // nearest-station assignment over derived coordinates: broadcast
    // cross join + per-point lexicographic argmin, per-station roll-up
    Gate("x9_nearest_station", (s, d) => {
      val pts = Tables.events(s, d).select(
        col("event_id").as("point_id"),
        (pmod(col("user_id"), lit(171L)).cast("double") - 85.0 + 0.25)
          .as("lat"),
        (pmod(col("event_id"), lit(360L)).cast("double") - 180.0 + 0.5)
          .as("lon"))
      val st = Tables.nation(s, d).select(
        col("n_nationkey").cast("long").as("station_id"),
        (pmod(col("n_nationkey") * 37, lit(171)).cast("double") - 85.0 + 0.1)
          .as("s_lat"),
        (pmod(col("n_nationkey") * 91, lit(360)).cast("double") - 180.0 + 0.2)
          .as("s_lon"))
      graft.operators.Geo.nearestStationProfile(pts, st)
    },
      """WITH p AS (SELECT event_id AS point_id,
           (user_id % 171)::DOUBLE - 85.0 + 0.25 AS lat,
           (event_id % 360)::DOUBLE - 180.0 + 0.5 AS lon FROM events),
         s AS (SELECT CAST(n_nationkey AS BIGINT) AS station_id,
           ((n_nationkey * 37) % 171)::DOUBLE - 85.0 + 0.1 AS s_lat,
           ((n_nationkey * 91) % 360)::DOUBLE - 180.0 + 0.2 AS s_lon
           FROM nation),
         d AS (SELECT point_id, station_id,
           12742.0 * asin(sqrt(
             sin(radians(s_lat - lat) / 2) * sin(radians(s_lat - lat) / 2)
             + cos(radians(lat)) * cos(radians(s_lat))
               * sin(radians(s_lon - lon) / 2)
               * sin(radians(s_lon - lon) / 2))) AS dist
           FROM p CROSS JOIN s),
         best AS (SELECT point_id, station_id, dist, row_number() OVER (
             PARTITION BY point_id ORDER BY dist, station_id) AS rn
           FROM d)
         SELECT station_id, count(*) AS n_points,
           round(avg(dist), 2) AS avg_km, round(max(dist), 2) AS max_km
         FROM best WHERE rn = 1 GROUP BY 1 ORDER BY station_id"""),
    // the same assignment through the latitude-band grid escalation
    // (the non-broadcastable-catalog path) — must reproduce x9's
    // brute-force oracle bit-for-bit
    Gate("x9b_nearest_station_grid", (s, d) => {
      val pts = Tables.events(s, d).select(
        col("event_id").as("point_id"),
        (pmod(col("user_id"), lit(171L)).cast("double") - 85.0 + 0.25)
          .as("lat"),
        (pmod(col("event_id"), lit(360L)).cast("double") - 180.0 + 0.5)
          .as("lon"))
      val st = Tables.nation(s, d).select(
        col("n_nationkey").cast("long").as("station_id"),
        (pmod(col("n_nationkey") * 37, lit(171)).cast("double") - 85.0 + 0.1)
          .as("s_lat"),
        (pmod(col("n_nationkey") * 91, lit(360)).cast("double") - 180.0 + 0.2)
          .as("s_lon"))
      graft.operators.Geo.nearestStationProfileGrid(pts, st, bandDeg = 10.0)
    },
      // same brute-force oracle as x9: the grid escalation is exact
      """WITH p AS (SELECT event_id AS point_id,
           (user_id % 171)::DOUBLE - 85.0 + 0.25 AS lat,
           (event_id % 360)::DOUBLE - 180.0 + 0.5 AS lon FROM events),
         s AS (SELECT CAST(n_nationkey AS BIGINT) AS station_id,
           ((n_nationkey * 37) % 171)::DOUBLE - 85.0 + 0.1 AS s_lat,
           ((n_nationkey * 91) % 360)::DOUBLE - 180.0 + 0.2 AS s_lon
           FROM nation),
         d AS (SELECT point_id, station_id,
           12742.0 * asin(sqrt(
             sin(radians(s_lat - lat) / 2) * sin(radians(s_lat - lat) / 2)
             + cos(radians(lat)) * cos(radians(s_lat))
               * sin(radians(s_lon - lon) / 2)
               * sin(radians(s_lon - lon) / 2))) AS dist
           FROM p CROSS JOIN s),
         best AS (SELECT point_id, station_id, dist, row_number() OVER (
             PARTITION BY point_id ORDER BY dist, station_id) AS rn
           FROM d)
         SELECT station_id, count(*) AS n_points,
           round(avg(dist), 2) AS avg_km, round(max(dist), 2) AS max_km
         FROM best WHERE rn = 1 GROUP BY 1 ORDER BY station_id"""),
    // the full star: BOTH fact tables shuffle-joined on orderkey, the
    // snowflake dims broadcast, date filter pushed to the orders scan
    Gate("x8_q5_revenue", (s, d) =>
      Joins.revenueByNation(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
      """SELECT r_name, n_name, count(*) AS n_items,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
           AND year(o_orderdate) BETWEEN 1996 AND 1997
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    // TPC-H Q3's shape: segment + date filters pushed to both scans,
    // fact-fact join, top-10 revenue orderkeys via a bounded heap
    Gate("x10_q3_shipping", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1997-06-30").cast("timestamp_ntz"))
        .join(Tables.orders(s, d)
            .filter(year(col("o_orderdate")) <= 1997),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d)
            .filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10),
      """SELECT l_orderkey, o_orderpriority,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
           count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
           AND year(o_orderdate) <= 1997
         JOIN customer ON o_custkey = c_custkey
           AND c_mktsegment = 'BUILDING'
         WHERE l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
         GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    // --- taxi end-to-end path (SURVEY §3): raw-schema frames synthesized
    // deterministically from `events`, run through the CLI's own
    // EtlJob.transform (SchemaNormalizer detection + every Cleaning
    // constant), then the AnalyticsJob aggregates — each pinned to a
    // DuckDB oracle that regenerates the identical raw rows ---
    Gate("x1_taxi_hourly_fare", (s, d) => {
      val t = cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d)), "yellow")
      cli.AnalyticsJob.hourlyFare(t)
        .select(col("pickup_hour"),
          round(col("avg_fare_per_mile"), 4).as("avg_fare_per_mile"),
          col("trip_count"))
    },
      s"""$taxiYellowCleaned
         SELECT CAST(hour(pickup_ts) AS INT) AS pickup_hour,
           round(avg(CASE WHEN distance_mi > 0 THEN fare / distance_mi END), 4)
             AS avg_fare_per_mile,
           count(*) AS trip_count
         FROM cl GROUP BY 1 ORDER BY pickup_hour"""),
    Gate("x2_taxi_trips_by_dow", (s, d) =>
      cli.AnalyticsJob.tripsByDow(
        cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d)), "yellow")),
      s"""$taxiYellowCleaned
         SELECT strftime(pickup_ts, '%a') AS pickup_dow, count(*) AS trip_count
         FROM cl GROUP BY 1 ORDER BY pickup_dow"""),
    Gate("x3_taxi_busiest_pickup", (s, d) =>
      cli.AnalyticsJob.busiestZones(
        cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d)), "yellow"),
        "pu_zone"),
      s"""$taxiYellowCleaned
         SELECT pu_zone, count(*) AS trip_count FROM cl GROUP BY 1
         ORDER BY trip_count DESC, pu_zone LIMIT 100"""),
    Gate("x4_taxi_busiest_dropoff", (s, d) =>
      cli.AnalyticsJob.busiestZones(
        cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d)), "yellow"),
        "do_zone"),
      s"""$taxiYellowCleaned
         SELECT do_zone, count(*) AS trip_count FROM cl GROUP BY 1
         ORDER BY trip_count DESC, do_zone LIMIT 100"""),
    Gate("x5_taxi_multi_schema_union", (s, d) => {
      val ev = Tables.events(s, d)
      val frames = Seq(
        cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(
          ev.filter(col("event_type") === "click")), "yellow"),
        cli.EtlJob.transform(taxi.TaxiFixture.greenFromEvents(
          ev.filter(col("event_type") === "signup")), "green"),
        cli.EtlJob.transform(taxi.TaxiFixture.fhvFromEvents(
          ev.filter(col("event_type") === "view")), "fhv"),
        cli.EtlJob.transform(taxi.TaxiFixture.fhvhvFromEvents(
          ev.filter(col("event_type") === "purchase")), "fhvhv"))
      taxi.SchemaNormalizer.unionCanonical(frames)
        .groupBy("cab_type")
        .agg(count(lit(1)).as("n_trips"),
          count(when(col("fare").isNull, 1)).as("n_null_fare"),
          count(when(col("distance_mi").isNull, 1)).as("n_null_dist"),
          round(sum(coalesce(col("total"), lit(0.0))), 2).as("total_sum"))
        .orderBy("cab_type")
    },
      """WITH base AS (SELECT event_id, user_id, event_type, value, ts,
           ts + to_minutes(event_id % 1500) AS dropoff_ts,
           date_diff('second', ts, ts + to_minutes(event_id % 1500)) / 60.0 AS dur,
           CASE WHEN event_id % 97 = 0 THEN NULL
                ELSE ((event_id * 7) % 620 - 10)::DOUBLE END AS dist,
           CASE WHEN event_id % 89 = 0 THEN NULL
                ELSE ((event_id * 13) % 210 - 10)::DOUBLE END AS fare
         FROM events),
         ok AS (SELECT * FROM base
           WHERE ts IS NOT NULL AND dropoff_ts > ts AND dur > 0.5 AND dur < 1440),
         y AS (SELECT 'yellow' AS cab_type, dist AS distance_mi, fare,
             coalesce(fare, 0) + value AS total
           FROM ok WHERE event_type = 'click'
             AND (dist IS NULL OR (dist > 0 AND dist < 500))
             AND (fare IS NULL OR fare >= 0)),
         g AS (SELECT 'green' AS cab_type, dist AS distance_mi, fare,
             coalesce(fare, 0) + value AS total
           FROM ok WHERE event_type = 'signup'
             AND (dist IS NULL OR (dist > 0 AND dist < 500))
             AND (fare IS NULL OR fare >= 0)),
         f AS (SELECT 'fhv' AS cab_type, NULL::DOUBLE AS distance_mi,
             NULL::DOUBLE AS fare, NULL::DOUBLE AS total
           FROM ok WHERE event_type = 'view'),
         h AS (SELECT 'fhvhv' AS cab_type, dist AS distance_mi, fare,
             coalesce(fare, 0) + (event_id % 7) + (event_id % 3) + (event_id % 9)
               + (event_id % 11)
               + coalesce(CASE WHEN event_id % 13 = 0 THEN NULL
                               ELSE event_id % 5 END, 0)
               + (event_id % 23) AS total
           FROM ok WHERE event_type = 'purchase'
             AND (dist IS NULL OR (dist > 0 AND dist < 500))
             AND (fare IS NULL OR fare >= 0)),
         u AS (SELECT * FROM y UNION ALL SELECT * FROM g
               UNION ALL SELECT * FROM f UNION ALL SELECT * FROM h)
         SELECT cab_type, count(*) AS n_trips,
           count(CASE WHEN fare IS NULL THEN 1 END) AS n_null_fare,
           count(CASE WHEN distance_mi IS NULL THEN 1 END) AS n_null_dist,
           round(sum(coalesce(total, 0)), 2) AS total_sum
         FROM u GROUP BY 1 ORDER BY cab_type"""),
    // A5+A10 composed through the CLI chain (`analytics_pandas.py:219-
    // 225`): the events fixture spans one calendar month, so the gate
    // deterministically spreads trips over six months (event_id % 6,
    // calendar-month add — mirrored exactly in the oracle) before the
    // same EtlJob.transform; then monthlyTrend pins the yyyy-MM grid,
    // per-month counts/fares, and each month's pct of the earliest month
    Gate("x7_taxi_monthly_trend", (s, d) => {
      val spread = Tables.events(s, d).withColumn("ts",
        col("ts") + expr("make_interval(0, CAST(event_id % 6 AS INT), 0, 0, 0, 0, 0)"))
      cli.AnalyticsJob.monthlyTrend(
        cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(spread), "yellow"))
    },
      """WITH raw AS (SELECT
           ts + to_months(CAST(event_id % 6 AS INT)) AS pickup_ts,
           ts + to_months(CAST(event_id % 6 AS INT))
             + to_minutes(event_id % 1500) AS dropoff_ts,
           CASE WHEN event_id % 97 = 0 THEN NULL
                ELSE ((event_id * 7) % 620 - 10)::DOUBLE END AS distance_mi,
           CASE WHEN event_id % 89 = 0 THEN NULL
                ELSE ((event_id * 13) % 210 - 10)::DOUBLE END AS fare
         FROM events),
         cl AS (SELECT * FROM raw
           WHERE pickup_ts IS NOT NULL AND dropoff_ts IS NOT NULL
             AND dropoff_ts > pickup_ts
             AND date_diff('second', pickup_ts, dropoff_ts) / 60.0 > 0.5
             AND date_diff('second', pickup_ts, dropoff_ts) / 60.0 < 1440
             AND (distance_mi IS NULL OR (distance_mi > 0 AND distance_mi < 500))
             AND (fare IS NULL OR fare >= 0)),
         monthly AS (SELECT strftime(pickup_ts, '%Y-%m') AS pickup_ym,
           count(*) AS trip_count, round(avg(fare), 4) AS avg_fare
           FROM cl GROUP BY 1),
         base AS (SELECT trip_count AS base_count FROM monthly
           ORDER BY pickup_ym LIMIT 1)
         SELECT pickup_ym, trip_count, avg_fare,
           round(trip_count * 100.0 / base_count, 4) AS pct_of_baseline
         FROM monthly, base ORDER BY pickup_ym"""),
    // P2/P3/P9 constants pinned DIRECTLY (not through downstream
    // aggregates): per-rule rejection counts over the canonical frame
    // plus survivor count and derived-duration extrema through the real
    // EtlJob.transform chain. The fixture straddles every bound, so
    // dur_min=1/dur_max=1439 pin the (0.5, 1440) duration window and
    // the rejection counts pin the distance/fare bounds; a constant
    // drifting by one unit flips a count at every SF.
    Gate("x11_cleaning_audit", (s, d) => {
      val raw = taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d))
      val canon = taxi.SchemaNormalizer.toCanonical(raw, "yellow")
        .withColumn("duration_min",
          taxi.Cleaning.durationMin(col("pickup_ts"), col("dropoff_ts")))
      val sane = taxi.Cleaning.timestampSanity(col("pickup_ts"), col("dropoff_ts"))
      val rej = canon.agg(
        count(lit(1)).as("n_raw"),
        count(when(!sane, 1)).as("rej_ts_sanity"),
        count(when(sane && col("duration_min") <= taxi.Cleaning.MinDurationMin, 1))
          .as("rej_dur_short"),
        count(when(sane && col("duration_min") >= taxi.Cleaning.MaxDurationMin, 1))
          .as("rej_dur_long"),
        count(when(col("distance_mi").isNotNull &&
          (col("distance_mi") <= taxi.Cleaning.MinDistanceMi ||
            col("distance_mi") >= taxi.Cleaning.MaxDistanceMi), 1))
          .as("rej_distance"),
        count(when(col("fare") < taxi.Cleaning.MinFare, 1)).as("rej_fare"))
      val surv = cli.EtlJob.transform(raw, "yellow").agg(
        count(lit(1)).as("n_survivors"),
        round(min("duration_min"), 4).as("dur_min"),
        round(max("duration_min"), 4).as("dur_max"),
        round(avg("duration_min"), 4).as("dur_avg"),
        round(avg("avg_speed_mph"), 4).as("speed_avg"))
      rej.crossJoin(surv) // two one-row aggregates
    },
      s"""$taxiYellowCleaned,
         c AS (SELECT *, date_diff('second', pickup_ts, dropoff_ts) / 60.0
             AS duration_min FROM raw),
         rej AS (SELECT count(*) AS n_raw,
           count(CASE WHEN pickup_ts IS NULL OR dropoff_ts IS NULL
                 OR dropoff_ts <= pickup_ts THEN 1 END) AS rej_ts_sanity,
           count(CASE WHEN dropoff_ts > pickup_ts AND duration_min <= 0.5
                 THEN 1 END) AS rej_dur_short,
           count(CASE WHEN dropoff_ts > pickup_ts AND duration_min >= 1440
                 THEN 1 END) AS rej_dur_long,
           count(CASE WHEN distance_mi IS NOT NULL
                 AND (distance_mi <= 0 OR distance_mi >= 500) THEN 1 END)
             AS rej_distance,
           count(CASE WHEN fare < 0 THEN 1 END) AS rej_fare
           FROM c),
         surv AS (SELECT count(*) AS n_survivors,
           round(min(duration_min), 4) AS dur_min,
           round(max(duration_min), 4) AS dur_max,
           round(avg(duration_min), 4) AS dur_avg,
           round(avg(distance_mi / (duration_min / 60.0)), 4) AS speed_avg
           FROM cl)
         SELECT * FROM rej, surv"""),
    // P8 tolerant timestamp parse, gate-pinned (was unit-only): string
    // pickup timestamps in four deterministic corruption classes run
    // through the REAL SchemaNormalizer.toCanonical projection; bad
    // strings must coerce to NULL (never throw, despite ANSI mode) and
    // parsed values must match DuckDB try_cast to the microsecond
    Gate("x12_tolerant_parse", (s, d) => {
      val raw = Tables.events(s, d).select(
        col("event_id"),
        when(col("event_id") % 4 === 0,
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
          .when(col("event_id") % 4 === 1,
            concat(lit("garbage-"), (col("event_id") % 10).cast("string")))
          .when(col("event_id") % 4 === 2, lit(""))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd"))
          .as("tpep_pickup_datetime"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")
          .as("tpep_dropoff_datetime"),
        lit("1.5").as("trip_distance"),
        // numeric coercion rides the same gate: garbage → NULL
        when(col("event_id") % 5 === 0, lit("oops"))
          .otherwise((col("event_id") % 50).cast("string")).as("fare_amount"))
      taxi.SchemaNormalizer.toCanonical(raw, "yellow").agg(
        count(lit(1)).as("n_rows"),
        count(col("pickup_ts")).as("n_parsed"),
        count(when(col("pickup_ts").isNull, 1)).as("n_null"),
        // mod a prime: the raw µs sum overflows Long past ~5M rows
        sum(pmod(unix_micros(col("pickup_ts")), lit(1000000007L)))
          .as("ts_checksum"),
        count(col("dropoff_ts")).as("n_dropoff_parsed"),
        count(col("fare")).as("n_fare_parsed"),
        round(sum("fare"), 4).as("fare_sum"))
    },
      // the same four corruption classes, parsed with try_cast — NULL on
      // bad strings, microsecond-exact checksum on good ones
      """WITH raw AS (SELECT event_id,
           CASE WHEN event_id % 4 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
                WHEN event_id % 4 = 1
                  THEN 'garbage-' || CAST(event_id % 10 AS VARCHAR)
                WHEN event_id % 4 = 2 THEN ''
                ELSE strftime(ts, '%Y-%m-%d') END AS pu,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS dof,
           CASE WHEN event_id % 5 = 0 THEN 'oops'
                ELSE CAST(event_id % 50 AS VARCHAR) END AS fare
           FROM events),
         p AS (SELECT try_cast(pu AS TIMESTAMP) AS pts,
           try_cast(dof AS TIMESTAMP) AS dts,
           try_cast(fare AS DOUBLE) AS f FROM raw)
         SELECT count(*) AS n_rows, count(pts) AS n_parsed,
           CAST(count(*) - count(pts) AS BIGINT) AS n_null,
           CAST(sum(epoch_us(pts) % 1000000007) AS BIGINT) AS ts_checksum,
           count(dts) AS n_dropoff_parsed,
           count(f) AS n_fare_parsed, round(sum(f), 4) AS fare_sum
         FROM p"""),
    // J2's literal reference form (`generate_notebooks_auto.py:383-430`):
    // cleaned trips × the zone-lookup CSV dimension, broadcast-joined on
    // pickup zone, borough-level rollup — exercises the S12 CSV scan
    // (readZoneLookup's enforced schema) end to end, not just in units
    Gate("x6_zone_borough_join", (s, d) => {
      val zones = sources.CuratedWriter.readZoneLookup(s, taxi.TaxiFixture.zoneLookupCsv())
      val trips = cli.EtlJob.transform(
        taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d)), "yellow")
      trips.join(broadcast(zones), trips("pu_zone") === zones("LocationID"))
        .groupBy("Borough")
        .agg(count(lit(1)).as("trip_count"),
          round(sum(coalesce(col("fare"), lit(0.0))), 2).as("fare_sum"),
          round(avg("distance_mi"), 4).as("avg_distance"))
        .orderBy("Borough")
    },
      s"""$taxiYellowCleaned,
         zones AS (SELECT i AS LocationID,
           (['EWR','Manhattan','Brooklyn','Queens','Bronx','Staten Island'])[i % 6 + 1]
             AS Borough
           FROM range(1, 266) r(i))
         SELECT Borough, count(*) AS trip_count,
           round(sum(coalesce(fare, 0)), 2) AS fare_sum,
           round(avg(distance_mi), 4) AS avg_distance
         FROM cl JOIN zones ON cl.pu_zone = zones.LocationID
         GROUP BY 1 ORDER BY Borough""")
  )

  /** DuckDB regeneration of [[graft.taxi.TaxiFixture.yellowFromEvents]]
    * followed by the [[graft.taxi.Cleaning]] constants — the shared CTE
    * prefix of the x1–x4 taxi-path oracles. */
  private val taxiYellowCleaned =
    """WITH raw AS (SELECT
         ts AS pickup_ts,
         ts + to_minutes(event_id % 1500) AS dropoff_ts,
         CASE WHEN event_id % 97 = 0 THEN NULL
              ELSE ((event_id * 7) % 620 - 10)::DOUBLE END AS distance_mi,
         CASE WHEN event_id % 89 = 0 THEN NULL
              ELSE ((event_id * 13) % 210 - 10)::DOUBLE END AS fare,
         CAST(user_id % 260 + 1 AS INT) AS pu_zone,
         CAST((user_id + event_id) % 260 + 1 AS INT) AS do_zone
       FROM events),
     cl AS (SELECT *, date_diff('second', pickup_ts, dropoff_ts) / 60.0 AS duration_min
       FROM raw
       WHERE pickup_ts IS NOT NULL AND dropoff_ts IS NOT NULL AND dropoff_ts > pickup_ts
         AND date_diff('second', pickup_ts, dropoff_ts) / 60.0 > 0.5
         AND date_diff('second', pickup_ts, dropoff_ts) / 60.0 < 1440
         AND (distance_mi IS NULL OR (distance_mi > 0 AND distance_mi < 500))
         AND (fare IS NULL OR fare >= 0))"""
}
