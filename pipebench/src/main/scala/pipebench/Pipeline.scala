package pipebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.cli.{AnalyticsJob, BatchRunner, EtlJob}
import graft.sources.CuratedWriter
import graft.taxi.{Cleaning, SchemaNormalizer}

/** `pipeline`: the paper's monthly job and the analyst session that
  * reads its output. One cycle is 22 ops over the seeded raw drop:
  *
  *  - backfill — `BatchRunner.run` over the whole multi-month, four-cab
  *    drop, then `AnalyticsJob.run` over the full curated history;
  *  - refresh — one raw month through `EtlJob.transform` and
  *    `CuratedWriter.writeCuratedIncremental` (dynamic partition
  *    overwrite), then the partition read back;
  *  - twenty slices — one `AnalyticsJob` aggregate over a single
  *    `cab_type`/`pickup_year`/`pickup_month` partition.
  *
  * Backfill time dominates `ops_per_s` and `rows_per_s`; slices are most
  * of the ops, so they set `op_gmean_s`. A change that speeds writes but
  * slows reads, or the reverse, moves one and not the other. */
final class Pipeline(dir: Path, seed: Long, months: Int) extends Workload {
  import Pipeline._
  private val rawDir = dir.resolve("raw")
  private val curated = dir.resolve("curated")
  private val analyticsOut = dir.resolve("analytics")
  private var drop: DataGen.Drop = _
  private var expected = Map.empty[String, Long]
  private var rng = new scala.util.Random(seed)
  // references fixed by the first backfill op of the run
  private var treeSum: Option[String] = None
  private var summarySum: Option[String] = None
  private var partRows = Map.empty[(String, Int), Long]
  private var golden = Map.empty[(String, String, Int), Checks.Table]
  private var goldenS = 0.0

  def setup(spark: SparkSession): Unit = {
    drop = Stats.logged("raw drop")(DataGen.rawDrop(spark, rawDir, DataGen.DropPlan(seed, months)))
    expected = Stats.logged("expected counts")(expectedCabCounts(spark, rawDir))
    treeSum = None; summarySum = None
    rng = new scala.util.Random(seed)
  }

  def inputs: JObject = {
    val l = layout(curated)
    JObject(
      "raw_rows" -> JInt(drop.rows), "raw_bytes" -> JInt(drop.bytes),
      "months" -> JInt(months), "cabs" -> JInt(DataGen.Cabs.size),
      "raw_files" -> JInt(drop.files.size), "id_base" -> JInt(drop.plan.idBase),
      "month_order" -> JArray(drop.plan.monthOf.map(m => JString(drop.plan.ym(m))).toList),
      "reason" -> JString(s"$months months x 4 cabs of sf0.1 events (${drop.rows} raw rows): " +
        "the largest drop that keeps a 4-core run near a minute with a backfill op in every window; " +
        s"the tree has ${4 * months} month partitions, so a slice reads 1/${4 * months} of it"),
      "expected_cab_rows" -> JObject(expected.toList.sorted.map { case (c, n) => c -> JInt(n) }),
      "curated_checksum" -> treeSum.fold[JValue](JNull)(JString(_)),
      "analytics_checksum" -> summarySum.fold[JValue](JNull)(JString(_)),
      "golden_s" -> JDouble(goldenS),
      "curated_files" -> JInt(l.files), "curated_bytes" -> JInt(l.bytes),
      "space_amp" -> JDouble(l.bytes.toDouble / drop.bytes))
  }

  private val Fns = Seq("hourly", "dow", "pickup_zones", "dropoff_zones", "trend")

  private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  /** Backfill, refresh, twenty slices. The slices run every aggregate
    * once on every cab, each on a seeded month and in a seeded order; the
    * months are copies of one events table, so every cycle does the same
    * slice work whatever the seed, and the median op is the median of
    * twenty slices. */
  def nextCycle(spark: SparkSession): Seq[Op] =
    Seq(backfillOp(spark), refreshOp(spark, pick(DataGen.Cabs), pick(drop.plan.monthOf))) ++
      rng.shuffle(for (fn <- Fns; cab <- DataGen.Cabs) yield (fn, cab)).map {
        case (fn, cab) => sliceOp(spark, fn, cab, pick(drop.plan.monthOf))
      }

  /** Backfill (its check fixes the goldens), refresh, each aggregate
    * once: every code path of a cycle, at a quarter of its slices. */
  override def warmUp(spark: SparkSession): Seq[Op] =
    Seq(backfillOp(spark), refreshOp(spark, pick(DataGen.Cabs), pick(drop.plan.monthOf))) ++
      Fns.map(sliceOp(spark, _, pick(DataGen.Cabs), pick(drop.plan.monthOf)))

  private def treeChecksum(spark: SparkSession) =
    Checks.checksum(CuratedWriter.readCurated(spark, curated.toString))

  private def summaries(spark: SparkSession): String =
    Seq("avg_fare_per_mile_by_hour", "trips_by_dow", "busiest_pickup", "busiest_dropoff",
      "monthly_trend").map(s => Checks.checksum(spark.read.parquet(analyticsOut.resolve(s).toString)))
      .mkString("|")

  private def backfillOp(spark: SparkSession): Op = Op("backfill", drop.rows,
    () => {
      val counts = layer("BatchRunner.run")(
        BatchRunner.run(spark, rawDir.toString, curated.toString, DataGen.Cabs))
      layer("AnalyticsJob.run")(
        AnalyticsJob.run(spark, curated.toString, analyticsOut.toString, 1900, 2999))
      counts
    },
    { counts =>
      if (counts != expected) Some(s"curated rows per cab $counts, expected $expected")
      else {
        val (tree, sums) = (treeChecksum(spark), summaries(spark))
        if (treeSum.isEmpty) {
          treeSum = Some(tree); summarySum = Some(sums)
          val t0 = System.nanoTime()
          goldens(spark)
          goldenS = Stats.secondsSince(t0)
        }
        if (!treeSum.contains(tree)) Some(s"curated checksum $tree differs from ${treeSum.get}")
        else if (!summarySum.contains(sums)) Some(s"analytics checksum $sums differs from ${summarySum.get}")
        else None
      }
    })

  private def slice(spark: SparkSession, cab: String, m: Int): DataFrame =
    CuratedWriter.readCurated(spark, curated.toString).filter(
      col("cab_type") === cab && col("pickup_year") === Year && col("pickup_month") === m)

  private def sliceOp(spark: SparkSession, fn: String, cab: String, m: Int): Op =
    Op(s"slice:$fn:$cab:$m", partRows.getOrElse((cab, m), 0L),
      () => layer(s"AnalyticsJob.$fn") {
        val df = analytics(fn, slice(spark, cab, m))
        Checks.table(df.columns.toSeq, df.collect().toSeq)
      },
      got => golden.get((cab, fn, m)) match {
        case None => Some(s"no golden for $cab/$fn/$m")
        case Some(g) => Checks.compare(got.asInstanceOf[Checks.Table], g)
      })

  private def refreshOp(spark: SparkSession, cab: String, m: Int): Op =
    Op(s"refresh:$cab:$m", DataGen.EventsPerMonth,
      () => {
        val raw = spark.read.parquet(drop.files((cab, m)).toString)
        val trips = layer("EtlJob.transform")(EtlJob.transform(raw, cab))
        layer("CuratedWriter.writeCuratedIncremental")(
          CuratedWriter.writeCuratedIncremental(trips, curated.toString))
        layer("readback")(slice(spark, cab, m).count())
      },
      { got =>
        val want = partRows.getOrElse((cab, m), -1L)
        if (got != want) Some(s"refreshed $cab/$m holds $got rows, expected $want")
        else {
          val s = treeChecksum(spark)
          if (!treeSum.contains(s)) Some(s"tree checksum $s after refresh, expected $treeSum") else None
        }
      })

  /** Expected slice results from per-partition group counts and sums over
    * the reference tree — never from the functions under test. */
  private def goldens(spark: SparkSession): Unit = {
    val t = CuratedWriter.readCurated(spark, curated.toString).cache()
    try {
      def grouped(k: String, aggs: Column*): Map[(String, Int), Seq[Row]] =
        t.groupBy(col("cab_type"), col("pickup_month"), col(k)).agg(aggs.head, aggs.tail: _*)
          .collect().toSeq.groupBy(r => (r.getString(0), r.getInt(1)))
      def tab(cols: Seq[String], rows: Seq[Seq[Any]]): Checks.Table =
        Checks.Table(cols.sorted, rows.map(r => cols.zip(r).sortBy(_._1).map(x => Checks.toJson(x._2))))
      def avgOrNull(r: Row, i: Int): Any =
        if (r.getLong(i + 1) == 0) null else r.getDouble(i) / r.getLong(i + 1)
      val n = count(lit(1))
      val hourly = grouped("pickup_hour", n, sum("fare_per_mile"), count("fare_per_mile"))
      val dow = grouped("pickup_dow", n)
      val zones = Seq("pu_zone", "do_zone").map(z => z -> grouped(z, n)).toMap
      val trend = grouped("pickup_ym", n, sum("fare"), count("fare"))
      partRows = trend.map { case (k, rs) => k -> rs.map(_.getLong(3)).sum }
      golden = partRows.keys.toSeq.flatMap { case key @ (cab, m) =>
        def topZones(z: String) = zones(z)(key).map(r => (r.getInt(2), r.getLong(3)))
          .sortBy { case (zone, c) => (-c, zone) }.take(100).map { case (zone, c) => Seq(zone, c) }
        Seq(
          (cab, "hourly", m) -> tab(Seq("pickup_hour", "avg_fare_per_mile", "trip_count"),
            hourly(key).sortBy(_.getInt(2)).map(r => Seq(r.getInt(2), avgOrNull(r, 4), r.getLong(3)))),
          (cab, "dow", m) -> tab(Seq("pickup_dow", "trip_count"),
            dow(key).sortBy(_.getString(2)).map(r => Seq(r.getString(2), r.getLong(3)))),
          (cab, "pickup_zones", m) -> tab(Seq("pu_zone", "trip_count"), topZones("pu_zone")),
          (cab, "dropoff_zones", m) -> tab(Seq("do_zone", "trip_count"), topZones("do_zone")),
          (cab, "trend", m) -> tab(Seq("pickup_ym", "trip_count", "avg_fare", "pct_of_baseline"),
            trend(key).map { r =>
              val avg = avgOrNull(r, 4) match {
                case d: Double => BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
                case _ => null
              }
              Seq(r.getString(2), r.getLong(3), avg, 100.0)
            }))
      }.toMap
    } finally t.unpersist()
  }

  def layers(spark: SparkSession, tracer: Tracer, traces: Seq[OpTrace], m: Layers): Unit = {
    def firstWrite(t: OpTrace) = t.queries.find(_.isWrite)
    val backfills = traces.filter(_.label == "backfill")
    val slices = traces.filter(_.label.startsWith("slice:"))
    val refreshes = traces.filter(_.label.startsWith("refresh:"))
    val writes = backfills.flatMap(firstWrite)
    m("write.s") = Stats.mean(writes.map(_.durMs / 1000))
    m("write.task_skew") = Stats.mean(writes.map(_.lastStageSkew))
    m("batch.readback_s") = Stats.mean(backfills.map(t =>
      (t.layerMs("BatchRunner.run") - firstWrite(t).map(_.durMs).getOrElse(0.0)) / 1000))
    val l = layout(curated)
    m("write.files") = l.files
    m("write.bytes") = l.bytes.toDouble
    m("write.files_per_partition") = l.files.toDouble / math.max(1, l.partitions)
    m("write.space_amp") = l.bytes.toDouble / drop.bytes

    def scanned(ts: Seq[OpTrace], f: ScanRec => Long) =
      Stats.mean(ts.map(_.queries.flatMap(_.scans).map(f).sum.toDouble))
    m("scan.files_read") = scanned(slices, _.files)
    m("scan.bytes_read") = scanned(slices, _.bytes)
    m("scan.partitions_read_frac") = scanned(slices, _.partitions) / l.partitions
    m("scan.slice_s") = Stats.mean(slices.map(_.wallMs / 1000))
    m("refresh.write_s") =
      Stats.mean(refreshes.map(_.layerMs("CuratedWriter.writeCuratedIncremental") / 1000))

    // the reference's pruning claim: each slice aggregate over the whole history
    val full = Fns.map(fn => tracer.op(s"probe:full:$fn") {
      analytics(fn, CuratedWriter.readCurated(spark, curated.toString)).collect()
    }._2)
    m("scan.full_files_read") = scanned(full, _.files)
    m("scan.full_bytes_read") = scanned(full, _.bytes)
    m("scan.full_s") = Stats.mean(full.map(_.wallMs / 1000))

    val month = drop.files(("yellow", drop.plan.monthOf.head)).toString
    m("refresh.transform_s") = tracer.op("probe:transform")(
      noop(EtlJob.transform(spark.read.parquet(month), "yellow")))._2.wallMs / 1000

    val (loads, _) = tracer.op("probe:load") {
      val t0 = System.nanoTime()
      val ls = DataGen.Cabs.map(BatchRunner.loadOne(spark, rawDir.toString, _))
      m("batch.load_s") = Stats.secondsSince(t0)
      ls
    }
    // normalize and clean self time: the normalized union, then the full
    // clean + derive chain, each materialized with a noop write
    def union() = loads.flatMap(_.df).reduce(_.unionByName(_, allowMissingColumns = true))
    val norm = tracer.op("probe:normalize")(noop(union()))._2
    val cleaned = tracer.op("probe:clean")(noop(
      Cleaning.withRatios(Cleaning.withTimeFeatures(Cleaning.clean(union())))))._2
    val rowsIn = union().count()
    val rowsOut = Cleaning.clean(union()).count()
    m("normalize.s") = norm.wallMs / 1000
    m("normalize.input_bytes") = norm.inputBytes.toDouble
    m("normalize.read_tasks") = norm.tasks.toDouble
    m("clean.s") = (cleaned.wallMs - norm.wallMs) / 1000
    m("clean.rows_in") = rowsIn.toDouble
    m("clean.rows_out") = rowsOut.toDouble
    m("clean.keep_frac") = rowsOut.toDouble / rowsIn

    // AnalyticsJob.run's steps, each public function timed over the cached frame
    val out = dir.resolve("probe-analytics").toString
    val trips = CuratedWriter.readCurated(spark, curated.toString)
      .filter(col("pickup_year").between(1900, 2999)).cache()
    try {
      def timed(metric: String)(f: => Unit) = m(metric) = tracer.op(s"probe:$metric")(f)._2.wallMs / 1000
      timed("analytics.cache_fill_s")(trips.count())
      Fns.foreach(fn => timed(s"analytics.${fn}_s")(
        CuratedWriter.writeSummary(analytics(fn, trips), s"$out/$fn")))
    } finally trips.unpersist()
  }
}

object Pipeline {
  val Year = 2024

  def analytics(fn: String, trips: DataFrame): DataFrame = fn match {
    case "hourly" => AnalyticsJob.hourlyFare(trips)
    case "dow" => AnalyticsJob.tripsByDow(trips)
    case "pickup_zones" => AnalyticsJob.busiestZones(trips, "pu_zone")
    case "dropoff_zones" => AnalyticsJob.busiestZones(trips, "do_zone")
    case "trend" => AnalyticsJob.monthlyTrend(trips)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Per-cab rows surviving the FIXTURES §A.6 rules, stated as plain SQL
    * over each cab's own raw column names — independent of the
    * normalizer and the cleaning code it checks. */
  def expectedCabCounts(spark: SparkSession, raw: Path): Map[String, Long] = {
    def rules(pickup: String, dropoff: String, dist: Option[String], fare: Option[String]) = {
      val us = s"timestampdiff(MICROSECOND, $pickup, $dropoff)"
      (Seq(s"$pickup IS NOT NULL", s"$dropoff IS NOT NULL", s"$dropoff > $pickup",
        s"$us > 30000000", s"$us < 86400000000") ++
        dist.map(d => s"($d IS NULL OR ($d > 0 AND $d < 500))") ++
        fare.map(f => s"($f IS NULL OR $f >= 0)")).mkString(" AND ")
    }
    val where = Map(
      "yellow" -> rules("tpep_pickup_datetime", "tpep_dropoff_datetime",
        Some("trip_distance"), Some("fare_amount")),
      "green" -> rules("lpep_pickup_datetime", "lpep_dropoff_datetime",
        Some("trip_distance"), Some("fare_amount")),
      "fhv" -> rules("pickup_datetime", "dropOff_datetime", None, None),
      "fhvhv" -> rules("pickup_datetime", "dropoff_datetime",
        Some("trip_miles"), Some("base_passenger_fare")))
    val sql = DataGen.Cabs.map(c =>
      s"SELECT '$c' AS cab, count(*) AS n FROM parquet.`${raw.resolve(c)}` WHERE ${where(c)}")
      .mkString(" UNION ALL ")
    spark.sql(sql).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  final case class Layout(files: Int, bytes: Long, partitions: Int)

  def layout(dir: Path): Layout = {
    val files = DataGen.walk(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    Layout(files.size, files.map(Files.size).sum, files.map(_.getParent).distinct.size)
  }
}
