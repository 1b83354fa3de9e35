package graft.cli

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkTestBase
import graft.sources.CuratedWriter
import graft.taxi.{TaxiFixture, TaxiSchemas}

/** The curated tree is read with [[TaxiSchemas.curated]] pinned: the pin
  * must match what the writers produce and the read must launch no job;
  * `AnalyticsJob` scans only the columns each summary uses and caches
  * nothing. */
class CuratedReadSpec extends SparkTestBase {

  private val Cabs = Seq("yellow", "green", "fhv", "fhvhv")

  /** 400 events three hours apart from 2024-01-01: January and February. */
  private def events: DataFrame = spark.range(400).select(
    col("id").as("event_id"), (col("id") % 37).as("user_id"),
    (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")) +
      make_interval(lit(0), lit(0), lit(0), lit(0), (col("id") * 3).cast("int"),
        lit(0), lit(0))).as("ts"),
    (col("id") % 11).cast("double").as("value"))

  /** Raw per-cab TLC-layout drop under `dir/raw/<cab>`; returns `dir/raw`. */
  private def rawDrop(dir: String): String = {
    val ev = events
    Seq(TaxiFixture.yellowFromEvents(ev), TaxiFixture.greenFromEvents(ev),
      TaxiFixture.fhvFromEvents(ev), TaxiFixture.fhvhvFromEvents(ev))
      .zip(Cabs).foreach { case (df, cab) => df.write.parquet(s"$dir/raw/$cab") }
    s"$dir/raw"
  }

  private lazy val batchTree: String = {
    val dir = tempDir("graft-curated-read")
    BatchRunner.run(spark, rawDrop(dir), s"$dir/curated", Cabs)
    s"$dir/curated"
  }

  test("the pinned curated schema is the one BatchRunner and EtlJob trees infer") {
    assert(spark.read.parquet(batchTree).schema == TaxiSchemas.curated)
    // every cab type's files, not just the footer inference happens to pick
    Cabs.foreach { cab =>
      val inferred = spark.read.option("basePath", batchTree)
        .parquet(s"$batchTree/cab_type=$cab").schema
      assert(inferred == TaxiSchemas.curated, s"$cab files drifted from the pin")
    }
    val dir = tempDir("graft-curated-etl")
    TaxiFixture.yellowFromEvents(events).write.parquet(s"$dir/raw")
    assert(EtlJob.run(spark, s"$dir/raw", s"$dir/curated", "yellow") > 0)
    assert(spark.read.parquet(s"$dir/curated").schema == TaxiSchemas.curated)
  }

  test("readCurated launches no Spark job") {
    assert(launchedBy(CuratedWriter.readCurated(spark, batchTree)).jobs == 0)
    // the probe does see the inference job a schemaless read launches
    assert(launchedBy(spark.read.parquet(batchTree)).jobs > 0)
  }

  test("readCurated: an empty tree is an empty frame, a missing one fails") {
    val dir = tempDir("graft-curated-empty")
    val empty = CuratedWriter.readCurated(spark, dir)
    assert(empty.schema == TaxiSchemas.curated)
    assert(empty.count() == 0)
    intercept[AnalysisException] {
      CuratedWriter.readCurated(spark, s"$dir/missing")
    }
  }

  test("each AnalyticsJob aggregate scans only the columns it uses") {
    val trips = CuratedWriter.readCurated(spark, batchTree)
    def scanned(df: DataFrame): Set[String] =
      df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
        .flatMap(_.requiredSchema.fieldNames).toSet
    assert(scanned(AnalyticsJob.hourlyFare(trips)) == Set("pickup_hour", "fare_per_mile"))
    assert(scanned(AnalyticsJob.tripsByDow(trips)) == Set("pickup_dow"))
    assert(scanned(AnalyticsJob.busiestZones(trips, "pu_zone")) == Set("pu_zone"))
    assert(scanned(AnalyticsJob.busiestZones(trips, "do_zone")) == Set("do_zone"))
    assert(scanned(AnalyticsJob.monthlyTrend(trips)) == Set("pickup_ym", "fare"))
  }

  test("each AnalyticsJob summary over one curated partition runs 2 jobs") {
    // the aggregate's map stage and the result: the sorted summaries plan
    // no range shuffle (no sampling job, no second map stage) and the
    // trend's baseline window no single-partition exchange
    val month = CuratedWriter.readCurated(spark, batchTree).filter(
      col("cab_type") === "yellow" && col("pickup_year") === 2024 && col("pickup_month") === 1)
    val summaries = Seq(
      "hourly" -> AnalyticsJob.hourlyFare(month),
      "dow" -> AnalyticsJob.tripsByDow(month),
      "pu_zone" -> AnalyticsJob.busiestZones(month, "pu_zone"),
      "do_zone" -> AnalyticsJob.busiestZones(month, "do_zone"),
      "trend" -> AnalyticsJob.monthlyTrend(month))
    summaries.foreach { case (name, df) =>
      var rows = 0
      assert(launchedBy { rows = df.collect().length }.jobs == 2, s"$name job count")
      assert(rows > 0, s"$name is empty")
    }
  }

  test("AnalyticsJob.run caches nothing") {
    val SparkTestBase.Launched(jobs, cachedStages, _, _) =
      launchedBy(AnalyticsJob.run(spark, batchTree, tempDir("graft-curated-out"), 2024, 2024))
    assert(jobs > 0)
    assert(cachedStages == 0, "a stage of AnalyticsJob.run touched a persisted RDD")
    // the cache manager holds nothing for the frame run reads (other
    // suites may leave their own entries in the shared session)
    assert(CuratedWriter.readCurated(spark, batchTree)
      .filter(col("pickup_year").between(2024, 2024)).storageLevel == StorageLevel.NONE)
  }
}
