package graft.cli


import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.SparkTestBase
import graft.sources.{CuratedWriter, Manifest}
import graft.operators.SchemaCompare
import graft.taxi.TaxiSchemas

/** End-to-end lifecycle parity (SURVEY §3): raw yellow parquet → EtlJob
  * (normalize/clean/partitioned write) → AnalyticsJob (four headline
  * aggregates), on a temp directory. */
class PipelineSpec extends SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def rawYellow = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("1", ts("2024-01-05 08:00:00"), ts("2024-01-05 08:30:00"),
        1, 6.0, "1", "N", 132, 138, "1",
        20.0, 1.0, 0.5, 4.0, 0.0, 0.3, 25.8, 2.5, 0.0),
      Row("2", ts("2024-02-10 18:00:00"), ts("2024-02-10 18:20:00"),
        2, 3.0, "1", "N", 138, 265, "1",
        12.0, 1.0, 0.5, 2.0, 0.0, 0.3, 15.8, 2.5, 0.0),
      // dirty: negative fare -> dropped by cleaning
      Row("1", ts("2024-01-06 09:00:00"), ts("2024-01-06 09:10:00"),
        1, 2.0, "1", "N", 1, 2, "1",
        -5.0, 0.0, 0.0, 0.0, 0.0, 0.0, -5.0, 0.0, 0.0))),
    TaxiSchemas.yellow)

  test("EtlJob then AnalyticsJob produce the four aggregates end-to-end") {
    val dir = tempDir("graft-pipeline")
    rawYellow.write.parquet(s"$dir/raw")
    val n = EtlJob.run(spark, s"$dir/raw", s"$dir/curated", "yellow")
    assert(n == 2) // dirty row dropped
    // Hive layout present and partition values round-trip
    val curated = CuratedWriter.readCurated(spark, s"$dir/curated")
    assert(curated.columns.contains("pickup_year"))
    assert(curated.select("pickup_month").distinct().count() == 2)

    AnalyticsJob.run(spark, s"$dir/curated", s"$dir/out", 2024, 2024)
    val hourly = spark.read.parquet(s"$dir/out/avg_fare_per_mile_by_hour").collect()
    assert(hourly.map(_.getAs[Long]("trip_count")).sum == 2)
    val busiest = spark.read.parquet(s"$dir/out/busiest_pickup").collect()
    assert(busiest.map(r => r.getAs[Int]("pu_zone") -> r.getAs[Long]("trip_count")).toMap ==
      Map(132 -> 1L, 138 -> 1L))
    // year filter excludes everything -> empty aggregates, no crash
    AnalyticsJob.run(spark, s"$dir/curated", s"$dir/out2", 2030, 2031)
    assert(spark.read.parquet(s"$dir/out2/trips_by_dow").count() == 0)
  }

  test("BatchRunner: one union-by-name plan over divergent cab schemas, missing cab recorded") {
    val dir = tempDir("graft-batch")
    rawYellow.write.parquet(s"$dir/raw/yellow")
    // fhv: different timestamp col names, no fare/distance at all
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("B001", ts("2024-03-01 10:00:00"), ts("2024-03-01 10:25:00"),
          264.0, 265.0, null, "B001"))),
      TaxiSchemas.fhv).write.parquet(s"$dir/raw/fhv")

    val manifest = s"$dir/manifest.jsonl"
    val counts = BatchRunner.run(spark, s"$dir/raw", s"$dir/curated",
      Seq("yellow", "fhv", "green"), Some(manifest))
    assert(counts == Map("yellow" -> 2L, "fhv" -> 1L)) // dirty yellow row dropped
    // green had no raw data: skipped, recorded as an error entry
    assert(Manifest.errorCount(manifest) == 1)
    assert(Manifest.read(manifest).find(_.cabType == "green").get.error.isDefined)
    // successful cabs carry their curated row counts in the rows field
    assert(Manifest.read(manifest).find(_.cabType == "yellow").get.rows.contains(2L))
    // a fully unreadable input still records every failure before throwing
    val m2 = s"$dir/manifest-allfail.jsonl"
    intercept[IllegalArgumentException] {
      BatchRunner.run(spark, s"$dir/nonexistent", s"$dir/curated2",
        Seq("yellow", "fhv"), Some(m2))
    }
    assert(Manifest.errorCount(m2) == 2)
    // single curated tree serves all cab types with partition pruning
    val curated = CuratedWriter.readCurated(spark, s"$dir/curated")
    assert(curated.select("cab_type").distinct().count() == 2)
  }

  test("curated reads prune partitions: month filter reaches PartitionFilters") {
    val dir = tempDir("graft-prune")
    import graft.taxi.{Cleaning, SchemaNormalizer}
    import org.apache.spark.sql.functions._
    val cleaned = Cleaning.withRatios(Cleaning.withTimeFeatures(
      Cleaning.clean(SchemaNormalizer.toCanonical(rawYellow, "yellow"))))
    CuratedWriter.writeCurated(cleaned, s"$dir/curated")
    val q = CuratedWriter.readCurated(spark, s"$dir/curated")
      .filter(col("pickup_month") === 1)
    val plan = q.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("pickup_month"), s"partition filter missing: $pf")
    // and the pruned read returns only January
    assert(q.select("pickup_month").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("incremental write replaces only the partitions present in the batch") {
    val dir = tempDir("graft-incr")
    import graft.taxi.{Cleaning, SchemaNormalizer}
    val cleaned = Cleaning.withRatios(Cleaning.withTimeFeatures(
      Cleaning.clean(SchemaNormalizer.toCanonical(rawYellow, "yellow"))))
    CuratedWriter.writeCurated(cleaned, s"$dir/curated") // months 01 and 02
    // re-process January only: double the fare
    import org.apache.spark.sql.functions._
    val january = cleaned.filter(col("pickup_month") === 1)
      .withColumn("fare", col("fare") * 2)
    CuratedWriter.writeCuratedIncremental(january, s"$dir/curated")
    val back = CuratedWriter.readCurated(spark, s"$dir/curated")
    // February untouched, January replaced with the new fare
    assert(back.select("pickup_month").distinct().count() == 2)
    assert(back.filter(col("pickup_month") === 1).select("fare").head().getDouble(0) == 40.0)
    assert(back.filter(col("pickup_month") === 2).select("fare").head().getDouble(0) == 12.0)
  }

  test("drift-guarded incremental write: refuse, widen, or fail on type change") {
    val dir = tempDir("graft-drift")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = s"$dir/tree"
    val base = Seq((1L, "alpha", "en", "m1"), (2L, "beta", "de", "m1"))
      .toDF("id", "text", "lang", "month")
    CuratedWriter.writePartitionedIncrementalChecked(base, path, Seq("month"))

    // same schema: lands without complaint (month 2 appended)
    val same = Seq((3L, "gamma", "en", "m2")).toDF("id", "text", "lang", "month")
    CuratedWriter.writePartitionedIncrementalChecked(same, path, Seq("month"))

    // drifted month: lang gone, quality appeared -> refused by default,
    // with both columns named in the error
    val drifted = Seq((4L, "delta", 0.9, "m3")).toDF("id", "text", "quality", "month")
    val e = intercept[IllegalStateException] {
      CuratedWriter.writePartitionedIncrementalChecked(drifted, path, Seq("month"))
    }
    assert(e.getMessage.contains("lang") && e.getMessage.contains("quality"))
    assert(e.getMessage.contains("widen"))

    // widen = true accepts it: missing lang lands as typed null, added
    // quality is readable under mergeSchema (null for old months)
    CuratedWriter.writePartitionedIncrementalChecked(
      drifted, path, Seq("month"), widen = true)
    val back = spark.read.option("mergeSchema", "true").parquet(path)
    assert(back.count() == 4)
    assert(back.filter($"month" === "m3").select("lang").head().isNullAt(0))
    assert(back.filter($"month" === "m3").select("quality").head().getDouble(0) == 0.9)
    assert(back.filter($"month" === "m1").select("quality").head().isNullAt(0))
    assert(back.schema("lang").dataType.typeName == "string")

    // a type change can never widen: id as string fails even with widen
    val retyped = Seq(("5", "eps", "fr", "m4")).toDF("id", "text", "lang", "month")
    val t = intercept[IllegalStateException] {
      CuratedWriter.writePartitionedIncrementalChecked(
        retyped, path, Seq("month"), widen = true)
    }
    assert(t.getMessage.contains("id") && t.getMessage.contains("type"))

    // pure drift computation is case-insensitive, like Spark resolution
    val d = CuratedWriter.schemaDrift(
      same.select($"id".as("ID"), $"text", $"lang", $"month").schema,
      base.schema)
    assert(d.isEmpty)

    // numeric-looking partition values: the value lives in the directory
    // name and partition discovery re-infers it as int — the guard must
    // NOT refuse the writer's own round-trip over that phantom change
    val numeric = Seq((1L, "a", "01"), (2L, "b", "02")).toDF("id", "text", "month")
    val npath = s"$dir/numeric"
    CuratedWriter.writePartitionedIncrementalChecked(numeric, npath, Seq("month"))
    CuratedWriter.writePartitionedIncrementalChecked(
      Seq((3L, "c", "03")).toDF("id", "text", "month"), npath, Seq("month"))
    assert(spark.read.parquet(npath).count() == 3)

    // an existing-but-empty directory is as drift-free as a missing one
    val epath = s"$dir/empty"
    new java.io.File(epath).mkdirs()
    CuratedWriter.writePartitionedIncrementalChecked(base, epath, Seq("month"))
    assert(spark.read.parquet(epath).count() == 2)
  }

  test("CSV sink + zone-lookup dimension scan round-trip") {
    val dir = tempDir("graft-csv")
    import spark.implicits._
    val zones = Seq((132, "Queens", "JFK Airport", "Airports"),
      (138, "Queens", "LaGuardia Airport", "Airports"))
      .toDF("LocationID", "Borough", "Zone", "service_zone")
    CuratedWriter.writeCsv(zones, s"$dir/zones")
    val back = CuratedWriter.readZoneLookup(spark, s"$dir/zones")
    assert(back.schema == TaxiSchemas.zoneLookup)
    assert(back.count() == 2)
    assert(back.filter($"LocationID" === 132).select("Zone").head().getString(0)
      == "JFK Airport")
  }

  test("CSV round trip preserves edge whitespace and embedded newlines") {
    // the three payloads Spark's DEFAULT csv writer/reader corrupt:
    // writer-side trimming eats edge whitespace, and a multiLine-less
    // read splits a quoted newline into two broken records
    val dir = tempDir("graft-csv-fid")
    import spark.implicits._
    val rows = Seq((1L, "  leading"), (2L, "trailing  "), (3L, "has\nnewline"))
      .toDF("id", "text")
    CuratedWriter.writeCsv(rows, s"$dir/t")
    val back = CuratedWriter.readCsv(spark, s"$dir/t", "id BIGINT, text STRING")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == Map(1L -> "  leading", 2L -> "trailing  ", 3L -> "has\nnewline"))
  }

  test("JSONL round trip preserves whitespace, newlines, and null vs empty") {
    val dir = tempDir("graft-jsonl-fid")
    import spark.implicits._
    val rows = Seq((1L, "  leading"), (2L, "has\nnewline"), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    CuratedWriter.writeJsonl(rows, s"$dir/t")
    val back = CuratedWriter.readJsonl(spark, s"$dir/t", "id BIGINT, text STRING")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(back == Map(1L -> Some("  leading"), 2L -> Some("has\nnewline"),
      3L -> Some(""), 4L -> None))
  }

  test("ORC round trip preserves payloads, nulls, and timestamps") {
    val dir = tempDir("graft-orc-fid")
    import spark.implicits._
    val rows = Seq(
      (1L, "  edge  ws  ", Some(1.5)),
      (2L, "has\nnewline", None),
      (3L, null.asInstanceOf[String], Some(-0.0)))
      .toDF("id", "text", "v")
    CuratedWriter.writeOrc(rows, s"$dir/t")
    val back = CuratedWriter.readOrc(spark, s"$dir/t")
    // ORC read-back relaxes nullability; names and types must survive
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == rows.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val m = back.collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(m(1L) == ((Some("  edge  ws  "), Some(1.5))))
    assert(m(2L) == ((Some("has\nnewline"), None)))
    assert(m(3L)._1.isEmpty)
  }

  test("compaction merges small files and preserves partition layout") {
    val dir = tempDir("graft-compact")
    import spark.implicits._
    // 200 rows scattered over 32 tasks -> 32 small files
    (0 until 200).map(i => (i.toLong, i % 3)).toDF("id", "k")
      .repartition(32).write.parquet(s"$dir/flat")
    assert(spark.read.parquet(s"$dir/flat").inputFiles.length > 16)
    val nFlat = CuratedWriter.compact(spark, s"$dir/flat", s"$dir/flat_c")
    assert(nFlat <= 2)
    assert(spark.read.parquet(s"$dir/flat_c").count() == 200)

    // partitioned tree: many files per partition -> one file per partition
    (0 until 200).map(i => (i.toLong, i % 3)).toDF("id", "k")
      .repartition(16).write.partitionBy("k").parquet(s"$dir/part")
    val nPart = CuratedWriter.compact(spark, s"$dir/part", s"$dir/part_c", Seq("k"))
    assert(nPart == 3, s"expected one file per partition, got $nPart")
    assert(spark.read.parquet(s"$dir/part_c").groupBy("k").count().count() == 3)
  }

  test("strict read fails on a corrupt file") {
    val dir = tempDir("graft-corrupt") + "/data"
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    // a truncated/garbage object lands in the tree
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part-junk.parquet"),
      "not a parquet file".getBytes)
    intercept[org.apache.spark.SparkException] {
      CuratedWriter.readCurated(spark, dir).count()
    }
  }

  test("manifest: append, read back, count errors") {
    val path = tempDir("graft-manifest") + "/manifest.jsonl"
    Manifest.append(path, Manifest.Entry("http://x/a.parquet", "2024-01", "yellow", true, 123L))
    Manifest.append(path, Manifest.Entry("http://x/b.parquet", "2024-02", "yellow", false, 0L,
      Some("HTTP 503")))
    val raw = Manifest.Entry("http://x/c.parquet", "2024-03", "green", false, 0L,
      Some("line one\nline two\tcol \"quoted\" back\\slash"), Some(7L))
    Manifest.append(path, raw)
    val entries = Manifest.read(path)
    assert(entries.size == 3)
    assert(entries.head.yearMonth == "2024-01")
    assert(entries(2) == raw)
    assert(Manifest.errorCount(path) == 2)
  }

  test("schema set-compare across the four cab types") {
    def empty(s: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    val r = SchemaCompare.compare(Map(
      "yellow" -> empty(TaxiSchemas.yellow), "green" -> empty(TaxiSchemas.green),
      "fhv" -> empty(TaxiSchemas.fhv), "fhvhv" -> empty(TaxiSchemas.fhvhv)))
    assert(r.common.isEmpty) // no column name is shared by ALL four
    assert(r.onlyIn("fhv").contains("dropOff_datetime"))
    assert(r.onlyIn("fhvhv").contains("trip_miles"))
    assert(r.all.contains("tpep_pickup_datetime"))
  }
}
