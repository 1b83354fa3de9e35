package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.{CuratedWriter, Manifest}
import graft.taxi.{Cleaning, SchemaNormalizer}

/** The batch driver re-expressed (SURVEY §3.3,
  * `scripts/batch_etl_simple.py`): the reference enumerates S3 keys with
  * a regex and loops month-by-month through a single-threaded pandas
  * ETL. Here the loop collapses into ONE Spark plan: each cab type's
  * directory tree is read whole (the file index discovers every month),
  * normalized to the canonical schema, unioned by name, and written with
  * a single partitioned action. A cab type whose raw data is missing or
  * unreadable is skipped and recorded in the manifest — the per-month
  * continue-on-failure semantics of the reference, at cab granularity.
  *
  * Usage: BatchRunner --input <raw base> --output <curated base>
  *                    [--cab-types yellow,green,fhv,fhvhv]
  *                    [--manifest <jsonl path>]
  */
object BatchRunner {

  final case class CabLoad(cabType: String, df: Option[DataFrame], error: Option[String])

  /** Read + normalize one cab type; errors become data, not crashes. */
  def loadOne(spark: SparkSession, input: String, cabType: String): CabLoad =
    try {
      val raw = spark.read.parquet(s"$input/$cabType")
      CabLoad(cabType, Some(SchemaNormalizer.toCanonical(raw, cabType)), None)
    } catch { case e: Exception => CabLoad(cabType, None, Some(e.getMessage)) }

  /** One multi-cab ETL: union of normalized cab frames → clean → derive
    * → single partitioned write. Returns per-cab curated row counts. */
  def run(spark: SparkSession, input: String, output: String,
          cabTypes: Seq[String], manifestPath: Option[String] = None): Map[String, Long] = {
    val loads = cabTypes.map(loadOne(spark, input, _))
    def record(l: CabLoad, rows: Option[Long]): Unit = manifestPath.foreach { p =>
      Manifest.append(p, Manifest.Entry(
        url = s"$input/${l.cabType}", yearMonth = "*", cabType = l.cabType,
        downloaded = l.error.isEmpty, sizeBytes = 0L, error = l.error, rows = rows))
    }
    val frames = loads.flatMap(_.df)
    if (frames.isEmpty) {
      // even a total failure must leave its trace in the manifest
      loads.foreach(record(_, None))
      throw new IllegalArgumentException(s"no readable cab types under $input")
    }
    val all = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    val cleaned = Cleaning.withRatios(
      Cleaning.withTimeFeatures(Cleaning.clean(all)))
    CuratedWriter.writeCurated(cleaned, output)
    val counts = CuratedWriter.readCurated(spark, output)
      .groupBy("cab_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    loads.foreach(l => record(l, counts.get(l.cabType)))
    counts
  }

  def main(args: Array[String]): Unit = {
    val a = EtlJob.parseArgs(args)
    val cabs = a.getOrElse("cab-types", "yellow,green,fhv,fhvhv").split(",").toSeq
    val spark = GraftSession.submitted("graft-batch")
    try {
      val counts = run(spark, a("input"), a("output"), cabs, a.get("manifest"))
      counts.toSeq.sortBy(_._1).foreach { case (cab, n) =>
        println(s"""{"job":"batch-etl","cab_type":"$cab","rows":$n}""")
      }
    } finally spark.stop()
  }
}
