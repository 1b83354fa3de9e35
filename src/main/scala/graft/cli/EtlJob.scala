package graft.cli

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.CuratedWriter
import graft.taxi.{Cleaning, SchemaNormalizer}

/** The reference's ETL entry point re-expressed (SURVEY §3.1,
  * `spark_jobs/etl_yellow_s3.py`): read one cab type's raw parquet,
  * normalize to the canonical schema, clean, derive features, write the
  * Hive-partitioned curated zone.
  *
  * Differences by design: a single action (the write — the reference
  * re-ran its whole pipeline up to 4× with interleaved `count()`s), and
  * partitioning comes from `partitionBy` instead of hand-built paths.
  *
  * Usage: EtlJob --input <raw parquet path> --output <curated base>
  *               --cab-type yellow
  */
object EtlJob {

  def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  /** The full raw→curated transform chain (normalize → clean → derive),
    * factored out so correctness gates exercise the exact code path the
    * CLI runs, not a parallel reimplementation. */
  def transform(raw: org.apache.spark.sql.DataFrame, cabType: String): org.apache.spark.sql.DataFrame =
    Cleaning.withRatios(
      Cleaning.withTimeFeatures(Cleaning.clean(
        SchemaNormalizer.toCanonical(raw, cabType))))

  def run(spark: SparkSession, input: String, output: String, cabType: String): Long = {
    val raw = spark.read.parquet(input)
    val cleaned = transform(raw, cabType)
    CuratedWriter.writeCurated(cleaned, output)
    // row count from the write's own metrics would need a listener; a
    // cheap count on the curated output reads footers only.
    CuratedWriter.readCurated(spark, output).count()
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = GraftSession.submitted("graft-etl")
    try {
      val n = run(spark, a("input"), a("output"), a.getOrElse("cab-type", "yellow"))
      println(s"""{"job":"etl","cab_type":"${a.getOrElse("cab-type", "yellow")}","rows_curated":$n}""")
    } finally spark.stop()
  }
}
