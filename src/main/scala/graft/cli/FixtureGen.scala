package graft.cli

import graft.GraftSession
import graft.sources.Tables
import graft.taxi.TaxiFixture

/** Raw-trip fixture generator — the zero-egress stand-in for the
  * reference's TLC download scripts (`scripts/download_tlc_range_s3.py`):
  * derives a raw cab-schema parquet drop from the synthetic `events`
  * table, so the `EtlJob` → `AnalyticsJob` chain can be driven end to end
  * (including under `spark-submit`) without network access.
  *
  * Usage: FixtureGen --events <sf dir> --output <raw parquet path>
  *                   [--cab-type yellow|green|fhv|fhvhv]
  */
object FixtureGen {

  def main(args: Array[String]): Unit = {
    val a = EtlJob.parseArgs(args)
    val spark = GraftSession.session("graft-fixture-gen")
    try {
      val events = Tables.events(spark, a("events"))
      val raw = a.getOrElse("cab-type", "yellow") match {
        case "yellow" => TaxiFixture.yellowFromEvents(events)
        case "green"  => TaxiFixture.greenFromEvents(events)
        case "fhv"    => TaxiFixture.fhvFromEvents(events)
        case "fhvhv"  => TaxiFixture.fhvhvFromEvents(events)
        case other    => sys.error(s"unknown cab-type: $other")
      }
      raw.write.mode("overwrite").parquet(a("output"))
      println(s"""{"job":"fixture-gen","output":"${a("output")}"}""")
    } finally spark.stop()
  }
}
