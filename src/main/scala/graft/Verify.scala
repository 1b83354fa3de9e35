package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.{ListMap, TreeMap}

import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each selected gate's result → one parquet
  * file under `<outDir>/<gate>`, plus `oracle_sql.json` for the driver's
  * DuckDB compare and the `verify_run.json` census.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir>`. Env: `SPARK_GRAFT_ONLY`
  * (gate selection, [[SparkEntry.onlyFilter]]), `SPARK_GRAFT_COMMIT`
  * (stamped into the census), `SPARK_GRAFT_CPUS`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.session("graft-verify")
    run(spark, sfDir, outDir, GateRunner.selected(sys.env.get("SPARK_GRAFT_ONLY")))
    spark.stop()
  }

  // {"k": "v","k2": "v2"} with sorted keys: two commits' dumps compare
  // with `cmp`
  private val oracleLayout = new DefaultPrettyPrinter(Separators.createDefaultInstance()
    .withObjectFieldValueSpacing(Separators.Spacing.AFTER)
    .withObjectEntrySpacing(Separators.Spacing.NONE))
    .withObjectIndenter(new DefaultPrettyPrinter.NopIndenter())

  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
                         gates: Seq[(String, GateRunner.Build)]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val results = new GateRunner(spark, sfDir, "verify", GateRunner.parquet(outDir)).all(gates)
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      GateRunner.json.writer(oracleLayout).writeValueAsString(TreeMap.from(SparkEntry.oracleSql)))
    // Machine-readable run census: which gates actually executed at THIS
    // sf (and which crashed, with the message). COVERAGE.md's "verified
    // at sf X" claims must be copied from this artifact, never
    // hand-written — round 7 shipped a claim for a gate that failed at
    // analysis time in every run.
    val ran = results.collect { case (n, Right(_)) => n }
    Files.writeString(Paths.get(outDir, "verify_run.json"), GateRunner.json.writeValueAsString(ListMap(
      "sf" -> sfDir, "commit" -> sys.env.getOrElse("SPARK_GRAFT_COMMIT", ""),
      "n_queries" -> results.size, "n_ran" -> ran.size, "ran" -> ran,
      "failed" -> ListMap.from(results.collect { case (n, Left(msg)) => n -> msg }))))
  }
}
