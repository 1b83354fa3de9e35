package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val warehouse = Files.createTempDirectory("graft-warehouse")
    val base = SparkSession.builder()
      .config("spark.ui.enabled", "false")
      // bucketed-table gates use saveAsTable; point the warehouse at a
      // temp dir so table data never lands in the repo working
      // directory (in-memory catalog — no Hive metastore exists)
      .config("spark.sql.warehouse.dir", warehouse.toString)
    // same master policy as GraftSession.submitted: a spark-submit'ed
    // master (e.g. local-cluster[2,2,1024] — real executor JVMs) wins,
    // so the full gate set can run under genuine serialization/broadcast
    // conditions; sbt runMain keeps the tuned local[$cpus] behavior
    val spark = GraftSession.tune(
      if (sys.props.contains("spark.master")) base
      else base.master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional filter shared with Bench (SparkEntry.onlyFilter) —
    // dev-loop tool for re-verifying just the gates being worked on
    val selected = SparkEntry.onlyFilter(sys.env.get("SPARK_GRAFT_ONLY"))
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (n, _) => selected(n) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        ran += name
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // sorted keys: two commits' dumps compare with `cmp`
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable run census: which gates actually executed at THIS
    // sf (and which crashed, with the message). COVERAGE.md's "verified
    // at sf X" claims must be copied from this artifact, never
    // hand-written — round 7 shipped a claim for a gate that failed at
    // analysis time in every run.
    val census =
      s"""{"sf": ${q(sfDir)}, "commit": ${q(sys.env.getOrElse("SPARK_GRAFT_COMMIT", ""))},
         |"n_queries": ${ran.size + failed.size}, "n_ran": ${ran.size},
         |"ran": ${ran.sorted.map(q).mkString("[", ",", "]")},
         |"failed": ${failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")}}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/verify_run.json"), census)
    spark.stop()
    Fs.deleteRecursively(warehouse)
  }
}
