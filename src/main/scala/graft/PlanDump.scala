package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to text files — the
  * plan-evidence artifact for optimization rounds (`plans/rN/<q>_<tag>.txt`).
  *
  * Usage: `runMain graft.PlanDump <outDir> <tag> <query>[,<query>...]`
  * Reads the data directory from `SPARK_GRAFT_SF_DIR` (default sf0.001 —
  * plan SHAPE is scale-invariant for these fixtures; AQE runtime
  * re-optimization is a separate concern the bench measures).
  *
  * Note: queries that drive the streaming runtime or write temp
  * artifacts (the st and io17+ gates) execute those side effects during
  * frame construction and return a checkpointed sink — their dump shows
  * the epilogue plan only, which is why streaming evidence lives in
  * state/bytes specs (CrossCorpusSpec's watermarked-screen state and
  * band-append bytes cases) rather than here. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <tag> <query>[,<query>...]")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local(GraftSession.cpus, "plan-dump")
    Files.createDirectories(outDir)
    // fail LOUDLY: automation that gathers plan evidence must not
    // proceed on stale/missing files (ADVICE r13) — count failures and
    // exit non-zero after the session closes
    var failures = 0
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          try {
            val df = fn(spark, d)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            Files.write(outDir.resolve(s"${n}_$tag.txt"), txt.getBytes("UTF-8"))
            println(s"[plandump] wrote ${n}_$tag.txt")
          } catch { case e: Throwable =>
            failures += 1
            System.err.println(s"[plandump] $n failed: ${e.getMessage}")
          }
        case None =>
          failures += 1
          System.err.println(s"[plandump] no such query: $n")
      }
    }
    spark.stop()
    if (failures > 0) {
      System.err.println(s"[plandump] $failures dump(s) failed")
      sys.exit(1)
    }
  }
}
