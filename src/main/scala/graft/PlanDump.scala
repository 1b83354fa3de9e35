package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to text files — the
  * plan-evidence artifact for optimization rounds (`plans/rN/<q>_<tag>.txt`).
  * It runs on the same session ([[GraftSession.session]], so the same
  * shuffle width) and the same gate loop ([[GateRunner]]) as the
  * [[Bench]] run it explains.
  *
  * Usage: `runMain graft.PlanDump <outDir> <tag> <query>[,<query>...]`
  * Reads the data directory from `SPARK_GRAFT_SF_DIR` (default sf0.001 —
  * plan SHAPE is scale-invariant for these fixtures). `explain` before
  * execution prints AQE's initial plan, so a runtime rewrite — AQE's
  * own, or [[graft.functions.TinySortInOnePartition]] dropping a range
  * exchange — shows only in the final plan of an executed query
  * (`AdaptiveSparkPlanExec.executedPlan` after an action). Exits 1
  * when a name is unknown or a dump fails, after the session closes, so
  * automation that gathers plan evidence never proceeds on stale or
  * missing files.
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
    val outDir = Files.createDirectories(Paths.get(args(0)))
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.session("plan-dump")
    val failures = new GateRunner(spark, d, "plandump", GateRunner.explain(outDir, args(1)))
      .all(GateRunner.named(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      .count(_._2.isLeft)
    spark.stop()
    if (failures > 0) {
      System.err.println(s"[plandump] $failures dump(s) failed")
      sys.exit(1)
    }
  }
}
