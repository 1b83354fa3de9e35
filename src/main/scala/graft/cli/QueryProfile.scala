package graft.cli

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.{GateRunner, GraftSession}

/** Per-job wall-clock breakdown for one query — the measurement tool the
  * optimization rounds use to see where a multi-job gate's seconds go
  * (job count × scheduling floor vs genuine compute). Runs the named
  * query twice on the [[graft.Bench]] session and gate loop
  * ([[graft.GraftSession.session]], [[graft.GateRunner]]'s noop sink; the
  * first pass pays JIT/codegen/page-cache warmup) and prints every Spark
  * job of the SECOND run with its duration and description. An unknown
  * name or a failing run is logged as `[profile] <query> failed: …`.
  *
  * Usage: `runMain graft.cli.QueryProfile <query> [<query>...]`
  * Env: `SPARK_GRAFT_SF_DIR` (default sf0.1), `SPARK_GRAFT_CPUS`
  * (default: every core, see [[graft.GraftSession.cpus]]).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile <query> [<query>...]")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.session("query-profile")
    val runner = new GateRunner(spark, d, "profile", GateRunner.noop)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, (e.time, desc)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(e.jobId)
        if (st != null) { done.add((e.jobId, e.time - st._1, st._2)); () }
      }
    })
    for ((name, build) <- GateRunner.named(args.toSeq); w <- runner.once(name, build)) { // warmup
      done.clear(); jobs.clear()
      runner.once(name, build).foreach { t =>
        // listener bus is async — drain until the captured job count
        // stabilizes AND no started job is missing its JobEnd (a fixed
        // sleep silently undercounted on a loaded box — ADVICE r13)
        var drained = done.size(); var spins = 0
        var stable = false
        while (!stable && spins < 20) {
          Thread.sleep(150)
          val now = done.size()
          stable = now == drained && jobs.isEmpty
          drained = now; spins += 1
        }
        if (!jobs.isEmpty)
          System.err.println(s"[profile] WARNING: ${jobs.size} job(s) " +
            "started but never ended within the drain window — the " +
            "per-job breakdown below is incomplete")
        val rows = done.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
        println(f"[profile] $name warm=$w%.3fs timed=$t%.3fs jobs=${rows.length}")
        rows.foreach { case (id, ms, desc) =>
          println(f"[profile]   job $id%4d ${ms / 1000.0}%7.3fs  ${desc.take(90)}")
        }
        val sum = rows.map(_._2).sum / 1000.0
        println(f"[profile] $name sum_job_wall=$sum%.3fs (gaps = driver/planning time)")
      }
    }
    spark.stop()
  }
}
