package graft.cli

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall-clock breakdown for one query — the measurement tool the
  * optimization rounds use to see where a multi-job gate's seconds go
  * (job count × scheduling floor vs genuine compute). Runs the named
  * query twice (first pass pays JIT/codegen/page-cache warmup) through
  * the same noop sink as Bench and prints every Spark job of the SECOND
  * run with its duration and description.
  *
  * Usage: `runMain graft.cli.QueryProfile <query> [<query>...]`
  * Env: `SPARK_GRAFT_SF_DIR` (default sf0.1), `SPARK_GRAFT_CPUS`
  * (default: every core, see [[graft.GraftSession.cpus]]).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile <query> [<query>...]")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus, "query-profile")
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
    args.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] no such query: $name")
        case Some(fn) =>
          def runOnce(): Double = {
            val t0 = System.nanoTime()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          val w = runOnce() // warmup
          done.clear(); jobs.clear()
          val t = runOnce()
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
