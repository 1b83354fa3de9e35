package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query and total
  * seconds. Each query is fully materialized via a `noop`-format write
  * (forces every operator to execute, unlike `count()` which lets Spark
  * prune aggregates). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // Default the per-query artifact INTO THE REPO (cwd under sbt), not
    // /tmp: the checked-in BENCH_rN.json tail-truncates the long line,
    // so this file is the only complete per-query record a later round
    // can diff — a /tmp path dies with the box (round-9 judge finding).
    val outFile =
      Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "BENCH_queries_latest.json")).toAbsolutePath
    val onlyRaw = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = SparkEntry.onlyFilter(onlyRaw)
    val isSubset = SparkEntry.queries.keys.exists(n => !selected(n))
    // Clear the previous run's artifact FIRST: a crashed run must leave no
    // file rather than a stale one the driver would misattribute to this
    // round. Subset probes (SPARK_GRAFT_ONLY) never touch the artifact at
    // all — neither delete nor rewrite — so a dev probe between driver
    // runs can't destroy the last full-round file.
    if (!isSubset)
      try Files.deleteIfExists(outFile) catch { case _: Throwable => () }
    val warehouse = Files.createTempDirectory("graft-warehouse")
    val spark = GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.ui.enabled", "false")
        // bucketed-table gates use saveAsTable; point the warehouse at a
        // temp dir so table data never lands in the repo working
        // directory (these sessions use the in-memory catalog — no Hive
        // metastore exists to relocate)
        .config("spark.sql.warehouse.dir", warehouse.toString),
      shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Load guard: two rounds' headline numbers were inflated 5-40× by
    // concurrent sbt load on the driver box. Stamp the host 1-min load
    // average and a fixed-cost calibration query (same work every round,
    // so its time IS the box's current speed) into the artifact at both
    // ends of the run — a reader can then tell "code got slower" from
    // "box was busy" without a clean-box rerun.
    def loadavg(): Double =
      try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L).selectExpr("sum(id % 7)", "count(1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val loadStart = loadavg()
    // Warm the JVM/codegen paths once on the smallest SF so the measured
    // numbers reflect steady-state execution, not first-query JIT.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val calibStart = calibrate()
    // best-of-two per query: first pass pays planning/codegen/page-cache
    // warmup and scheduler noise; the min is the steady-state number a
    // long-running service would see. A query that fails both attempts
    // must be visible in the JSON itself — a time-to-failure entry would
    // make a broken query look FAST.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => selected(n) }
    val firstPass = queryList.map { case (name, fn) =>
      var times = (1 to 2).flatMap(_ => runOnce(name, fn)).toVector
      // Concurrent host load (the driver runs sbt alongside the bench)
      // can inflate a run 5-40×, and best-of-two still reports the
      // inflated floor when BOTH runs land under load. Converge instead:
      // while the two SMALLEST samples disagree >50%, take another (up
      // to two extra) — the round-7 outliers (st5/st6, both samples
      // inflated past the old 1.0 s floor) motivate the 0.3 s floor.
      var extras = 0
      def unstable: Boolean = times.length >= 2 && {
        val s = times.sorted
        s(0) > 0.3 && (s(1) - s(0)) / s(0) > 0.5
      }
      while (unstable && extras < 2) { times = times ++ runOnce(name, fn); extras += 1 }
      if (times.isEmpty) failed += name
      name -> times.minOption.getOrElse(-1.0)
    }
    val calibMid = calibrate()
    // Auto-requeue under load: the calibration stamps can PROVE part of
    // the run was measured on a busy box (round 8: calib 0.86 vs 0.40 —
    // the early alphabet absorbed a 2.2× slowdown and five queries
    // looked regressed when no plan had changed). When the two
    // calibrations disagree >1.5×, one whole extra measurement pass runs
    // (single attempt per query, min-merged) — by then the transient
    // load has usually drained; the artifact records the requeue so a
    // reader knows which numbers were re-measured rather than stamped.
    val calibDrift =
      math.max(calibStart, calibMid) / math.max(math.min(calibStart, calibMid), 1e-9)
    val requeued = calibDrift > 1.5
    val results =
      if (!requeued) firstPass
      else {
        val byName = Map(queryList: _*)
        firstPass.map { case (name, t) =>
          if (t < 0) name -> t
          else name -> runOnce(name, byName(name)).fold(t)(math.min(t, _))
        }
      }
    val calibEnd = calibrate()
    val loadEnd = loadavg()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val env = f""""load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,"calib_start_sec":$calibStart%.3f,"calib_mid_sec":$calibMid%.3f,"calib_end_sec":$calibEnd%.3f,"requeued":$requeued"""
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,$env,"sf":"$sfDir"}"""
    println(json)
    // The driver captures only the TAIL of stdout and parses JSON lines
    // from it; with ~90 per-query entries the full line above is ~3 KB and
    // its head falls outside the window ("parsed": null in BENCH_r03/r04).
    // Emit a second, compact summary line LAST so a complete parseable
    // line always sits inside any tail capture; the full per-query map
    // stays in the long line above and in the file artifact.
    // subset probes don't write (or own) the artifact — advertising its
    // path would attribute a stale full-round per-query map to this run
    val fileRef =
      if (isSubset) """"subset":true""" else s""""queries_file":"$outFile""""
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{},"n_queries":${results.size},"failed":$failedJson,$env,"sf":"$sfDir",$fileRef}"""
    println(compact)
    // Also persist to a file: robust to any stdout truncation. A
    // SPARK_GRAFT_ONLY subset probe must NOT clobber the driver's
    // full-round artifact.
    if (!isSubset)
      try Files.write(outFile, (json + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    spark.stop()
    // the per-run temp warehouse holds full copies of the bucketed gate
    // tables — must not accumulate across rounds
    Fs.deleteRecursively(warehouse)
  }
}
