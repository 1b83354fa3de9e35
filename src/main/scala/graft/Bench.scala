package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query and total
  * seconds. Each query is fully materialized via a `noop`-format write
  * (forces every operator to execute, unlike `count()` which lets Spark
  * prune aggregates). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default the per-query artifact INTO THE REPO (cwd under sbt), not
    // /tmp: the checked-in BENCH_rN.json tail-truncates the long line,
    // so this file is the only complete per-query record a later round
    // can diff — a /tmp path dies with the box (round-9 judge finding).
    val outFile =
      Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "BENCH_queries_latest.json")).toAbsolutePath
    val gates = GateRunner.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    val isSubset = gates.size < SparkEntry.queries.size
    // Clear the previous run's artifact FIRST: a crashed run must leave no
    // file rather than a stale one the driver would misattribute to this
    // round. Subset probes (SPARK_GRAFT_ONLY) never touch the artifact at
    // all — neither delete nor rewrite — so a dev probe between driver
    // runs can't destroy the last full-round file.
    if (!isSubset)
      try Files.deleteIfExists(outFile) catch { case _: Throwable => () }
    val spark = GraftSession.session("graft-bench")
    val record = measure(spark, sfDir, gates)
    val json = GateRunner.json.writeValueAsString(record)
    println(json)
    // The driver captures only the TAIL of stdout and parses JSON lines
    // from it; with ~90 per-query entries the full line above is ~3 KB and
    // its head falls outside the window ("parsed": null in BENCH_r03/r04).
    // Emit a second, compact summary line LAST so a complete parseable
    // line always sits inside any tail capture; the full per-query map
    // stays in the long line above and in the file artifact.
    // subset probes don't write (or own) the artifact — advertising its
    // path would attribute a stale full-round per-query map to this run
    val fileRef = if (isSubset) "subset" -> true else "queries_file" -> outFile.toString
    println(GateRunner.json.writeValueAsString(
      record.updated("queries", Map.empty) + ("n_queries" -> gates.size) + fileRef))
    // Also persist to a file: robust to any stdout truncation. A
    // SPARK_GRAFT_ONLY subset probe must NOT clobber the driver's
    // full-round artifact.
    if (!isSubset)
      try Files.write(outFile, (json + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    spark.stop()
  }

  private def round(v: Double, places: Int): Double = {
    val f = math.pow(10, places)
    math.round(v * f) / f
  }

  /** Bench's measurement policy over the gate loop: the record both
    * stdout lines print. A gate that fails every attempt times -1 and is
    * listed under `failed`. */
  private[graft] def measure(spark: SparkSession, sfDir: String,
                             gates: Seq[(String, GateRunner.Build)]): ListMap[String, Any] = {
    val runner = new GateRunner(spark, sfDir, "bench", GateRunner.noop)
    def runOnce(name: String, build: GateRunner.Build): Option[Double] =
      runner.once(name, build).toOption
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
    runOnce("entry", (s, _) => SparkEntry.entry(s))
    // The calibration query's own first run pays its codegen and a cold
    // JIT (2-4× the later stamps), which alone tripped the requeue below
    // on every run; stamp only once it is warm.
    calibrate()
    val calibStart = calibrate()
    // best-of-two per query: first pass pays planning/codegen/page-cache
    // warmup and scheduler noise; the min is the steady-state number a
    // long-running service would see. A query that fails both attempts
    // must be visible in the JSON itself — a time-to-failure entry would
    // make a broken query look FAST.
    val firstPass = gates.map { case (name, fn) =>
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
      else firstPass.zip(gates).map { case ((name, t), (_, fn)) =>
        if (t < 0) name -> t else name -> runOnce(name, fn).fold(t)(math.min(t, _))
      }
    val calibEnd = calibrate()
    val loadEnd = loadavg()
    ListMap("metric" -> "total", "value" -> round(results.map(_._2).filter(_ >= 0).sum, 3),
      "unit" -> "sec", "queries" -> ListMap.from(results.map { case (n, t) => n -> round(t, 3) }),
      "failed" -> results.collect { case (n, t) if t < 0 => n },
      "load_start" -> round(loadStart, 2), "load_end" -> round(loadEnd, 2),
      "calib_start_sec" -> round(calibStart, 3), "calib_mid_sec" -> round(calibMid, 3),
      "calib_end_sec" -> round(calibEnd, 3), "requeued" -> requeued, "sf" -> sfDir)
  }
}
