package pipebench

import java.nio.file.{Files, Path, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession

/** Benchmark entry point (launched by `run.py`, which builds the
  * classpath first):
  *
  * {{{
  * Main --workload pipeline|gates --seed N --seconds S --trace 0|1
  *      --work <scratch dir> --home <benchmark dir>
  * Main --mode goldens --work <scratch dir> --home <benchmark dir>
  * }}}
  *
  * One process, `local[N]` with N = available cores, one client thread
  * in a closed loop: the next op starts when the previous one returns.
  * Set-up runs [[SetupReps]] times (fresh session each time) and reports
  * the median. The workload's warm-up ops follow, then ops run in whole cycles
  * for at most `--seconds` (at least one cycle). With `--trace 1` a second, traced
  * window follows the untraced one, then the workload's self-time
  * probes; the run then reports per-layer metrics and the tracing
  * overhead. The last stdout line is the result object. */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, home: Path, mode: String)

  def parse(args: Array[String]): Args = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("work", "pipebench/work")).toAbsolutePath,
      Paths.get(m.getOrElse("home", "pipebench")).toAbsolutePath, m.getOrElse("mode", "run"))
  }

  def session(cores: Int, runDir: Path): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString),
      shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(a: Args, runDir: Path): Workload = a.workload match {
    case "pipeline" => new Pipeline(runDir, a.seed, months = 2)
    case "gates" => new Gates(runDir, a.seed, a.home.resolve("goldens").resolve("gates.json"))
    case other => sys.error(s"unknown workload '$other' (pipeline, gates)")
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val runDir = a.work.resolve(s"run-${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    Files.createDirectories(runDir)
    val code = try {
      if (a.mode == "goldens") {
        val spark = session(cores, runDir)
        Gates.writeGoldens(spark, a.work.resolve("goldens-check"),
          a.home.resolve("goldens").resolve("gates.json"))
        spark.stop()
      } else run(a, cores, runDir)
      0
    } catch { case e: Throwable =>
      System.err.println(s"[pipebench] failed: $e")
      e.printStackTrace()
      1
    } finally DataGen.delete(runDir)
    System.exit(code)
  }

  private def runOp(op: Op, tracer: Option[Tracer]): Sample = {
    val t0 = System.nanoTime()
    val (res, trace) = tracer match {
      case Some(t) => val (r, tr) = t.op(op.label)(Try(op.body())); (r, Some(tr))
      case None => (Try(op.body()), None)
    }
    val secs = Stats.secondsSince(t0)
    val error = res match {
      case Failure(e) => Some(s"threw $e")
      case Success(v) => Try(op.check(v)) match {
        case Success(r) => r
        case Failure(e) => Some(s"check threw $e")
      }
    }
    error.foreach(e => System.err.println(s"[pipebench] ${op.label}: ${e.take(500)}"))
    Sample(op, secs, error, trace)
  }

  private def window(spark: SparkSession, wl: Workload, seconds: Double,
                     tracer: Option[Tracer]): Vector[Sample] = {
    wl.tracer = tracer
    // whole cycles only, and only while the next one (as long as the
    // last) still fits: the op mix is the same in every window
    val t0 = System.nanoTime()
    val out = Vector.newBuilder[Sample]
    var last = 0.0
    while (last == 0.0 || Stats.secondsSince(t0) + last <= seconds) {
      val c0 = System.nanoTime()
      out ++= wl.nextCycle(spark).map(runOp(_, tracer))
      last = Stats.secondsSince(c0)
    }
    wl.tracer = None
    out.result()
  }

  private def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)

  private def metricsJson(ms: Seq[(String, Double, String)]): JObject =
    JObject(ms.map { case (n, v, u) => n -> JObject("value" -> num(v), "unit" -> JString(u)) }.toList)

  private def samplesJson(ss: Seq[Sample]): JArray = JArray(ss.map(s => JObject(
    "op" -> JString(s.op.label), "s" -> JDouble(s.seconds),
    "error" -> s.error.fold[JValue](JNull)(JString(_)))).toList)

  def run(a: Args, cores: Int, runDir: Path): Unit = {
    val loadStart = Box.loadavg1()
    val wl = workload(a, runDir)
    var spark: SparkSession = null
    val setupTimes = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Stats.logged("session")(session(cores, runDir))
      Stats.logged("setup")(wl.setup(spark))
      Stats.secondsSince(t0)
    }
    val warm0 = System.nanoTime()
    val warm = Stats.logged("warm-up")(wl.warmUp(spark).map(runOp(_, None)))
    val warmS = Stats.secondsSince(warm0)
    val calibStart = Box.calibrate(spark)
    val ticks0 = Box.cpuTicks()
    val untraced = Stats.logged("window")(window(spark, wl, a.seconds, None))
    val steal = Box.stealFrac(ticks0, Box.cpuTicks())

    val lat = untraced.map(_.seconds)
    val total = lat.sum
    val tailP = Stats.tailP(lat.size)
    val e2e = Seq(
      ("setup_s", Stats.median(setupTimes), "s"),
      ("rows_per_s", untraced.map(_.op.inputRows).sum / total, "rows/s"),
      ("ops_per_s", lat.size / total, "ops/s"),
      ("op_gmean_s", Stats.geomean(lat), "s"),
      ("peak_rss_mb", Box.peakRssMb(), "MB"))

    val (traced, layers) = if (!a.trace) (Vector.empty[Sample], None) else {
      val tracer = new Tracer(spark).register()
      val traced = window(spark, wl, a.seconds, Some(tracer))
      val m = new Layers
      val traces = traced.flatMap(_.trace)
      Layers.common(m, traces, cores)
      wl.layers(spark, tracer, traces, m)
      m("trace.overhead_frac") = Stats.geomean(traced.map(_.seconds)) / Stats.geomean(lat) - 1
      tracer.unregister()
      writeJson(a.work.resolve("records").resolve(s"${a.workload}-seed${a.seed}-spans.json"),
        JArray(tracer.spans.map(s => JObject("op" -> JInt(s.op), "id" -> JInt(s.id),
          "parent" -> JInt(s.parent), "kind" -> JString(s.kind), "name" -> JString(s.name),
          "start_ms" -> JDouble(s.startMs), "end_ms" -> JDouble(s.endMs))).toList))
      (traced, Some(m))
    }
    val calibEnd = Box.calibrate(spark)
    val loadEnd = Box.loadavg1()

    val all = untraced ++ traced
    val failed = all.count(_.error.nonEmpty)
    val warmFailed = warm.count(_.error.nonEmpty)
    val reported = layers.fold(e2e)(_.values.toSeq.map { case (n, (v, u)) => (n, v, u) })
    val result = JObject(
      "correct" -> JBool(failed == 0 && warmFailed == 0),
      "attempted" -> JInt(all.size), "failed" -> JInt(failed),
      "metrics" -> metricsJson(reported))
    val record = JObject(
      "workload" -> JString(a.workload), "seed" -> JInt(a.seed), "seconds" -> JDouble(a.seconds),
      "trace" -> JBool(a.trace),
      "box" -> JObject("nproc" -> JInt(cores), "master" -> JString(s"local[$cores]"),
        "driver_heap_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0),
        "load1_start" -> JDouble(loadStart), "load1_end" -> JDouble(loadEnd),
        "calib_start_s" -> JDouble(calibStart), "calib_end_s" -> JDouble(calibEnd),
        "window_steal_frac" -> JDouble(steal)),
      "end_to_end" -> metricsJson(e2e),
      "op_p50_s" -> JDouble(Stats.median(lat)),
      // the highest percentile with ten samples beyond it (the median when
      // the window holds fewer than twenty ops)
      "op_tail" -> JObject("percentile" -> JDouble(tailP),
        "s" -> JDouble(Stats.percentile(lat, tailP)), "samples" -> JInt(lat.size)),
      "failed_frac" -> JDouble(failed.toDouble / all.size),
      "setup_reps_s" -> JArray(setupTimes.map(JDouble(_)).toList),
      "warmup_s" -> JDouble(warmS), "warmup_failed" -> JInt(warmFailed),
      "inputs" -> wl.inputs,
      "per_layer" -> layers.fold[JValue](JNull)(m =>
        metricsJson(m.values.toSeq.map { case (n, (v, u)) => (n, v, u) })),
      "traced_samples" -> samplesJson(traced),
      "samples" -> samplesJson(untraced))
    writeJson(a.work.resolve("records").resolve(
      s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"), record)
    spark.stop()
    println(JsonMethods.compact(result))
  }

  def writeJson(path: Path, v: JValue): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, JsonMethods.pretty(v) + "\n")
  }
}
