package pipebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._

/** One operation of a workload: `body` is timed, `check` (given the
  * body's result) is not. */
final case class Op(label: String, inputRows: Long,
                    body: () => Any, check: Any => Option[String])

/** A measured op. */
final case class Sample(op: Op, seconds: Double, error: Option[String], trace: Option[OpTrace])

trait Workload {
  /** Set by the harness for the traced window; layer spans are recorded
    * only while it is present. */
  var tracer: Option[Tracer] = None
  protected def layer[T](name: String)(body: => T): T = tracer.fold(body)(_.layer(name)(body))
  /** Input generation, curated-tree build and golden results. */
  def setup(spark: SparkSession): Unit
  /** Sizes and provenance of the inputs, for the result record. */
  def inputs: JObject
  /** The ops of one cycle; a timed window always ends on a cycle boundary. */
  def nextCycle(spark: SparkSession): Seq[Op]
  /** The untimed warm-up ops: one cycle unless a workload needs less. */
  def warmUp(spark: SparkSession): Seq[Op] = nextCycle(spark)
  /** Layer metrics of a traced run: the traced window's samples, plus
    * whatever self-time probes the workload runs afterwards. */
  def layers(spark: SparkSession, tracer: Tracer, traced: Seq[OpTrace], m: Layers): Unit
}

/** The per-layer metric set; a layer a workload never reaches reads 0. */
final class Layers {
  val values: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  Layers.all.foreach { case (n, u) => values(n) = (0.0, u) }
  def update(name: String, v: Double): Unit = {
    require(values.contains(name), s"unknown layer metric $name")
    values(name) = (v, values(name)._2)
  }
}

object Layers {
  val GateFamilies: Seq[String] = Seq("graph", "dedup", "ml", "similarity", "operators", "text")
  val all: Seq[(String, String)] = Seq(
    "batch.load_s" -> "s", "batch.readback_s" -> "s",
    "normalize.s" -> "s", "normalize.input_bytes" -> "B", "normalize.read_tasks" -> "count",
    "clean.s" -> "s", "clean.rows_in" -> "count", "clean.rows_out" -> "count",
    "clean.keep_frac" -> "ratio",
    "write.s" -> "s", "write.files" -> "count", "write.bytes" -> "B",
    "write.files_per_partition" -> "count", "write.task_skew" -> "ratio",
    "write.space_amp" -> "ratio",
    "refresh.transform_s" -> "s", "refresh.write_s" -> "s",
    "analytics.cache_fill_s" -> "s", "analytics.hourly_s" -> "s", "analytics.dow_s" -> "s",
    "analytics.pickup_zones_s" -> "s", "analytics.dropoff_zones_s" -> "s",
    "analytics.trend_s" -> "s",
    "scan.files_read" -> "count", "scan.bytes_read" -> "B",
    "scan.partitions_read_frac" -> "ratio", "scan.slice_s" -> "s",
    "scan.full_files_read" -> "count", "scan.full_bytes_read" -> "B", "scan.full_s" -> "s") ++
    GateFamilies.map(f => s"gates.$f.s" -> "s") ++ Seq(
    "gates.jobs_per_op" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.stages_skipped" -> "count",
    "sched.tasks" -> "count", "sched.gap_ms" -> "ms",
    "exec.task_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.core_util" -> "ratio",
    "exec.input_bytes" -> "B", "exec.output_bytes" -> "B",
    "exec.shuffle_read_bytes" -> "B", "exec.shuffle_write_bytes" -> "B",
    "exec.spill_bytes" -> "B", "exec.task_skew" -> "ratio",
    "exec.cached_block_bytes" -> "B", "trace.overhead_frac" -> "ratio")

  /** Planning, scheduling and execution layers: per-op means over the
    * traced ops. */
  def common(m: Layers, traced: Seq[OpTrace], cores: Int): Unit = {
    def avg(f: OpTrace => Double) = Stats.mean(traced.map(f))
    m("plan.analysis_ms") = avg(_.analysisMs)
    m("plan.optimization_ms") = avg(_.optimizationMs)
    m("plan.planning_ms") = avg(_.planningMs)
    m("sched.jobs") = avg(_.jobs.toDouble)
    m("sched.stages") = avg(_.stages.toDouble)
    m("sched.stages_skipped") = avg(_.stagesSkipped.toDouble)
    m("sched.tasks") = avg(_.tasks.toDouble)
    m("sched.gap_ms") = avg(_.gapMs)
    m("exec.task_ms") = avg(_.taskMs.toDouble)
    m("exec.gc_ms") = avg(_.gcMs.toDouble)
    m("exec.core_util") = traced.map(_.taskMs.toDouble).sum / (traced.map(_.wallMs).sum * cores)
    m("exec.input_bytes") = avg(_.inputBytes.toDouble)
    m("exec.output_bytes") = avg(_.outputBytes.toDouble)
    m("exec.shuffle_read_bytes") = avg(_.shuffleReadBytes.toDouble)
    m("exec.shuffle_write_bytes") = avg(_.shuffleWriteBytes.toDouble)
    m("exec.spill_bytes") = avg(_.spillBytes.toDouble)
    m("exec.task_skew") = avg(_.taskSkew)
    m("exec.cached_block_bytes") = avg(_.cachedBlockBytes.toDouble)
  }
}
