package pipebench

import scala.collection.mutable

import org.apache.spark.PipebenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a layer call made by the benchmark (`kind = "layer"`), a SQL
  * execution or a Spark job. Times are epoch milliseconds; spans of one
  * op share `op`. */
final case class Span(op: Int, id: Int, parent: Int, kind: String, name: String,
                      startMs: Double, endMs: Double)

/** Per-file-scan numbers of one executed query (Spark's scan metrics). */
final case class ScanRec(files: Long, bytes: Long, partitions: Long)

/** One SQL execution seen by the `QueryExecutionListener`. */
final case class QueryRec(execId: Long, durMs: Double,
                          analysisMs: Double, optimizationMs: Double,
                          planningMs: Double, isWrite: Boolean,
                          scans: Seq[ScanRec], lastStageSkew: Double)

/** Everything the tracer saw during one op. */
final case class OpTrace(label: String, wallMs: Double, jobs: Int, stages: Int,
                         stagesSkipped: Int, tasks: Long, taskMs: Long, gcMs: Long,
                         inputBytes: Long, outputBytes: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long, taskSkew: Double,
                         cachedBlockBytes: Long, gapMs: Double,
                         queries: Seq[QueryRec], spans: Seq[Span]) {
  def analysisMs: Double = queries.map(_.analysisMs).sum
  def optimizationMs: Double = queries.map(_.optimizationMs).sum
  def planningMs: Double = queries.map(_.planningMs).sum
  def layerMs(name: String): Double =
    spans.filter(s => s.kind == "layer" && s.name == name).map(s => s.endMs - s.startMs).sum
}

/** Outside-in tracer, registered by the benchmark only: a `SparkListener`
  * for jobs, stages, tasks and cached blocks, and a
  * `QueryExecutionListener` for planning phases and scan metrics. The
  * program itself is not instrumented; layer spans are recorded around
  * the benchmark's own calls into each module.
  *
  * Ops run one at a time on the driver thread. Every listener event of
  * an op is delivered before the op closes (the bus is drained), so
  * events are attributed to the op that is open when they arrive. Spans
  * stay in memory and are written once at the end of the run. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private val epochAtNano = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = epochAtNano + System.nanoTime() / 1e6

  private final class Job(val id: Int, val start: Long, val stageIds: Seq[Int],
                          val execId: Option[Long]) { var end: Long = -1 }

  // all state below is guarded by `this`
  private var opId = -1
  private var nextId = 0
  private val allSpans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Double)]
  private val layerSpans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val submitted = mutable.Set.empty[Int]
  /** Task durations per stage, for skew. */
  private val stages = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val sqlStart = mutable.Map.empty[Long, (Double, String)]
  private val sqlSpans = mutable.ArrayBuffer.empty[(Long, Double, Double, String)]
  private val queries = mutable.ArrayBuffer.empty[QueryRec]
  private var taskMs, gcMs, inBytes, outBytes, shRead, shWrite, spill, cached = 0L
  private var tasks = 0L

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def unregister(): Unit = {
    PipebenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def spans: Seq[Span] = synchronized(allSpans.toVector)

  /** Run `body` as one traced op. */
  def op[T](label: String)(body: => T): (T, OpTrace) = {
    synchronized { opId += 1; resetOp() }
    val start = nowMs
    val result = layer(label)(body)
    val end = nowMs
    PipebenchBus.drain(spark.sparkContext)
    (result, synchronized(closeOp(label, start, end)))
  }

  /** A layer span around a call the benchmark makes into the program. */
  def layer[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; open.push((nextId, name, nowMs)); nextId }
    try body
    finally synchronized {
      val (_, _, start) = open.pop()
      val parent = open.headOption.map(_._1).getOrElse(-1)
      layerSpans += Span(opId, id, parent, "layer", name, start, nowMs)
    }
  }

  private def resetOp(): Unit = {
    layerSpans.clear(); jobs.clear(); submitted.clear(); stages.clear()
    sqlStart.clear(); sqlSpans.clear(); queries.clear()
    taskMs = 0; gcMs = 0; inBytes = 0; outBytes = 0; shRead = 0; shWrite = 0
    spill = 0; cached = 0; tasks = 0
  }

  private def skew(d: Seq[Long]): Double =
    if (d.size < 2) 1.0
    else {
      val s = d.sorted
      val med = Stats.median(s.map(_.toDouble))
      if (med <= 0) 1.0 else s.last / med
    }

  private def closeOp(label: String, start: Double, end: Double): OpTrace = {
    // parent of a SQL execution: the innermost layer span open at its start
    def enclosing(t: Double): Int =
      layerSpans.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(-1)
    val sqlIds = mutable.Map.empty[Long, Int]
    val execSpans = sqlSpans.map { case (exec, s, e, desc) =>
      nextId += 1; sqlIds(exec) = nextId
      Span(opId, nextId, enclosing(s), "sql", s"sql:$exec $desc", s, e)
    }
    val jobSpans = jobs.filter(_.end >= 0).map { j =>
      nextId += 1
      Span(opId, nextId, j.execId.flatMap(sqlIds.get).getOrElse(enclosing(j.start.toDouble)),
        "job", s"job:${j.id}", j.start.toDouble, j.end.toDouble)
    }
    val opSpans = layerSpans.toVector ++ execSpans ++ jobSpans
    allSpans ++= opSpans
    // union of job intervals: what remains of the op wall is driver time
    val intervals = jobs.filter(_.end >= 0).map(j => (j.start.toDouble, j.end.toDouble)).sortBy(_._1)
    var busy = 0.0; var curS = Double.NaN; var curE = Double.NaN
    intervals.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) busy += curE - curS
    val stageIds = jobs.flatMap(_.stageIds).distinct
    val ran = stageIds.filter(submitted.contains)
    val withSkew = queries.toVector.map { q =>
      val qStages = jobs.filter(_.execId.contains(q.execId)).flatMap(_.stageIds)
        .filter(stages.contains)
      q.copy(lastStageSkew =
        if (qStages.isEmpty) 1.0 else skew(stages(qStages.max).toSeq))
    }
    OpTrace(label, end - start, jobs.size, ran.size, stageIds.size - ran.size, tasks,
      taskMs, gcMs, inBytes, outBytes, shRead, shWrite, spill,
      if (stages.isEmpty) 1.0 else stages.values.map(d => skew(d.toSeq)).max,
      cached, math.max(0.0, (end - start) - busy), withSkew, opSpans)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs += new Job(e.jobId, e.time, e.stageInfos.map(_.stageId), exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    tasks += e.stageInfo.numTasks
    if (m != null) {
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      inBytes += m.inputMetrics.bytesRead
      outBytes += m.outputMetrics.bytesWritten
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) cached += b.memSize + b.diskSize
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlStart(s.executionId) = (s.time.toDouble, s.description.take(60))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(s.executionId).foreach { case (t, d) =>
        sqlSpans += ((s.executionId, t, s.time.toDouble, d))
      }
    }
    case _ =>
  }

  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val plan = qe.executedPlan
    val scans = Plans.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.map { s =>
      def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      ScanRec(m("numFiles"), m("filesSize"), m("numPartitions"))
    }
    val isWrite = plan.exists(_.isInstanceOf[DataWritingCommandExec])
    synchronized {
      queries += QueryRec(qe.id, durationNs / 1e6, phase("analysis"),
        phase("optimization"), phase("planning"), isWrite, scans, 1.0)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
