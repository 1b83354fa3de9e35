package graft

import java.util.concurrent.{ConcurrentLinkedQueue, ConcurrentSkipListMap}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; `getOrCreate` reuses it across suites in the forked test
  * JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sqlc = spark.sqlContext

  /** Fresh temp dir, deleted at JVM exit — specs must not accrete /tmp
    * litter across test runs (one hook drains a queue; never a hook per
    * call). */
  def tempDir(prefix: String): String =
    Fs.tempDirDeletedAtExit(prefix).toString

  /** What `f` launched on this thread and on the threads it starts, read
    * after the bus drained: see [[SparkTestBase.Launched]]. The job group
    * keeps other suites' work on the shared session out; threads inherit
    * it when they are created, so a pool `f` starts is counted too. */
  def launchedBy(f: => Unit): SparkTestBase.Launched = {
    val sc = spark.sparkContext
    val group = s"launched-by-${System.nanoTime()}"
    def ours(p: java.util.Properties) =
      Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    val jobs, cachedStages = new AtomicInteger()
    val descriptions = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentSkipListMap[Long, SparkPlanInfo]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) {
          jobs.incrementAndGet()
          descriptions.add(e.properties.getProperty("spark.job.description", ""))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties) && e.stageInfo.rddInfos.exists(_.storageLevel != StorageLevel.NONE))
          cachedStages.incrementAndGet()
      // an execution's plan as it starts, replaced by each AQE re-plan;
      // the last one is the plan that ran
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          plans.put(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate if plans.containsKey(u.executionId) =>
          plans.put(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "launched-by probe")
    try {
      f
      graftshim.drainListenerBus(sc)
      SparkTestBase.Launched(jobs.get(), cachedStages.get(),
        descriptions.asScala.toSeq, plans.values.asScala.map(SparkTestBase.render).toSeq)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.session("graft-test")

  /** What a [[SparkTestBase.launchedBy]] block launched: its jobs, how
    * many of their stages read or fill a persisted RDD, each job's
    * `spark.job.description`, and the physical plan
    * every SQL execution ran, in start order. Under AQE that is the
    * final plan, not the initial one. An eager checkpoint or write is an
    * execution of its own, so the plans behind them are here too. */
  final case class Launched(jobs: Int, cachedStages: Int,
                            descriptions: Seq[String], plans: Seq[String]) {
    /** The plans that read the attribute `column` — how a spec finds one
      * operator's join among them. */
    def plansReading(column: String): Seq[String] =
      plans.filter(s"\\b$column#\\d+".r.findFirstIn(_).isDefined)
  }

  /** One line per node, children indented below their parent — the
    * `executedPlan.toString` shape, read from what the bus reported. */
  private def render(p: SparkPlanInfo): String = {
    def lines(n: SparkPlanInfo, depth: Int): Seq[String] =
      ("  " * depth + n.simpleString) +: n.children.flatMap(lines(_, depth + 1))
    lines(p, 0).mkString("\n")
  }
}
