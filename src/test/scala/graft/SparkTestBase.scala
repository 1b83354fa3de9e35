package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
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

  /** Jobs `f` launches on this thread, and how many of their stages read
    * or fill a persisted RDD; counted after the bus drained. The job
    * group keeps other suites' jobs on the shared session out. */
  def launchedBy(f: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"launched-by-${System.nanoTime()}"
    def ours(p: java.util.Properties) =
      Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    val jobs, cachedStages = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties) && e.stageInfo.rddInfos.exists(_.storageLevel != StorageLevel.NONE))
          cachedStages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count probe")
    try { f; TestListenerBus.drain(sc); (jobs.get(), cachedStages.get()) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.session("graft-test")
}
