package org.apache.spark

/** The benchmark tracer reads listener state only after every event of
  * an op has been delivered; the bus drain it needs is Spark-internal. */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
