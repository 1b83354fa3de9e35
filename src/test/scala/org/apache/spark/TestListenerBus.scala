package org.apache.spark

/** Specs that count listener events read them only after every event
  * posted so far has been delivered; the bus drain is Spark-internal. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
