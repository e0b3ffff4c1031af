package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so span
  * counts are complete before they are read (the bus is Spark-internal). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
