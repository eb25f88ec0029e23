package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run's counters are complete before they are read. Lives in this
  * package because the bus is Spark-internal. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
