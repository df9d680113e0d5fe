package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * trace report sees the counts of every job that already finished.
  * Lives in Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
