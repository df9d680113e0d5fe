package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener has seen every job that already ran. Lives in
  * Spark's package because the bus is package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
