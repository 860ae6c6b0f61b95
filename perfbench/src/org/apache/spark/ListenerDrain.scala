package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counters read right after an action include all of its tasks. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
