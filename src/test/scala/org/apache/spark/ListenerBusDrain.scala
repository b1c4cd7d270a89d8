package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * test's listener has seen all the jobs of the actions it ran. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
