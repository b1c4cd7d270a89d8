package org.apache.spark

/** Lets the harness wait until every queued listener event has been
  * delivered, so per-call counters are complete before they are read. */
object TembenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
