package org.apache.spark

/** Runs the executor's one-time process-tree set-up now. Its constructor
  * forks `getconf PAGESIZE` once per JVM, from the heartbeat thread at the
  * first heartbeat; a test that counts process starts settles it first. */
object ProcfsProbe {
  def settle(): Unit = executor.ProcfsMetricsGetter.pTreeInfo
}
