package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so counters read right after a call include all of its jobs.
  * The bus is package-private, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
