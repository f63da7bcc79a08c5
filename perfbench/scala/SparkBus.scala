package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * traced phase is complete before it is summarised. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
