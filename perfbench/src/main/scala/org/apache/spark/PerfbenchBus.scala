package org.apache.spark

/** Lets the benchmark wait until every event it has posted so far reached its
  * listeners, so that a phase's metrics are complete when the phase is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
