package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so that span and job accounting read after a measured window is
  * complete. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
