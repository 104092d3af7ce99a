package org.apache.spark

/** Blocks until the driver's listener bus has delivered every event
  * posted so far, so a spec's SparkListener sees the jobs it ran. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
