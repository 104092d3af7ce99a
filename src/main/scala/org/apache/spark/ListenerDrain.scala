package org.apache.spark

/** Blocks until the driver's listener bus has delivered every event
  * posted so far (`listenerBus` is `private[spark]`). A job's task-end,
  * stage-completed and job-end events are posted before its action
  * returns, so after a drain a listener has seen all of them. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
