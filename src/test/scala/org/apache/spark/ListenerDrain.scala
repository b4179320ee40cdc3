package org.apache.spark

/** Test access to the listener bus: job counters read right after an
  * action must wait for the asynchronous bus to deliver its events.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
