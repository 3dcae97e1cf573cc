package org.apache.spark

/** Test access to the listener bus: block until every event posted so far
  * has reached the registered listeners, so a listener's counters are
  * complete when an action returns. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
