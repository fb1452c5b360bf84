package org.apache.spark

/** Test access to the listener bus: blocks until every event posted so far
  * has reached the registered listeners, so a spec can read a listener's
  * counters right after the jobs it ran.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
