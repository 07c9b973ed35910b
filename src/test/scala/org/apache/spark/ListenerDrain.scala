package org.apache.spark

/** Test-side access to the listener bus: waits until every posted event
  * has been delivered, so a listener's counters are complete.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
