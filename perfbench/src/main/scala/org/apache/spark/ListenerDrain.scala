package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * counters read after a pass include all of its tasks.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
