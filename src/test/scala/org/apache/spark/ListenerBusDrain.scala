package org.apache.spark

/** Test access to the listener bus, which is private to Spark. */
object ListenerBusDrain {
  /** Waits until every posted event has reached the listeners, so a
    * listener's counters are complete before a spec reads them. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
