package org.apache.spark

/** The two SparkContext internals the benchmark reads. */
object PipebenchBus {
  /** Waits until the listener bus has delivered every posted event, so
    * a listener's counters are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The running SparkContext, from any thread. */
  def active: Option[SparkContext] = SparkContext.getActive
}
