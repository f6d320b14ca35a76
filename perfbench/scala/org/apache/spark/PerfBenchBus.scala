package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event.
  * Listener events arrive asynchronously; the benchmark reads its
  * listener counters only after this returns, so an event is always
  * attributed to the phase or pass that caused it. `waitUntilEmpty` is
  * private[spark], hence the package. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
