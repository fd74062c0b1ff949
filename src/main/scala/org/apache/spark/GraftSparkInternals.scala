package org.apache.spark

/** Compile-time access to `private[spark]` listener-bus draining, so a
  * metrics probe can make listener counters deterministic (events are
  * async; without a drain, bytes attribute to the WRONG query). Used by
  * `graft.QueryProfile` and the benchmark's tracer; no pipeline path
  * imports this.
  */
object GraftSparkInternals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
