package org.apache.spark

/** Listener-bus drain for the benchmark's traced run: `SparkListener`
  * events arrive asynchronously, so per-layer counts are read only after
  * every posted event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
