package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events are
  * delivered asynchronously, so counters read right after an action can
  * miss its last task-end events. Draining the bus first makes the
  * per-layer counts repeat exactly on a given seed. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
