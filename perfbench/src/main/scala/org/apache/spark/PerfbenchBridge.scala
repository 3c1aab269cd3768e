package org.apache.spark

/** The one Spark-internal the traced run needs: wait until every queued
  * listener event has been delivered, so per-op counters are complete
  * before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
