package org.apache.spark

/** Access to the spark-private listener bus: the benchmark reads per-operation
  * task metrics from its listener only after every event has been delivered. */
object GeoBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
