package org.apache.spark.ftbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark needs: listener events are
  * delivered asynchronously, so before the per-layer counters are read
  * the listener bus must have drained every queued event.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
