package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: events are delivered
  * asynchronously, so a spec counting jobs with a `SparkListener` must
  * drain every queued event before it reads the count.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
