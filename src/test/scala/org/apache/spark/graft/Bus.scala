package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the listener bus: events are delivered
  * asynchronously, so a spec counting jobs with a `SparkListener` must
  * drain every queued event before it reads the count.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The Spark jobs `body` launches (listener bus drained both sides). */
  def jobsIn[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
