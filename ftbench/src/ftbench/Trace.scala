package ftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed client operation and its wall-clock window. */
final case class Op(id: Int, kind: String, startMs: Long, endMs: Long, wallNs: Long) {
  def ms: Double = wallNs / 1e6
}

/** A span around one call into a layer: `op` is the operation it served
  * (0 = set-up), `parent` the enclosing span (0 = none).
  */
final class Span(val id: Int, val name: String, val op: Int, val parent: Int,
                 val startNs: Long) {
  var endNs: Long = startNs
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-stage task counters, summed over the stage's tasks. */
final class StageAgg {
  var tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, deserMs = 0L
  var shuffleWrite, shuffleRead, spill, bytesRead, bytesWritten = 0L
}

/** Spans and Spark-listener counters, kept in memory for one run.
  *
  * Operations are always recorded (the end-to-end metrics come from
  * them). Spans and listeners exist only when `on`: an untraced run
  * registers nothing with Spark. Listener events are attributed to an
  * operation by time, which is exact because the client runs one
  * operation at a time.
  */
final class Tracer(val on: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var current = 0

  // listener state, written from the listener-bus thread
  val jobs = mutable.Map.empty[Int, (Long, Long, Seq[Int])]
  val stages = mutable.Map.empty[Int, StageAgg]
  /** (planning end ms, analysis ms, optimization ms, planning ms, files written) */
  val plans = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  /** Time one client operation; returns its result and latency in ms. */
  def op[A](kind: String)(body: => A): (A, Double) = {
    current = ops.size + 1
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = span(s"op.$kind")(body)
      (r, (System.nanoTime() - t0) / 1e6)
    } finally {
      ops += Op(current, kind, startMs, System.currentTimeMillis(), System.nanoTime() - t0)
      current = 0
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = new Span(spans.size + 1, name, current, open.headOption.fold(0)(_.id),
        System.nanoTime())
      spans += s
      open = s :: open
      try body
      finally { s.endNs = System.nanoTime(); open = open.tail }
    }

  def register(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs(e.jobId) = (e.time, e.time, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach { case (s, _, st) => jobs(e.jobId) = (s, e.time, st) }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        a.tasks += 1
        if (!e.taskInfo.successful) a.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.bytesRead += m.inputMetrics.bytesRead
          a.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        synchronized { progress += e.progress }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(p: String): Long = ph.get(p).fold(0L)(_.durationMs)
    val at = ph.get("planning").orElse(ph.get("analysis")).fold(System.currentTimeMillis())(_.endTimeMs)
    var files = 0L
    // write commands sit behind CommandResultExec, query stages behind AQE
    def walk(p: SparkPlan): Unit = {
      p.metrics.get("numFiles").foreach(m => files += m.value)
      p match {
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Exception => () }
    synchronized { plans += ((at, d("analysis"), d("optimization"), d("planning"), files)) }
  }

  /** The timed operation whose window holds `ms`, or 0. */
  def opAt(ms: Long): Int =
    ops.find(o => o.startMs <= ms && ms <= o.endMs).fold(0)(_.id)
}
