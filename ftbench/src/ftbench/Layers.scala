package ftbench

/** The per-layer metrics, derived from a traced run's spans and listener
  * counters. Times and bytes are per timed operation (a request, a
  * micro-batch or a query); `scheduler.jobs`, `.stages` and `.tasks` are
  * totals over the timed loop; `statestore.rows` and `.bytes` are the
  * state size after the last timed batch. A layer that does no work on
  * a workload reads 0.
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "core.plan_ms" -> "ms",
    "sources.load_ms" -> "ms",
    "sources.upsert_ms" -> "ms",
    "sources.bytes_written" -> "bytes",
    "sources.files_written" -> "count",
    "sources.bytes_read" -> "bytes",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "scheduler.jobs" -> "count",
    "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count",
    "scheduler.jobs_per_op" -> "count",
    "scheduler.driver_gap_ms" -> "ms",
    "scheduler.failed_tasks" -> "count",
    "executor.run_ms" -> "ms",
    "executor.cpu_ms" -> "ms",
    "executor.gc_ms" -> "ms",
    "executor.deserialize_ms" -> "ms",
    "executor.shuffle_write_bytes" -> "bytes",
    "executor.shuffle_read_bytes" -> "bytes",
    "executor.spill_bytes" -> "bytes",
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms",
    "streaming.wal_ms" -> "ms",
    "streaming.transition_ms" -> "ms",
    "streaming.rows_emitted_per_event" -> "ratio",
    "statestore.rows" -> "count",
    "statestore.bytes" -> "bytes",
    "statestore.rows_updated" -> "count",
    "statestore.commit_ms" -> "ms",
    "statestore.rocksdb_commitFileSyncLatencyMs" -> "ms",
    "statestore.rocksdb_changeLogWriterCommitLatencyMs" -> "ms",
    "statestore.rocksdb_commitCheckpointLatency" -> "ms",
    "statestore.rocksdb_commitFlushLatency" -> "ms",
    "statestore.rocksdb_loadLatencyMs" -> "ms",
    "statestore.rocksdb_getCount" -> "count",
    "statestore.rocksdb_putCount" -> "count",
    "statestore.rocksdb_totalBytesRead" -> "bytes",
    "statestore.rocksdb_totalBytesWritten" -> "bytes",
    "statestore.rocksdb_sstFileSize" -> "bytes",
    "queries.build_ms" -> "ms",
    "queries.force_ms" -> "ms")

  /** Every metric of [[Units]]: listener- and span-derived values, then
    * the workload's own (`extra`), with 0 for a layer that did no work.
    * Extra values not in [[Units]] are returned too (for the trace file).
    */
  def compute(tr: Tracer, extra: Map[String, Double]): Map[String, Double] = tr.synchronized {
    val n = math.max(1, tr.ops.size).toDouble
    val spans = tr.spans.filter(_.op > 0)
    def spanMs(p: String => Boolean) = spans.filter(s => p(s.name)).map(_.ms).sum / n

    val jobs = tr.jobs.toSeq.map { case (_, (s, e, st)) => (tr.opAt(s), s, e, st) }.filter(_._1 > 0)
    val stageIds = jobs.flatMap(_._4).distinct
    val aggs = stageIds.flatMap(tr.stages.get).filter(_.tasks > 0)
    def agg(f: StageAgg => Long) = aggs.map(f).sum.toDouble
    val gapMs = tr.ops.map { o =>
      val spans = jobs.filter(_._1 == o.id)
        .map { case (_, s, e, _) => (math.max(s, o.startMs), math.min(e, o.endMs)) }
        .sortBy(_._1)
      var covered, reach = 0L
      spans.foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) covered += e - from
        reach = math.max(reach, e)
      }
      math.max(0.0, o.ms - covered)
    }.sum / n
    val plans = tr.plans.filter(p => tr.opAt(p._1) > 0)
    def plan(f: ((Long, Long, Long, Long, Long)) => Long) = plans.map(f).sum / n

    val derived = Map(
      "core.plan_ms" -> spanMs(_.startsWith("core.")),
      "sources.load_ms" -> spanMs(_.startsWith("sources.load")),
      "sources.upsert_ms" -> spanMs(_ == "sources.upsert"),
      "queries.build_ms" -> spanMs(_ == "queries.build"),
      "queries.force_ms" -> spanMs(_ == "queries.force"),
      "sources.bytes_written" -> agg(_.bytesWritten) / n,
      "sources.files_written" -> plan(_._5),
      "sources.bytes_read" -> agg(_.bytesRead) / n,
      "catalyst.analysis_ms" -> plan(_._2),
      "catalyst.optimization_ms" -> plan(_._3),
      "catalyst.planning_ms" -> plan(_._4),
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> aggs.size.toDouble,
      "scheduler.tasks" -> agg(_.tasks),
      "scheduler.jobs_per_op" -> jobs.size / n,
      "scheduler.driver_gap_ms" -> gapMs,
      "scheduler.failed_tasks" -> agg(_.failedTasks),
      "executor.run_ms" -> agg(_.runMs) / n,
      "executor.cpu_ms" -> agg(_.cpuNs) / 1e6 / n,
      "executor.gc_ms" -> agg(_.gcMs) / n,
      "executor.deserialize_ms" -> agg(_.deserMs) / n,
      "executor.shuffle_write_bytes" -> agg(_.shuffleWrite) / n,
      "executor.shuffle_read_bytes" -> agg(_.shuffleRead) / n,
      "executor.spill_bytes" -> agg(_.spill) / n)
    Units.map { case (k, _) => k -> 0.0 }.toMap ++ derived ++ extra
  }
}
