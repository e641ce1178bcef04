package graft.sources

import org.apache.spark.sql.SparkSession

/** One place to construct graft SparkSessions so session-level confs are
  * set at build time, not sprinkled through readers:
  *
  *   - `spark.sql.legacy.parquet.nanosAsLong` — `events.ts` is parquet
  *     TIMESTAMP(NANOS), which Spark 4 refuses to map to TimestampType
  *     (micros); with the conf the column arrives as epoch-nanos LONG and
  *     [[Tables.events]] rebuilds a proper timestamp with integer `DIV`.
  *     Session-level because it changes the SCHEMA a scan produces —
  *     setting it per-read mutates shared session state mid-query, a
  *     footgun when streams capture schemas before the conf flips.
  *   - `spark.sql.shuffle.partitions` sized to the worker count (local
  *     mode; a real cluster tunes this to executors × cores).
  *   - UTC session timezone: every oracle comparison assumes it.
  *   - `spark.sql.sources.parallelPartitionDiscovery.threshold` above
  *     [[StateStore.DefaultBuckets]]: at Spark's default of 32 a scan
  *     over more directories lists them with a Spark job (one task per
  *     directory), so every full-store read paid a 256-task listing job
  *     before its own action. In local mode the driver lists those
  *     local directories in milliseconds.
  *   - `spark.sql.codegen.cache.maxEntries` at 5000, up from Spark's
  *     100. The cache maps generated source to its compiled class, and
  *     at 100 entries it thrashed: on a 20k-dist store, a serving loop
  *     of point reads, upserts and `ft_*` reports recompiled 13–26
  *     classes per point read, 62 per upsert and 60 per report, every
  *     cycle, with the same plans. One `graft.Verify` pass at sf0.01
  *     generates 3756 distinct classes; at 100 entries it compiles 9744
  *     and, warm, still 9627, at 5000 a warm pass compiles 231 (plans
  *     whose literals differ per run). Static, so it is set here, before
  *     the first session exists. Cost of holding them: about 30 MB more
  *     metaspace and 70–230 MB more live heap after a Verify pass.
  *
  * and one optimizer rule, [[graft.plans.StoreBucketPruning]]: a filter
  * naming distributions over a [[StateStore]] `counts` scan (the
  * `load(dir).counts.filter(col("dist").isin(...))` of a write-back
  * client) opens only their buckets' files, not all 256. Injected as a
  * session extension, so it holds in every session built here and in
  * its `newSession()`s.
  */
object GraftSession {

  /** Builder with graft defaults applied; callers may chain further
    * `.config(...)` (e.g. extensions) before `getOrCreate()`.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .withExtensions(_.injectOptimizerRule(_ => graft.plans.StoreBucketPruning))

  /** The standard local session used by mains and specs. */
  def local(master: String = "local[4]", shufflePartitions: Int = 4): SparkSession =
    builder(master, shufflePartitions).getOrCreate()

  /** Production state-store wiring for the streaming forget-table: back
    * `flatMapGroupsWithState` state with RocksDB instead of the default
    * in-heap HDFSBackedStateStoreProvider.
    *
    * At the reference's ambition — "millions of distributions"
    * (reference `README.md:5`), each an unbounded bins→count map — the
    * default provider keeps every version of every state row on the
    * executor heap; RocksDB keeps state off-heap with incremental
    * (changelog) checkpoints, so state size is bounded by local disk,
    * not heap. These are dynamic SQL confs: set them on the session
    * before `start()`; each streaming query pins the provider it started
    * with in its checkpoint.
    *
    * [[graft.RocksDBStreamSpec]] proves ForgetStream end-to-end on this
    * provider (and that RocksDB actually served the state, via the
    * query's `rocksdb*` custom metrics).
    */
  def enableRocksDBStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // incremental checkpointing: upload the changelog per batch, compact
    // full snapshots in the background — the at-scale default
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
  }

  /** Undo [[enableRocksDBStateStore]] (tests restore the default provider
    * so suites sharing the session are unaffected).
    */
  def disableRocksDBStateStore(spark: SparkSession): Unit = {
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.conf.unset(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
  }
}
