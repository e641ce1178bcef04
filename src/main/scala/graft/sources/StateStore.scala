package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.core.ForgetTable
import graft.streaming.BinSnapshot

/** Persistent layout for forget-table state — the storage side of the
  * 100 TB design.
  *
  * `counts` is written hash-bucketed into `dist_bucket = pmod(xxhash64
  * (dist), nBuckets)` partitions rather than `partitionBy("dist")`
  * directly: at "millions of distributions" (reference README.md:5) a
  * partition directory per dist would melt the file listing and produce
  * millions of tiny files, while a fixed bucket count gives bounded file
  * counts AND still confines single-dist reads to one bucket: the
  * driver computes the dist's bucket ([[bucketOf]], the same
  * `pmod(xxhash64(name), n)` the writer evaluates) and opens only that
  * `dist_bucket=<b>` directory. `meta` is tiny (one row per dist) and
  * written flat.
  *
  * Reads never run a Spark job of their own: they carry the stored
  * schemas instead of inferring them from parquet footers, and list
  * only the directories they name (a full [[load]] lists its 256
  * bucket directories on the driver, see [[GraftSession]]).
  *
  * This is the batch analog of the reference's per-dist Redis keys: all
  * rows of one distribution land in one bucket, so dist-local operators
  * (decay, normalize, top-K) shuffle at most within a bucket's readers.
  *
  * Every write ([[save]], [[upsertDistributions]], [[compact]]) is one
  * [[Publish]] transaction over `counts` and `meta` together, so a
  * crash at any step leaves the old store or the new one, never new
  * counts beside stale meta; every entry point first finishes a
  * committed write that crashed, and the next write drops an
  * uncommitted one. A write may read the store it replaces (a lazy
  * `snaps` built from [[load]], say): nothing live changes until its
  * new paths are complete. The precondition is a single writer per
  * store; a read while a write stages sees the old store.
  */
object StateStore {

  final val DefaultBuckets = 256

  def bucketCol(dist: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(dist), lit(nBuckets.toLong))

  /** [[bucketCol]] evaluated on the driver for one name: the bucket
    * whose directory holds every row of `name`.
    */
  def bucketOf(name: String, nBuckets: Int): Long = {
    val h = XxHash64(Seq(Literal(name)), 42L).eval().asInstanceOf[Long]
    Math.floorMod(h, nBuckets.toLong)
  }

  /** Write state tables under `dir` (replacing any store there).
    * Clustered by the partition key before the write — without the
    * repartition every write task can open a file in every bucket
    * directory (tasks x nBuckets files at cluster width, the small-files
    * failure); with it each directory gets one file.
    */
  def save(ft: ForgetTable, dir: String, nBuckets: Int = DefaultBuckets): Unit =
    replaceAll(ft.counts.sparkSession, dir, ft.counts, ft.meta, nBuckets)

  /** Publish `counts` and `meta` as the whole store under `dir`. */
  private def replaceAll(spark: SparkSession, dir: String, counts: DataFrame,
      meta: DataFrame, nBuckets: Int): Unit =
    Publish.commit(spark, dir) { txn =>
      counts
        .withColumn("dist_bucket", bucketCol(col("dist"), nBuckets))
        .repartition(col("dist_bucket"))
        .write.partitionBy("dist_bucket").parquet(s"$txn/counts")
      meta.write.parquet(s"$txn/meta")
      Seq(Publish.replace(s"$txn/counts", s"$dir/counts"),
        Publish.replace(s"$txn/meta", s"$dir/meta"))
    }

  /** The stored schemas. Every read carries them, so no read runs a
    * footer-inference job, and a store whose last write was EMPTY still
    * types: a partitioned parquet write of zero rows leaves no part
    * directories (and a flat one no files) — exactly the state a TTL
    * [[compact]] that expired every distribution leaves behind. An
    * empty store is a legal store; reads type it instead of throwing.
    */
  private val countsSchema = StructType(Seq(
    StructField("dist", StringType),
    StructField("bin", StringType),
    StructField("count", LongType),
    StructField("dist_bucket", LongType)))
  private val metaSchema = StructType(Seq(
    StructField("dist", StringType),
    StructField("z", LongType),
    StructField("t", LongType),
    StructField("rate", DoubleType)))

  /** Read the `paths` that hold data, with partition values parsed
    * relative to `basePath`; typed-empty when none does.
    *
    * With `singleIfSmall`, a read of plain files (no subdirectories) totalling
    * at most `spark.sql.files.maxPartitionBytes` is coalesced to one
    * partition: one task's worth of input either way, but declared
    * `SinglePartition`, so the joins, windows and sorts above it plan
    * no exchange. A larger read keeps its parallel scan — `coalesce`
    * is narrow and would collapse the whole scan into one task.
    */
  private def readOrEmpty(spark: SparkSession, paths: Seq[String], basePath: String,
      schema: StructType, singleIfSmall: Boolean = false): DataFrame = {
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = paths.map(new Path(_)).filter(fs.exists).map(p => p -> fs.listStatus(p))
      .filter(_._2.exists(st => st.isDirectory || st.getPath.getName.endsWith(".parquet")))
    if (listed.isEmpty) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val df = spark.read.schema(schema).option("basePath", basePath)
      .parquet(listed.map(_._1.toString): _*)
    val entries = listed.flatMap(_._2)
    val bytes = entries.filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    if (singleIfSmall && !entries.exists(_.isDirectory) &&
        bytes <= spark.sessionState.conf.filesMaxPartitionBytes) df.coalesce(1)
    else df
  }

  private def readMeta(spark: SparkSession, dir: String, singleIfSmall: Boolean = false): DataFrame =
    readOrEmpty(spark, Seq(s"$dir/meta"), s"$dir/meta", metaSchema, singleIfSmall)

  /** The stored counts of the given buckets only: each bucket is one
    * `dist_bucket=<b>` directory, and no other directory is listed.
    */
  private def readBuckets(spark: SparkSession, dir: String,
      buckets: Seq[Long], singleIfSmall: Boolean = false): DataFrame =
    readOrEmpty(spark, buckets.map(b => s"$dir/counts/dist_bucket=$b"),
      s"$dir/counts", countsSchema, singleIfSmall)

  /** Load the full state (typed-empty when the store holds no rows). */
  def load(spark: SparkSession, dir: String): ForgetTable = {
    Publish.recover(spark, dir)
    new ForgetTable(
      readOrEmpty(spark, Seq(s"$dir/counts"), s"$dir/counts", countsSchema)
        .drop("dist_bucket"),
      readMeta(spark, dir))
  }

  /** Load a single distribution: the scan opens only the dist's bucket
    * directory (absent → typed-empty), keeps the literal bucket filter
    * as its partition filter, and pushes the residual `dist = name`
    * predicate into that bucket's row groups.
    *
    * Each of the two frames is single-partition when its files total at
    * most `spark.sql.files.maxPartitionBytes` (see [[readOrEmpty]]), so
    * a point read over them — `get`, `topK(Some)`, `dist(Some)` — plans
    * no exchange: its only jobs are the broadcasts of its join inputs
    * and the collect. A bucket bigger than one split keeps the parallel
    * scan.
    */
  def loadDist(spark: SparkSession, dir: String, name: String,
               nBuckets: Int = DefaultBuckets): ForgetTable = {
    Publish.recover(spark, dir)
    val b = bucketOf(name, nBuckets)
    val counts = readBuckets(spark, dir, Seq(b), singleIfSmall = true)
      .filter(col("dist_bucket") === b && col("dist") === name)
      .drop("dist_bucket")
    val meta = readMeta(spark, dir, singleIfSmall = true).filter(col("dist") === name)
    new ForgetTable(counts, meta)
  }

  /** Replace whole distributions in the store with a batch of
    * [[BinSnapshot]]s — the persistent side of the reference's async
    * write-back (goforget/redis_utils.go:156-191, which rewrites a
    * distribution's surviving bins and its `_Z`/`_T` after each
    * update). The snapshot batch must carry each touched dist's FULL
    * surviving bin set (exactly what `ForgetStream.requests` emits for a
    * micro-batch of increments), so bins pruned by decay disappear from
    * the store.
    *
    * Scale/correctness shape:
    *   - Only the hash buckets containing touched dists are read and
    *     rewritten: the publish moves the touched `dist_bucket=<b>`
    *     directories and `meta`, and untouched buckets' directories
    *     are never listed, their files never opened or rewritten.
    *     Per-batch write amplification = touched buckets' row count,
    *     bounded by the bucket fan-out — the parquet-native upsert; a
    *     table format with row-level MERGE slots in here unchanged.
    *   - The rewrite is DETERMINISTIC given (previous store, batch), so
    *     a foreachBatch retry converges — at-least-once delivery plus
    *     idempotent replacement = effectively-once store contents.
    *   - `snaps` may read this store: every read of it runs before the
    *     publish moves anything.
    */
  def upsertDistributions(spark: SparkSession, dir: String, snaps: DataFrame,
                          nBuckets: Int = DefaultBuckets): Unit = {
    Publish.recover(spark, dir)
    val touched = snaps.select("dist").distinct()
    val buckets = touched.select(bucketCol(col("dist"), nBuckets)).distinct()
      .collect().map(_.getLong(0)).toSeq // bounded by nBuckets, driver-safe
    if (buckets.isEmpty) return
    val kept = readBuckets(spark, dir, buckets)
      .join(touched, Seq("dist"), "left_anti")
      .select("dist", "bin", "count", "dist_bucket")
    val newRows = snaps.select(col("dist"), col("bin"), col("count"))
      .withColumn("dist_bucket", bucketCol(col("dist"), nBuckets))
    // meta: new z/t from the snapshots; rate carried over from the
    // stored row (new dists get the reference default, forget.go:22)
    val newMeta = snaps.groupBy("dist")
      .agg(max("z").as("z"), max("t").as("t"))
    val oldMeta = readMeta(spark, dir)
    val mergedMeta = oldMeta.join(newMeta.select("dist"), Seq("dist"), "left_anti")
      .unionByName(
        newMeta.join(oldMeta.select(col("dist"), col("rate").as("old_rate")),
            Seq("dist"), "left")
          .select(col("dist"), col("z"), col("t"),
            coalesce(col("old_rate"), lit(0.5)).as("rate")))
    Publish.commit(spark, dir) { txn =>
      kept.unionByName(newRows)
        .repartition(col("dist_bucket"))
        .write.partitionBy("dist_bucket").parquet(s"$txn/counts")
      mergedMeta.write.parquet(s"$txn/meta")
      Publish.partMoves(spark, s"$txn/counts", s"$dir/counts", "dist_bucket",
        buckets) :+ Publish.replace(s"$txn/meta", s"$dir/meta")
    }
  }

  /** Drop expired distributions from the store — the persistent analog
    * of Redis EXPIRE firing (O9): a dist whose last write `t` plus its
    * `(σ+η)·η` TTL is behind `now` is removed from counts and meta.
    * The streaming layer self-destructs expired state
    * (`ForgetStream`'s ProcessingTimeTimeout) but can only do so for
    * dists it still sees traffic/timeouts for after a restart; this
    * compaction is the storage-side GC a long-lived store schedules
    * (daily, say). Full rewrite by design — it's the rare maintenance
    * pass, and `alive` needs every dist's max-count anyway.
    */
  def compact(spark: SparkSession, dir: String, params: graft.core.ForgetParams,
              nBuckets: Int = DefaultBuckets): Long = {
    val ft = load(spark, dir)
    val alive = ft.alive(params).localCheckpoint(true)
    val nAlive = alive.count()
    replaceAll(spark, dir, ft.counts.join(alive, Seq("dist")),
      ft.meta.join(alive, Seq("dist")), nBuckets)
    nAlive
  }

  /** Wire a [[graft.streaming.ForgetStream]] snapshot stream into the
    * persistent store: each micro-batch's emissions (the full surviving
    * bin set of every touched dist) replace those distributions —
    * streaming ingest in front, queryable bucketed parquet behind.
    */
  def streamInto(snaps: Dataset[BinSnapshot], dir: String,
                 checkpoint: String, nBuckets: Int = DefaultBuckets): StreamingQuery =
    snaps.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[BinSnapshot], _: Long) =>
        upsertDistributions(df.sparkSession, dir, df.toDF(), nBuckets)
      }
      .start()
}
