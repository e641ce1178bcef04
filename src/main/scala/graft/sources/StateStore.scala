package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.expressions.Window
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
  * `dist_bucket=<b>` directory.
  *
  * The bucket count is chosen once, by [[save]], and recorded in the
  * store: a one-line `_buckets` file at its root, published in the same
  * transaction as `counts` and `meta`. Every other entry point reads it
  * (a caller-supplied count that differed from the store's would put an
  * upserted dist in a second bucket beside its stale rows). A store
  * holding data but no record is refused, not read at a guessed count.
  * Every store scan carries the count as the reader option
  * [[BucketsOption]], so a filter naming distributions over a full
  * [[load]] — `load(dir).counts.filter(col("dist").isin(...))`, a
  * write-back client's read of the dists it is about to merge — opens
  * only their buckets' files ([[graft.plans.StoreBucketPruning]]).
  *
  * `meta` is one row per dist and stays flat. A prototype that bucketed
  * it by `dist_bucket` too was slower on the `ft_serve` benchmark (20k
  * dists, 256 buckets, 4 cores, traced): a full [[load]] listed 512
  * directories instead of 256 (`sources.load` 67–90 → 131–152 ms) and
  * the upsert needed one more shuffle (+150–250 ms), while the bytes it
  * wrote fell from 41.7 to 12.3 kB per operation.
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

  /** The partition column of `counts`. */
  final val BucketCol = "dist_bucket"

  /** The reader option every store scan carries: the store's recorded
    * bucket count, which [[graft.plans.StoreBucketPruning]] reads.
    */
  final val BucketsOption = "graft.dist_buckets"

  /** The store root's one-line record of its bucket count. */
  private val BucketsRecord = "_buckets"

  def bucketCol(dist: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(dist), lit(nBuckets.toLong))

  /** [[bucketCol]] evaluated on the driver for one name: the bucket
    * whose directory holds every row of `name`.
    */
  def bucketOf(name: String, nBuckets: Int): Long = {
    val h = XxHash64(Seq(Literal(name)), 42L).eval().asInstanceOf[Long]
    Math.floorMod(h, nBuckets.toLong)
  }

  /** Write state tables under `dir` (replacing any store there), in
    * `nBuckets` buckets that every later write and read of the store
    * uses. Clustered by the partition key before the write — without
    * the repartition every write task can open a file in every bucket
    * directory (tasks x nBuckets files at cluster width, the small-files
    * failure); with it each directory gets one file.
    */
  def save(ft: ForgetTable, dir: String, nBuckets: Int = DefaultBuckets): Unit =
    replaceAll(ft.counts.sparkSession, dir, ft.counts, ft.meta, nBuckets)

  /** Publish `counts`, `meta` and the bucket-count record as the whole
    * store under `dir`.
    */
  private def replaceAll(spark: SparkSession, dir: String, counts: DataFrame,
      meta: DataFrame, nBuckets: Int): Unit =
    Publish.commit(spark, dir) { txn =>
      counts
        .withColumn(BucketCol, bucketCol(col("dist"), nBuckets))
        .repartition(col(BucketCol))
        .write.partitionBy(BucketCol).parquet(s"$txn/counts")
      meta.write.parquet(s"$txn/meta")
      Seq(Publish.replace(s"$txn/counts", s"$dir/counts"),
        Publish.replace(s"$txn/meta", s"$dir/meta"),
        stageRecord(spark, txn, dir, nBuckets))
    }

  /** Stage the bucket-count record under `txn`: the move that
    * publishes it at the root of the store `dir`.
    */
  private def stageRecord(spark: SparkSession, txn: String, dir: String,
      nBuckets: Int): Publish.Move = {
    val p = new Path(txn, BucketsRecord)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(s"$nBuckets\n".getBytes("UTF-8")) finally out.close()
    Publish.replace(p.toString, s"$dir/$BucketsRecord")
  }

  /** The bucket count recorded in the store `dir`; `None` when the
    * store holds nothing yet. A store that holds `counts` or `meta`
    * but no record fails: its bucket count is unknown, and a read or
    * write at a guessed one would miss or duplicate distributions.
    */
  private def recordedBuckets(spark: SparkSession, dir: String): Option[Int] = {
    val rec = new Path(dir, BucketsRecord)
    val fs = rec.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(rec)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException =>
        if (Seq("counts", "meta").exists(t => fs.exists(new Path(dir, t))))
          throw new IllegalStateException(s"state store $dir holds data but no " +
            s"bucket-count record $rec; re-save it with StateStore.save")
        None
    }
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
    StructField(BucketCol, LongType)))
  private val metaSchema = StructType(Seq(
    StructField("dist", StringType),
    StructField("z", LongType),
    StructField("t", LongType),
    StructField("rate", DoubleType)))

  /** Read the `paths` that hold data, with partition values parsed
    * relative to `basePath` and the store's bucket count `nBuckets` as
    * the [[BucketsOption]]; typed-empty when none does.
    *
    * With `singleIfSmall`, a read of plain files (no subdirectories) totalling
    * at most `spark.sql.files.maxPartitionBytes` is coalesced to one
    * partition: one task's worth of input either way, but declared
    * `SinglePartition`, so the joins, windows and sorts above it plan
    * no exchange. A larger read keeps its parallel scan — `coalesce`
    * is narrow and would collapse the whole scan into one task.
    */
  private def readOrEmpty(spark: SparkSession, paths: Seq[String], basePath: String,
      schema: StructType, nBuckets: Int, singleIfSmall: Boolean = false): DataFrame = {
    val fs = new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = paths.map(new Path(_)).filter(fs.exists).map(p => p -> fs.listStatus(p))
      .filter(_._2.exists(st => st.isDirectory || st.getPath.getName.endsWith(".parquet")))
    if (listed.isEmpty) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val df = spark.read.schema(schema).option("basePath", basePath)
      .option(BucketsOption, nBuckets.toLong)
      .parquet(listed.map(_._1.toString): _*)
    val entries = listed.flatMap(_._2)
    val bytes = entries.filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    if (singleIfSmall && !entries.exists(_.isDirectory) &&
        bytes <= spark.sessionState.conf.filesMaxPartitionBytes) df.coalesce(1)
    else df
  }

  private def readMeta(spark: SparkSession, dir: String, nBuckets: Int,
      singleIfSmall: Boolean = false): DataFrame =
    readOrEmpty(spark, Seq(s"$dir/meta"), s"$dir/meta", metaSchema, nBuckets, singleIfSmall)

  /** The stored counts of the given buckets only: each bucket is one
    * `dist_bucket=<b>` directory, and no other directory is listed.
    */
  private def readBuckets(spark: SparkSession, dir: String, nBuckets: Int,
      buckets: Seq[Long], singleIfSmall: Boolean = false): DataFrame =
    readOrEmpty(spark, buckets.map(b => s"$dir/counts/$BucketCol=$b"),
      s"$dir/counts", countsSchema, nBuckets, singleIfSmall)

  /** Load the full state (typed-empty when the store holds no rows). A
    * filter on `counts` that names distributions scans only their
    * buckets ([[graft.plans.StoreBucketPruning]]).
    */
  def load(spark: SparkSession, dir: String): ForgetTable = {
    Publish.recover(spark, dir)
    val n = recordedBuckets(spark, dir).getOrElse(DefaultBuckets)
    new ForgetTable(
      readOrEmpty(spark, Seq(s"$dir/counts"), s"$dir/counts", countsSchema, n)
        .drop(BucketCol),
      readMeta(spark, dir, n))
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
  def loadDist(spark: SparkSession, dir: String, name: String): ForgetTable = {
    Publish.recover(spark, dir)
    val n = recordedBuckets(spark, dir).getOrElse(DefaultBuckets)
    val b = bucketOf(name, n)
    val counts = readBuckets(spark, dir, n, Seq(b), singleIfSmall = true)
      .filter(col(BucketCol) === b && col("dist") === name)
      .drop(BucketCol)
    val meta = readMeta(spark, dir, n, singleIfSmall = true).filter(col("dist") === name)
    new ForgetTable(counts, meta)
  }

  /** Replace whole distributions in the store with a batch of
    * [[BinSnapshot]]s — the persistent side of the reference's async
    * write-back (goforget/redis_utils.go:156-191, which rewrites a
    * distribution's surviving bins and its `_Z`/`_T` after each
    * update). The snapshot batch must carry each touched dist's FULL
    * surviving bin set (exactly what `ForgetStream.requests` emits for a
    * micro-batch of increments), so bins pruned by decay disappear from
    * the store. An upsert into a directory that holds no store yet
    * creates one with [[DefaultBuckets]] buckets.
    *
    * Scale/correctness shape:
    *   - Only the hash buckets containing touched dists are read and
    *     rewritten: the publish moves the touched `dist_bucket=<b>`
    *     directories and `meta`, and untouched buckets' directories
    *     are never listed, their files never opened or rewritten.
    *     Per-batch write amplification = touched buckets' row count,
    *     bounded by the bucket fan-out — the parquet-native upsert; a
    *     table format with row-level MERGE slots in here unchanged.
    *   - One shuffle per table. `counts`: the touched buckets' stored
    *     rows (`src = 0`) and the snapshot rows (`src = 1`), clustered
    *     by bucket for the write; per dist only the rows of the newest
    *     source survive, a window over the write's own clustering.
    *     `meta`: one aggregate per dist over the stored rows and the
    *     snapshots: new z/t win, the stored rate carries over (new
    *     dists get the reference default, forget.go:22).
    *   - The rewrite is DETERMINISTIC given (previous store, batch), so
    *     a foreachBatch retry converges — at-least-once delivery plus
    *     idempotent replacement = effectively-once store contents.
    *   - `snaps` may read this store: every read of it runs before the
    *     publish moves anything.
    */
  def upsertDistributions(spark: SparkSession, dir: String, snaps: DataFrame): Unit = {
    Publish.recover(spark, dir)
    val recorded = recordedBuckets(spark, dir)
    val n = recorded.getOrElse(DefaultBuckets)
    // deduped per partition, then on the driver: one job, no exchange
    val buckets = snaps.select(bucketCol(col("dist"), n)).as(Encoders.scalaLong)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaLong)
      .collect().distinct.sorted.toSeq // bounded by nBuckets, driver-safe
    if (buckets.isEmpty) return
    val counts = readBuckets(spark, dir, n, buckets)
      .select(col("dist"), col("bin"), col("count"), col(BucketCol), lit(0).as("src"))
      .unionByName(snaps.select(col("dist"), col("bin"), col("count"),
        bucketCol(col("dist"), n).as(BucketCol), lit(1).as("src")))
      .repartition(col(BucketCol))
      .withColumn("newest", max("src").over(Window.partitionBy(BucketCol, "dist")))
      .filter(col("src") === col("newest"))
      .drop("src", "newest")
    val fresh = col("src") === 1
    val meta = readMeta(spark, dir, n)
      .select(col("dist"), col("z"), col("t"), col("rate"), lit(0).as("src"))
      .unionByName(snaps.select(col("dist"), col("z"), col("t"),
        lit(null).cast(DoubleType).as("rate"), lit(1).as("src")))
      .groupBy("dist")
      .agg(coalesce(max(when(fresh, col("z"))), max("z")).as("z"),
        coalesce(max(when(fresh, col("t"))), max("t")).as("t"),
        coalesce(max("rate"), lit(0.5)).as("rate"))
    Publish.commit(spark, dir) { txn =>
      counts.write.partitionBy(BucketCol).parquet(s"$txn/counts")
      meta.write.parquet(s"$txn/meta")
      Publish.partMoves(spark, s"$txn/counts", s"$dir/counts", BucketCol, buckets) ++
        Seq(Publish.replace(s"$txn/meta", s"$dir/meta")) ++
        (if (recorded.isEmpty) Seq(stageRecord(spark, txn, dir, n)) else Nil)
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
    * pass, and `alive` needs every dist's max-count anyway. The store
    * keeps its recorded bucket count.
    */
  def compact(spark: SparkSession, dir: String, params: graft.core.ForgetParams): Long = {
    val ft = load(spark, dir)
    val alive = ft.alive(params).localCheckpoint(true)
    val nAlive = alive.count()
    replaceAll(spark, dir, ft.counts.join(alive, Seq("dist")),
      ft.meta.join(alive, Seq("dist")),
      recordedBuckets(spark, dir).getOrElse(DefaultBuckets))
    nAlive
  }

  /** Wire a [[graft.streaming.ForgetStream]] snapshot stream into the
    * persistent store: each micro-batch's emissions (the full surviving
    * bin set of every touched dist) replace those distributions —
    * streaming ingest in front, queryable bucketed parquet behind.
    */
  def streamInto(snaps: Dataset[BinSnapshot], dir: String,
                 checkpoint: String): StreamingQuery =
    snaps.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: Dataset[BinSnapshot], _: Long) =>
        upsertDistributions(df.sparkSession, dir, df.toDF())
      }
      .start()
}
