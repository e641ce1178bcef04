package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.{Dedup, Multimodal, Similarity}

/** Persistent ANN / dedup index layout — the write-side half of the
  * 100 TB similarity design.
  *
  * The session-scoped in-memory forms in the query layer rebuild
  * signatures, buckets, and cell assignments from raw text / vectors on
  * every run; a real 100 TB service stores them once and serves probes
  * from disk. This is the forget-table [[StateStore]] treatment applied
  * to the similarity side:
  *
  *   - '''LSH''': `(vec_id, v, bucket)` written under
  *     `part = pmod(bucket, parts)` partition directories. A probe
  *     computes its (multi-probe) bucket list driver-side — bounded by
  *     |queries| x (masks), both small by the broadcast-query contract —
  *     so the scan filter is a literal `isin` after folding and Catalyst
  *     partition-prunes to the probed directories only; the residual
  *     `bucket isin` predicate pushes into those files' row groups.
  *   - '''IVF''': the k-row centroid table plus the `crn = 1` cell
  *     assignment `(vec_id, cell, v)` partitioned by `cell` (k bounded
  *     directories). Probes rank the stored centroids (k rows,
  *     driver-side) and read exactly the probed cells.
  *   - '''MinHash''': the `(doc_id, sig, keys)` signature table flat —
  *     candidate generation shuffles on exploded band keys anyway, so
  *     the win is not recomputing shingles + k hash passes per run.
  *
  * Index writes are `Overwrite` — rebuild-in-place; an incremental
  * upsert ([[upsertRowsInParts]]) or takedown ([[deleteRowsInParts]])
  * replaces only its touched partition directories (bucket/cell is the
  * partition key) and a retrain replaces the whole index, each as one
  * [[Publish]] transaction.
  */
object AnnIndex {

  /** Bounded partition-directory count for the LSH bucket space (2^nBits
    * buckets fold into this many directories — same bounded-file-count
    * reasoning as [[StateStore.DefaultBuckets]]).
    */
  final val DefaultParts = 64

  /** Upsert-batch precondition shared by every maintenance path: the
    * anti-join merge ([[upsertRowsInParts]]) removes STORED rows only,
    * so a batch carrying one key twice would insert both copies.
    * Batch-sized check over an already-materialized stage, run before
    * any store mutation.
    */
  private def requireUniqueKeys(staged: DataFrame, keyCol: String): Unit = {
    val dup = staged.groupBy(keyCol).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"upsert batch contains duplicate $keyCol ${dup.headOption.map(_.get(0))}")
  }

  /** Shared takedown engine for every key-addressed layout: rewrite
    * ONLY the `partCol` directories in `partIds` without the retracted
    * `keyCol` rows (schema-agnostic — data columns come from the
    * stored table); a directory the delete fully vacates is retired by
    * the publish. Callers locate `partIds` either directly from the ids
    * (partition = pure id function: minhash/PQ) or by one
    * column-pruned scan (content-derived partition: LSH bucket, IVF
    * cell, phash key).
    */
  private[graft] def deleteRowsInParts(spark: SparkSession, tablePath: String,
      keyCol: String, partCol: String, del: DataFrame,
      partIds: Seq[Long]): Unit = {
    if (partIds.isEmpty) return
    val cur = readTable(spark, tablePath)
    Publish.replaceParts(spark, tablePath, partCol, partIds,
      storedRowsBut(cur, cur.columns, keyCol, partCol, partIds, del))
  }

  /** Shared upsert engine for every key-addressed layout — the mirror of
    * [[deleteRowsInParts]], and [[StateStore.upsertDistributions]]'
    * touched-partition rule (the reference's write-back rewrites only
    * what the write touched, goforget `redis_utils.go:156-191`).
    * `staged` is the materialized batch in the table's row shape, its
    * keys unique ([[requireUniqueKeys]]). The touched partitions are the
    * batch's own plus, for a CONTENT-derived partition
    * (`contentDerived`: LSH bucket, IVF cell — a re-inserted key can
    * move), the partitions where the batch's keys live now, found by
    * [[locateParts]]'s scan ([[partsOfKeys]]) in the same collect.
    * Only those partitions' stored rows are read; they survive minus
    * the batch's keys, and kept ∪ staged replaces them as ONE
    * [[Publish.replaceParts]] transaction, which retires a directory
    * every row moved out of. A table holding no partition yet (a
    * quantizer trained without codes, or emptied by takedowns) is
    * bootstrapped from the batch alone. An empty batch changes
    * nothing. Cost is batch-bounded, not index-sized.
    */
  private def upsertRowsInParts(spark: SparkSession, table: String,
      keyCol: String, partCol: String, staged: DataFrame,
      contentDerived: Boolean): Unit = {
    Publish.recover(spark, table)
    if (!hasPartData(spark, table, partCol)) {
      Publish.replaceParts(spark, table, partCol, Nil, staged)
      return
    }
    val cur = spark.read.parquet(table)
    val batchParts = staged.select(col(partCol).cast("long"))
    val partIds = partIdsOf(
      if (contentDerived) batchParts.union(partsOfKeys(cur, keyCol, partCol, staged))
      else batchParts)
    if (partIds.isEmpty) return
    Publish.replaceParts(spark, table, partCol, partIds,
      storedRowsBut(cur, staged.columns, keyCol, partCol, partIds, staged)
        .unionByName(staged))
  }

  /** The stored rows of partitions `partIds` whose key is not in `keys`,
    * as `cols` with the partition value a long (the directory name reads
    * back as an int).
    */
  private def storedRowsBut(cur: DataFrame, cols: Seq[String], keyCol: String,
      partCol: String, partIds: Seq[Long], keys: DataFrame): DataFrame =
    cur.filter(col(partCol).isin(partIds.map(Long.box): _*))
      .join(keys.select(keyCol), Seq(keyCol), "left_anti")
      .select(cols.map(c => if (c == partCol) col(c).cast("long").as(c) else col(c)): _*)

  /** The partition of each stored row whose key is in `keys`: one
    * column-pruned scan of (keyCol, partCol) joined to the ids.
    */
  private def partsOfKeys(cur: DataFrame, keyCol: String, partCol: String,
      keys: DataFrame): DataFrame =
    cur.join(keys.select(keyCol), Seq(keyCol)).select(col(partCol).cast("long"))

  /** The distinct values of a one-column long frame of partition ids —
    * bounded by the directory fan-out, so driver-safe.
    */
  private def partIdsOf(parts: DataFrame): Seq[Long] =
    parts.distinct().collect().map(_.getLong(0)).toSeq

  /** Touched-partition ids of a takedown in a CONTENT-derived layout.
    * At extreme scale an id→partition sidecar replaces the scan.
    */
  private def locateParts(spark: SparkSession, tablePath: String,
      keyCol: String, partCol: String, del: DataFrame): Seq[Long] =
    partIdsOf(partsOfKeys(readTable(spark, tablePath), keyCol, partCol, del))

  // -------------------------------------------------------------- LSH

  /** Build and write an LSH index over `(vec_id, v)` double vectors.
    *
    * Writes `repartition(part)` first: without it every write task can
    * open a file in every partition directory (tasks x parts files —
    * the small-files failure at cluster width); clustered by the
    * partition key, each directory gets one file regardless of how many
    * tasks computed the buckets.
    */
  def saveLsh(vecs: DataFrame, nBits: Int, dim: Int, dir: String,
              parts: Int = DefaultParts): Unit = {
    val signs = Similarity.signMatrix(nBits, dim)
    vecs.select(col("vec_id"), col("v"),
        Similarity.lshBucket(col("v"), signs).as("bucket"))
      .withColumn("part", pmod(col("bucket"), lit(parts.toLong)))
      .repartition(col("part"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("part")
      .parquet(s"$dir/corpus")
    import vecs.sparkSession.implicits._
    Seq((nBits, dim, parts)).toDF("n_bits", "dim", "parts")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
  }

  /** The full bucketed corpus (no pruning) — for rebuilds / audits. */
  def lshCorpus(spark: SparkSession, dir: String): DataFrame =
    readIndex(spark, dir, "corpus").select("vec_id", "v", "bucket")

  /** Re-bucket the live corpus at a new signature width and swap —
    * the LSH family's "retrain". The hyperplanes are data-independent
    * (nothing to re-fit), so LSH's drift dial is per-bucket POPULATION:
    * every crawl wave grows N / 2^nBits, and an over-full bucket is a
    * per-probe scan — the same hot-partition failure as the IVF stale
    * cell, watched by `sim_ann_bucket_stats` and priced by the
    * knnScaledBits width rule (hold B ≈ N / 2^w). The md5-parity
    * hyperplane family is PREFIX-STABLE (plane p depends only on
    * (p, d)), so widening strictly REFINES every existing bucket —
    * probes at the new width stay consistent with any signature the
    * old width produced. Liveness comes from the index's own corpus
    * rows ([[ivfLiveCorpus]] discipline); offline rebuild published as
    * one [[Publish]] transaction. One honest caveat the
    * IVF/PQ retrains don't share: data-independent planes split
    * UNIFORM mass, not a degenerate tight cluster (near-identical
    * vectors share every signature at any width) — that pathology is
    * the dedup family's job before indexing, or IVF's (whose centroids
    * move to the data).
    */
  def rebucketLsh(spark: SparkSession, dir: String, newNBits: Int): Unit = {
    val meta = readIndex(spark, dir, "meta").head()
    val dim = meta.getAs[Int]("dim")
    val parts = meta.getAs[Int]("parts")
    val live = lshCorpus(spark, dir).select("vec_id", "v")
    replaceIndex(spark, dir)(saveLsh(live, newNBits, dim, _, parts))
  }

  /** Incremental index maintenance — [[upsertRowsInParts]] on the LSH
    * layout: the batch's vectors are bucketed with the STORED
    * hyperplanes (read from meta, so a new batch can never fork the
    * hash family), and only the partition directories they fold into,
    * plus those a re-inserted vec_id moves out of (a changed vector can
    * hash to a different bucket), are rewritten; re-inserted vec_ids
    * take the new vector. Cost scales with the touched directories —
    * batch-bounded — not the index size: the property that makes daily
    * crawl appends viable against an index orders of magnitude larger
    * than any one batch.
    */
  def upsertLsh(spark: SparkSession, dir: String, vecs: DataFrame): Unit = {
    val meta = readIndex(spark, dir, "meta").head()
    val nBits = meta.getAs[Int]("n_bits")
    val dim = meta.getAs[Int]("dim")
    val parts = meta.getAs[Int]("parts")
    val signs = Similarity.signMatrix(nBits, dim)
    val staged = vecs.select(col("vec_id"), col("v"),
        Similarity.lshBucket(col("v"), signs).as("bucket"))
      .withColumn("part", pmod(col("bucket"), lit(parts.toLong)))
      .localCheckpoint(true) // the probes and the merge below read it
    if (staged.isEmpty) return // an empty micro-batch skips the key check too
    requireUniqueKeys(staged, "vec_id")
    upsertRowsInParts(spark, s"$dir/corpus", "vec_id", "part", staged,
      contentDerived = true)
  }

  /** The bucket-target width rule, integer-exact: the
    * smallest width in [minBits, maxBits] whose bucket space holds `n`
    * rows at ~`bucketTarget` per bucket (`bucketTarget << w >= n`),
    * clamping at maxBits. The same rule `sim_ann_knn_scaled` derives
    * its signature width from — lifted here so the wired LSH policy
    * and the query layer can never fork it.
    */
  private[graft] def lshWidthFor(n: Long, bucketTarget: Int, minBits: Int,
                                 maxBits: Int): Int =
    (minBits to maxBits)
      .find(w => (bucketTarget.toLong << w) >= n)
      .getOrElse(maxBits)

  /** The LSH arm of the wired maintenance policy. LSH's hyperplanes are
    * data-independent — nothing to re-fit — so its drift dial is
    * per-bucket POPULATION, not quantization quality: every crawl wave
    * grows N / 2^nBits, and an over-full bucket is a per-probe scan
    * (the hot-cell failure [[rebucketLsh]]'s scaladoc names). The
    * policy lands the batch through the frozen-width [[upsertLsh]],
    * then (every `checkEvery`-th batch — population drift is monotone
    * and slow, so amortizing the count costs at most checkEvery
    * batches of lag, unlike a quantization wave) counts the live
    * corpus (a parquet metadata-only aggregate — no row data read) and
    * re-buckets at [[lshWidthFor]]'s derived width when the corpus
    * outgrew the current one. Prefix-stable planes make the widened
    * index strictly refine the old buckets. Returns true iff this
    * call re-bucketed.
    */
  def upsertLshWithPolicy(spark: SparkSession, dir: String, batch: DataFrame,
      bucketTarget: Int, maxBits: Int, checkEvery: Int = 1): Boolean = {
    upsertLsh(spark, dir, batch)
    if (!policyCounterBump(spark, dir, checkEvery)) return false
    val nBits = readIndex(spark, dir, "meta").head().getAs[Int]("n_bits")
    val n = readIndex(spark, dir, "corpus").count()
    val needed = lshWidthFor(n, bucketTarget, nBits, maxBits)
    if (needed > nBits) {
      rebucketLsh(spark, dir, needed)
      true
    } else false
  }

  /** TAKEDOWN for the LSH layout — [[upsertLsh]] inverted: the
    * retracted ids' rows are located with ONE column-pruned scan
    * (vec_id, part — the bucket is content-derived, so unlike the
    * minhash layout the touched directories are not computable from
    * the ids alone; at extreme scale an id→part sidecar would replace
    * the scan), then only those directories rewrite without the rows
    * and fully-vacated dirs drop. Bucketing is row-local, so the
    * post-delete index is row-identical to one built over the corpus
    * without the retracted vectors. Unknown ids are no-ops.
    */
  def deleteLsh(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    Publish.recover(spark, dir)
    val del = ids.select(col("vec_id")).distinct().localCheckpoint(true)
    if (del.isEmpty) return
    deleteRowsInParts(spark, s"$dir/corpus", "vec_id", "part", del,
      locateParts(spark, s"$dir/corpus", "vec_id", "part", del))
  }

  /** TAKEDOWN for the IVF assignment — cell is content-derived
    * (nearest stored centroid), so touched cells come from the locate
    * scan; the quantizer stays FROZEN (a takedown never retrains, the
    * [[upsertIvf]] rule), so the post-delete assignment equals an
    * assignment of the corpus-without against the same centroids.
    */
  def deleteIvf(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    Publish.recover(spark, dir)
    val del = ids.select(col("vec_id")).distinct().localCheckpoint(true)
    if (del.isEmpty) return
    deleteRowsInParts(spark, s"$dir/assign", "vec_id", "cell", del,
      locateParts(spark, s"$dir/assign", "vec_id", "cell", del))
  }

  /** TAKEDOWN for the PQ codes table — `part = pmod(vec_id, parts)` is
    * a pure id function, so touched directories are computable from
    * the ids alone (no locate scan); codebooks stay frozen, so the
    * post-delete codes equal an encode of the corpus-without under
    * the same quantizer.
    */
  def deletePq(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val meta = readIndex(spark, dir, "meta").head()
    val parts = meta.getAs[Int]("parts")
    val del = ids.select(col("vec_id")).distinct()
      .withColumn("part", pmod(col("vec_id"), lit(parts.toLong)))
      .localCheckpoint(true)
    if (del.isEmpty || !pathExists(spark, s"$dir/codes")) return
    deleteRowsInParts(spark, s"$dir/codes", "vec_id", "part", del,
      partIdsOf(del.select("part")))
  }

  /** TAKEDOWN for the two-level IVF+PQ codes table (cell-partitioned,
    * content-derived — locate scan, frozen quantizers).
    */
  def deleteIvfPq(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    Publish.recover(spark, dir)
    val del = ids.select(col("vec_id")).distinct().localCheckpoint(true)
    if (del.isEmpty || !pathExists(spark, s"$dir/codes")) return
    deleteRowsInParts(spark, s"$dir/codes", "vec_id", "cell", del,
      locateParts(spark, s"$dir/codes", "vec_id", "cell", del))
  }

  /** Top-`k` cosine neighbors of each query served FROM THE STORED
    * index: only the partition directories containing the queries'
    * (multi-probe) buckets are read. `queries` must be broadcast-small
    * (`q_id`, `q_v`); `masks` = XOR probe masks (identity-only by
    * default; pass Hamming-1 masks for multi-probe).
    */
  def probeLsh(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
               masks: Seq[Long] = Seq(0L)): DataFrame = {
    val meta = readIndex(spark, dir, "meta").head()
    val nBits = meta.getAs[Int]("n_bits")
    val dim = meta.getAs[Int]("dim")
    val parts = meta.getAs[Int]("parts")
    val signs = Similarity.signMatrix(nBits, dim)
    val probes = queries
      .select(col("q_id"), col("q_v"),
        explode(array(masks.map(m =>
          Similarity.lshBucket(col("q_v"), signs).bitwiseXOR(lit(m))): _*)).as("bucket"))
      .localCheckpoint(true) // probe set is small; computed once
    // Driver-side literal bucket list (bounded by |queries| * |masks|):
    // the partition filter folds to literals => directory-level pruning.
    val buckets = probes.select("bucket").distinct().collect().map(_.getLong(0))
    val partIds = buckets.map(b => ((b % parts) + parts) % parts).distinct
    val c = readIndex(spark, dir, "corpus")
      .filter(col("part").isin(partIds.map(Long.box): _*) &&
        col("bucket").isin(buckets.map(Long.box): _*))
      .select(col("vec_id").as("c_id"), col("v").as("c_v"), col("bucket"))
    val scored = broadcast(probes).join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "cosine")
  }

  // -------------------------------------------------------------- IVF

  /** Build and write an IVF index: fixed-k quantizer centroids + the
    * nearest-cell assignment partitioned by cell.
    */
  def saveIvf(vecs: DataFrame, k: Int, sampleSize: Int, iters: Int,
              dim: Int, salt: Int, dir: String): Unit = {
    val cents = Similarity.kmeansCentroids(vecs, k, sampleSize, iters, dim, salt)
    cents.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    assignIvf(vecs, cents)
      .select(col("vec_id"), col("cell"), col("v"))
      .repartition(col("cell")) // one file per cell dir, any cluster width
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(s"$dir/assign")
  }

  /** Stored centroids (k rows). */
  def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    readIndex(spark, dir, "centroids")

  /** The live corpus as the index itself holds it — `(vec_id, v)` read
    * back from the cell-partitioned assignment. This is the retrain
    * input: after months of upserts/deletes the ORIGINAL staging frame
    * no longer exists anywhere; the index IS the system of record for
    * which vectors are live.
    */
  def ivfLiveCorpus(spark: SparkSession, dir: String): DataFrame =
    readIndex(spark, dir, "assign").select(col("vec_id"), col("v"))

  /** Quantizer-health gauge for the retrain decision, computed from the
    * STORED index only (no re-assignment pass): each live row's cosine
    * to its own assigned centroid, split by a caller predicate (e.g.
    * "the newest ingest wave" vs "everything older"). Sums are
    * 1e-9-quantized BIGINTs so the means are order-independent — the
    * `ivf_cell_stats` discipline. Returns
    * `(is_suspect, pop, mean_ccos)` — 2 rows.
    */
  def ivfDriftStats(spark: SparkSession, dir: String,
                    suspect: org.apache.spark.sql.Column,
                    sampleMod: Long = 1L): DataFrame = {
    val cents = broadcast(ivfCentroids(spark, dir)
      .select(col("cent_id").as("cell"), col("cv")))
    sampleRows(readIndex(spark, dir, "assign"), sampleMod)
      .select(col("vec_id"), col("v"), col("cell").cast("long").as("cell"))
      .join(cents, Seq("cell"))
      .select(suspect.as("is_suspect"),
        floor(Dedup.cosine(col("v"), col("cv")) * lit(1.0e9)).cast("long").as("qcos"))
      .groupBy("is_suspect")
      .agg(count(lit(1)).as("pop"), sum("qcos").as("sum_qcos"))
      .select(col("is_suspect"), col("pop"),
        (col("sum_qcos").cast("double") / col("pop").cast("double") / lit(1.0e9))
          .as("mean_ccos"))
  }

  /** Retrain the coarse quantizer over the live corpus and swap the
    * rebuilt index in — the response path to `ivf_cell_stats` /
    * [[ivfDriftStats]] firing (a quantizer trained on January's
    * embedding distribution serving July's crawl). The rebuild runs
    * OFFLINE into a [[Publish]] transaction while the old index keeps
    * serving probes (a probe leaves an uncommitted transaction alone) —
    * downtime is two directory renames, not the O(N·k)
    * re-assignment. The input is [[ivfLiveCorpus]] (the index's own
    * assignment rows), so the result is bit-identical to a fresh
    * [[saveIvf]] over whatever upserts/deletes left live — parquet
    * round-trips doubles exactly, and the Lloyd's hash-ordered sample
    * depends only on (vec_id, v).
    */
  def retrainIvf(spark: SparkSession, dir: String, k: Int, sampleSize: Int,
                 iters: Int, dim: Int, salt: Int): Unit = {
    // the build re-scans the live assign dirs per Lloyd action; they
    // stay in place until the publish's moves
    val live = ivfLiveCorpus(spark, dir)
    replaceIndex(spark, dir)(saveIvf(live, k, sampleSize, iters, dim, salt, _))
  }

  /** Publish a complete new index over `dir`: `build` writes it into
    * the staging path it is given.
    */
  private def replaceIndex(spark: SparkSession, dir: String)(
      build: String => Unit): Unit =
    Publish.commit(spark, dir) { txn =>
      build(s"$txn/index")
      Seq(Publish.replace(s"$txn/index", dir))
    }

  /** The retrain trigger WIRED into the ingest loop — the
    * [[SegmentStore.appendWithPolicy]] discipline applied to the
    * quantizer: land the batch through the frozen-quantizer
    * [[upsertIvf]], read the store-wide quantization gauge (ONE
    * [[ivfDriftStats]] row — mean own-centroid cosine over every live
    * row, order-independent by the quantized-BIGINT sum), and when it
    * falls below `minMeanCcos` run [[retrainIvf]] — so a drifting
    * ingest stream heals itself at the batch boundary where the gauge
    * crossed, instead of waiting for an operator to read a report.
    * The gauge read is one store scan per batch (column-pruned to
    * (v, cell) + a k-row broadcast); a deployment that ingests many
    * small batches should sample it or check every Nth batch — the
    * dial, like the threshold, is policy. Returns true iff this call
    * retrained.
    *
    * Cost dials (all default to the round-14 behavior — gauge the full
    * store every batch):
    *
    *   - `minBatchMeanCcos`: a SECOND dial on the incoming batch's OWN
    *     mean own-centroid cosine, computed from the staged assignment
    *     (O(batch) — no store read at all). This is the
    *     dilution fix: a small badly-quantizing drift wave into a large
    *     healthy store barely moves the store-wide mean, but its own
    *     population mean is degenerate immediately — so the batch dial
    *     trips at the wave's OWN batch regardless of store size.
    *   - `checkEvery`: run the store-wide gauge only every Nth batch
    *     ([[policyCounterBump]]) — K small batches pay at most one
    *     store scan. The batch dial still runs on every batch, so
    *     amortizing the store scan never delays wave detection; what
    *     it defers (by < checkEvery batches) is the CUMULATIVE-drift
    *     response no single batch exhibits.
    *   - `gaugeSampleMod`: gauge on a deterministic 1/mod hash-sample
    *     of live rows ([[sampleRows]]) — the store scan itself shrinks
    *     by mod while staying order-independent and run-reproducible.
    */
  def upsertIvfWithPolicy(spark: SparkSession, dir: String, batch: DataFrame,
      k: Int, sampleSize: Int, iters: Int, dim: Int, salt: Int,
      minMeanCcos: Double,
      minBatchMeanCcos: Double = Double.NegativeInfinity,
      checkEvery: Int = 1, gaugeSampleMod: Long = 1L): Boolean =
    retrainOnDrift(spark, dir, upsertIvfBatch(spark, dir, batch),
      minBatchMeanCcos, checkEvery,
      ivfDriftStats(spark, dir, lit(true), gaugeSampleMod), minMeanCcos)(
      retrainIvf(spark, dir, k, sampleSize, iters, dim, salt))

  /** Incremental IVF maintenance — [[upsertRowsInParts]] on the cell
    * layout: the batch is assigned against the STORED centroids (the
    * quantizer never moves on upsert, so cell membership of untouched
    * vectors cannot drift), only the touched cell directories rewrite —
    * both where new rows land and where any re-inserted vec_id
    * currently lives — and a cell directory emptied by a moved vector
    * is dropped. Cost is batch-bounded; centroid RETRAINING (when the
    * corpus distribution drifts) is [[retrainIvf]] — an offline
    * rebuild + swap, deliberately not an upsert.
    */
  def upsertIvf(spark: SparkSession, dir: String, vecs: DataFrame): Unit = {
    upsertIvfBatch(spark, dir, vecs)
    ()
  }

  /** The one IVF batch path [[upsertIvf]] and [[upsertIvfWithPolicy]]
    * share: assign `vecs` against the stored centroids, materialize the
    * stage, check its keys, land it. Returns the batch dial over the
    * stage's own-centroid cosines.
    */
  private def upsertIvfBatch(spark: SparkSession, dir: String,
      vecs: DataFrame): () => Option[Double] = {
    // no broadcast hint: assignIvf collects the k-row frame driver-side
    // (a hint here rides a joinless plan — HintErrorLogger noise)
    val staged = assignIvf(vecs, ivfCentroids(spark, dir)).localCheckpoint(true)
    // the kernel assignment is row-1:1 (no rank window to collapse a
    // duplicate key), so the uniqueness gate reads the materialized
    // stage instead of re-deriving the raw batch — and still throws
    // before any store mutation
    requireUniqueKeys(staged, "vec_id")
    upsertRowsInParts(spark, s"$dir/assign", "vec_id", "cell",
      staged.drop("ccos"), contentDerived = true)
    () => stagedMeanCcos(staged)
  }

  /** Nearest-stored-centroid assignment, KEEPING each row's own-centroid
    * cosine — the one assignment definition [[upsertIvf]] and the wired
    * policy share, so the policy's batch gauge scores exactly what the
    * upsert stores (no second cross-join).
    */
  private def assignIvf(vecs: DataFrame, cents: DataFrame): DataFrame = {
    // Collect the k centroid rows (bounded) and assign in ONE row-local
    // codegen projection — no crossJoin blow-up, no per-vec_id rank
    // window. [[graft.functions.VecKernels.ivfNearest]] replicates the
    // cosine op sequence and the (ccos DESC, cent_id ASC) tie semantics
    // bit-for-bit.
    val rows = cents.select("cent_id", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    vecs
      .withColumn("_best", graft.functions.IvfNearestExpr(col("v"),
        rows.map(_._2), rows.map(_._1)))
      .select(col("vec_id"), col("_best.cell").as("cell"), col("v"),
        col("_best.ccos").as("ccos"))
  }

  /** Top-`k` cosine neighbors of each query from the stored IVF index,
    * searching each query's top-`nProbe` cells only: centroid ranking
    * happens against the k-row stored centroid table, and only the
    * probed cell partitions are scanned.
    */
  def probeIvf(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
               nProbe: Int): DataFrame = {
    // Routing runs DRIVER-side: one probe-set collect + the k-row
    // centroid collect feed VecKernels.ivfTopN (the row_number over
    // (ccos DESC, cent_id) <= nProbe ordering, bit-for-bit — the
    // assignIvf kernel discipline), replacing crossJoin(k) + rank
    // window + checkpoint + cells collect with zero Spark jobs.
    val centRows = ivfCentroids(spark, dir).select("cent_id", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val qRows = collectQueries(queries, "q_id", "q_v")
    val probePairs = qRows.flatMap { case (qid, qv) =>
      graft.functions.VecKernels
        .ivfTopNCells(qv, centRows.map(_._2), centRows.map(_._1), nProbe)
        .map(cell => (qid, qv, cell))
    }
    val cells = probePairs.map(_._3).distinct
    val probes = localProbesFrame(spark, probePairs)
    val assign = readIndex(spark, dir, "assign")
      .filter(col("cell").isin(cells.map(Long.box): _*))
      .select(col("vec_id").as("c_id"), col("v").as("c_v"), col("cell"))
    val scored = broadcast(probes).join(assign, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "cosine")
  }

  /** Local `(q_id, q_v, cell)` probe frame from driver-routed pairs —
    * the collected doubles round-trip exactly, so downstream cosines
    * see the same values the distributed routing would have carried.
    */
  private def localProbesFrame(spark: SparkSession,
      pairs: Array[(Long, Array[Double], Long)]): DataFrame = {
    import spark.implicits._
    pairs.toSeq.map { case (q, v, c) => (q, v.toSeq, c) }
      .toDF("q_id", "q_v", "cell")
  }

  // --------------------------------------------------------------- PQ

  /** Build and write a product-quantization index: `m` per-subspace
    * codebooks (k rows each, trained by the shared deterministic Lloyd
    * on `sub`-dim slices) plus the corpus CODES table `(vec_id,
    * code0..code{m-1})` — the relation a 100 TB ANN service actually
    * scans (m small ints per vector instead of dim floats; the raw
    * embeddings are only ever read again by a shortlist rerank).
    * Encoding minimizes L2 in the expanded fixed-order form
    * (dot(v,v) - 2*dot(v,c) + dot(c,c)), the ADC-consistent criterion;
    * ties break by cent_id. The codes table is PARTITIONED by
    * `part = pmod(vec_id, parts)` so [[upsertPq]] can rewrite only the
    * directories a batch touches; codebook RETRAINING on corpus drift
    * (watch `pq_code_stats`) is a rebuild by design — the [[upsertIvf]]
    * frozen-quantizer argument applies verbatim.
    */
  def savePq(vecs: DataFrame, m: Int, sub: Int, k: Int, sampleSize: Int,
             iters: Int, salt: Int, dir: String,
             parts: Int = DefaultParts): Unit = {
    val cbs = trainPqCodebooks(vecs, m, sub, k, sampleSize, iters, salt, dir, parts)
    encodeWithCodebooks(vecs, m, sub, cbs)
      .withColumn("part", pmod(col("vec_id"), lit(parts.toLong)))
      .repartition(col("part")) // one file per dir, any cluster width
      .write.mode(SaveMode.Overwrite)
      .partitionBy("part")
      .parquet(s"$dir/codes")
  }

  /** Train and persist the frozen PQ quantizer ONLY — codebooks + meta,
    * no codes. The deployment split a 100 TB corpus actually needs:
    * train the quantizer once on a representative corpus snapshot, then
    * bulk-load and daily-append the codes through [[upsertPq]] with the
    * codebooks frozen. Convergence: because every code is derived from
    * the STORED codebooks, any insertion order of the same vector set
    * yields a codes table row-identical to a one-shot [[savePq]] whose
    * training corpus matched.
    *
    * `perm`, when non-empty, is an OPQ dimension permutation (1-based
    * source indices in target order — see
    * [[graft.operators.Similarity.opqPermutation]]): it is persisted
    * under `dir/perm` as a THIRD frozen artifact next to the codebooks
    * and the meta row, the codebooks are trained on the permuted
    * corpus, and every later [[upsertPq]] encode and [[probePq]] LUT
    * build applies the stored permutation transparently — callers keep
    * passing raw vectors. Measured effect (BASELINE.md): flat-ADC
    * recall 0.040 → 0.120 at the same PqM·log2(PqK)-bit budget, zero
    * extra bytes scanned — the variance-balanced allocation is free
    * recall once frozen into the index. Like the codebooks, the
    * permutation is train-once: corpus drift that reorders per-dim
    * variances is a retrain trigger (`pq_code_stats`), not an upsert.
    */
  def trainPq(vecs: DataFrame, m: Int, sub: Int, k: Int, sampleSize: Int,
              iters: Int, salt: Int, dir: String,
              parts: Int = DefaultParts, perm: Seq[Int] = Seq.empty): Unit = {
    savePerm(vecs.sparkSession, dir, perm)
    trainPqCodebooks(applyPerm(vecs, perm, "v"), m, sub, k, sampleSize,
      iters, salt, dir, parts)
    ()
  }

  /** Persist a non-empty OPQ permutation under `dir/perm`. */
  private def savePerm(spark: SparkSession, dir: String, perm: Seq[Int]): Unit =
    if (perm.nonEmpty) {
      import spark.implicits._
      perm.zipWithIndex.map { case (src, pos) => (pos, src) }
        .toDF("pos", "src")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/perm")
    }

  /** The stored OPQ permutation, or empty when the index has none —
    * a bounded read (vector-width rows) per maintenance/probe call.
    */
  private def storedPerm(spark: SparkSession, dir: String): Seq[Int] =
    if (!pathExists(spark, s"$dir/perm")) Seq.empty
    else readFrozen(spark, s"$dir/perm")
      .orderBy("pos").collect().map(_.getAs[Int]("src")).toSeq // Dim rows

  /** Reorder `vecCol` by a 1-based source-index permutation; identity
    * when the permutation is empty. Row-local projection — stays in
    * whole-stage codegen.
    */
  private def applyPerm(df: DataFrame, perm: Seq[Int], vecCol: String): DataFrame =
    if (perm.isEmpty) df
    else df.withColumn(vecCol,
      array(perm.map(i => element_at(col(vecCol), i)): _*))

  /** Train + write the `m` codebooks under `dir/codebook/` and the meta
    * row; return the in-memory codebooks so one-shot builds skip the
    * read-back.
    */
  private def trainPqCodebooks(vecs: DataFrame, m: Int, sub: Int, k: Int,
                               sampleSize: Int, iters: Int, salt: Int,
                               dir: String, parts: Int): Seq[DataFrame] = {
    // ONE deterministic sample pass over the corpus for all m subspace
    // codebooks: the per-subspace sample key is md5(vec_id, salt) —
    // independent of the vector slice — so sampling full-dim once and
    // slicing driver-side selects the identical rows per subspace that
    // m separate TakeOrdered passes did (bit-identical codebooks, m-1
    // fewer corpus scans).
    val spark = vecs.sparkSession
    val sample = Similarity.kmeansSample(vecs, sampleSize, salt)
    val vType = vecs.schema("v").dataType
    val fitted = (0 until m).map { mm =>
      val sliced = sample.map { case (id, v) =>
        (id, java.util.Arrays.copyOfRange(v, mm * sub,
          math.min(mm * sub + sub, v.length)))
      }
      Similarity.kmeansFitLocal(sliced, k, iters, sub)
    }
    // ONE codebook table (m, cent_id, cv) — a single small write/read
    // instead of m directory round-trips per train/load
    codebookFrame(spark, fitted, vType)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/codebook")
    val cbs = fitted.map(f => Similarity.localCentroidsFrame(spark, f, vType))
    import vecs.sparkSession.implicits._
    Seq((m, sub, k, parts)).toDF("m", "sub", "k", "parts")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
    cbs
  }

  /** Encode `(vec_id, v)` against explicit k-row codebook frames — the
    * single encoding definition every PQ path (bulk build, upsert,
    * IVF+PQ) shares, so codes can never fork by path.
    */
  private def encodeWithCodebooks(vecs: DataFrame, m: Int, sub: Int,
                                  cbs: Seq[DataFrame]): DataFrame = {
    // Collect the k-row codebooks (bounded: m·k rows) and encode in ONE
    // row-local codegen projection — no crossJoin row blow-up, no
    // per-vec_id rank-window shuffle per subspace, no m-way join chain.
    // [[graft.functions.VecKernels.pqNearestCode]] replicates the
    // crossJoin form's fold order and (l2, cent_id) tie semantics
    // bit-for-bit, so the codes table is unchanged.
    val codeCols = (0 until m).map { mm =>
      val rows = cbs(mm).select("cent_id", "cv").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      graft.functions.PqNearestCodeExpr(col("v"),
        rows.map(_._2), rows.map(_._1), mm * sub, sub).as(s"code$mm")
    }
    vecs.select(col("vec_id") +: codeCols: _*)
  }

  /** All m codebooks as one small frame `(m, cent_id, cv)`. */
  private def codebookFrame(spark: SparkSession,
      fitted: Seq[Seq[(Long, Array[Double])]],
      vType: org.apache.spark.sql.types.DataType): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("m",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("cent_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cv", vType)))
    val rows = fitted.zipWithIndex.flatMap { case (cents, mm) =>
      cents.map { case (cid, cv) =>
        org.apache.spark.sql.Row(mm, cid, cv.toSeq) }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The stored per-subspace codebooks — ONE read+collect of the
    * consolidated `(m, cent_id, cv)` table (bounded: m·k rows), split
    * driver-side into the per-subspace local frames every consumer
    * collects anyway.
    */
  private def storedCodebooks(spark: SparkSession, dir: String, m: Int): Seq[DataFrame] = {
    val all = readIndex(spark, dir, "codebook")
    val vType = all.schema("cv").dataType
    val rows = all.select("m", "cent_id", "cv").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    (0 until m).map { mm =>
      Similarity.localCentroidsFrame(spark,
        rows.filter(_._1 == mm).map(r => (r._2, r._3)).sortBy(_._1).toSeq, vType)
    }
  }

  /** [[storedCodebooks]] as raw arrays: per subspace, cent_ids sorted
    * ascending + the centroid vectors aligned to them — the literal
    * form the ADC probe kernels take. Same one read+collect of the
    * consolidated `(m, cent_id, cv)` table.
    */
  private def collectCodebookArrays(spark: SparkSession, dir: String,
      m: Int): Array[(Array[Long], Array[Array[Double]])] = {
    val rows = readIndex(spark, dir, "codebook").select("m", "cent_id", "cv")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    Array.tabulate(m) { mm =>
      val s = rows.filter(_._1 == mm).sortBy(_._2)
      (s.map(_._2), s.map(_._3))
    }
  }

  /** Driver-collected probe set `(q_id ascending, vector)` — probe sets
    * are contract-bounded small (the [[probeLsh]] "broadcast-small"
    * rule), so the collect is one bounded action replacing the per-LUT
    * broadcast builds.
    */
  private def collectQueries(df: DataFrame, idCol: String,
      vCol: String): Array[(Long, Array[Double])] =
    df.select(col(idCol), col(vCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  /** Per-query ADC lookup tables over collected codebooks:
    * `luts(qi)(mm)(slot) = dot(query slice mm, centroid slot)` in the
    * exact `Dedup.dot` op order ([[graft.functions.VecKernels.dotSlice]]).
    */
  private def adcLuts(qRows: Array[(Long, Array[Double])],
      cb: Array[(Array[Long], Array[Array[Double]])],
      sub: Int): Array[Array[Array[Double]]] =
    qRows.map { case (_, qv) =>
      Array.tabulate(cb.length) { mm =>
        cb(mm)._2.map(cv => graft.functions.VecKernels.dotSlice(qv, mm * sub, cv))
      }
    }

  /** Gauge-cadence counter for the `*WithPolicy` ingest loops — the
    * "check every Nth batch" dial the wired policies' scaladoc names.
    * One small text file inside the index dir, read+rewritten per
    * policy call (driver-side, no Spark job): returns true when the
    * store-wide gauge is DUE this batch (every `checkEvery`-th call),
    * false otherwise. The file deliberately dies with the dir on a
    * retrain swap — a freshly-retrained index starts a fresh cadence,
    * so the first post-heal store scan is a full interval away. The
    * counter is per-store single-writer like the ingest loop itself.
    */
  private def policyCounterBump(spark: SparkSession, dir: String,
                                checkEvery: Int): Boolean = {
    if (checkEvery <= 1) return true
    val p = new org.apache.hadoop.fs.Path(s"$dir/policy.count")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n =
      if (!f.exists(p)) 0
      else {
        val in = f.open(p)
        try {
          val b = new Array[Byte](32)
          val len = in.read(b)
          new String(b, 0, math.max(len, 0), "UTF-8").trim.toInt
        } finally in.close()
      }
    val due = n + 1 >= checkEvery
    val out = f.create(p, true)
    try out.write((if (due) "0" else (n + 1).toString).getBytes("UTF-8"))
    finally out.close()
    due
  }

  /** The two-dial retrain decision the IVF, PQ and IVF+PQ policy arms
    * share, run after the batch has landed: the BATCH dial first (the
    * landed batch's own gauge below `minBatchMeanCcos`, O(batch), every
    * batch), then, only on a batch [[policyCounterBump]] says is due,
    * the store-wide gauge's mean (`storeGauge`'s `mean_ccos`) below
    * `minMeanCcos`. Runs `retrain` and returns true iff a dial tripped.
    * A batch-dial retrain skips the counter: the swap replaces the dir
    * and the counter file with it, so the healed store starts a fresh
    * cadence either way. At the default `minBatchMeanCcos = -∞` the
    * batch dial can never trip, so its gauge is not computed (2 Spark
    * jobs per IVF or IVF+PQ call, 5 per PQ call).
    */
  private def retrainOnDrift(spark: SparkSession, dir: String,
      batchMeanCcos: () => Option[Double], minBatchMeanCcos: Double,
      checkEvery: Int, storeGauge: => DataFrame, minMeanCcos: Double)(
      retrain: => Unit): Boolean = {
    val tripped = (minBatchMeanCcos > Double.NegativeInfinity &&
        batchMeanCcos().exists(_ < minBatchMeanCcos)) ||
      (policyCounterBump(spark, dir, checkEvery) &&
        storeGauge.collect()(0).getDouble(2) < minMeanCcos)
    if (tripped) retrain
    tripped
  }

  /** Deterministic hash-sample of an index relation for the amortized
    * store-wide gauges: keeps rows whose `pmod(xxhash64(vec_id),
    * sampleMod) = 0` — 1/sampleMod of the store, the SAME rows every
    * call (xxhash64 of a literal-seeded column is deterministic), so
    * the sampled 1e-9-quantized BIGINT sums stay order-independent AND
    * run-reproducible. `sampleMod <= 1` is the full store.
    */
  private def sampleRows(rows: DataFrame, sampleMod: Long): DataFrame =
    if (sampleMod <= 1L) rows
    else rows.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)

  /** Mean own-centroid cosine of a staged assignment carrying a `ccos`
    * column — the BATCH-population gauge the wired policies run every
    * batch: O(batch) rows, so detection sensitivity is independent of
    * store size (a small badly-quantizing wave into a large healthy
    * store trips THIS dial even while it can't move the store-wide
    * mean). Same 1e-9-quantized BIGINT sum as [[ivfDriftStats]], so
    * the two dials share a scale. None on an empty batch.
    */
  private def stagedMeanCcos(staged: DataFrame): Option[Double] = {
    val r = staged
      .agg(sum(floor(col("ccos") * lit(1.0e9)).cast("long")).as("s"),
        count(lit(1)).as("n")).head()
    if (r.isNullAt(0) || r.getLong(1) == 0L) None
    else Some(r.getLong(0).toDouble / r.getLong(1).toDouble / 1.0e9)
  }

  /** Entry-gated read of an index component: every public read/maintain
    * path enters the store through this, so a committed retrain or
    * partition publish that crashed is finished ([[Publish.recover]])
    * before any plan is built. Two driver-side `exists` when healthy.
    */
  private def readIndex(spark: SparkSession, dir: String, sub: String): DataFrame = {
    Publish.recover(spark, dir)
    if (Frozen(sub)) readFrozen(spark, s"$dir/$sub") else readTable(spark, s"$dir/$sub")
  }

  /** The small flat tables an index writes once per build or retrain,
    * one file each.
    */
  private val Frozen = Set("meta", "codebook", "centroids")

  /** A frozen table, typed by the schema Spark wrote into its first
    * file's footer (read on the driver), so the read runs no
    * schema-inference job; inferred as usual when no file carries one.
    */
  private def readFrozen(spark: SparkSession, path: String): DataFrame = {
    Publish.recover(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val written = p.getFileSystem(conf).listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
      .headOption.flatMap { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        // the key Spark's parquet writer stores the row schema under
        try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally r.close()
      }
    written.map(DataType.fromJson(_)) match {
      case Some(schema: StructType) => spark.read.schema(schema).parquet(path)
      case _ => readTable(spark, path)
    }
  }

  /** A partitioned index table, after recovering its own publishes. */
  private def readTable(spark: SparkSession, path: String): DataFrame =
    Publish.readParquet(spark, path)

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** True iff `path` holds at least one `partCol=` partition directory
    * — the presence gate for partitioned stores whose deletes can vacate
    * EVERY partition while the root (with its `_SUCCESS`) survives.
    */
  private def hasPartData(spark: SparkSession, path: String,
      partCol: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.exists(p) && f.listStatus(p).exists(_.getPath.getName.startsWith(s"$partCol="))
  }

  /** Incremental PQ maintenance — encode-only append with the quantizer
    * frozen: the batch is encoded against the STORED codebooks (read
    * from `dir/codebook/`, so a batch can never fork the code space)
    * and [[upsertRowsInParts]] rewrites only the
    * `part = pmod(vec_id, parts)` directories it touches (a re-inserted
    * vec_id takes the new codes). `part` is a pure function of vec_id —
    * the [[upsertMinhash]] property — so re-inserts land in their old
    * directory by construction: no locate scan, no cross-directory
    * moves. Works as the BULK LOAD too (first call after [[trainPq]] —
    * no codes table yet). Cost is batch-bounded; codebook retraining
    * (when `pq_code_stats` shows dead/dominant codes) is [[retrainPq]],
    * deliberately not an upsert.
    */
  def upsertPq(spark: SparkSession, dir: String, vecs: DataFrame): Unit = {
    upsertPqBatch(spark, dir, vecs)
    ()
  }

  /** The one PQ batch path [[upsertPq]] and [[upsertPqWithPolicy]]
    * share: encode `vecs` (through the stored OPQ permutation) against
    * the stored codebooks, materialize the stage, check its keys, land
    * it. Returns the batch dial: the stage's mean (row, subspace)
    * cosine to its assigned sub-centroids.
    */
  private def upsertPqBatch(spark: SparkSession, dir: String,
      vecs: DataFrame): () => Option[Double] = {
    val meta = readIndex(spark, dir, "meta").head()
    val m = meta.getAs[Int]("m")
    val sub = meta.getAs[Int]("sub")
    val parts = meta.getAs[Int]("parts")
    val permuted = applyPerm(vecs, storedPerm(spark, dir), "v")
    val staged = encodeWithCodebooks(permuted, m, sub,
        storedCodebooks(spark, dir, m))
      .withColumn("part", pmod(col("vec_id"), lit(parts.toLong)))
      .localCheckpoint(true) // the key check and the merge read it
    // the kernel encode is row-1:1 (no rank window to collapse a
    // duplicate key), so the uniqueness gate reads the materialized
    // stage instead of re-deriving the raw batch — and still throws
    // before any store mutation
    requireUniqueKeys(staged, "vec_id")
    upsertRowsInParts(spark, s"$dir/codes", "vec_id", "part", staged,
      contentDerived = false)
    () => pqMeanCcosFrame(spark, dir,
        staged.join(permuted.select("vec_id", "v"), Seq("vec_id")),
        m, sub, lit(true))
      .collect().headOption.map(_.getDouble(2)) // <= 1 row: the batch
  }

  /** Quantization-quality gauge for the PQ retrain decision. The codes
    * table holds no floats, so each LIVE code row joins its vector from
    * `store` — the embedding relation the rerank path reads; the index
    * supplies LIVENESS (ids deleted via [[deletePq]] never re-enter) —
    * and scores the cosine of every subspace slice against its assigned
    * sub-centroid, summed as 1e-9-quantized BIGINTs per population
    * split (`suspect`, e.g. "the newest ingest wave"), the
    * `ivf_cell_stats` order-independence discipline. Returns
    * `(is_suspect, pop, mean_ccos)` — 2 rows; mean is per (row,
    * subspace) pair.
    */
  def pqDriftStats(spark: SparkSession, dir: String, store: DataFrame,
                   suspect: org.apache.spark.sql.Column,
                   sampleMod: Long = 1L): DataFrame = {
    val meta = readIndex(spark, dir, "meta").head()
    val m = meta.getAs[Int]("m")
    val sub = meta.getAs[Int]("sub")
    val vec = applyPerm(store, storedPerm(spark, dir), "v")
    val joined = sampleRows(readIndex(spark, dir, "codes"), sampleMod)
      .join(vec, Seq("vec_id"))
    pqMeanCcosFrame(spark, dir, joined, m, sub, suspect)
  }

  /** The shared (row, subspace) cosine scoring of code rows carrying
    * their float vector `v` — [[pqDriftStats]] over the live store and
    * the policy's batch gauge both reduce to it, so their dials share
    * a scale. Returns `(is_suspect, pop, mean_ccos)` rows.
    */
  private def pqMeanCcosFrame(spark: SparkSession, dir: String,
      joined: DataFrame, m: Int, sub: Int,
      suspect: org.apache.spark.sql.Column): DataFrame = {
    // codebooks as literal maps (bounded: m·k rows, one stored read) —
    // the per-row sub-centroid lookup is row-local element_at instead
    // of m broadcast joins; the scored cosine expression is unchanged
    val cbs = storedCodebooks(spark, dir, m)
    val qsum = (0 until m).map { mm =>
      val cbMap = cbs(mm).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      floor(Dedup.cosine(slice(col("v"), mm * sub + 1, sub),
          element_at(typedLit(cbMap), col(s"code$mm")))
        * lit(1.0e9)).cast("long")
    }.reduce(_ + _)
    joined.select(suspect.as("is_suspect"), qsum.as("qcos"))
      .groupBy("is_suspect")
      .agg(count(lit(1)).as("pop"), sum("qcos").as("sum_qcos"))
      .select(col("is_suspect"), col("pop"),
        (col("sum_qcos").cast("double")
          / (col("pop") * lit(m.toLong)).cast("double") / lit(1.0e9))
          .as("mean_ccos"))
  }

  /** The PQ arm of the wired retrain policy — [[upsertIvfWithPolicy]]'s
    * discipline applied to the codebooks: land the batch through the
    * frozen-quantizer encode, gauge, retrain below the dial. `store` is
    * the embedding relation (the PQ index holds codes only — both the
    * store-wide gauge and a retrain read floats from it). Dials as in
    * [[upsertIvfWithPolicy]]: `minBatchMeanCcos` scores the INCOMING
    * batch against the stored codebooks from its own staged encode —
    * O(batch·m), no store read, store-size-independent detection;
    * `checkEvery`/`gaugeSampleMod` amortize and sample the store-wide
    * [[pqDriftStats]] read. Returns true iff this call retrained.
    */
  def upsertPqWithPolicy(spark: SparkSession, dir: String, store: DataFrame,
      batch: DataFrame, sampleSize: Int, iters: Int, salt: Int,
      minMeanCcos: Double,
      minBatchMeanCcos: Double = Double.NegativeInfinity,
      checkEvery: Int = 1, gaugeSampleMod: Long = 1L): Boolean =
    retrainOnDrift(spark, dir, upsertPqBatch(spark, dir, batch),
      minBatchMeanCcos, checkEvery,
      pqDriftStats(spark, dir, store, lit(true), gaugeSampleMod), minMeanCcos)(
      retrainPq(spark, dir, store, sampleSize, iters, salt))

  /** Retrain the PQ codebooks over the live corpus and swap — the
    * response to [[pqDriftStats]] / `pq_code_stats` firing. Liveness
    * comes from the index's own codes table; floats from `store` (the
    * PQ index stores codes only — same split as the rerank path). The
    * frozen OPQ permutation is PRESERVED: the retrain re-fits codebooks
    * within the existing subspace allocation (re-fitting the
    * permutation itself is a full [[trainPq]] rebuild — it changes the
    * code-space geometry, not just the centroids). Bit-identical to a
    * fresh [[savePq]]/[[trainPq]]+bulk over the live set: the Lloyd
    * sample and the encode depend only on (vec_id, v). Offline build
    * published as one [[Publish]] transaction; `sampleSize`/`iters`/
    * `salt` are the training knobs `meta` doesn't freeze.
    *
    * `refitPerm = true` additionally RE-LEARNS the OPQ permutation from
    * the live corpus ([[Similarity.opqPermutation]] — Ge et al.'s
    * variance-balancing objective is data-dependent, so a perm fit to
    * January's per-dimension variance structure can misallocate July's;
    * [[opqSubspaceVarStats]] is the gauge that watches for it). This is
    * safe inside the same swap because every live vector is re-encoded
    * anyway: the staged index is a NEW self-consistent artifact version
    * (perm + codebooks + codes all agree), bit-identical to a fresh
    * [[trainPq]]+bulk whose `perm` came from the same live set — old
    * codes never mix with the new geometry. The default keeps the
    * frozen perm: code-space geometry is corpus-epoch-scoped, and a
    * plain codebook re-fit must not silently move it.
    */
  def retrainPq(spark: SparkSession, dir: String, store: DataFrame,
                sampleSize: Int, iters: Int, salt: Int,
                refitPerm: Boolean = false): Unit = {
    val meta = readIndex(spark, dir, "meta").head()
    val m = meta.getAs[Int]("m")
    val sub = meta.getAs[Int]("sub")
    val k = meta.getAs[Int]("k")
    val parts = meta.getAs[Int]("parts")
    val liveRaw = store.join(readIndex(spark, dir, "codes").select("vec_id"),
      Seq("vec_id"), "left_semi")
    val perm =
      if (refitPerm) Similarity.opqPermutation(liveRaw, m * sub, m)
      else storedPerm(spark, dir)
    val live = applyPerm(liveRaw, perm, "v")
    // `live` re-reads the current codes dir per action; it stays in
    // place until the publish's moves, so no checkpoint is needed
    replaceIndex(spark, dir) { stage =>
      savePerm(spark, stage, perm)
      val cbs = trainPqCodebooks(live, m, sub, k, sampleSize, iters, salt,
        stage, parts)
      encodeWithCodebooks(live, m, sub, cbs)
        .withColumn("part", pmod(col("vec_id"), lit(parts.toLong)))
        .repartition(col("part"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("part")
        .parquet(s"$stage/codes")
    }
  }

  /** OPQ-permutation drift gauge — the per-subspace VARIANCE BALANCE
    * the stored permutation was fit to equalize ([[Similarity
    * .opqPermutation]]'s greedy snake deals dimensions by descending
    * variance so each subspace carries comparable mass — Ge et al.'s
    * data-dependent objective). Corpus drift that reorders per-dim
    * variances silently invalidates that allocation even while the
    * codebooks re-fit cleanly, so this gauge sits NEXT TO
    * [[pqDriftStats]]: liveness from the index's own codes table,
    * floats from `store`, variance measured in the index's PERMUTED
    * space on [[Similarity.opqPermutation]]'s own integer grid
    * (q = floor(x·1e4), per-dim score n·Σq² − (Σq)²), summed per
    * subspace as DECIMAL(38,0) — order-independent, integer-exact,
    * and directly comparable to what a fresh perm fit would balance.
    * Returns `m` rows `(subspace, n_dims, var_score)`; the policy
    * reading is the max/min `var_score` ratio (≈1 ⇒ the frozen perm
    * still balances; 1 of the subspaces starving ⇒
    * [[retrainPq]]`(refitPerm = true)`).
    */
  def opqSubspaceVarStats(spark: SparkSession, dir: String,
                          store: DataFrame): DataFrame = {
    val meta = readIndex(spark, dir, "meta").head()
    val sub = meta.getAs[Int]("sub")
    val live = applyPerm(
      store.join(readIndex(spark, dir, "codes").select("vec_id"),
        Seq("vec_id"), "left_semi"),
      storedPerm(spark, dir), "v")
    val q = floor(col("x") * lit(10000.0)).cast("long")
    val dec = "decimal(38,0)"
    live.select(posexplode(col("v"))).toDF("pos", "x")
      .groupBy(col("pos"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(q.cast(dec)).as("sq"),
        sum((q * q).cast(dec)).as("sq2"))
      .select((col("pos").cast("long") / lit(sub.toLong)).cast("long").as("subspace"),
        (col("n") * col("sq2") - col("sq") * col("sq")).cast(dec).as("score"))
      .groupBy("subspace")
      .agg(count(lit(1)).as("n_dims"), sum("score").cast(dec).as("var_score"))
  }

  /** Pure-ADC top-`k` from the stored codes: per-subspace lookup tables
    * (|queries| x PqK dots against the stored codebooks) broadcast onto
    * ONE pass over the codes scan — no embedding floats are read.
    * `queries` must carry (vec_id, v) with `dim`-sized double vectors.
    */
  def probePq(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
              m: Int, sub: Int): DataFrame = {
    val codes = readIndex(spark, dir, "codes")
    // queries enter the stored code space through the same frozen OPQ
    // permutation the encode side applied (identity when absent)
    val qp = applyPerm(queries, storedPerm(spark, dir), "v")
    // The LUT stack (|queries| x m x PqK dots) is built DRIVER-side from
    // one probe-set collect + one codebook read, and applied in ONE
    // codegen projection over the codes scan — replacing m broadcast-LUT
    // builds + an m-way join chain. pqAdcAll replicates the join form's
    // Dedup.dot + left-fold adc arithmetic bit-for-bit (VecExprsSpec).
    val qRows = collectQueries(qp, "vec_id", "v")
    val cb = collectCodebookArrays(spark, dir, m)
    val scores = graft.functions.PqAdcAllExpr(
      array((0 until m).map(i => col(s"code$i")): _*),
      qRows.map(_._1), adcLuts(qRows, cb, sub), cb.map(_._1))
    val w = Window.partitionBy("q_id").orderBy(col("adc").desc, col("vec_id"))
    codes
      .select(col("vec_id"), explode(scores).as("s"))
      .select(col("s.q_id").as("q_id"), col("vec_id"), col("s.adc").as("adc"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id").as("c_id"), col("adc"))
  }

  // ----------------------------------------------------------- IVF+PQ

  /** Build and write the composed two-level index (Faiss "IVFx,PQy"
    * layout): IVF centroids at `dir/centroids`, PQ codebooks at
    * `dir/codebook/`, and the codes table PARTITIONED BY IVF CELL at
    * `dir/codes/cell=...` — so a probe's cell routing is literal
    * parquet partition pruning, and each pruned partition is 12-bit
    * codes, not floats. This is the storage layout of the 100 TB ANN
    * story in full: routing prunes directories, compression shrinks
    * what's scanned inside them, and the raw embeddings live outside
    * the index entirely (only a shortlist rerank ever reads them).
    * Rebuild-in-place; both quantizers are frozen artifacts — corpus
    * drift means [[retrainIvfPq]], and incremental inserts go through
    * [[upsertIvfPq]] (route and encode against the stored quantizers,
    * the touched cell dirs replaced in one [[Publish.replaceParts]]
    * transaction).
    */
  def saveIvfPq(vecs: DataFrame, ivfK: Int, sampleSize: Int, iters: Int,
                dim: Int, ivfSalt: Int, m: Int, sub: Int, pqK: Int,
                pqSalt: Int, dir: String): Unit = {
    val cents = trainIvfPqQuantizers(vecs, ivfK, sampleSize, iters, dim,
      ivfSalt, m, sub, pqK, pqSalt, dir)
    encodeIvfPq(vecs, m, sub, cents._1, cents._2).drop("ccos")
      .repartition(col("cell")) // one file per cell dir, any cluster width
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(s"$dir/codes")
  }

  /** Train and persist BOTH frozen quantizers only (coarse centroids +
    * PQ codebooks + meta, no codes) — the [[trainPq]] split for the
    * two-level index: bulk-load and daily-append through
    * [[upsertIvfPq]] afterwards. A non-empty `perm` freezes an OPQ
    * permutation exactly as in [[trainPq]]: both quantizers train in
    * the permuted space, encode/probe apply it transparently (cell
    * routing, ADC, and the rerank's dot-accumulation order all run
    * permuted — the rerank value is permutation-invariant, the order
    * keeps it bit-reproducible cross-engine).
    */
  def trainIvfPq(vecs: DataFrame, ivfK: Int, sampleSize: Int, iters: Int,
                 dim: Int, ivfSalt: Int, m: Int, sub: Int, pqK: Int,
                 pqSalt: Int, dir: String, perm: Seq[Int] = Seq.empty): Unit = {
    savePerm(vecs.sparkSession, dir, perm)
    trainIvfPqQuantizers(applyPerm(vecs, perm, "v"), ivfK, sampleSize, iters,
      dim, ivfSalt, m, sub, pqK, pqSalt, dir)
    ()
  }

  private def trainIvfPqQuantizers(vecs: DataFrame, ivfK: Int, sampleSize: Int,
                                   iters: Int, dim: Int, ivfSalt: Int, m: Int,
                                   sub: Int, pqK: Int, pqSalt: Int,
                                   dir: String): (DataFrame, Seq[DataFrame]) = {
    val cents = Similarity.kmeansCentroids(vecs, ivfK, sampleSize, iters, dim, ivfSalt)
    cents.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    val cbs = trainPqCodebooks(vecs, m, sub, pqK, sampleSize, iters, pqSalt, dir,
      DefaultParts)
    (cents, cbs)
  }

  /** Cell-assign + PQ-encode against explicit quantizers — the single
    * definition [[saveIvfPq]] and [[upsertIvfPq]] share.
    */
  private def encodeIvfPq(vecs: DataFrame, m: Int, sub: Int,
                          cents: DataFrame, cbs: Seq[DataFrame]): DataFrame = {
    // keeps each row's routing cosine (`ccos`) so the wired policy's
    // batch gauge reads it straight off the stage; both writers drop
    // the column before the codes table lands (on-disk schema is
    // unchanged)
    // no broadcast hint: assignIvf collects the k-row frame driver-side
    val cells = assignIvf(vecs, cents)
      .select(col("vec_id"), col("cell"), col("ccos"))
    encodeWithCodebooks(vecs, m, sub, cbs).join(cells, "vec_id")
  }

  /** Coarse-routing drift gauge for the composed index: the codes
    * table already stores each live row's CELL, so one join to the
    * floats (`store` — the rerank relation; the index holds codes
    * only) and the broadcast k-row centroid table scores every row's
    * cosine to its own routing centroid — the quantity a drifted
    * ingest wave degrades first (bad routing ⇒ the wave piles into
    * hot cells AND probes miss it). Same 1e-9-quantized BIGINT means
    * as [[ivfDriftStats]]; 2 rows.
    */
  def ivfpqDriftStats(spark: SparkSession, dir: String, store: DataFrame,
                      suspect: org.apache.spark.sql.Column,
                      sampleMod: Long = 1L): DataFrame = {
    val cents = broadcast(ivfCentroids(spark, dir)
      .select(col("cent_id").as("cell"), col("cv")))
    val vec = applyPerm(store, storedPerm(spark, dir), "v")
    sampleRows(readIndex(spark, dir, "codes"), sampleMod)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(vec, Seq("vec_id"))
      .join(cents, Seq("cell"))
      .select(suspect.as("is_suspect"),
        floor(Dedup.cosine(col("v"), col("cv")) * lit(1.0e9)).cast("long").as("qcos"))
      .groupBy("is_suspect")
      .agg(count(lit(1)).as("pop"), sum("qcos").as("sum_qcos"))
      .select(col("is_suspect"), col("pop"),
        (col("sum_qcos").cast("double") / col("pop").cast("double") / lit(1.0e9))
          .as("mean_ccos"))
  }

  /** Retrain BOTH quantizers of the composed index over the live
    * corpus and swap — [[retrainIvf]] + [[retrainPq]] for the
    * IVFx,PQy layout: liveness from the index's own codes table,
    * floats from `store`, coarse centroids AND all m codebooks re-fit
    * in one pass over the live set, every live vector re-routed and
    * re-encoded (the O(corpus) line item), frozen OPQ permutation
    * preserved, offline build published as one [[Publish]]
    * transaction. Bit-identical
    * to a fresh [[saveIvfPq]]/[[trainIvfPq]]+bulk over the live set.
    */
  def retrainIvfPq(spark: SparkSession, dir: String, store: DataFrame,
                   ivfK: Int, sampleSize: Int, iters: Int, dim: Int,
                   ivfSalt: Int, pqSalt: Int): Unit = {
    val meta = readIndex(spark, dir, "meta").head()
    val m = meta.getAs[Int]("m")
    val sub = meta.getAs[Int]("sub")
    val pqK = meta.getAs[Int]("k")
    val perm = storedPerm(spark, dir)
    val live = applyPerm(
      store.join(readIndex(spark, dir, "codes").select("vec_id"),
        Seq("vec_id"), "left_semi"),
      perm, "v")
    replaceIndex(spark, dir) { stage =>
      savePerm(spark, stage, perm)
      val (cents, cbs) = trainIvfPqQuantizers(live, ivfK, sampleSize, iters,
        dim, ivfSalt, m, sub, pqK, pqSalt, stage)
      encodeIvfPq(live, m, sub, cents, cbs).drop("ccos")
        .repartition(col("cell"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cell")
        .parquet(s"$stage/codes")
    }
  }

  /** Incremental IVF+PQ maintenance — the composition of [[upsertIvf]]
    * (frozen coarse centroids route the batch; the cell is a
    * CONTENT-derived key, so touched directories are both where new
    * rows land and where re-inserted vec_ids currently live, and an
    * emptied cell directory is dropped) and [[upsertPq]] (frozen stored
    * codebooks encode the batch). Works as the bulk load after
    * [[trainIvfPq]]. Retraining the quantizers on corpus drift is
    * [[retrainIvfPq]] — `ivf_cell_stats` / `pq_code_stats` /
    * [[ivfpqDriftStats]] are the triggers.
    */
  def upsertIvfPq(spark: SparkSession, dir: String, vecs: DataFrame): Unit = {
    upsertIvfPqBatch(spark, dir, vecs)
    ()
  }

  /** The one IVF+PQ batch path [[upsertIvfPq]] and
    * [[upsertIvfPqWithPolicy]] share: route and encode `vecs` (through
    * the stored OPQ permutation) against the stored quantizers,
    * materialize the stage, check its keys, land it. Returns the batch
    * dial over the stage's own routing cosines.
    */
  private def upsertIvfPqBatch(spark: SparkSession, dir: String,
      vecs: DataFrame): () => Option[Double] = {
    val meta = readIndex(spark, dir, "meta").head()
    val m = meta.getAs[Int]("m")
    val sub = meta.getAs[Int]("sub")
    val cents = readIndex(spark, dir, "centroids")
    val staged = encodeIvfPq(applyPerm(vecs, storedPerm(spark, dir), "v"),
        m, sub, cents, storedCodebooks(spark, dir, m))
      .localCheckpoint(true) // the key check, the merge and the gauge read it
    // row-1:1 kernel assignment+encode: the uniqueness gate reads the
    // stage (see upsertPqBatch)
    requireUniqueKeys(staged, "vec_id")
    upsertRowsInParts(spark, s"$dir/codes", "vec_id", "cell",
      staged.drop("ccos"), contentDerived = true)
    () => stagedMeanCcos(staged)
  }

  /** The composed index's arm of the wired retrain policy — the
    * [[upsertIvfWithPolicy]] discipline for the IVFx,PQy layout: land
    * the batch through the frozen-quantizer encode, gauge the ROUTING
    * quality (what a drifted wave degrades first — see
    * [[ivfpqDriftStats]]), and retrain BOTH quantizers below the dial
    * via [[retrainIvfPq]]. The batch dial reads each staged row's own
    * routing cosine straight off the encode (O(batch), no store read —
    * store-size-independent detection); `checkEvery`/`gaugeSampleMod`
    * amortize and sample the store-wide gauge, whose floats come from
    * `store` (the index holds codes only). Returns true iff this call
    * retrained.
    */
  def upsertIvfPqWithPolicy(spark: SparkSession, dir: String,
      store: DataFrame, batch: DataFrame, ivfK: Int, sampleSize: Int,
      iters: Int, dim: Int, ivfSalt: Int, pqSalt: Int,
      minMeanCcos: Double,
      minBatchMeanCcos: Double = Double.NegativeInfinity,
      checkEvery: Int = 1, gaugeSampleMod: Long = 1L): Boolean =
    retrainOnDrift(spark, dir, upsertIvfPqBatch(spark, dir, batch),
      minBatchMeanCcos, checkEvery,
      ivfpqDriftStats(spark, dir, store, lit(true), gaugeSampleMod), minMeanCcos)(
      retrainIvfPq(spark, dir, store, ivfK, sampleSize, iters, dim, ivfSalt, pqSalt))

  /** Two-stage probe of the stored IVF+PQ index: route each query to
    * its top-`nProbe` cells against the k-row stored centroids (scan =
    * only those cell partitions of the codes table), ADC-score the
    * in-cell codes via broadcast lookup tables, shortlist `shortK`,
    * exact-cosine rerank reading ONLY the shortlist's float rows from
    * `corpus` (the embedding store — deliberately outside the index).
    * `queries` carries (q_id, q_v), `corpus` (vec_id, v).
    */
  def probeIvfPq(spark: SparkSession, dir: String, queries: DataFrame,
                 corpus: DataFrame, k: Int, nProbe: Int, m: Int, sub: Int,
                 shortK: Int): DataFrame = {
    // the stored quantizers live in the index's (possibly OPQ-permuted)
    // space: routing, ADC, and the exact-cosine rerank all run there —
    // the rerank VALUE is permutation-invariant, but summing the dot in
    // the permuted dimension order keeps it bit-reproducible against a
    // permuted-corpus oracle (fp addition isn't associative)
    val perm = storedPerm(spark, dir)
    val qPerm = applyPerm(queries, perm, "q_v")
    // Routing and the ADC LUT stack both run DRIVER-side from one
    // probe-set collect (the probeIvf / probePq kernel discipline):
    // ivfTopNCells replicates the row_number-over-(ccos DESC, cent_id)
    // routing bit-for-bit, and pqAdcFor the m-way LUT join's
    // Dedup.dot + left-fold adc — one projection over the cell-pruned
    // codes scan instead of crossJoin + rank window + checkpoint +
    // m broadcast-LUT joins.
    val qRows = collectQueries(qPerm, "q_id", "q_v")
    val centRows = readIndex(spark, dir, "centroids").select("cent_id", "cv")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val probePairs = qRows.flatMap { case (qid, qv) =>
      graft.functions.VecKernels
        .ivfTopNCells(qv, centRows.map(_._2), centRows.map(_._1), nProbe)
        .map(cell => (qid, cell))
    }
    val cellIds = probePairs.map(_._2).distinct // bounded by ivfK
    import spark.implicits._
    val probes = probePairs.toSeq.toDF("q_id", "cell")
    val codes = readIndex(spark, dir, "codes")
      .filter(col("cell").isin(cellIds.map(Long.box): _*))
    val cand = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
    val cb = collectCodebookArrays(spark, dir, m)
    val scored = cand.withColumn("adc", graft.functions.PqAdcForExpr(
      array((0 until m).map(i => col(s"code$i")): _*), col("q_id"),
      qRows.map(_._1), adcLuts(qRows, cb, sub), cb.map(_._1)))
    val wS = Window.partitionBy("q_id").orderBy(col("adc").desc, col("vec_id"))
    val short = scored.withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= shortK)
    val qv = broadcast(qRows.toSeq.map { case (q, v) => (q, v.toSeq) }
      .toDF("q_id", "q_v"))
    val rr = short.select("q_id", "vec_id")
      .join(applyPerm(corpus, perm, "v")
        .select(col("vec_id"), col("v").as("c_v")), "vec_id")
      .join(qv, "q_id")
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
    val wR = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    rr.withColumn("rnk", row_number().over(wR).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id").as("c_id"), col("cosine"))
  }

  // ---------------------------------------------------------- MinHash

  /** Build and write the MinHash signature table for a `(doc_id, text)`
    * corpus: `(doc_id, sh, sig, keys)` under `part = pmod(doc_id, parts)`
    * partition directories — the materialized form the session path
    * persists in memory, laid out so [[upsertMinhash]] can rewrite only
    * the directories a batch touches.
    */
  def saveMinhash(corpus: DataFrame, k: Int, bands: Int, rowsPerBand: Int,
                  dir: String, parts: Int = DefaultParts): Unit =
    saveMinhashSigs(corpus
      .withColumn("sh", Dedup.shingleSet(col("text")))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), k))
      .withColumn("keys", Dedup.bandKeys(col("sig"), bands, rowsPerBand)),
      k, bands, rowsPerBand, dir, parts)

  /** [[saveMinhash]] over an ALREADY-SIGNED `(doc_id, sh, sig, keys)`
    * frame — a caller that materialized the signature pass for pair
    * generation (the curated maintenance staging) builds the stored
    * index from the same frame instead of re-signing the corpus. The
    * frame's signature family must match the k/bands/rowsPerBand stamped
    * into meta (the maintenance paths derive both from one constant
    * set).
    */
  def saveMinhashSigs(sigs: DataFrame, k: Int, bands: Int, rowsPerBand: Int,
                      dir: String, parts: Int = DefaultParts): Unit = {
    sigs
      .select(col("doc_id"), col("sh"), col("sig"), col("keys"),
        pmod(col("doc_id"), lit(parts.toLong)).as("part"))
      .repartition(col("part")) // one file per dir, any cluster width
      .write.mode(SaveMode.Overwrite)
      .partitionBy("part")
      .parquet(s"$dir/sigs")
    import sigs.sparkSession.implicits._
    Seq((k, bands, rowsPerBand, parts)).toDF("k", "bands", "rows_per_band", "parts")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
  }

  /** The stored signature table. */
  def minhashSigs(spark: SparkSession, dir: String): DataFrame =
    readIndex(spark, dir, "sigs").select("doc_id", "sh", "sig", "keys")

  /** Incremental MinHash maintenance — [[upsertRowsInParts]] on the
    * signature table: the batch's signatures are computed with the
    * STORED family (k/bands/rowsPerBand from meta, so a batch can never
    * fork the hash family) and only the `part = pmod(doc_id, parts)`
    * directories the batch touches are rewritten (a re-inserted doc_id
    * takes the new text). Because `part` is a pure function of doc_id —
    * unlike the content-derived LSH bucket — a re-inserted doc lands in
    * its old directory by construction: no locate scan, no
    * cross-directory moves. Cost is batch-bounded, which is what
    * lets a daily crawl ride a maintained signature index instead of
    * re-signing the whole corpus.
    */
  def upsertMinhash(spark: SparkSession, dir: String, corpus: DataFrame): Unit = {
    val meta = readIndex(spark, dir, "meta").head()
    val k = meta.getAs[Int]("k")
    val bands = meta.getAs[Int]("bands")
    val rowsPerBand = meta.getAs[Int]("rows_per_band")
    val parts = meta.getAs[Int]("parts")
    val staged = corpus
      .withColumn("sh", Dedup.shingleSet(col("text")))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), k))
      .withColumn("keys", Dedup.bandKeys(col("sig"), bands, rowsPerBand))
      .select(col("doc_id"), col("sh"), col("sig"), col("keys"),
        pmod(col("doc_id"), lit(parts.toLong)).as("part"))
      .localCheckpoint(true) // the key check and the merge read it
    requireUniqueKeys(staged, "doc_id")
    upsertRowsInParts(spark, s"$dir/sigs", "doc_id", "part", staged,
      contentDerived = false)
  }

  /** TAKEDOWN for the maintained signature table — [[upsertMinhash]]
    * inverted: the retracted ids' `part = pmod(doc_id, parts)`
    * directories (and ONLY those) are rewritten without their rows, so
    * a takedown batch costs O(touched partitions), not an index
    * rebuild. Signatures are row-local, so the post-delete table is
    * ROW-IDENTICAL to an index built over the corpus without the
    * retracted docs — the property that lets one oracle gate the whole
    * build → delete → probe cycle. Unlike the upsert (where `part` is
    * a pure function of doc_id and a dir can never empty), deleting
    * every row of a touched dir vacates it — the publish retires it
    * (the ccIngest cleanup rule). Ids absent from the index are no-ops.
    */
  def deleteMinhash(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val meta = readIndex(spark, dir, "meta").head()
    val parts = meta.getAs[Int]("parts")
    val del = ids.select(col("doc_id")).distinct()
      .withColumn("part", pmod(col("doc_id"), lit(parts.toLong)))
      .localCheckpoint(true) // part probe + anti-join read it
    if (del.isEmpty) return
    deleteRowsInParts(spark, s"$dir/sigs", "doc_id", "part", del,
      partIdsOf(del.select("part")))
  }

  // ------------------------------------------- Perceptual media (pHash)

  /** Freeze the perceptual-hash geometry: `nPatch` (derive it from the
    * corpus-snapshot count via
    * [[graft.operators.Multimodal.phashPatches]]) and the partition
    * fan-out, written as the index meta — the [[trainPq]] split for the
    * media near-dup space. Every later [[upsertPhash]] and
    * [[probePhash]] reads the STORED width, so a batch can never fork
    * the hash family (the frozen-codebook rule). RE-INDEX TRIGGER:
    * [[Multimodal.phashPatches]] widens at population thresholds; once
    * corpus growth crosses the next threshold, per-(band, key) bucket
    * populations — and with them every probe — grow linearly instead of
    * holding at ~[[Multimodal.PHashBucketTarget]], so crossing the
    * threshold means rebuild at the wider width (the `pq_code_stats`
    * retrain-trigger discipline; the measured fixed-width blowup is the
    * 55x row in BASELINE.md's round-10 sweep).
    */
  def trainPhash(spark: SparkSession, dir: String, nPatch: Int,
                 parts: Int = DefaultParts): Unit = {
    import spark.implicits._
    Seq((nPatch, parts)).toDF("n_patches", "parts")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
  }

  /** The stored-geometry hash of a `(doc_id, payload)` frame: one row
    * per (band, key) posting, carrying the full band vector for the
    * verify step.
    */
  private def phashPostings(spark: SparkSession, dir: String,
                            media: DataFrame): (DataFrame, Int, Int) = {
    import spark.implicits._
    val meta = readIndex(spark, dir, "meta").head()
    val nPatch = meta.getAs[Int]("n_patches")
    val parts = meta.getAs[Int]("parts")
    val ph = Multimodal.perceptualHash(
      media.select("doc_id", "payload").as[Multimodal.MediaBytes], nPatch).toDF()
    val posted = ph
      .select(col("doc_id"), col("bands"),
        posexplode(col("bands")).as(Seq("band", "key")))
      .withColumn("part",
        pmod(col("key") * lit(Multimodal.PHashBands.toLong) + col("band"),
          lit(parts.toLong)))
    (posted, nPatch, parts)
  }

  /** Incremental perceptual-media maintenance — the media (band, key)
    * signature space as a MAINTAINED index. Postings are ADDITIVE state
    * (a posting row is never replaced, unlike the key-addressed
    * minhash/PQ rows), so the maintenance shape is the
    * [[SegmentStore]] one: hash the batch against the stored frozen
    * width and APPEND its posting rows to their `part` directories —
    * O(batch), the write path a media firehose needs. Contract: batch
    * doc_ids are NEW (within-batch uniqueness enforced; a
    * changed-payload re-insert would strand stale postings and is a
    * rebuild, exactly like codebook retraining).
    *
    * IDEMPOTENT under re-delivery: `foreachBatch` is at-least-once —
    * a restart re-delivers the last micro-batch, and a blind append
    * would DOUBLE-POST it (duplicate candidate pairs, inflated
    * mm_band_stats populations — the additive-store corruption
    * [[SegmentStore.appendExactlyOnce]] exists for). Already-present
    * doc_ids are dropped via one anti-join whose store side is
    * column-pruned (doc_id) AND partition-pruned to the batch's own
    * `part` dirs — the idempotence read is touched-dirs-sized, never
    * the posting store. Works as the bulk load after [[trainPhash]].
    */
  /** The batch's posting rows under the stored frozen width,
    * MATERIALIZED once — a probe-then-append ingest passes this one
    * frame to [[probePhashStaged]] and [[upsertPhashStaged]] so the
    * payload bytes are decoded and hashed exactly once per round
    * (plain [[probePhash]] + [[upsertPhash]] each re-hash the batch).
    */
  def stagePhashBatch(spark: SparkSession, dir: String,
                      media: DataFrame): DataFrame = {
    // check the RAW batch (a per-doc posting row count is a multiple of
    // PHashBands, so checking the exploded frame would be vacuous)
    requireUniqueKeys(media.select("doc_id"), "doc_id")
    phashPostings(spark, dir, media)._1.localCheckpoint(true)
  }

  def upsertPhash(spark: SparkSession, dir: String, media: DataFrame): Unit =
    upsertPhashStaged(spark, dir, stagePhashBatch(spark, dir, media))

  /** The merge half of [[upsertPhash]] over a [[stagePhashBatch]] frame. */
  def upsertPhashStaged(spark: SparkSession, dir: String,
                        staged: DataFrame): Unit = {
    if (staged.isEmpty) return
    // a doc's postings land all-or-nothing (one job commit), and every
    // posting of a doc lives in a part dir its own keys name — so
    // probing the batch's part dirs for its doc_ids is a complete
    // presence check
    val touched = partIdsOf(staged.select("part"))
    // gate on part-DATA presence, not bare directory existence: after a
    // takedown vacates every part= dir the root still exists (holding
    // only _SUCCESS), and reading it would throw "unable to infer
    // schema" instead of bulk-loading into the emptied store
    val existing =
      if (hasPartData(spark, s"$dir/postings", "part"))
        spark.read.parquet(s"$dir/postings")
          .filter(col("part").isin(touched.map(Long.box): _*))
          .select("doc_id").distinct()
      else staged.select("doc_id").limit(0)
    // No checkpoint and no emptiness probe: the write is an APPEND —
    // it deletes nothing, and the anti-join's store scan pins its file
    // list at planning, before any output commits, so the overwrite
    // paths' materialize-before-rewrite rule does not apply. An
    // all-duplicate re-delivery appends zero rows — the same no-op the
    // early return produced, one action instead of three.
    val fresh = staged.join(existing, Seq("doc_id"), "left_anti")
    fresh.repartition(col("part"))
      .write.mode(SaveMode.Append)
      .partitionBy("part")
      .parquet(s"$dir/postings")
  }

  /** TAKEDOWN for the perceptual posting store — the retraction path
    * the additive layout needs (postings are append-only; a retracted
    * doc's rows must physically leave, unlike summable counters which
    * retract by a negative append): one column-pruned locate scan
    * (doc_id, part — a doc's <= [[Multimodal.PHashBands]] postings
    * spread over content-derived key dirs), touched-directory
    * rewrites, vacated dirs dropped. Hashing is row-local and the
    * width is FROZEN (a takedown never retrains — the codebook rule),
    * so the post-delete postings equal a bulk load of the corpus
    * without the retracted media at the same width; subsequent probes
    * can no longer pair against the retracted payloads — the media
    * takedown (DMCA/CSAM) semantics.
    */
  def deletePhash(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    Publish.recover(spark, dir)
    val del = ids.select(col("doc_id")).distinct().localCheckpoint(true)
    if (del.isEmpty || !pathExists(spark, s"$dir/postings")) return
    deleteRowsInParts(spark, s"$dir/postings", "doc_id", "part", del,
      locateParts(spark, s"$dir/postings", "doc_id", "part", del))
  }

  /** Re-index the perceptual posting store at a wider patch count and
    * swap — the response path to the [[trainPhash]] re-index trigger
    * (corpus growth crossed a [[Multimodal.phashPatches]] threshold, so
    * per-(band, key) bucket populations — and every probe — now grow
    * linearly instead of holding at ~[[Multimodal.PHashBucketTarget]]).
    * Liveness comes from the index's own posting doc_ids (deleted media
    * never re-enter — the [[ivfLiveCorpus]] discipline); payload bytes
    * come from `store` (the media relation — postings hold band keys
    * only, the codes-only split). Offline rebuild into the staging
    * transaction ([[Publish]]). Bit-identical to a
    * fresh [[trainPhash]]+bulk over the live media at `nPatch`: hashing
    * is row-local and depends only on (doc_id, payload).
    */
  def reindexPhash(spark: SparkSession, dir: String, store: DataFrame,
                   nPatch: Int): Unit = {
    val parts = readIndex(spark, dir, "meta").head().getAs[Int]("parts")
    val live = readIndex(spark, dir, "postings").select("doc_id").distinct()
    val liveMedia = store.join(live, Seq("doc_id"), "left_semi")
    // the bulk load APPENDS (additive postings); the staging path is
    // fresh, since a crashed prior attempt's transaction was dropped
    replaceIndex(spark, dir) { stage =>
      trainPhash(spark, stage, nPatch, parts)
      upsertPhash(spark, stage, liveMedia) // bulk load at the new width
    }
  }

  /** The perceptual-media arm of the wired maintenance policy — the
    * width trigger [[trainPhash]]'s scaladoc documents, now wired like
    * [[upsertLshWithPolicy]]: land the batch through the frozen-width
    * [[upsertPhash]], then (every `checkEvery`-th batch — population
    * growth is monotone) read the live doc count off the posting store
    * (a metadata-only count; every doc posts exactly
    * [[Multimodal.PHashBands]] rows) and [[reindexPhash]] when
    * [[Multimodal.phashPatches]] says the corpus crossed the next
    * width threshold. `store` supplies the live payloads for the
    * rebuild. Returns true iff this call re-indexed.
    */
  def upsertPhashWithPolicy(spark: SparkSession, dir: String,
      media: DataFrame, store: DataFrame, checkEvery: Int = 1): Boolean = {
    upsertPhash(spark, dir, media)
    if (!policyCounterBump(spark, dir, checkEvery)) return false
    if (!hasPartData(spark, s"$dir/postings", "part")) return false
    val nPatch = readIndex(spark, dir, "meta").head().getAs[Int]("n_patches")
    val nDocs = readIndex(spark, dir, "postings").count() /
      Multimodal.PHashBands
    val needed = Multimodal.phashPatches(nDocs)
    if (needed > nPatch) {
      reindexPhash(spark, dir, store, needed)
      true
    } else false
  }

  /** Probe a media batch against the stored postings: verified
    * near-dup pairs (id_a < id_b, Hamming <= `hammingMax`) between the
    * batch and the index PLUS within the batch itself — so
    * accumulating each ingest's probe output over a
    * probe-then-append staging yields exactly the one-shot pair set
    * (every pair surfaces at the ingest where its second member
    * arrives). The index side is PARTITION-PRUNED to the `part`
    * directories the batch's keys hash into (<= parts ids, driver-
    * safe), the (band, key) join is equi, and recall is exact by the
    * [[Multimodal.PHashBands]] pigeonhole for any `hammingMax` < 8.
    * Fixed-batch cost: batch hashing + the pruned posting read —
    * bounded by bucket populations, which the frozen-width rule holds
    * at ~[[Multimodal.PHashBucketTarget]] until the re-index trigger
    * (see [[trainPhash]]).
    */
  def probePhash(spark: SparkSession, dir: String, media: DataFrame,
                 hammingMax: Int): DataFrame = {
    val (posted, _, _) = phashPostings(spark, dir, media)
    probePhashStaged(spark, dir, posted.localCheckpoint(true), hammingMax)
  }

  /** [[probePhash]] over a [[stagePhashBatch]] frame — the probe half
    * of a probe-then-append round that hashes the batch once.
    */
  def probePhashStaged(spark: SparkSession, dir: String, batch: DataFrame,
                       hammingMax: Int): DataFrame = {
    val ham = bit_count(col("ba").bitwiseXOR(col("bb"))).cast("long")
    def verify(cand: DataFrame, bandsA: DataFrame, bandsB: DataFrame): DataFrame =
      cand
        .join(bandsA.select(col("doc_id").as("id_a"), col("bands").as("bands_a")), "id_a")
        .join(bandsB.select(col("doc_id").as("id_b"), col("bands").as("bands_b")), "id_b")
        .withColumn("hamming",
          aggregate(zip_with(col("bands_a"), col("bands_b"),
              (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
            lit(0L), (acc, x) => acc + x))
        .filter(col("hamming") <= hammingMax)
        .select("id_a", "id_b", "hamming")
    val batchDocs = batch.select("doc_id", "bands").distinct()
    // within-batch pairs
    val innerCand = batch.select(col("doc_id").as("id_a"), col("band"), col("key"))
      .join(batch.select(col("doc_id").as("id_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val inner = verify(innerCand, batchDocs, batchDocs)
    if (!pathExists(spark, s"$dir/postings")) return inner
    // cross pairs: pruned index read, equi join on (band, key)
    val partIds = partIdsOf(batch.select("part"))
    if (partIds.isEmpty) return inner // empty batch: nothing to probe
    val stored = spark.read.parquet(s"$dir/postings")
      .filter(col("part").isin(partIds.map(Long.box): _*))
    val crossCand = stored
      .select(col("doc_id").as("s_id"), col("bands").as("s_bands"),
        col("band"), col("key"))
      .join(batch.select(col("doc_id").as("b_id"), col("band"), col("key")),
        Seq("band", "key"))
      // a re-probed doc matches its own postings — degenerate (x, x, 0)
      // self-pairs must not reach the verify (the id_a < id_b contract)
      .filter(col("s_id") =!= col("b_id"))
      .select(least(col("s_id"), col("b_id")).as("id_a"),
        greatest(col("s_id"), col("b_id")).as("id_b"))
      .distinct()
    val allDocs = stored.select("doc_id", "bands").distinct()
      .unionByName(batchDocs).distinct()
    val cross = verify(crossCand, allDocs, allDocs)
    inner.unionByName(cross).distinct()
  }
}
