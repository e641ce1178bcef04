package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** LOG-STRUCTURED store for additive aggregates — the one maintenance
  * shape mergeable-by-SUM state admits that key-replace indexes don't:
  *
  *   - [[append]]: an ingest writes its batch's pre-aggregated partial
  *     rows as a NEW parquet segment — zero reads of existing state,
  *     the write path a 100 TB/day firehose needs (contrast
  *     [[AnnIndex]]'s upsert family and the funnel/retention stores,
  *     whose key-replace merges must read and rewrite touched
  *     partitions).
  *   - [[merged]]: read-time aggregation sums partials across segments;
  *     disjoint-batch partial sums equal the one-shot totals exactly,
  *     which is what lets the driver queries converge bit-for-bit on
  *     their one-shot oracles.
  *   - [[compact]]: folds accumulated segments back to one, bounding
  *     read amplification — the LSM trade: ingest O(batch), read
  *     O(segments), compaction amortized.
  *
  * Segments are `seg=N/` subdirectories (one per append), so the store
  * can COUNT its own read amplification: [[segmentStats]] reports
  * segments and rows-per-segment (the pq_code_stats
  * sketch-as-retrain-trigger discipline applied to the LSM trade), and
  * [[appendWithPolicy]] turns that report into a policy — fold
  * whenever live segments would exceed `maxSegments`, so read
  * amplification is BOUNDED by construction, not by operator
  * discipline.
  *
  * [[compact]] is crash-safe: the fold is one [[Publish]] transaction.
  * It is written, with its markers, under the transaction directory;
  * only then does the commit marker name the one move that replaces the
  * store (or writer subtree) with it. A crash before the marker leaves
  * the live segments as they were; after it, every store entry point
  * finishes the move before touching the data, so a reader sees the old
  * segments or the fold, never a truncated store, and no step can
  * destroy the only copy.
  *
  * Shared by `text_lm_incremental` (bigram counts) and
  * `ft_counts_incremental` (the reference's O1 `/incr` counter — its Z
  * sum and SETNX/refresh-T max meta legs are mergeable the same way).
  *
  * WRITER contract. A store has exactly one LAYOUT and one MODE for
  * its lifetime, both self-describing on disk and enforced loudly:
  *
  *   - '''flat / plain-append''' (`seg=N` at the root, ids from the
  *     directory listing): exactly one writer (job or stream) at a
  *     time. Two concurrent writers can race to the same `seg=N`;
  *     `SaveMode.ErrorIfExists` makes the loser FAIL LOUDLY rather
  *     than corrupt state (retry the append to take the next id).
  *   - '''flat / exactly-once''' (`seg=<batchId>`, every committed
  *     segment carries a `_GRAFT_XO` marker): one writer, segments
  *     keyed by ITS monotone batch ids. The marker is what lets
  *     [[appendExactlyOnce]] refuse a store previously populated by
  *     plain [[append]] — without it, a stream whose batch ids start
  *     at 0 would silently skip batches 0..n as "already landed"
  *     because plain append had used those sequential ids itself.
  *     The two flat modes NEVER mix in one store.
  *   - '''multi-writer / exactly-once''' (`writer=<id>/seg=<batchId>`):
  *     many concurrent producers, each owning its `writer=` subtree —
  *     its own batch-id sequence, its own fold watermark, its own
  *     compaction ([[compactWriter]]); the subtree IS a flat
  *     exactly-once store. [[merged]] sums across all writers (the
  *     partition columns drop in the groupBy), so disjoint producers
  *     of an additive aggregate need no coordination at all — the
  *     100 TB/day shape where one store takes a whole Kafka topic,
  *     one writer per partition. The flat and namespaced layouts
  *     never mix; as-of reads on a multi-writer store are per writer
  *     ([[mergedAsOfWriter]]) or at a caller-supplied VECTOR watermark
  *     (the `Map[writer -> maxSeg]` overload of [[mergedAsOf]] — the
  *     store imposes no cross-writer epoch of its own; the vector IS
  *     the epoch).
  *
  * Readers are unrestricted — [[merged]] sees whatever complete
  * segments exist, and the [[compact]] crash-safety above is about a
  * writer crashing mid-fold, not about concurrent writers. A per-writer
  * fold's transaction is HIDDEN inside the root (`.writer=<id>.publish`,
  * leading dot ⇒ invisible to partition discovery, so a concurrent
  * root reader never sees the staged fold or the retired copy as data);
  * every entry point finishes a committed one.
  *
  * COMPACTOR rule (the writer rule's other half): at most ONE
  * compactor per store (per writer subtree in the multi-writer
  * layout) — in practice the subtree's own writer, folding between
  * its appends, which the flat modes' one-writer rule already gives
  * for free. Concurrent folds of one subtree would share its
  * transaction directory, and the owner's next append drops a fold it
  * did not commit. Epoch readers get a weaker, still-loud guarantee
  * against the one racer the rule does NOT exclude (a fold landing
  * while a [[mergedAsOfEpoch]] read is in flight): the read guards
  * watermark coverage twice — before planning and again after the
  * scan's file listing is pinned — so a fold landing between them is
  * caught as a thrown coverage error, and one landing after the
  * second guard retires the listed files, failing the read's
  * execution loudly (FileNotFound on a pinned file). Neither race can
  * yield a silent-partial snapshot; eliminating even the loud window
  * needs the one-compactor rule above.
  *
  * EPOCH-COMMITTER rule: ONE coordination job commits epochs per
  * store. [[commitEpoch]]'s staging is per-attempt and its publish
  * refuses an existing destination ([[Publish.createIfAbsent]]),
  * so even racing duplicate commits lose loudly, never tear a
  * manifest — but on a filesystem with NO AbstractFileSystem binding
  * the fallback path's re-check-then-rename leaves a same-instant
  * double-commit window that cannot be closed from the old API; on
  * such schemes the single-committer rule is a hard requirement, not
  * hygiene (it is already implied by the caller's at-least-once retry
  * semantics: re-fires of YOUR OWN commit are safe in every layout —
  * spec-staged in SegmentStoreSpec).
  */
object SegmentStore {

  /** Marker file inside every committed exactly-once segment — the
    * on-disk record that this store's segment ids are caller batch
    * ids, not plain append's sequential counter (see the mode
    * contract in the class doc).
    */
  private val XoMarker = "_GRAFT_XO"

  /** Marker file inside a [[compact]] fold segment, written BEFORE the
    * commit marker publishes it. [[appendExactlyOnce]]'s crashed-partial
    * branch keys on it: a fold whose Spark `_SUCCESS` is absent (committer
    * configured with marksuccessfuljobs=false, marker stripped by
    * tooling) must still never be mistaken for a crashed partial write
    * of a re-delivered batch at the watermark id — deleting it would
    * destroy ALL folded history, not one batch's partials.
    */
  private val FoldMarker = "_GRAFT_FOLD"

  private def fs(spark: SparkSession, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A writer subtree's fold transaction: `.writer=<id>.publish` inside
    * the root ([[Publish.txnDir]] of `writer=<id>`).
    */
  private val WriterTxn = """\.(writer=.+)\.publish""".r

  /** What every entry point runs first: finish each committed
    * [[compact]] of the store at `path`, the store's own and each writer
    * subtree's. An uncommitted fold is left alone: it may still be
    * staging, and its owner's next write drops it.
    */
  private def rollForward(spark: SparkSession, path: String): Unit = {
    Publish.recover(spark, path)
    val (f, p) = fs(spark, path)
    if (f.exists(p)) f.listStatus(p).map(_.getPath.getName).foreach {
      case WriterTxn(w) => Publish.recover(spark, s"$path/$w")
      case _ =>
    }
  }

  /** Create an empty marker file (overwriting is fine — markers carry
    * no content).
    */
  private def touch(f: FileSystem, p: HPath): Unit = f.create(p, true).close()

  /** True iff any live segment is marked exactly-once. Markers are
    * uniform per store (the mode guards enforce it), so scanning the
    * policy-bounded segment list is for the one crash window where a
    * segment committed before its marker landed.
    */
  private def isXo(f: FileSystem, path: String, ids: Seq[Long]): Boolean =
    ids.exists(id => f.exists(new HPath(s"$path/seg=$id/$XoMarker")))

  /** True iff any live segment committed (job `_SUCCESS` or a fold
    * marker) — crashed partial dirs don't define the store's mode.
    */
  private def hasCommitted(f: FileSystem, path: String, ids: Seq[Long]): Boolean =
    ids.exists(id => f.exists(new HPath(s"$path/seg=$id/_SUCCESS"))
      || f.exists(new HPath(s"$path/seg=$id/$FoldMarker")))

  /** Fail loudly when `path` holds a multi-writer store and the caller
    * used a flat-layout entry point (or vice versa) — the two layouts
    * never mix (class doc).
    */
  private def requireLayout(f: FileSystem, p: HPath, wantWriter: Boolean,
      op: String): Unit = {
    if (!f.exists(p)) return
    val names = f.listStatus(p).map(_.getPath.getName)
    val hasWriter = names.exists(_.startsWith("writer="))
    val hasFlat = names.exists(_.startsWith("seg="))
    if (wantWriter) require(!hasFlat,
      s"$op: $p is a flat (single-writer) store; its segments are not writer-namespaced")
    else require(!hasWriter,
      s"$op: $p is a multi-writer store; use the writer-keyed variant")
  }

  /** Live segment ids, from the directory listing (driver-side, one
    * RPC — bounded by the segment count the compaction policy caps).
    */
  def segmentIds(spark: SparkSession, path: String): Seq[Long] = {
    rollForward(spark, path)
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("seg="))
      .map(_.stripPrefix("seg=").toLong)
      .sorted
  }

  /** Append one batch's partial rows (already aggregated per key) as a
    * new segment. Pure append: no read of existing state — the id
    * comes from one directory listing. Refuses an exactly-once store:
    * plain append's sequential ids would alias the caller-batch-id key
    * space its watermark logic depends on (mode contract, class doc).
    */
  def append(partials: DataFrame, path: String): Unit = {
    val spark = partials.sparkSession
    val (f, p) = fs(spark, path)
    Publish.recoverForWrite(spark, path) // the appender IS this path's owner
    requireLayout(f, p, wantWriter = false, "append")
    val ids = segmentIds(spark, path)
    require(!isXo(f, path, ids),
      s"append: $path is an exactly-once store (segments are caller batch ids); " +
        "plain append would alias its watermark — use appendExactlyOnce")
    val next = ids.lastOption.map(_ + 1L).getOrElse(0L)
    partials.write.mode(SaveMode.ErrorIfExists).parquet(s"$path/seg=$next")
  }

  /** EXACTLY-ONCE ingest for streaming maintenance. Structured
    * Streaming's `foreachBatch` is AT-LEAST-ONCE: after a restart the
    * last micro-batch can be re-delivered, and a plain [[append]]
    * would double-count it — the silent-corruption mode of every
    * additive store under a streaming writer. Keying the segment by
    * the caller's MONOTONE batch id (the `foreachBatch` batchId)
    * makes re-delivery a no-op instead:
    *
    *   - a committed `seg=batchId` dir (job-level `_SUCCESS`) exists
    *     ⇒ this batch already landed — skip;
    *   - the dir exists UNcommitted (writer crashed mid-write) ⇒
    *     delete and rewrite — the retry is idempotent because no
    *     reader-visible commit happened;
    *   - otherwise `batchId <=` the max live segment id ⇒ the batch
    *     landed and was since FOLDED: [[compact]] names its fold
    *     after the max id it covers (a processed-batch WATERMARK), so
    *     history collapse never forgets what was ingested;
    *   - else write `seg=batchId`.
    *
    * Returns true iff this call ingested the batch. Same single-writer
    * contract as [[append]].
    */
  def appendExactlyOnce(partials: DataFrame, path: String,
      batchId: Long): Boolean = {
    val spark = partials.sparkSession
    val (f, p) = fs(spark, path)
    Publish.recoverForWrite(spark, path) // the appender IS this path's owner
    requireLayout(f, p, wantWriter = false, "appendExactlyOnce")
    val ids = segmentIds(spark, path)
    val dst = new HPath(s"$path/seg=$batchId")
    // crashed-marker window: the XO marker lands AFTER the parquet job
    // commits _SUCCESS, so a writer dying in between leaves a committed
    // but UNMARKED segment at its own batchId. On retry that segment
    // must not be mistaken for a plain-append store (which would fail
    // the mode guard forever — the store bricked for exactly-once
    // ingest on its very first batch): when no OTHER committed segment
    // contradicts XO mode, re-touch the marker and report the batch
    // landed. (A genuine single-segment plain-append store claimed at
    // the same id is indistinguishable from this crash window; it
    // resolves the same safe way — no double write.)
    if (f.exists(new HPath(dst, "_SUCCESS"))
      && !f.exists(new HPath(dst, XoMarker))
      && !f.exists(new HPath(dst, FoldMarker))) {
      val others = ids.filterNot(_ == batchId)
      if (!hasCommitted(f, path, others) || isXo(f, path, others)) {
        touch(f, new HPath(dst, XoMarker))
        return false
      }
    }
    // mode guard: the watermark check below is only sound when every
    // live segment id IS a caller batch id — a store populated by plain
    // append would silently swallow batches 0..maxId otherwise
    require(ids.isEmpty || !hasCommitted(f, path, ids) || isXo(f, path, ids),
      s"appendExactlyOnce: $path is a plain-append store (sequential segment " +
        "ids); its ids would alias this writer's batch ids — modes never mix")
    if (f.exists(dst)) {
      // a fold is never a crashed partial, even with its _SUCCESS
      // stripped: deleting it would destroy all folded history
      if (f.exists(new HPath(dst, "_SUCCESS"))
        || f.exists(new HPath(dst, FoldMarker))) return false
      f.delete(dst, true) // crashed partial write: retry idempotently
    } else if (ids.lastOption.exists(batchId <= _)) {
      return false // at or below the fold watermark: already ingested
    }
    partials.write.mode(SaveMode.ErrorIfExists).parquet(dst.toString)
    touch(f, new HPath(dst, XoMarker))
    true
  }

  /** MULTI-WRITER exactly-once ingest: `writer`'s batch lands in its
    * own `writer=<id>/seg=<batchId>` subtree — per-writer id sequence,
    * per-writer fold watermark, zero coordination between producers
    * (the layout section of the class doc). The subtree is a flat
    * exactly-once store, so every idempotence/crash case of the
    * single-writer form holds verbatim per writer.
    */
  def appendExactlyOnce(partials: DataFrame, path: String, writer: String,
      batchId: Long): Boolean = {
    rollForward(partials.sparkSession, path)
    val (f, p) = fs(partials.sparkSession, path)
    requireLayout(f, p, wantWriter = true, "appendExactlyOnce(writer)")
    appendExactlyOnce(partials, writerPath(path, writer), batchId)
  }

  /** One writer's subtree of a multi-writer store. `writer` must be a
    * sane partition value (no separators or glob chars).
    */
  def writerPath(path: String, writer: String): String = {
    require(writer.nonEmpty && writer.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"writer id must be [A-Za-z0-9._-]+: '$writer'")
    s"$path/writer=$writer"
  }

  /** [[appendExactlyOnce]] + the [[appendWithPolicy]] fold bound — the
    * streaming-sink form: re-delivered batches are no-ops, landed
    * batches keep the live-segment count under `maxSegments`.
    */
  def appendExactlyOnceWithPolicy(partials: DataFrame, path: String,
      keys: Seq[String], sumCol: String, maxSegments: Int, batchId: Long,
      dropCancelled: Boolean = false): Boolean = {
    val landed = appendExactlyOnce(partials, path, batchId)
    if (landed && segmentIds(partials.sparkSession, path).size > maxSegments)
      compact(partials.sparkSession, path, keys, sumCol, dropCancelled)
    landed
  }

  /** The multi-writer form of [[appendExactlyOnceWithPolicy]]: the
    * fold bound holds PER WRITER (total live segments ≤ writers ×
    * `maxSegments` — each producer amortizes its own compaction, no
    * cross-producer coordination).
    */
  def appendExactlyOnceWithPolicy(partials: DataFrame, path: String,
      writer: String, keys: Seq[String], sumCol: String, maxSegments: Int,
      batchId: Long, dropCancelled: Boolean): Boolean = {
    val landed = appendExactlyOnce(partials, path, writer, batchId)
    val sub = writerPath(path, writer)
    if (landed && segmentIds(partials.sparkSession, sub).size > maxSegments)
      compact(partials.sparkSession, sub, keys, sumCol, dropCancelled)
    landed
  }

  /** Append, then fold if the store's live-segment count passed
    * `maxSegments` — the auto-compaction policy that turns the LSM
    * read-amplification trade into a hard bound. `dropCancelled`
    * forwards to [[compact]]: a store taking continuous takedowns
    * opts in so the policy's folds also reclaim retraction
    * tombstones, bounding physical size by the LIVE population
    * (plus at most `maxSegments` of un-folded churn) instead of the
    * all-time retraction history.
    */
  def appendWithPolicy(partials: DataFrame, path: String, keys: Seq[String],
      sumCol: String, maxSegments: Int,
      dropCancelled: Boolean = false): Unit = {
    append(partials, path)
    if (segmentIds(partials.sparkSession, path).size > maxSegments)
      compact(partials.sparkSession, path, keys, sumCol, dropCancelled)
  }

  /** The read-time merge: sum the partial `sumCol` across all segments
    * per `keys` row. The discovered `seg` partition column is dropped
    * by the groupBy.
    */
  def merged(spark: SparkSession, path: String, keys: Seq[String],
      sumCol: String): DataFrame = {
    rollForward(spark, path)
    spark.read.parquet(path)
      .groupBy(keys.map(col): _*)
      .agg(sum(sumCol).cast("long").as(sumCol))
  }

  /** AS-OF read: the store's logical state after segment `maxSeg`
    * landed — the snapshot/time-travel read a log-structured layout
    * gives for FREE, because history is the physical layout. `seg` is
    * the directory partition key, so the filter is PARTITION PRUNING:
    * an as-of read scans only the segments it covers, never the
    * store's full history (plan-pinned in PlanShapeSpec). This is the
    * audit read a takedown pipeline needs — "as of segment k the
    * user's rows existed; as of k+1 they are gone" — and it is what
    * [[compact]] trades away: a fold collapses history into one
    * segment named after the max id it covers (the exactly-once
    * watermark), so snapshots BELOW the fold id become unanswerable
    * (empty) — the compaction policy is also a RETENTION policy for
    * auditability.
    *
    * AS-OF IS AN ADDITIVE-STORE PROPERTY — a deliberate contract line,
    * not a gap: the KEY-REPLACE stores (the [[AnnIndex]] upsert family
    * and the funnel/retention user-hash stores) rewrite partitions in
    * place and answer "what did we hold on date X" with the present
    * only. For the GDPR stores this is REQUIRED, not merely accepted:
    * retaining pre-delete partition snapshots would keep the retracted
    * users' rows on disk and defeat the takedown itself. Their
    * auditable artifacts are the accounting trails that hold no
    * retracted payload — the tombstone/staleness ledgers, the exact
    * sidecar recounts, and (on this store) the ± retraction segments
    * until a `dropCancelled` fold reclaims them.
    */
  def mergedAsOf(spark: SparkSession, path: String, keys: Seq[String],
      sumCol: String, maxSeg: Long): DataFrame = {
    rollForward(spark, path)
    val (f, p) = fs(spark, path)
    // a multi-writer store has one watermark PER WRITER — a global
    // `seg <= k` would mix unrelated id sequences (class doc)
    requireLayout(f, p, wantWriter = false, "mergedAsOf")
    spark.read.parquet(path)
      .filter(col("seg") <= maxSeg)
      .groupBy(keys.map(col): _*)
      .agg(sum(sumCol).cast("long").as(sumCol))
  }

  /** AS-OF read of ONE writer's subtree of a multi-writer store — the
    * snapshot a per-writer batch-id watermark can answer. A global
    * cross-writer snapshot would need an epoch the store deliberately
    * doesn't impose; audit questions against a multi-writer store are
    * per-producer by construction.
    */
  def mergedAsOfWriter(spark: SparkSession, path: String, writer: String,
      keys: Seq[String], sumCol: String, maxSeg: Long): DataFrame =
    mergedAsOf(spark, writerPath(path, writer), keys, sumCol, maxSeg)

  /** GLOBAL as-of read of a multi-writer store at a VECTOR WATERMARK —
    * the cross-writer snapshot [[mergedAsOfWriter]]'s scaladoc said
    * would need an epoch: the epoch is the `writer → maxSeg` map
    * itself (writer batch-id sequences are causally independent, so a
    * consistent global snapshot IS a vector of per-writer watermarks —
    * the distributed-snapshot shape, supplied by whatever coordination
    * layer the caller has: a manifest it committed, per-topic Kafka
    * offsets, "everything as of each stream's last checkpoint").
    * Exactly the union of the per-writer snapshots: both `writer` and
    * `seg` are partition directories, so the OR-of-ANDs predicate is
    * pure PARTITION PRUNING — only the covered segment dirs are
    * scanned (the [[mergedAsOf]] plan shape per subtree). Per-writer
    * semantics are preserved verbatim: a writer folded ABOVE its
    * requested watermark contributes nothing (snapshots below a fold
    * are unanswerable — the retention trade), and a writer ABSENT from
    * the vector contributes nothing (its epoch precedes its first
    * batch). A GDPR audit over a multi-writer store is one call:
    * snapshot at the pre-takedown vector shows the rows, at the
    * post-takedown vector shows them gone.
    */
  def mergedAsOf(spark: SparkSession, path: String, keys: Seq[String],
      sumCol: String, watermarks: Map[String, Long]): DataFrame = {
    rollForward(spark, path)
    val (f, p) = fs(spark, path)
    requireLayout(f, p, wantWriter = true, "mergedAsOf(watermarks)")
    require(watermarks.nonEmpty, "mergedAsOf: empty watermark vector")
    watermarks.keys.foreach(w => writerPath(path, w)) // validate ids
    val cond = watermarks.map { case (w, s) =>
      col("writer") === lit(w) && col("seg") <= lit(s)
    }.reduce(_ || _)
    spark.read.parquet(path)
      .filter(cond)
      .groupBy(keys.map(col): _*)
      .agg(sum(sumCol).cast("long").as(sumCol))
  }

  /** The live per-writer watermark VECTOR of a multi-writer store —
    * max committed segment id per writer subtree, from directory
    * listings (driver-side, bounded by writers × the per-writer fold
    * cap). This is the "snapshot NOW" epoch for the vector-watermark
    * [[mergedAsOf]]: an audit freezes the vector first, then reads
    * against it — appends landing after the freeze take HIGHER batch
    * ids in their writer's monotone sequence, so they stay invisible
    * to the frozen snapshot by construction.
    */
  def currentWatermarks(spark: SparkSession, path: String): Map[String, Long] = {
    rollForward(spark, path)
    val (f, p) = fs(spark, path)
    requireLayout(f, p, wantWriter = true, "currentWatermarks")
    if (!f.exists(p)) return Map.empty
    f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("writer="))
      .map(_.stripPrefix("writer="))
      .flatMap { w =>
        val wp = writerPath(path, w)
        // COMMITTED segments only: a crashed partial dir (no _SUCCESS,
        // no fold marker) is not part of the store's logical state, and
        // a frozen epoch pointing at it would durably reference data
        // that was never committed
        segmentIds(spark, wp)
          .filter(id => f.exists(new HPath(s"$wp/seg=$id/_SUCCESS"))
            || f.exists(new HPath(s"$wp/seg=$id/$FoldMarker")))
          .lastOption.map(w -> _)
      }
      .toMap
  }

  /** Hidden manifest directory for COMMITTED epochs of a multi-writer
    * store. The leading dot keeps partition discovery from reading
    * manifests as a `epochs=...` partition value — the same hiding
    * rule the `.writer=<id>.publish` fold transactions use.
    */
  private def epochDir(p: HPath) = new HPath(p, ".epochs")
  private def epochFile(p: HPath, epoch: Long) =
    new HPath(epochDir(p), s"epoch-$epoch")

  /** COMMIT the store's current vector watermark as named epoch
    * `epoch` — the durable half of the vector-watermark [[mergedAsOf]]
    * contract: [[currentWatermarks]] freezes "now", this call makes
    * the frozen vector REPLAYABLE by name, so an audit months later
    * reads the same snapshot without the caller having persisted the
    * vector itself. The manifest is driver-written (writers × 1 lines,
    * KBs) and published by ONE create-if-absent rename
    * ([[Publish.createIfAbsent]]) — atomic on HDFS-like stores, so a crash
    * mid-commit leaves either no epoch or the whole epoch, never a
    * torn vector. Exactly-once under re-delivery, the
    * [[appendExactlyOnce]] discipline: an epoch id already committed
    * is a no-op returning false (the rename-lost race is the same
    * outcome — whoever lost reads the winner's identical-or-earlier
    * vector, both consistent), so a restarted coordination job can
    * re-fire its commit safely. Epoch ids are the caller's monotone
    * sequence (checkpoint ids, days); the store only requires them
    * unique.
    */
  def commitEpoch(spark: SparkSession, path: String, epoch: Long): Boolean = {
    val (f, p) = fs(spark, path)
    val vec = currentWatermarks(spark, path) // recovers + checks layout
    require(vec.nonEmpty,
      s"commitEpoch: $path has no committed writer segments to freeze")
    val dst = epochFile(p, epoch)
    if (f.exists(dst)) return false
    f.mkdirs(epochDir(p))
    // a re-fired commit racing past the exists() check above loses
    // inside the publish, so a committed epoch manifest is never
    // replaced by a later watermark vector
    Publish.createIfAbsent(f, dst, vec.toSeq.sorted
      .map { case (w, s) => s"$w\t$s\n" }.mkString.getBytes("UTF-8"))
  }

  /** Committed epoch ids, ascending — from the manifest listing
    * (driver-side, bounded by the caller's epoch cadence).
    */
  def epochs(spark: SparkSession, path: String): Seq[Long] = {
    val (f, p) = fs(spark, path)
    val d = epochDir(p)
    // strict numeric match: one stray non-numeric name ('epoch-5.bak'
    // dropped by tooling) must be ignored like the dotted '.epoch-*.tmp'
    // staging debris already is, not NumberFormatException every read.
    // Negative ids stay listable — the store requires epoch ids only
    // unique, not non-negative, and epochVector accepts what commit wrote
    val committed = "^epoch-(-?\\d+)$".r
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case committed(id) => id.toLong }
      .sorted
  }

  /** The frozen vector of a committed epoch. */
  def epochVector(spark: SparkSession, path: String,
      epoch: Long): Map[String, Long] = {
    val (f, p) = fs(spark, path)
    val src = epochFile(p, epoch)
    require(f.exists(src), s"epoch $epoch was never committed at $path")
    val in = f.open(src)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toByteArray
    } finally in.close()
    new String(bytes, "UTF-8").split("\n").iterator
      .filter(_.nonEmpty)
      .map { line =>
        val Array(w, s) = line.split("\t", 2)
        w -> s.toLong
      }.toMap
  }

  /** GLOBAL as-of read at a COMMITTED epoch — the vector-watermark
    * [[mergedAsOf]] with the vector supplied by the store's own
    * manifest instead of the caller's memory. Same read shape (union
    * of per-writer snapshots, pure partition pruning); what the
    * manifest adds is durability: the audit question "what did we
    * hold at epoch e" stays answerable after the coordination layer
    * that chose the vector is gone.
    *
    * Durability is also why this read is STRICT where the raw vector
    * read is not: a fold above a writer's epoch watermark collapsed
    * the history the epoch points into (folds merge ALL live
    * segments, so any fold id > e swallowed the <= e view), and the
    * raw read's "that writer contributes nothing" convention would
    * here return a silently partial audit against a manifest that
    * promises the whole snapshot. So compaction past a committed
    * epoch makes this read fail LOUDLY — the retention coupling is a
    * policy choice the operator sees: either keep folds at/below
    * committed epochs, or [[retireEpoch]] first. An operator who
    * wants the partial per-writer view can still read
    * [[epochVector]] and call the raw [[mergedAsOf]].
    */
  def mergedAsOfEpoch(spark: SparkSession, path: String, keys: Seq[String],
      sumCol: String, epoch: Long): DataFrame = {
    val vec = epochVector(spark, path, epoch)
    def guard(): Unit = vec.foreach { case (w, e) =>
      val (f, _) = fs(spark, path)
      val wp = writerPath(path, w)
      val ids = segmentIds(spark, wp)
      val foldAbove = ids.filter(_ > e)
        .filter(id => f.exists(new HPath(s"$wp/seg=$id/$FoldMarker")))
      require(foldAbove.isEmpty,
        s"epoch $epoch is no longer answerable: writer '$w' compacted to " +
          s"fold seg=${foldAbove.head} above the epoch's watermark $e — " +
          s"retention policy must keep folds at/below committed epochs " +
          s"(or retireEpoch before folding)")
      // the watermark segment itself must still be addressable: a
      // vanished writer subtree (or its covered segments removed
      // without a fold — retention tooling bypassing the store) would
      // otherwise read as "contributes nothing" and return a silently
      // partial audit. Folding keeps the max covered id, so a healthy
      // history always holds seg e (as itself or as the fold at e).
      require(ids.contains(e),
        s"epoch $epoch is no longer answerable: writer '$w' has no live " +
          s"segment at its committed watermark $e (subtree removed or " +
          s"segments deleted outside the store's fold discipline)")
    }
    guard()
    val snap = mergedAsOf(spark, path, keys, sumCol, vec)
    // Guard a SECOND time after the scan's file listing is resolved:
    // the plan above pins the concrete parquet files it will read, so
    // a compaction landing between the first guard and plan
    // construction — the listing-pass TOCTOU — is caught here instead
    // of yielding the silent-partial snapshot the guard exists to
    // prevent. Remaining window (documented contract, not a check): a
    // fold that lands AFTER this returns retires the writer subtree
    // (into its hidden transaction directory, then deleted), so the
    // caller's later action fails loudly — FileNotFound on a pinned
    // file — never as a silent-partial snapshot. Eliminating even that
    // loud window needs the single-compactor-per-writer-path discipline
    // the store's fold already assumes.
    snap.queryExecution.executedPlan // force listing + plan resolution
    guard()
    snap
  }

  /** Retire a committed epoch — the retention policy's other half:
    * once an audit window closes, dropping the manifest is what frees
    * compaction to fold past its watermark without tripping
    * [[mergedAsOfEpoch]]'s durability guard. Returns false when the
    * epoch was never committed (idempotent under re-delivery, like
    * [[commitEpoch]]).
    */
  def retireEpoch(spark: SparkSession, path: String, epoch: Long): Boolean = {
    val (f, p) = fs(spark, path)
    f.delete(epochFile(p, epoch), false)
  }

  /** Per-segment row counts — the monitoring report that drives (and
    * audits) the compaction policy. Output is one row per live
    * segment: bounded by the policy itself.
    */
  def segmentStats(spark: SparkSession, path: String): DataFrame = {
    rollForward(spark, path)
    val df = spark.read.parquet(path)
    // multi-writer layout: report per (writer, segment) — collapsing
    // across writers would hide exactly the per-producer amplification
    // the per-writer fold policy bounds
    val grouped =
      if (df.columns.contains("writer"))
        df.groupBy(col("writer"), col("seg").cast("long").as("seg"))
      else df.groupBy(col("seg").cast("long").as("seg"))
    grouped.agg(count(lit(1)).as("n_rows"))
  }

  /** Retraction-tombstone report — the health probe that turns
    * [[compact]]'s `dropCancelled` reclaim into a policy, the same
    * stats-as-trigger discipline as [[segmentStats]] for the segment
    * bound (and pq_code_stats / rel_funnel_bloom_stats for their
    * structures). ONE row: distinct keys in the logical view, keys
    * whose partials cancel exactly to zero (tombstones — dead weight
    * every read re-merges and a plain fold carries forever), keys
    * summing negative (over-retraction evidence — never reclaimed),
    * and the store's physical row count (the amplification the
    * tombstone mass adds on top of the segment count). `tombstone_due`
    * fires on any fully-cancelled key; both scans are
    * column-pruned aggregates over the store, safe at any scale.
    */
  def tombstoneStats(spark: SparkSession, path: String, keys: Seq[String],
      sumCol: String): DataFrame = {
    val logical = merged(spark, path, keys, sumCol) // rolls forward first
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col(sumCol) === 0, 1).otherwise(0)).cast("long")
          .as("n_cancelled"),
        sum(when(col(sumCol) < 0, 1).otherwise(0)).cast("long")
          .as("n_negative"))
    val physical = spark.read.parquet(path)
      .agg(count(lit(1)).cast("long").as("physical_rows"))
    logical.crossJoin(broadcast(physical)) // 1-row × 1-row
      .withColumn("tombstone_due", col("n_cancelled") > 0)
  }

  /** Fold all segments into one, as one [[Publish]] transaction that
    * replaces the store: the fold never overwrites its own input, and a
    * read sees the old segments or the fold (see class doc).
    *
    * `dropCancelled = true` additionally removes keys whose partials
    * sum EXACTLY to zero — the physical reclaim for retraction
    * tombstones (a retracted key's ± rows otherwise survive every
    * fold as a zero row, so a store that takes continuous takedowns
    * grows with its retraction history, not its live population).
    * Opting in asserts the store's semantics treat a zero total as
    * "never existed" (the reference's own prune filter, goforget
    * redis_utils.go:163-166, reads counters that way). NEGATIVE
    * totals are never dropped: a key retracted harder than it was
    * ingested is evidence of a double-takedown upstream, and folding
    * it away would silently absorb the next legitimate ingest.
    */
  def compact(spark: SparkSession, path: String, keys: Seq[String],
      sumCol: String, dropCancelled: Boolean = false): Unit = {
    rollForward(spark, path)
    val (f, p) = fs(spark, path)
    requireLayout(f, p, wantWriter = false, "compact")
    Publish.commit(spark, path) { txn =>
      // the fold keeps the MAX id it covers as its name — the
      // processed-batch watermark [[appendExactlyOnce]] checks, so
      // collapsing history never forgets which batch ids landed
      val ids = segmentIds(spark, path)
      val foldDir = s"$txn/fold/seg=${ids.lastOption.getOrElse(0L)}"
      val folded = merged(spark, path, keys, sumCol)
      (if (dropCancelled) folded.filter(col(sumCol) =!= 0) else folded)
        .write.parquet(foldDir)
      // markers land BEFORE the commit point: detectable as a fold (never
      // a crashed partial) independent of Spark's _SUCCESS, and the
      // store's exactly-once mode survives the collapse
      touch(f, new HPath(foldDir, FoldMarker))
      if (isXo(f, path, ids)) touch(f, new HPath(foldDir, XoMarker))
      Seq(Publish.replace(s"$txn/fold", path))
    }
  }

  /** [[compact]] of one writer's subtree of a multi-writer store — the
    * fold, its watermark, and the crash-safe publish all scope to that
    * writer; other producers ingest concurrently. The transaction is the
    * hidden `.writer=<id>.publish` inside the root, which partition
    * discovery skips, so a root reader while the fold stages, or after
    * it crashed, sees the old subtree or the fold, never neither.
    */
  def compactWriter(spark: SparkSession, path: String, writer: String,
      keys: Seq[String], sumCol: String,
      dropCancelled: Boolean = false): Unit =
    compact(spark, writerPath(path, writer), keys, sumCol, dropCancelled)
}
