package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SegmentStore

/** Log-structured segment mechanics: one seg=N directory per append,
  * read-time merge across segments, the auto-compaction policy's hard
  * bound, and the compact published through [[graft.sources.Publish]]
  * (no in-place overwrite: a full copy of the store exists at every
  * instant, and no staging survives a successful fold).
  */
class SegmentStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private def tmpStore = Files.createTempDirectory("graft_seg_").toString + "/segments"

  private def batch(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("k", "c")
  }

  test("append creates one segment per batch; merged sums partials per key") {
    val path = tmpStore
    SegmentStore.append(batch("a" -> 1L, "b" -> 2L), path)
    SegmentStore.append(batch("a" -> 10L), path)
    assert(SegmentStore.segmentIds(spark, path) == Seq(0L, 1L))
    val m = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(m.toSeq == Seq("a" -> 11L, "b" -> 2L))
  }

  test("segmentStats reports rows per live segment") {
    val path = tmpStore
    SegmentStore.append(batch("a" -> 1L, "b" -> 2L), path)
    SegmentStore.append(batch("c" -> 3L), path)
    val st = SegmentStore.segmentStats(spark, path)
      .orderBy("seg").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(st.toSeq == Seq(0L -> 2L, 1L -> 1L))
  }

  test("appendWithPolicy folds past the bound: live segments stay bounded, counts survive") {
    val path = tmpStore
    (1 to 5).foreach { i =>
      SegmentStore.appendWithPolicy(batch("a" -> i.toLong), path,
        Seq("k"), "c", maxSegments = 2)
      assert(SegmentStore.segmentIds(spark, path).size <= 2,
        s"policy let segment count escape its bound after append $i")
    }
    // trace: 1,2,3->fold->1,2,3->fold->1
    assert(SegmentStore.segmentIds(spark, path).size == 1)
    val m = SegmentStore.merged(spark, path, Seq("k"), "c").collect()
    assert(m.length == 1 && m.head.getLong(1) == 15L)
  }

  test("streaming foreachBatch maintenance: per-micro-batch policy appends converge to the one-shot counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmpStore
    // events stream in; each micro-batch pre-aggregates its partial
    // counts and lands through the auto-compaction policy — the
    // streaming write path of the additive-aggregate store
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val stream = mem.toDF().toDF("id")
      .select(concat(lit("k"), pmod(col("id"), lit(7))).as("k"))
    var lastBatch: (org.apache.spark.sql.DataFrame, Long) = null
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val partials = batch.groupBy("k").agg(count(lit(1)).as("c"))
          .localCheckpoint(true) // survives past the micro-batch for the replay below
        lastBatch = (partials, batchId)
        SegmentStore.appendExactlyOnceWithPolicy(partials, path,
          Seq("k"), "c", maxSegments = 2, batchId = batchId)
        () // foreachBatch wants Unit
      }.start()
    try {
      (0 until 4).foreach { i =>
        mem.addData(i * 25L until (i + 1) * 25L: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // the restart case foreachBatch documents: the last micro-batch is
    // RE-DELIVERED — the exactly-once sink must make it a no-op
    assert(!SegmentStore.appendExactlyOnceWithPolicy(lastBatch._1, path,
      Seq("k"), "c", maxSegments = 2, batchId = lastBatch._2),
      "re-delivered micro-batch was ingested twice")
    assert(SegmentStore.segmentIds(spark, path).size <= 2,
      "policy let streaming segments escape the bound")
    val got = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = spark.range(100)
      .select(concat(lit("k"), pmod(col("id"), lit(7))).as("k"))
      .groupBy("k").agg(count(lit(1)).cast("long").as("c"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, "streamed partial sums diverged from the one-shot counts")
  }

  test("streaming BM25 stats maintenance: foreachBatch ingests converge to the one-shot report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the retrieval-stats model maintained FROM A STREAM: documents
    // arrive as micro-batches, each foreachBatch calls the SAME ingest
    // the batch staging uses (bm25IngestStats — additive melt +
    // zero-read append), and scoring against the reconstructed stats
    // row must equal the one-shot text_bm25 report byte-for-byte
    val dir = "/root/testdata/sf0.001"
    val path = tmpStore
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text").localCheckpoint(true)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = mem.toDF().toDF("batch_no").writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // each stream element names a day-slice of the crawl
        b.collect().foreach { r =>
          val day = r.getLong(0)
          graft.queries.TextQueries.bm25IngestStats(
            graft.queries.TextQueries.bm25Base(
              docs.filter(col("doc_id") % 3 === day)), path,
            batchId = day) // exactly-once: keyed by the stream's batch id
        }
      }.start()
    try {
      (0L until 3L).foreach { d => mem.addData(d); q.processAllAvailable() }
    } finally q.stop()
    // re-delivery of the last day (the foreachBatch restart case) must
    // not double-count the additive stats
    graft.queries.TextQueries.bm25IngestStats(
      graft.queries.TextQueries.bm25Base(
        docs.filter(col("doc_id") % 3 === 2L)), path, batchId = 2L)
    val streamed = graft.queries.TextQueries.bm25Score(
        graft.queries.TextQueries.bm25Base(docs),
        graft.queries.TextQueries.bm25StatsFromStore(spark, path))
      .collect().map(_.toSeq).toSeq
    val oneShot = graft.queries.TextQueries.queries("text_bm25")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(oneShot.nonEmpty && streamed == oneShot,
      "stream-maintained BM25 stats diverged from the one-shot report")
  }

  test("zero-drop compact reclaims exactly the cancelled keys, keeps negatives as evidence") {
    val path = tmpStore
    SegmentStore.append(batch("a" -> 5L, "b" -> 3L), path)
    // retraction: a fully cancelled, b partially, c over-retracted
    SegmentStore.append(batch("a" -> -5L, "b" -> -1L, "c" -> -2L), path)
    val pre = SegmentStore.tombstoneStats(spark, path, Seq("k"), "c").head()
    assert((pre.getLong(0), pre.getLong(1), pre.getLong(2), pre.getLong(3),
      pre.getBoolean(4)) == ((3L, 1L, 1L, 5L, true)),
      s"pre-compact tombstone report wrong: $pre")
    SegmentStore.compact(spark, path, Seq("k"), "c", dropCancelled = true)
    // physical: only b (live) and c (negative — evidence, never dropped)
    val post = SegmentStore.tombstoneStats(spark, path, Seq("k"), "c").head()
    assert((post.getLong(0), post.getLong(1), post.getLong(2),
      post.getLong(3), post.getBoolean(4)) == ((2L, 0L, 1L, 2L, false)),
      s"post-compact tombstone report wrong: $post")
    val m = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(m.toSeq == Seq("b" -> 2L, "c" -> -2L))
    // a later legitimate ingest of the over-retracted key lands on the
    // surviving negative balance instead of being silently absorbed
    SegmentStore.append(batch("c" -> 3L), path)
    val c = SegmentStore.merged(spark, path, Seq("k"), "c")
      .filter(col("k") === "c").head().getLong(1)
    assert(c == 1L, "negative balance was not preserved across the fold")
  }

  test("appendWithPolicy(dropCancelled): the policy's own folds reclaim cancelled keys") {
    val path = tmpStore
    def land(b: org.apache.spark.sql.DataFrame): Unit =
      SegmentStore.appendWithPolicy(b, path, Seq("k"), "c",
        maxSegments = 2, dropCancelled = true)
    land(batch("a" -> 1L))
    land(batch("a" -> -1L, "b" -> 2L)) // takedown of a rides batch 2
    land(batch("c" -> 3L)) // 3 segments > 2: policy fires the fold
    assert(SegmentStore.segmentIds(spark, path).size == 1)
    val st = SegmentStore.tombstoneStats(spark, path, Seq("k"), "c").head()
    assert(st.getLong(1) == 0L && st.getLong(3) == 2L,
      s"policy fold did not reclaim the cancelled key: $st")
  }

  test("as-of reads replay the store's history; the takedown timeline is auditable") {
    val path = tmpStore
    SegmentStore.append(batch("a" -> 1L), path)
    SegmentStore.append(batch("a" -> 2L, "b" -> 4L), path)
    SegmentStore.append(batch("a" -> -3L), path) // the takedown of a
    def asOf(k: Long) = SegmentStore
      .mergedAsOf(spark, path, Seq("k"), "c", k)
      .filter(col("c") > 0)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(asOf(0L) == Seq("a" -> 1L))
    assert(asOf(1L) == Seq("a" -> 3L, "b" -> 4L))
    // as of the takedown segment, a is gone — and the full merged read
    // (the present) agrees with the last snapshot
    assert(asOf(2L) == Seq("b" -> 4L))
    val now = SegmentStore.merged(spark, path, Seq("k"), "c")
      .filter(col("c") > 0)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(now == asOf(2L))
  }

  test("compaction is the audit-retention policy: a fold collapses as-of history to its watermark") {
    val path = tmpStore
    SegmentStore.append(batch("a" -> 1L), path)
    SegmentStore.append(batch("a" -> 2L), path)
    SegmentStore.compact(spark, path, Seq("k"), "c")
    // the fold keeps the max covered id (1) as its name: snapshots
    // BELOW it are unanswerable (history gone, by design — the store
    // contract states compaction cadence bounds auditability), and
    // snapshots at/after it equal the present
    assert(SegmentStore.segmentIds(spark, path) == Seq(1L))
    def asOf(k: Long) = SegmentStore
      .mergedAsOf(spark, path, Seq("k"), "c", k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(asOf(0L).isEmpty)
    assert(asOf(1L) == Seq("a" -> 3L))
  }

  test("appendExactlyOnce: re-delivered batches are no-ops, before AND after a fold") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, 0L))
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 2L, "b" -> 5L), path, 1L))
    // the at-least-once case: batch 1 re-delivered after a restart
    assert(!SegmentStore.appendExactlyOnce(batch("a" -> 2L, "b" -> 5L), path, 1L))
    SegmentStore.compact(spark, path, Seq("k"), "c")
    // re-delivery BELOW the fold watermark: still a no-op (the fold's
    // name remembers the max batch id it covers)
    assert(!SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, 0L))
    assert(!SegmentStore.appendExactlyOnce(batch("a" -> 2L, "b" -> 5L), path, 1L))
    // a genuinely new batch still lands
    assert(SegmentStore.appendExactlyOnce(batch("c" -> 7L), path, 2L))
    val m = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(m.toSeq == Seq("a" -> 3L, "b" -> 5L, "c" -> 7L),
      "exactly-once ingest double- or under-counted")
  }

  test("appendExactlyOnce: a crashed partial write (no _SUCCESS) is retried, a committed one is not") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, 0L))
    // simulate a writer that died mid-write of batch 1: dir exists,
    // data junk present, no job-level _SUCCESS marker
    val crashed = new java.io.File(s"$path/seg=1")
    assert(crashed.mkdirs())
    java.nio.file.Files.write(crashed.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(SegmentStore.appendExactlyOnce(batch("b" -> 4L), path, 1L),
      "uncommitted partial dir must be retried")
    val m = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(m.toSeq == Seq("a" -> 1L, "b" -> 4L))
  }

  test("as-of read is partition-pruned on seg: history beyond the snapshot is never scanned") {
    val path = tmpStore
    SegmentStore.append(batch("a" -> 1L), path)
    SegmentStore.append(batch("a" -> 2L), path)
    SegmentStore.append(batch("a" -> 4L), path)
    val plan = SegmentStore.mergedAsOf(spark, path, Seq("k"), "c", 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("(seg"), plan.take(4000))
  }

  test("plain compact keeps zero rows; zero-drop is the explicit opt-in") {
    val path = tmpStore
    SegmentStore.append(batch("a" -> 4L), path)
    SegmentStore.append(batch("a" -> -4L), path)
    SegmentStore.compact(spark, path, Seq("k"), "c")
    val st = SegmentStore.tombstoneStats(spark, path, Seq("k"), "c").head()
    assert(st.getLong(1) == 1L && st.getLong(3) == 1L && st.getBoolean(4),
      "plain compact must carry the tombstone (zero-drop is opt-in)")
  }

  test("compact swaps via a sibling temp dir and leaves no staging debris") {
    val path = tmpStore
    SegmentStore.append(batch("a" -> 1L), path)
    SegmentStore.append(batch("a" -> 2L, "b" -> 7L), path)
    SegmentStore.compact(spark, path, Seq("k"), "c")
    assert(SegmentStore.segmentIds(spark, path) == Seq(1L)) // fold keeps the watermark id
    val m = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(m.toSeq == Seq("a" -> 3L, "b" -> 7L))
    // no transaction directory survives
    val parent = new java.io.File(path).getParentFile
    val names = parent.listFiles.map(_.getName).toSet
    assert(names == Set("segments"), s"staging debris: $names")
  }

  test("multi-writer exactly-once: interleaved producers with re-delivery converge bit-exactly to the union one-shot") {
    val path = tmpStore
    // two producers, each with its OWN batch-id sequence, interleaved;
    // writer A's batch 1 and writer B's batch 0 are re-delivered
    // (at-least-once foreachBatch after restarts)
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, "w-a", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("b" -> 5L), path, "w-b", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 2L), path, "w-a", 1L))
    assert(!SegmentStore.appendExactlyOnce(batch("b" -> 5L), path, "w-b", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("b" -> 7L, "c" -> 1L), path, "w-b", 1L))
    assert(!SegmentStore.appendExactlyOnce(batch("a" -> 2L), path, "w-a", 1L))
    assert(SegmentStore.appendExactlyOnce(batch("c" -> 2L), path, "w-b", 2L))
    val m = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    // == the one-shot union of every batch exactly once
    assert(m.toSeq == Seq("a" -> 3L, "b" -> 12L, "c" -> 3L),
      "multi-writer ingest double- or under-counted")
  }

  test("multi-writer: per-writer folds keep per-writer watermarks; re-delivery below each fold is a no-op") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, "wa", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 2L), path, "wa", 1L))
    assert(SegmentStore.appendExactlyOnce(batch("b" -> 4L), path, "wb", 0L))
    SegmentStore.compactWriter(spark, path, "wa", Seq("k"), "c")
    // wa folded at watermark 1; wb untouched
    assert(SegmentStore.segmentIds(spark,
      SegmentStore.writerPath(path, "wa")) == Seq(1L))
    assert(SegmentStore.segmentIds(spark,
      SegmentStore.writerPath(path, "wb")) == Seq(0L))
    // re-delivery below wa's fold: no-op; wb's OWN ids are unaffected
    // by wa's watermark (the aliasing a shared flat sequence would hit)
    assert(!SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, "wa", 0L))
    assert(!SegmentStore.appendExactlyOnce(batch("a" -> 2L), path, "wa", 1L))
    assert(SegmentStore.appendExactlyOnce(batch("b" -> 6L), path, "wb", 1L))
    val m = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(m.toSeq == Seq("a" -> 3L, "b" -> 10L))
    // per-writer as-of: wb's history is still replayable
    val asOf0 = SegmentStore.mergedAsOfWriter(spark, path, "wb", Seq("k"), "c", 0L)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(asOf0.toSeq == Seq("b" -> 4L))
  }

  test("a fold whose _SUCCESS was stripped is never deleted by a re-delivered batch at the watermark id") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, 0L))
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 2L, "b" -> 5L), path, 1L))
    SegmentStore.compact(spark, path, Seq("k"), "c")
    // committer configured without job markers / marker stripped by
    // tooling: the fold dir has data but no Spark _SUCCESS
    val success = new java.io.File(s"$path/seg=1/_SUCCESS")
    assert(!success.exists() || success.delete())
    // batch 1 re-delivered: without the fold marker this branch would
    // treat the fold as a crashed partial of batch 1, delete ALL folded
    // history, and replace it with one batch's partials
    assert(!SegmentStore.appendExactlyOnce(batch("a" -> 2L, "b" -> 5L), path, 1L))
    val m = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(m.toSeq == Seq("a" -> 3L, "b" -> 5L),
      "re-delivery at the watermark id destroyed the fold")
  }

  test("modes never mix: plain append onto an exactly-once store (and vice versa) fails loudly") {
    val xoPath = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), xoPath, 0L))
    val e1 = intercept[IllegalArgumentException] {
      SegmentStore.append(batch("b" -> 2L), xoPath)
    }
    assert(e1.getMessage.contains("exactly-once"))
    // ... and the aliasing direction the watermark check cannot see:
    // plain append named segments 0..n itself, so a fresh stream's
    // batch 0..n would be silently skipped as "already landed"
    val plainPath = tmpStore
    SegmentStore.append(batch("a" -> 1L), plainPath)
    SegmentStore.append(batch("a" -> 2L), plainPath)
    val e2 = intercept[IllegalArgumentException] {
      SegmentStore.appendExactlyOnce(batch("b" -> 3L), plainPath, 0L)
    }
    assert(e2.getMessage.contains("plain-append"))
    // the xo mode survives compaction (the fold re-marks itself)
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 2L), xoPath, 1L))
    SegmentStore.compact(spark, xoPath, Seq("k"), "c")
    intercept[IllegalArgumentException] {
      SegmentStore.append(batch("c" -> 1L), xoPath)
    }
  }

  test("layouts never mix: flat entry points reject a multi-writer store and vice versa") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, "w0", 0L))
    intercept[IllegalArgumentException] {
      SegmentStore.append(batch("b" -> 2L), path)
    }
    intercept[IllegalArgumentException] {
      SegmentStore.appendExactlyOnce(batch("b" -> 2L), path, 0L)
    }
    intercept[IllegalArgumentException] {
      SegmentStore.compact(spark, path, Seq("k"), "c")
    }
    intercept[IllegalArgumentException] {
      SegmentStore.mergedAsOf(spark, path, Seq("k"), "c", 0L)
    }
    val flat = tmpStore
    SegmentStore.append(batch("a" -> 1L), flat)
    intercept[IllegalArgumentException] {
      SegmentStore.appendExactlyOnce(batch("b" -> 2L), flat, "w0", 0L)
    }
  }

  private def mergedRows(path: String): Seq[(String, Long)] =
    SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  test("a crashed per-writer fold swap rolls forward on the next store access; hidden staging is invisible to readers") {
    CrashFs.register(spark)
    val local = tmpStore
    val path = s"crash://$local"
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, "wa", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 2L), path, "wa", 1L))
    assert(SegmentStore.appendExactlyOnce(batch("b" -> 2L), path, "wb", 0L))
    // crash past the commit marker, at the move that puts the fold in
    // place: wa's live subtree is retired into its hidden transaction
    CrashFs.crashWhere(CrashFs.renameOnto(s"$path/writer=wa")) {
      SegmentStore.compactWriter(spark, path, "wa", Seq("k"), "c")
    }
    val live = new java.io.File(s"$local/writer=wa")
    val txn = new java.io.File(s"$local/.writer=wa.publish")
    assert(!live.exists() && txn.exists())
    // a root read rolls the fold forward and sees the full store
    assert(mergedRows(path) == Seq("a" -> 3L, "b" -> 2L))
    assert(live.exists() && !txn.exists())
    assert(SegmentStore.segmentIds(spark, SegmentStore.writerPath(path, "wa")) == Seq(1L))
  }

  test("multi-writer policy appends: the fold bound holds per writer; counts survive") {
    val path = tmpStore
    (0 until 5).foreach { i =>
      assert(SegmentStore.appendExactlyOnceWithPolicy(batch("a" -> 1L), path,
        "wa", Seq("k"), "c", 2, i.toLong, false))
      assert(SegmentStore.appendExactlyOnceWithPolicy(batch("b" -> 1L), path,
        "wb", Seq("k"), "c", 2, i.toLong, false))
      assert(SegmentStore.segmentIds(spark,
        SegmentStore.writerPath(path, "wa")).size <= 2)
      assert(SegmentStore.segmentIds(spark,
        SegmentStore.writerPath(path, "wb")).size <= 2)
    }
    val m = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(m.toSeq == Seq("a" -> 5L, "b" -> 5L))
    // the per-(writer, segment) amplification report
    val st = SegmentStore.segmentStats(spark, path).collect()
    assert(st.forall(_.length == 3) && st.nonEmpty)
  }

  test("two concurrent streams share one store through writer namespaces; converge to the one-shot union") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmpStore
    // the 100 TB/day shape: one store, one writer per source partition,
    // each stream's foreachBatch keyed by ITS OWN batch ids — no
    // coordination, and a re-delivered micro-batch on either stream is
    // a no-op within that writer's namespace only
    def sink(writer: String) = { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      SegmentStore.appendExactlyOnceWithPolicy(
        batch.groupBy("k").agg(count(lit(1)).as("c")), path, writer,
        Seq("k"), "c", 2, batchId, false)
      ()
    }
    val memA = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val memB = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    def toKeys(df: org.apache.spark.sql.DataFrame) =
      df.select(concat(lit("k"), pmod(col("value"), lit(5))).as("k"))
    val qA = toKeys(memA.toDF()).writeStream.outputMode("append")
      .foreachBatch(sink("src-a")).start()
    val qB = toKeys(memB.toDF()).writeStream.outputMode("append")
      .foreachBatch(sink("src-b")).start()
    try {
      (0 until 3).foreach { i =>
        memA.addData(i * 20L until (i + 1) * 20L: _*)
        memB.addData(i * 10L until (i + 1) * 10L: _*)
        qA.processAllAvailable(); qB.processAllAvailable()
      }
    } finally { qA.stop(); qB.stop() }
    val got = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = toKeys(spark.range(60).select(col("id").as("value")))
      .unionByName(toKeys(spark.range(30).select(col("id").as("value"))))
      .groupBy("k").agg(count(lit(1)).cast("long").as("c"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, "concurrent writers diverged from the one-shot union")
  }

  test("epochs freeze COMMITTED state only: crashed partials don't advance the vector; a vanished subtree fails the read loudly") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> 3L), path, "wa", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("u2" -> 1L), path, "wb", 0L))
    // a crashed partial write: seg dir present, no _SUCCESS, no fold
    // marker — not part of the store's logical state, and a durable
    // epoch must not point at it
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$path/writer=wa/seg=7"))
    assert(SegmentStore.currentWatermarks(spark, path) ==
      Map("wa" -> 0L, "wb" -> 0L), "crashed partial advanced the vector")
    assert(SegmentStore.commitEpoch(spark, path, 0L))
    assert(SegmentStore.epochVector(spark, path, 0L) ==
      Map("wa" -> 0L, "wb" -> 0L))
    assert(SegmentStore
      .mergedAsOfEpoch(spark, path, Seq("k"), "c", 0L)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq("u1" -> 3L, "u2" -> 1L))
    // retention tooling removes a writer's subtree outside the store's
    // fold discipline: the committed epoch must fail loudly, not read
    // as "that writer contributes nothing"
    f.delete(new org.apache.hadoop.fs.Path(s"$path/writer=wb"), true)
    val e = intercept[IllegalArgumentException] {
      SegmentStore.mergedAsOfEpoch(spark, path, Seq("k"), "c", 0L)
    }
    assert(e.getMessage.contains("no live segment"), e.getMessage)
  }

  test("epoch durability guard: compaction past a committed epoch fails the epoch read LOUDLY; retireEpoch frees the fold") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> 3L), path, "wa", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("u2" -> 1L), path, "wa", 1L))
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> 2L), path, "wb", 0L))
    assert(SegmentStore.commitEpoch(spark, path, 0L)) // (wa -> 1, wb -> 0)
    def snapAt(e: Long) =
      SegmentStore.mergedAsOfEpoch(spark, path, Seq("k"), "c", e)
        .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(snapAt(0L) == Seq("u1" -> 5L, "u2" -> 1L))
    // a fold AT the epoch's watermark keeps it answerable (fold id ==
    // max covered id == the watermark)
    SegmentStore.compactWriter(spark, path, "wa", Seq("k"), "c")
    assert(snapAt(0L) == Seq("u1" -> 5L, "u2" -> 1L))
    // wa ingests past the epoch and folds again: the new fold's id is
    // ABOVE epoch 0's wa watermark — the <= 1 history is collapsed and
    // the epoch read must fail loudly, not return a partial audit
    assert(SegmentStore.appendExactlyOnce(batch("u3" -> 7L), path, "wa", 2L))
    SegmentStore.compactWriter(spark, path, "wa", Seq("k"), "c")
    val e = intercept[IllegalArgumentException] { snapAt(0L) }
    assert(e.getMessage.contains("no longer answerable") &&
      e.getMessage.contains("retention"), e.getMessage)
    // the raw vector read keeps its documented partial-view convention
    val partial = SegmentStore
      .mergedAsOf(spark, path, Seq("k"), "c", Map("wa" -> 1L, "wb" -> 0L))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(partial == Seq("u1" -> 2L)) // wb only: wa folded above 1
    // retiring the epoch is the operator's sanctioned way out
    assert(SegmentStore.retireEpoch(spark, path, 0L))
    assert(!SegmentStore.retireEpoch(spark, path, 0L)) // idempotent
    assert(SegmentStore.epochs(spark, path).isEmpty)
    intercept[IllegalArgumentException] { snapAt(0L) } // never committed now
    // a FRESH epoch at the post-fold frontier answers cleanly
    assert(SegmentStore.commitEpoch(spark, path, 1L))
    assert(snapAt(1L) == Seq("u1" -> 5L, "u2" -> 1L, "u3" -> 7L))
  }

  test("epoch listing tolerates tooling debris; duplicate commits never replace a committed manifest") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> 3L), path, "wa", 0L))
    assert(SegmentStore.commitEpoch(spark, path, 0L))
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stray non-numeric names next to real manifests (an 'epoch-0.bak'
    // dropped by backup tooling) must be IGNORED like the dotted
    // staging debris, not NumberFormatException every epoch read
    Seq("epoch-0.bak", "epoch-x", "README").foreach { n =>
      val o = f.create(new org.apache.hadoop.fs.Path(s"$path/.epochs/$n"), true)
      try o.write("junk".getBytes("UTF-8")) finally o.close()
    }
    assert(SegmentStore.epochs(spark, path) == Seq(0L))
    assert(SegmentStore.epochVector(spark, path, 0L) == Map("wa" -> 0L))
    // the watermark moves, then epoch 0 is RE-committed (an at-least-
    // once coordination job re-firing): the duplicate must lose — the
    // manifest keeps the ORIGINAL vector, replayable identically
    assert(SegmentStore.appendExactlyOnce(batch("u2" -> 1L), path, "wa", 1L))
    assert(!SegmentStore.commitEpoch(spark, path, 0L))
    assert(SegmentStore.epochVector(spark, path, 0L) == Map("wa" -> 0L),
      "a re-fired commit replaced a committed epoch manifest")
    // and no staging debris survives the lost commit
    val names = f.listStatus(new org.apache.hadoop.fs.Path(s"$path/.epochs"))
      .map(_.getPath.getName).toSet
    assert(!names.exists(_.endsWith(".tmp")), names.toString)
  }

  test("commitEpoch same-instant race: the publish primitive itself refuses an existing destination (single-committer is hygiene here, a hard rule only on no-AbstractFileSystem schemes)") {
    // Stage the race the exists() pre-check cannot see: a second
    // committer that already passed the check and holds a staged tmp
    // when the winner's manifest lands. On every scheme with an
    // AbstractFileSystem binding (file:// included), the publish is
    // FileContext.rename(Rename.NONE), which refuses the existing
    // destination — so the loser fails loudly INSIDE the rename and
    // the winner's manifest survives byte-identical. This is the
    // property the class doc's EPOCH-COMMITTER rule leans on; the
    // documented residual window exists only where this primitive is
    // unavailable (UnsupportedFileSystemException fallback).
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> 3L), path, "wa", 0L))
    assert(SegmentStore.commitEpoch(spark, path, 0L)) // the winner
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(s"$path/.epochs/epoch-0")
    val f = dst.getFileSystem(conf)
    val before = {
      val in = f.open(dst)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
    }
    // the loser's per-attempt staged tmp, carrying a LATER vector
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.epochs/.epoch-0.racer.tmp")
    val out = f.create(tmp, true)
    try out.write("wa\t99\n".getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
    intercept[Exception] {
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
    }
    val after = {
      val in = f.open(dst)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
    }
    assert(after == before,
      "the racing publish replaced a committed epoch manifest")
    assert(SegmentStore.epochVector(spark, path, 0L) == Map("wa" -> 0L))
  }

  test("epoch commits over live streams: the coordination job freezes consistent snapshots between micro-batch rounds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmpStore
    // the deployed shape: writer streams ingest with zero coordination;
    // a separate coordination job calls commitEpoch at its own cadence
    // ("everything as of each stream's last checkpoint") — snapshots
    // stay answerable long after that job is gone
    def sink(writer: String) = { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      SegmentStore.appendExactlyOnce(
        batch.groupBy("k").agg(count(lit(1)).as("c")), path, writer, batchId)
      ()
    }
    val memA = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val memB = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    def toKeys(df: org.apache.spark.sql.DataFrame) =
      df.select(concat(lit("k"), pmod(col("value"), lit(5))).as("k"))
    val qA = toKeys(memA.toDF()).writeStream.outputMode("append")
      .foreachBatch(sink("src-a")).start()
    val qB = toKeys(memB.toDF()).writeStream.outputMode("append")
      .foreachBatch(sink("src-b")).start()
    def snapAt(e: Long) = SegmentStore
      .mergedAsOfEpoch(spark, path, Seq("k"), "c", e)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def oneShot(n: Long) = toKeys(spark.range(n).select(col("id").as("value")))
      .groupBy("k").agg(count(lit(1)).cast("long").as("c"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    try {
      memA.addData(0L until 20L: _*); memB.addData(0L until 20L: _*)
      qA.processAllAvailable(); qB.processAllAvailable()
      assert(SegmentStore.commitEpoch(spark, path, 0L))
      memA.addData(20L until 50L: _*) // only A advances past epoch 0
      qA.processAllAvailable()
      assert(SegmentStore.commitEpoch(spark, path, 1L)) // mixed frontier
      // a re-fired coordination job (restart, at-least-once) is a no-op
      assert(!SegmentStore.commitEpoch(spark, path, 1L))
      memB.addData(20L until 50L: _*)
      qB.processAllAvailable()
    } finally { qA.stop(); qB.stop() }
    // epoch 0: both sides through their first 20
    val both20 = oneShot(20L).toMap.map { case (k, c) => k -> c * 2 }.toSeq
      .sortBy(_._1)
    assert(snapAt(0L) == both20, s"epoch 0: ${snapAt(0L)}")
    // epoch 1: A through 50, B still at 20 — the mixed frontier, and
    // ingest AFTER the commit (B's later batches) stays invisible
    val mixed = (oneShot(50L).toMap.toSeq ++ oneShot(20L).toMap.toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      .toSeq.sortBy(_._1)
    assert(snapAt(1L) == mixed, s"epoch 1: ${snapAt(1L)}")
    // the live merge has moved past every committed epoch
    val live = SegmentStore.merged(spark, path, Seq("k"), "c")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(live == oneShot(50L).toMap.map { case (k, c) => k -> c * 2 }
      .toSeq.sortBy(_._1))
    assert(SegmentStore.epochs(spark, path) == Seq(0L, 1L))
  }

  test("XO marker crash window: a committed-but-unmarked first batch re-marks on retry instead of bricking the store") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, 0L))
    // simulate the crash between the parquet job's _SUCCESS and the
    // marker touch: strip the XO marker off the store's ONLY segment
    val marker = new java.io.File(s"$path/seg=0/_GRAFT_XO")
    assert(marker.exists, "staging assumption broke: no XO marker")
    assert(marker.delete())
    // retry of the same batch: recognized as the crash window (no other
    // committed segment contradicts XO mode) — re-marked, not ingested
    // again, and the mode guard never fires
    assert(!SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, 0L),
      "the re-delivered batch double-ingested")
    assert(marker.exists, "the marker was not re-touched")
    // the store works normally afterwards
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 2L), path, 1L))
    val m = SegmentStore.merged(spark, path, Seq("k"), "c")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(m.toSeq == Seq("a" -> 3L))
    // a GENUINE plain-append store still fails the guard loudly: the
    // crash-window path only claims the caller's own batch id
    val plain = tmpStore
    SegmentStore.append(batch("x" -> 1L), plain)
    SegmentStore.append(batch("x" -> 2L), plain)
    val e = intercept[IllegalArgumentException] {
      SegmentStore.appendExactlyOnce(batch("x" -> 3L), plain, 1L)
    }
    assert(e.getMessage.contains("plain-append"))
  }

  test("an uncommitted per-writer fold is left to its owner's next append") {
    CrashFs.register(spark)
    val local = tmpStore
    val path = s"crash://$local"
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, "wa", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 2L), path, "wa", 1L))
    assert(SegmentStore.appendExactlyOnce(batch("b" -> 4L), path, "wb", 0L))
    // wa's fold crashes at its commit marker (or is still staging): the
    // fold is staged in the hidden transaction, nothing live has moved
    CrashFs.crashWhere(s => s.startsWith("rename ") &&
        s.endsWith(s"/${graft.sources.Publish.Marker}")) {
      SegmentStore.compactWriter(spark, path, "wa", Seq("k"), "c")
    }
    val txn = Paths.get(s"$local/.writer=wa.publish")
    def staged = Files.walk(txn).iterator().asScala.map(p => (txn.relativize(p).toString,
      if (Files.isRegularFile(p)) Files.size(p) else -1L)).toSet
    val parked = staged
    assert(parked.exists(_._1.startsWith("fold/seg=1/part-")), parked)
    // ANOTHER producer's ingest must leave wa's fold alone
    assert(SegmentStore.appendExactlyOnce(batch("b" -> 6L), path, "wb", 1L))
    assert(staged == parked, "another writer touched an uncommitted fold")
    // ...and a root READER sees every writer's rows meanwhile
    assert(mergedRows(path) == Seq("a" -> 3L, "b" -> 10L))
    assert(staged == parked, "a reader touched an uncommitted fold")
    // the OWNER's next entry point drops the stale fold staging, and its
    // ingest lands on top
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 5L), path, "wa", 2L))
    assert(!Files.exists(txn))
    assert(SegmentStore.segmentIds(spark, SegmentStore.writerPath(path, "wa")) == Seq(0L, 1L, 2L))
    assert(mergedRows(path) == Seq("a" -> 8L, "b" -> 10L))
  }

  test("global as-of at a vector watermark == the union of per-writer snapshots; takedowns audit in one call") {
    val path = tmpStore
    // two producers; wb's seg 1 is a RETRACTION (negative partials)
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> 3L, "u2" -> 1L), path, "wa", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> 2L), path, "wb", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("u2" -> 4L), path, "wa", 1L))
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> -5L), path, "wb", 1L))
    def snap(v: Map[String, Long]) =
      SegmentStore.mergedAsOf(spark, path, Seq("k"), "c", v)
        .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // pre-takedown epoch: u1 held across both writers
    assert(snap(Map("wa" -> 0L, "wb" -> 0L)) == Seq("u1" -> 5L, "u2" -> 1L))
    // post-takedown epoch: u1's rows gone (net 0 survives as accounting)
    assert(snap(Map("wa" -> 1L, "wb" -> 1L)) == Seq("u1" -> 0L, "u2" -> 5L))
    // == union of the per-writer snapshots at the same vector
    def perWriter(w: String, seg: Long) =
      SegmentStore.mergedAsOfWriter(spark, path, w, Seq("k"), "c", seg)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val union = (perWriter("wa", 1L).toSeq ++ perWriter("wb", 1L).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(snap(Map("wa" -> 1L, "wb" -> 1L)).toMap == union)
    // a writer ABSENT from the vector contributes nothing (its epoch
    // precedes its first batch)
    assert(snap(Map("wa" -> 1L)) == Seq("u1" -> 3L, "u2" -> 5L))
    // per-writer fold watermarks preserved: folding wb above seg 0 makes
    // snapshots below its fold unanswerable for wb ONLY
    SegmentStore.compactWriter(spark, path, "wb", Seq("k"), "c")
    assert(snap(Map("wa" -> 1L, "wb" -> 0L)) == Seq("u1" -> 3L, "u2" -> 5L))
    assert(snap(Map("wa" -> 1L, "wb" -> 1L)) == Seq("u1" -> 0L, "u2" -> 5L))
    // currentWatermarks freezes "now" as a vector: a snapshot at it
    // equals the live merge, and appends AFTER the freeze stay
    // invisible to the frozen snapshot
    val now = SegmentStore.currentWatermarks(spark, path)
    assert(now == Map("wa" -> 1L, "wb" -> 1L), s"watermark vector: $now")
    val frozen = snap(now)
    assert(frozen.toMap == SegmentStore.merged(spark, path, Seq("k"), "c")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    assert(SegmentStore.appendExactlyOnce(batch("u3" -> 9L), path, "wa", 2L))
    assert(snap(now) == frozen, "a post-freeze append leaked into the snapshot")
    // the flat layout rejects the vector read (layouts never mix)
    val flat = tmpStore
    SegmentStore.append(batch("a" -> 1L), flat)
    val e = intercept[IllegalArgumentException] {
      SegmentStore.mergedAsOf(spark, flat, Seq("k"), "c", Map("wa" -> 0L))
    }
    assert(e.getMessage.contains("flat"))
  }

  test("vector-watermark read is partition-pruned on (writer, seg): uncovered subtrees and history are never scanned") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 1L), path, "wa", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 2L), path, "wa", 1L))
    assert(SegmentStore.appendExactlyOnce(batch("a" -> 4L), path, "wb", 0L))
    val plan = SegmentStore
      .mergedAsOf(spark, path, Seq("k"), "c", Map("wa" -> 0L, "wb" -> 0L))
      .queryExecution.executedPlan.toString
    // the OR-of-ANDs predicate is on partition columns only, so it
    // must land in PartitionFilters (pure pruning, no row filter)
    val pf = plan.linesIterator
      .find(_.contains("PartitionFilters: [")).getOrElse("")
    assert(pf.contains("writer") && pf.contains("seg"), plan.take(4000))
  }

  test("committed epochs make the vector durable: manifests replay frozen snapshots, commits are exactly-once and crash-atomic") {
    val path = tmpStore
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> 3L, "u2" -> 1L), path, "wa", 0L))
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> 2L), path, "wb", 0L))
    // epoch 10 freezes a MIXED frontier: wa has landed seg 1 by commit
    // time, wb has not — no global seg bound expresses this vector
    assert(SegmentStore.appendExactlyOnce(batch("u2" -> 4L), path, "wa", 1L))
    assert(SegmentStore.commitEpoch(spark, path, 10L))
    assert(SegmentStore.epochVector(spark, path, 10L) == Map("wa" -> 1L, "wb" -> 0L))
    // re-delivered commit of the same epoch id is a no-op (returns
    // false, manifest unchanged) — the appendExactlyOnce discipline
    assert(SegmentStore.appendExactlyOnce(batch("u1" -> -5L), path, "wb", 1L))
    assert(!SegmentStore.commitEpoch(spark, path, 10L))
    assert(SegmentStore.epochVector(spark, path, 10L) == Map("wa" -> 1L, "wb" -> 0L))
    assert(SegmentStore.commitEpoch(spark, path, 20L))
    assert(SegmentStore.epochs(spark, path) == Seq(10L, 20L))
    def snapAt(e: Long) =
      SegmentStore.mergedAsOfEpoch(spark, path, Seq("k"), "c", e)
        .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // epoch 10: all of wa, wb through seg 0 — and identical to the
    // caller-supplied-vector read (the manifest only adds durability)
    assert(snapAt(10L) == Seq("u1" -> 5L, "u2" -> 5L))
    assert(snapAt(10L) == SegmentStore
      .mergedAsOf(spark, path, Seq("k"), "c", Map("wa" -> 1L, "wb" -> 0L))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
    // epoch 20: the takedown landed — u1 cancelled (net 0 accounting)
    assert(snapAt(20L) == Seq("u1" -> 0L, "u2" -> 5L))
    // appends after a commit stay invisible to it
    assert(SegmentStore.appendExactlyOnce(batch("u3" -> 9L), path, "wa", 2L))
    assert(snapAt(20L) == Seq("u1" -> 0L, "u2" -> 5L))
    // crash-atomicity: a torn commit parks at the dotted temp name —
    // readers see no epoch (listing + reads unchanged), and the
    // re-fired commit publishes over it
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.epochs/.epoch-30.tmp")
    val out = f.create(tmp, true); out.write("wa\t999\n".getBytes); out.close()
    assert(SegmentStore.epochs(spark, path) == Seq(10L, 20L))
    intercept[IllegalArgumentException] {
      SegmentStore.epochVector(spark, path, 30L)
    }
    assert(SegmentStore.commitEpoch(spark, path, 30L))
    assert(SegmentStore.epochVector(spark, path, 30L) ==
      Map("wa" -> 2L, "wb" -> 1L))
    // an epoch id is required to have been committed before it answers
    intercept[IllegalArgumentException] {
      SegmentStore.mergedAsOfEpoch(spark, path, Seq("k"), "c", 99L)
    }
    // flat stores have no epochs to commit (layouts never mix)
    val flat = tmpStore
    SegmentStore.append(batch("a" -> 1L), flat)
    val e2 = intercept[IllegalArgumentException] {
      SegmentStore.commitEpoch(spark, flat, 0L)
    }
    assert(e2.getMessage.contains("flat"))
    // an empty store has nothing to freeze — loud, not a torn manifest
    intercept[IllegalArgumentException] {
      SegmentStore.commitEpoch(spark, tmpStore, 0L)
    }
  }
}
