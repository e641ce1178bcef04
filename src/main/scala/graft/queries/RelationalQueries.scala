package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational-core queries over the TPC-H-ish star schema (SURVEY.md §2.2
  * sweep: scan/filter/projection, equi-join incl. broadcast, sum/count
  * aggregation, window top-K, sort/limit, semi/anti join).
  *
  * Determinism rule for money math: doubles are cast to DECIMAL before
  * any aggregation (a double can never sit exactly on a decimal rounding
  * midpoint, so the cast is unambiguous in every engine), summed exactly,
  * and cast to DOUBLE once at the end. Raw doubles pass through untouched.
  */
object RelationalQueries {

  /** rel_funnel stage windows: first click within this many hours of
    * the first view, first purchase within [[FunnelBuyWindowHours]] of
    * that click. Shared with the SQL oracle; the streaming form takes
    * the same values in millis.
    */
  final val FunnelClickWindowHours = 6
  final val FunnelBuyWindowHours = 24

  /** funnelIncremental's tombstone-bloom sidecar sizing: ~8 bits per
    * finalized user (~2% fp rate — harmless: a false positive only
    * routes that user through the exact anti-join; a miss is
    * impossible, so the prefilter is byte-exact by construction, the
    * pipe_decontam_bloom discipline). This is the INITIAL capacity;
    * the store carries its own geometry (bf, n_items, capacity) —
    * merges require identical geometry, so capacity stays frozen
    * between resizes, and past 50% fill the maintenance rebuilds at a
    * doubled capacity from the finalized store (amortized O(log)
    * rebuilds; fp rate never degrades past the sizing's bound).
    * rel_funnel_bloom_stats is the saturation health report.
    */
  final val FunnelBloomItems = 1L << 17
  final val FunnelBloomBitsPerItem = 8L

  /** Takedown staleness a funnel bloom sidecar tolerates before the
    * policy re-freezes it ([[funnelSidecarMaintain]]): a bloom cannot
    * delete, so a retracted member only ever ADDS false positives —
    * routing degrades gracefully, never incorrectly — and paying the
    * full finalized-store re-freeze scan per takedown batch would make
    * a daily-takedown deployment O(finalized users)/day. At 25%
    * retired mass the observed fp uplift is still a constant factor on
    * the sizing's bound; past it the rebuild restores exact geometry.
    */
  final val FunnelBloomStaleFrac = 0.25

  /** rel_sessionize: per-user session gap. Events in this corpus land
    * ~11h apart per user, so 6 hours yields a real mix of singleton and
    * multi-event sessions at every SF.
    */
  final val SessionGapHours = 6

  /** rel_anomaly_days: a day is anomalous for an event type when its
    * count deviates from the type's daily mean by more than AnomalyK
    * sigma. Natural max |z| on this corpus is ~3.0 (measured per SF),
    * so 4 cannot flap; the planted 3x day sits at z ~ 5.4.
    */
  final val AnomalyK = 4

  /** rel_fuzzy_join: max edit distance accepted as a match, q-gram
    * width, and the document-frequency cap above which a q-gram is
    * dropped from the blocking index (shared boilerplate grams — the
    * dedup_ngram stop-shingle guard applied to entity matching).
    */
  final val FuzzyK = 2
  final val FuzzyGram = 3
  final val FuzzyMaxDf = 50

  /** rel_fuzzy_join_scaled: the gram-width ladder — the knnScaledBits
    * discipline applied to q-gram blocking. At a FIXED width, the
    * number of entities sharing any given gram grows linearly with the
    * corpus, so every discriminative gram eventually crosses the df
    * cap and the blocking starves (measured: the 10x staging starves
    * essentially the whole probe batch at width 3). Growing the WIDTH
    * with the corpus keeps per-gram populations bounded instead:
    * smallest q in [3, 6] with FuzzyMaxDf · 10^q >= 16 · N (10 ≈ the
    * effective per-position alphabet of these digit-dominated names,
    * 16 ≈ grams per name; at 1x N=1.5k ⇒ 3, 10x ⇒ 4, 30x ⇒ 5). The
    * ladder CAPS AT 6 because the Gravano count-filter recall bound
    * needs len − q + 1 − q·k > 0 (18-char names, k = 2 ⇒ q <= 6);
    * past that, recall belongs to banding, not wider grams.
    */
  def scaledFuzzyGram(n: Long): Int =
    Seq(3, 4, 5, 6).find(q =>
      FuzzyMaxDf.toLong * math.pow(10, q).toLong >= 16L * n).getOrElse(6)

  /** rel_fuzzy_join_fallback: max starved probes escalated per run.
    * The fallback deliberately lifts the df cap, so its cost is
    * (escalated probes) x (corpus gram mass) — linear in the corpus
    * ONLY because this cap rate-limits the escalation (the linkage-
    * queue discipline: overflow stays queued for the next run,
    * selection deterministic by probe key). Un-capped, a staging whose
    * name geometry starves the whole batch (the 10x probe corpus —
    * shared leading digits push every discriminative gram over the
    * fixed df cap) degenerates to the all-pairs distance matrix the
    * blocking exists to avoid.
    */
  final val FuzzyFallbackCap = 16

  /** rel_fuzzy_join_queue: max starved probes DRAINED from the
    * persisted queue per run. Deliberately tighter than
    * [[FuzzyFallbackCap]] so the driver staging itself demonstrates
    * cross-run carry-over at the test SFs (3 starved probes at
    * sf0.01 > 2 ⇒ one waits a run); the production knob is the same
    * rate-limit argument as the fallback cap — unpruned re-blocking
    * is priced per drained probe, so the cap bounds each run's
    * fallback-tier cost regardless of how deep the queue gets.
    */
  final val FuzzyQueueDrainCap = 2

  /** rel_fuzzy_join_banded: number of independent q-gram families
    * (OR-amplification — the sim_knn_graph_banded pattern applied to
    * record linkage). The four families: band 0 = contiguous content
    * grams (the primary blocking's); band 1 = stride-2 SKIP-grams
    * (chars at i, i+2, ..., i+2(q−1) — a single edit destroys a
    * different subset than band 0's); bands 2/3 = POSITIONAL grams
    * (Gravano et al., "Approximate string joins in a database (almost)
    * for free", VLDB 2001): the gram key carries its anchor position,
    * band 2 start-anchored, band 3 END-anchored (distance from the
    * string end), probe-side positions fanned ±[[FuzzyK]] so a
    * within-distance pair still collides after the edit shifts the
    * anchor. The positional families own the residual regime the
    * width ladder can't reach — MEASURED at the 10x staging: the
    * scaled-width form misses ~10% of matchable probes because a
    * numeric tail like "00014" ALIASES into larger keys ("…0014x",
    * "…014xx") at other positions and the content-only df crosses the
    * cap; position-annotated, "00014"@end-0 is shared only by keys
    * that END with it, df stays at the true entity population, and
    * an edit anywhere before the tail leaves the end-anchor intact
    * (recovered ALL 1610 residual misses, zero false links). Each
    * family has its own df distribution and its own cap; a pair is a
    * candidate if it collides in ANY band (recall 1-(1-p)^B at build
    * cost x B, still linear in N); candidates dedup across bands
    * BEFORE the verify so each pair pays one Levenshtein.
    */
  final val FuzzyBands = 4

  /** The DEPLOYED band set — the band-cost dial CONNECTED: band 1
    * (stride-2 skip-grams) is dropped because
    * rel_fuzzy_join_band_stats measures it at ZERO marginal matches
    * while carrying ~25% of the clean-side gram mass, at 1x and at the
    * 10x staging (BASELINE.md receipt; PipelineSurfaceSpec pins that
    * removing it preserves the match set exactly). The health report
    * itself still watches all [[FuzzyBands]] families — a corpus where
    * skip-grams start earning marginals re-opens this decision, the
    * same frozen-artifact-plus-gauge discipline as the quantizer
    * retrain.
    */
  final val FuzzyBandsDeployed: Seq[Int] = Seq(0, 2, 3)

  private def dec(c: org.apache.spark.sql.Column, p: Int, s: Int) =
    c.cast(s"decimal($p,$s)")

  /** An empty partitioned write leaves no part= dirs — treat as absent.
    * Shared with StreamOpsSpec so the spec's "both store branches are
    * live" probe can never drift from what the query actually reads.
    * A committed [[graft.sources.Publish]] of the store that crashed is
    * finished before the listing.
    */
  private[graft] def hasPartData(s: SparkSession, path: String): Boolean = {
    graft.sources.Publish.recover(s, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("part="))
  }

  /** Unpartitioned-parquet presence via the Hadoop FileSystem of the
    * path itself (the AnnIndex.pathExists discipline) — a
    * java.io.File probe is local-FS-only and would read "absent" on
    * any distributed store, silently dropping accumulated state.
    * "Present" means the directory holds at least one part- file, so
    * a crash that created the directory but wrote no data still reads
    * as absent.
    */
  private[graft] def hasParquetData(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("part-"))
  }

  /** rel_funnel_incremental's maintained fold (see the query's comment
    * for the semantics + state-bound proof). Factored out so the spec
    * can pass its own store dir and inspect the pending state between
    * ingests; the driver query calls it with a scratch dir.
    */
  /** One maintained-funnel ingest against the store at `storeDir` —
    * factored from [[funnelIncremental]] so the spec can drive single
    * batches (and re-deliveries) directly. RE-DELIVERY SAFE: finalized
    * users are tombstone-dropped before anything else, so the results
    * store and the bloom sidecar cannot double-finalize; a re-delivered
    * batch's still-pending events are exact duplicates of rows already
    * in the pending buffer and collapse in its set-union rewrite (the
    * funnel chain is min-ts per stage, so the dedup is semantics-free).
    */
  private[graft] def funnelIngest(s: SparkSession, storeDir: String,
      batch: DataFrame, wm: org.apache.spark.sql.Column,
      bloomItems: Long = FunnelBloomItems): Unit = {
    val parts = 16
    val w1Ms = FunnelClickWindowHours * 3600L * 1000L
    val w2Ms = FunnelBuyWindowHours * 3600L * 1000L
    val horizon = s"INTERVAL ${w1Ms + w2Ms} MILLISECONDS"
    val resPath = s"$storeDir/results"
    val pendPath = s"$storeDir/pending"
    val bloomPath = s"$storeDir/bloom"
    def hasData(p: String) = hasPartData(s, p)
    def chain(e: DataFrame): DataFrame =
      graft.streaming.StreamOps.funnel(e, w1Ms, w2Ms, "1 hour")
    val fev = batch
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
    // tombstone drop: a finalized user's funnel is immutable (any
    // later event sits above the watermark, hence outside it). The
    // BLOOM SIDECAR routes it: rows whose user_id the bloom rejects
    // are definitely-not-finalized and skip the store entirely (at a
    // steady state that is almost the whole batch — finalized users
    // stop producing events); only bloom-positives reach the exact
    // anti-join, and the finalized scan behind it is PRUNED to the
    // user-hash partitions those positives land in. Never a false
    // negative, so the routed result is byte-identical to the plain
    // anti-join; a ~2% fp sliver rides through and dies exactly.
    val newEv =
      if (!hasData(resPath)) fev
      else if (!hasParquetData(s, bloomPath)) {
        // results exist but the sidecar doesn't (first finalized
        // batch was all-null user_ids so bloom_filter_agg produced
        // nothing, or a crash landed between the results append and
        // the bloom write): the sidecar is an OPTIMIZATION, so fall
        // back to the plain exact anti-join rather than failing;
        // the maintenance below then rebuilds the bloom from the
        // FULL results store (never the batch alone), restoring the
        // never-false-negative contract on the next write.
        fev.join(s.read.parquet(resPath).select("user_id"),
          Seq("user_id"), "left_anti")
      } else {
        val bf = s.read.parquet(bloomPath).select("bf")
        // null-safe routing: might_contain(null) is null, but a
        // null-user row can't be finalized — it must PASS (the plain
        // anti-join kept it: null never equi-matches)
        val might = coalesce(
          graft.functions.SketchExprs.mightContain(bf, col("user_id")),
          lit(false))
        val maybe = fev.filter(might)
          .localCheckpoint(true) // feeds the part probe + the anti-join
        val pass = fev.filter(!might)
        val mParts = maybe
          .select(pmod(col("user_id"), lit(parts.toLong)).as("part"))
          .distinct().collect().map(_.getLong(0)) // <= parts rows
        val checked =
          if (mParts.isEmpty) maybe // bloom-empty batch: nothing to check
          else maybe.join(
            s.read.parquet(resPath)
              .filter(col("part").isin(mParts.map(Long.box): _*))
              .select("user_id"),
            Seq("user_id"), "left_anti")
        pass.unionByName(checked)
      }
    val all = (if (!hasData(pendPath)) newEv
      else graft.sources.Publish.readParquet(s, pendPath)
        .select(col("user_id"), col("event_type"), col("ts"))
        .unionByName(newEv))
      .localCheckpoint(true)
    val ch = chain(all).localCheckpoint(true)
    val fin = ch.filter(col("t_view") + expr(horizon) < wm)
    fin.withColumn("part", pmod(col("user_id"), lit(parts.toLong)))
      .repartition(col("part"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("part").parquet(resPath)
    // sidecar maintenance: OR this batch's finalized ids into the
    // stored bloom (segment-append, not rebuild — the SegmentStore
    // shape: O(batch) aggregation + one numBits/8-byte driver merge,
    // the finalized store is never rescanned on the append path).
    // Geometry is FROZEN PER STORE, not per constant: the sidecar
    // row carries (bf, n_items, capacity) so the store knows its own
    // fill, and past 50% fill the maintenance REBUILDS at a doubled
    // capacity from the finalized store — the one full scan a
    // resize costs, amortized O(log n_items) by doubling (the
    // pq_code_stats retrain trigger, wired instead of documented).
    // n_items is exact, not estimated: batches' finalized sets are
    // disjoint by the tombstone, so the running count is a sum.
    val finIds = fin.filter(col("user_id").isNotNull).select("user_id")
    import org.apache.spark.util.sketch.BloomFilter
    def build(ids: DataFrame, cap: Long): Array[Byte] =
      ids.agg(graft.functions.SketchExprs.bloomFilterAgg(
        col("user_id"), cap, cap * FunnelBloomBitsPerItem).as("bf"))
        .head().getAs[Array[Byte]]("bf") // ONE row, numBits/8 bytes
    val (oldBf, oldN, cap0) =
      if (!hasParquetData(s, bloomPath))
        (null: Array[Byte], 0L, bloomItems)
      else {
        val r0 = s.read.parquet(bloomPath).head()
        (r0.getAs[Array[Byte]]("bf"), r0.getAs[Long]("n_items"),
          r0.getAs[Long]("capacity"))
      }
    // ONE pass over the batch: finalized count and the batch bloom
    // come out of the same aggregation job
    val batchRow = finIds.agg(
      count(lit(1)).as("n"),
      graft.functions.SketchExprs.bloomFilterAgg(col("user_id"),
        cap0, cap0 * FunnelBloomBitsPerItem).as("bf")).head()
    val nNew = batchRow.getAs[Long]("n")
    def writeSidecar(bytes: Array[Byte], nItems: Long, cap: Long): Unit = {
      import s.implicits._
      Seq((bytes, nItems, cap)).toDF("bf", "n_items", "capacity")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(bloomPath)
    }
    def grow(cap0: Long, nItems: Long): Long = {
      var c = cap0; while (2L * nItems > c) c *= 2L; c
    }
    if (nNew > 0 && oldBf == null) {
      // no sidecar yet: the first finalized batch — OR recovery
      // after a crash between the results append and the bloom
      // write, in which case resPath holds MORE than this batch.
      // Rebuild from the STORE (and count it exactly), never from
      // the batch alone: a batch-only bloom would be
      // false-negative-capable and silently re-admit earlier
      // finalized users. First-batch cost is identical (the store
      // IS the batch); recovery pays one store scan, which is the
      // recovery's price.
      val allIds = s.read.parquet(resPath)
        .filter(col("user_id").isNotNull).select("user_id")
        .localCheckpoint(true) // count + build both read it
      val nItems = allIds.count()
      val cap = grow(cap0, nItems)
      writeSidecar(build(allIds, cap), nItems, cap)
    } else if (nNew > 0) {
      val nItems = oldN + nNew
      if (2L * nItems > cap0) {
        // fill-triggered resize: double until under half full,
        // re-freeze, rebuild over ALL finalized ids (resPath
        // already holds this batch's append)
        val cap = grow(cap0, nItems)
        writeSidecar(build(s.read.parquet(resPath)
          .filter(col("user_id").isNotNull).select("user_id"), cap),
          nItems, cap)
      } else {
        val old = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(oldBf))
        old.mergeInPlace(BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(
            batchRow.getAs[Array[Byte]]("bf"))))
        val bos = new java.io.ByteArrayOutputStream()
        old.writeTo(bos)
        writeSidecar(bos.toByteArray, nItems, cap0)
      }
    }
    // pending': non-finalized users' events under the tighten-only
    // bound; a null v (no view yet) behaves as +infinity, so `least`
    // (null-skipping) gives lb = wm and the upper bounds vanish
    val v = ch.select(col("user_id"), col("t_view").as("v"))
    val lb = least(wm, col("v"))
    val keep = all
      .join(fin.select("user_id"), Seq("user_id"), "left_anti")
      .join(v, Seq("user_id"), "left")
      .filter(
        // null-safe <=> : a user whose only views carry null ts has
        // v = null (min ignores nothing else) and never finalizes —
        // their view rows must survive the prune so the final chain
        // emits the same null-t_view row the one-shot oracle does
        when(col("event_type") === "view", col("ts") <=> col("v"))
          .when(col("event_type") === "click",
            col("ts") > lb && coalesce(
              col("ts") <= col("v") +
                expr(s"INTERVAL $w1Ms MILLISECONDS"), lit(true)))
          .otherwise(
            col("ts") > lb && coalesce(
              col("ts") <= col("v") + expr(horizon), lit(true))))
      .select(col("user_id"), col("event_type"), col("ts"))
      // set-union semantics: a RE-DELIVERED batch's events are exact
      // duplicates of rows the buffer already carried — collapsing
      // them keeps the buffer from growing with redeliveries, and is
      // semantics-free for the chain (min-ts per stage)
      .distinct()
      .withColumn("part", pmod(col("user_id"), lit(parts.toLong)))
    graft.sources.Publish.commit(s, pendPath) { txn =>
      keep.repartition(col("part"))
        .write.partitionBy("part").parquet(s"$txn/pending")
      Seq(graft.sources.Publish.replace(s"$txn/pending", pendPath))
    }
  }

  private[graft] def funnelIncremental(s: SparkSession, ev: DataFrame,
      storeDirOpt: Option[String] = None,
      bloomItems: Long = FunnelBloomItems): DataFrame = {
    val storeDir =
      storeDirOpt.getOrElse(graft.sources.TempDirs.scratch("graft_funi_"))
    val w1Ms = FunnelClickWindowHours * 3600L * 1000L
    val w2Ms = FunnelBuyWindowHours * 3600L * 1000L
    val resPath = s"$storeDir/results"
    val pendPath = s"$storeDir/pending"
    def chain(e: DataFrame): DataFrame =
      graft.streaming.StreamOps.funnel(e, w1Ms, w2Ms, "1 hour")
    def ingest(batch: DataFrame, wm: org.apache.spark.sql.Column): Unit =
      funnelIngest(s, storeDir, batch, wm, bloomItems)
    // the watermark LAGS the batch windows deliberately (large allowed
    // lateness — legal under the contract, which needs only a monotone
    // schedule with future arrivals at or above it): every first view
    // in this corpus lands in Jan 1-12, so a watermark trailing the
    // Jan-21/25 window bounds would finalize EVERY user in the first
    // ingest and leave the pending carry-over/prune path and the
    // read-time union branch dead code at all test SFs. The Jan 3/5/6
    // schedule keeps both store branches populated at every ingest —
    // users with v <= wm - 30h finalize, the freshest stay pending for
    // the final chain — and the spec asserts pending AND results are
    // both non-empty
    val t = (d: String) => lit(s"2024-01-$d 00:00:00").cast("timestamp")
    // null-ts rows ride the first batch (the ft_counts_incremental
    // rule: range filters silently drop them, but the one-shot chain
    // counts them — min ignores null among real views, and an
    // all-null-view user emits a null-t_view row both engines agree on)
    ingest(ev.filter(col("ts").isNull || col("ts") < t("21")), t("03"))     // bulk
    ingest(ev.filter(col("ts") >= t("21") && col("ts") < t("25")), t("05")) // day 1
    ingest(ev.filter(col("ts") >= t("25")), t("06"))                        // day 2
    funnelStoreRead(s, resPath, pendPath, chain(ev))
  }

  /** BULK-STAGE the maintained funnel store — write the state the staged
    * 3-ingest schedule of [[funnelIncremental]] ends in DIRECTLY (the
    * ccBulkStage discipline applied to the funnel store), for queries
    * whose MEASURED event happens after staging (the takedown of
    * rel_funnel_retract, the sidecar report of rel_funnel_bloom_stats).
    * rel_funnel_incremental keeps the per-batch ingests: they ARE that
    * query's subject.
    *
    * Content equality with the staged sequence, leg by leg:
    *   - `results`: a user finalizes at the first batch whose watermark
    *     exceeds v + horizon, and every chain-relevant event (all inside
    *     [v, v+horizon], below that watermark) has arrived by then — so
    *     the finalized row set is exactly chain(all events) restricted to
    *     t_view + horizon < the FINAL watermark, whatever the batching.
    *   - `bloom`: BloomFilter insertion is an idempotent bit-OR, so the
    *     staged per-batch build/merge (and any fill-triggered rebuild)
    *     ends bit-identical to ONE build over the full finalized id set
    *     at the doubling-grown capacity; n_items sums the same disjoint
    *     batch counts.
    *   - `pending`: the tighten-only prune is monotone in the watermark
    *     (lb = min(wm, v) only grows; the kept-click/purchase windows
    *     only shrink; the min-view row survives every round), so the
    *     iterated prune at wm1..wm3 equals one prune at the final
    *     watermark over the full non-finalized event set.
    * FunnelStoreSpec pins store-content equality against the staged
    * ingests; the oracle gates both queries' outputs end-to-end.
    */
  private[graft] def funnelBulkStage(s: SparkSession, storeDir: String,
      ev: DataFrame, bloomItems: Long = FunnelBloomItems): Unit = {
    val parts = 16L
    val w1Ms = FunnelClickWindowHours * 3600L * 1000L
    val w2Ms = FunnelBuyWindowHours * 3600L * 1000L
    val horizon = s"INTERVAL ${w1Ms + w2Ms} MILLISECONDS"
    // the staged schedule's FINAL watermark (see funnelIncremental)
    val wm = lit("2024-01-06 00:00:00").cast("timestamp")
    val fev = ev
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
      .localCheckpoint(true) // chain + the pending prune read it
    val ch = graft.streaming.StreamOps.funnel(fev, w1Ms, w2Ms, "1 hour")
      .localCheckpoint(true) // results write, bloom build, prune's v
    val fin = ch.filter(col("t_view") + expr(horizon) < wm)
    fin.withColumn("part", pmod(col("user_id"), lit(parts)))
      .repartition(col("part"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("part").parquet(s"$storeDir/results")
    val finIds = fin.filter(col("user_id").isNotNull).select("user_id")
    val n = finIds.count()
    if (n > 0) {
      var cap = bloomItems
      while (2L * n > cap) cap *= 2L
      val bf = finIds.agg(graft.functions.SketchExprs.bloomFilterAgg(
        col("user_id"), cap, cap * FunnelBloomBitsPerItem).as("bf"))
        .head().getAs[Array[Byte]]("bf") // ONE row, numBits/8 bytes
      import s.implicits._
      Seq((bf, n, cap)).toDF("bf", "n_items", "capacity").coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$storeDir/bloom")
    }
    // pending: the identical tighten-only keep rule funnelIngest applies,
    // once, at the final watermark (null-handling comments there)
    val v = ch.select(col("user_id"), col("t_view").as("v"))
    val lb = least(wm, col("v"))
    val keep = fev
      .join(fin.select("user_id"), Seq("user_id"), "left_anti")
      .join(v, Seq("user_id"), "left")
      .filter(
        when(col("event_type") === "view", col("ts") <=> col("v"))
          .when(col("event_type") === "click",
            col("ts") > lb && coalesce(
              col("ts") <= col("v") +
                expr(s"INTERVAL $w1Ms MILLISECONDS"), lit(true)))
          .otherwise(
            col("ts") > lb && coalesce(
              col("ts") <= col("v") + expr(horizon), lit(true))))
      .select(col("user_id"), col("event_type"), col("ts"))
      .distinct()
      .withColumn("part", pmod(col("user_id"), lit(parts)))
    keep.repartition(col("part"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("part").parquet(s"$storeDir/pending")
  }

  /** BULK-STAGE the maintained retention stores — the staged 3-ingest of
    * [[retentionIngestStaged]] collapsed to its fixpoint, for the query
    * whose measured event is the takedown (rel_retention_retract;
    * rel_retention_incremental keeps the ingests — its subject). Content
    * equality: cohort inserts are first-batch-wins over time-ordered
    * batches (= the global MIN signup day), pair inserts are idempotent
    * set unions (= one distinct over the history) — so the staged stores
    * hold exactly these two frames, whatever the batching.
    */
  private[graft] def retentionBulkStage(s: SparkSession, storeDir: String,
      ev: DataFrame): Unit = {
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort_day"))
      .withColumn("part", pmod(col("user_id"), lit(RetentionParts)))
    cohort.repartition(col("part"))
      .write.partitionBy("part").parquet(s"$storeDir/cohort")
    val pairs = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("part", pmod(col("user_id"), lit(RetentionParts)))
    pairs.repartition(col("part"))
      .write.partitionBy("part").parquet(s"$storeDir/pairs")
  }

  /** The maintained funnel's read-time union — finalized `results` ∪
    * the pending carry-over's chain — with `fallback` (the one-shot
    * chain over whatever corpus the store would have held) when both
    * store legs are empty. Shared by [[funnelIncremental]]'s tail and
    * rel_funnel_retract's post-takedown read, so the retraction form
    * provably reads through the identical path.
    */
  private[graft] def funnelStoreRead(s: SparkSession, resPath: String,
      pendPath: String, fallback: => DataFrame): DataFrame = {
    val w1Ms = FunnelClickWindowHours * 3600L * 1000L
    val w2Ms = FunnelBuyWindowHours * 3600L * 1000L
    def chain(e: DataFrame): DataFrame =
      graft.streaming.StreamOps.funnel(e, w1Ms, w2Ms, "1 hour")
    val res =
      if (!hasPartData(s, resPath)) None
      else Some(s.read.parquet(resPath)
        .select("user_id", "t_view", "reached", "t_click", "t_purchase"))
    val late =
      if (!hasPartData(s, pendPath)) None
      else Some(chain(graft.sources.Publish.readParquet(s, pendPath)
        .select(col("user_id"), col("event_type"), col("ts"))))
    (res, late) match {
      case (Some(r), Some(l)) => r.unionByName(l).orderBy("user_id")
      case (Some(r), None)    => r.orderBy("user_id")
      case (None, Some(l))    => l.orderBy("user_id")
      case (None, None)       => fallback.orderBy("user_id") // empty store
    }
  }

  /** User-hash directory fan-out of the retention stores (same
    * bounded-file-count reasoning as the funnel store's 16).
    */
  private val RetentionParts = 16L

  /** Append `batch` rows whose key combo is NEW to the store; rows for
    * existing keys are dropped (first-batch-wins / set-union). Same
    * stage/anti-join/publish choreography as
    * [[graft.sources.AnnIndex.upsertRowsInParts]] with the precedence
    * flipped (stored rows win here; upserts there replace).
    */
  private def retentionAppendNew(s: SparkSession, path: String,
      batch: DataFrame, keys: Seq[String]): Unit = {
    val staged = batch
      .withColumn("part", pmod(col("user_id"), lit(RetentionParts)))
      .localCheckpoint(true) // the part probe and the merge read it
    val merged =
      if (!hasPartData(s, path)) staged
      else {
        val partIds = staged.select("part").distinct()
          .collect().map(_.getLong(0)) // bounded by parts, driver-safe
        val dataCols = staged.columns.dropRight(1)
        val kept = graft.sources.Publish.readParquet(s, path)
          .filter(col("part").isin(partIds.map(Long.box): _*))
          .select(dataCols.map(col) :+ col("part").cast("long").as("part"): _*)
        kept.unionByName(staged.join(
            kept.select(keys.map(col): _*), keys, "left_anti"))
      }
    // every touched directory receives the batch's own rows
    graft.sources.Publish.replaceParts(s, path, "part", Nil, merged)
  }

  /** rel_retention_incremental's staged ingest (bulk history + two
    * daily windows) into the cohort / activity-pair stores — factored
    * so rel_retention_retract provably stages the identical store
    * before its takedown.
    */
  private[graft] def retentionIngestStaged(s: SparkSession, storeDir: String,
      ev: DataFrame): Unit = {
    def ingest(e: DataFrame): Unit = {
      val cohortBatch = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort_day"))
      retentionAppendNew(s, s"$storeDir/cohort", cohortBatch, Seq("user_id"))
      val pairBatch = e.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      retentionAppendNew(s, s"$storeDir/pairs", pairBatch,
        Seq("user_id", "day"))
    }
    val t = (d: String) => lit(s"2024-01-$d 00:00:00").cast("timestamp")
    ingest(ev.filter(col("ts") < t("21")))                          // bulk
    ingest(ev.filter(col("ts") >= t("21") && col("ts") < t("25")))  // day 1
    ingest(ev.filter(col("ts") >= t("25")))                         // day 2
  }

  /** The cohort-matrix report off the maintained stores — shared by
    * the incremental and retract forms, so both read through the
    * identical path.
    */
  private[graft] def retentionStoreRead(s: SparkSession, storeDir: String): DataFrame = {
    val cohort = graft.sources.Publish.readParquet(s, s"$storeDir/cohort")
      .select("user_id", "cohort_day")
    val pairs = graft.sources.Publish.readParquet(s, s"$storeDir/pairs")
      .select("user_id", "day")
    cohort.join(pairs, "user_id")
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("day_offset") >= 0L)
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct("user_id").cast("long").as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Rebuild the funnel's bloom sidecar from the finalized store with
    * an exact recount — the ingest path's crash-recovery/resize scan
    * re-aimed at TAKEDOWN maintenance. A bloom cannot delete: after a
    * retraction the stale sidecar stays CORRECT (false positives only
    * — positives still die in the exact anti-join), but its n_items
    * accounting would drift upward and a retract-heavy store would
    * degrade toward all-positive routing, so the takedown pays one
    * finalized-store scan to re-freeze exact geometry (capacity grown
    * from `cap0` by the same doubling rule as ingest). An emptied
    * store drops the sidecar, matching the nothing-finalized-yet
    * state the ingest path expects.
    */
  private[graft] def funnelSidecarRebuild(s: SparkSession, resPath: String,
      bloomPath: String, cap0: Long = FunnelBloomItems): Unit = {
    import s.implicits._
    val ids =
      if (!hasPartData(s, resPath)) None
      else Some(s.read.parquet(resPath)
        .filter(col("user_id").isNotNull).select("user_id")
        .localCheckpoint(true)) // count + build both read it
    val n = ids.map(_.count()).getOrElse(0L)
    if (n == 0) {
      val p = new org.apache.hadoop.fs.Path(bloomPath)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    } else {
      var cap = cap0
      while (2L * n > cap) cap *= 2L
      val bf = ids.get.agg(graft.functions.SketchExprs.bloomFilterAgg(
        col("user_id"), cap, cap * FunnelBloomBitsPerItem).as("bf"))
        .head().getAs[Array[Byte]]("bf") // ONE row, numBits/8 bytes
      Seq((bf, n, cap)).toDF("bf", "n_items", "capacity").coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(bloomPath)
    }
    // exact geometry again: the staleness ledger resets with it
    val rp = new org.apache.hadoop.fs.Path(retiredPath(bloomPath))
    rp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(rp, true)
  }

  private def retiredPath(bloomPath: String): String = s"${bloomPath}_retired"

  /** The sidecar's takedown-staleness LEDGER: one row counting keys
    * retracted since the last re-freeze. O(1) per takedown batch — no
    * store scan, no bloom read. Kept beside (not inside) the bloom row
    * so the ingest path's sidecar merges never have to carry it.
    * UNIT CONTRACT: `nRetired` must count FINALIZED-store rows that
    * actually left (the same unit as the frozen n_items the staleFrac
    * dial divides by) — the takedown path counts them with one read
    * pruned to the partitions it is about to rewrite. Feeding raw
    * retracted-id counts would over-accumulate (never-finalized ids,
    * repeat takedowns) and fire the store-sized re-freeze early.
    */
  private[graft] def funnelSidecarRetire(s: SparkSession, bloomPath: String,
      nRetired: Long): Unit = {
    if (nRetired <= 0 || !hasParquetData(s, bloomPath)) return
    import s.implicits._
    val prior =
      if (!hasParquetData(s, retiredPath(bloomPath))) 0L
      else s.read.parquet(retiredPath(bloomPath)).head().getAs[Long]("n_retired")
    Seq(prior + nRetired).toDF("n_retired").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(retiredPath(bloomPath))
  }

  /** Policy-gated re-freeze — the deferred form of the per-takedown
    * [[funnelSidecarRebuild]]. A bloom cannot delete, but it also does
    * not have to: after a takedown the stale sidecar stays CORRECT
    * (retracted members are false positives; every positive still
    * passes the exact anti-join, which the delete already fixed), so
    * serving continues through it and the re-freeze scan is paid only
    * when the retired ledger crosses `staleFrac` of the frozen
    * n_items — takedown cost becomes batch-sized, and the store-sized
    * scan amortizes over many batches (the compaction-window
    * discipline of [[graft.sources.SegmentStore]] applied to the
    * sidecar). Returns true iff it rebuilt.
    */
  private[graft] def funnelSidecarMaintain(s: SparkSession, resPath: String,
      bloomPath: String, staleFrac: Double = FunnelBloomStaleFrac): Boolean = {
    if (!hasParquetData(s, bloomPath)) {
      // the delete may have emptied the store outright — then the
      // sidecar is already gone (or must go: nothing finalized)
      if (!hasPartData(s, resPath)) funnelSidecarRebuild(s, resPath, bloomPath)
      return false
    }
    if (!hasPartData(s, resPath)) {
      funnelSidecarRebuild(s, resPath, bloomPath) // drops the sidecar
      return true
    }
    val retired =
      if (!hasParquetData(s, retiredPath(bloomPath))) 0L
      else s.read.parquet(retiredPath(bloomPath)).head().getAs[Long]("n_retired")
    val frozen = s.read.parquet(bloomPath).head().getAs[Long]("n_items")
    if (retired > 0 && retired.toDouble >= staleFrac * frozen.toDouble) {
      funnelSidecarRebuild(s, resPath, bloomPath)
      true
    } else false
  }

  /** Distinct `gram`-char substrings of `nameCol`, one row per
    * (key, gram). Names shorter than the gram width contribute no
    * grams (the filter also keeps sequence() ascending — Spark's
    * sequence steps DOWNWARD when start > stop, which would fabricate
    * grams DuckDB's empty generate_series never emits). Shared by the
    * df-pruned primary blocking (fixed or scaled width) and the
    * starved-probe fallback.
    */
  private def fuzzyGrams(df: DataFrame, keyCol: String, nameCol: String,
      gram: Int = FuzzyGram) = df
    .filter(length(col(nameCol)) >= gram)
    .select(col(keyCol),
      explode(array_distinct(transform(
        sequence(lit(1), length(col(nameCol)) - lit(gram - 1)),
        i => col(nameCol).substr(i, lit(gram))))).as("gram"))

  /** rel_fuzzy_join's probe synthesis + blocking + verify stages (at
    * the given gram width — FuzzyGram for the fixed form, the derived
    * ladder width for rel_fuzzy_join_scaled), up to (but NOT including)
    * the checkpoint — factored out so PlanShapeSpec can pin the
    * BLOCKING plan itself (the checkpoint in the query body truncates
    * this subtree out of the final plan, which would otherwise leave
    * the all-pairs guard asserting over the cheap post-checkpoint joins
    * only). Returns (dirty probe list, verified candidate frame).
    */
  /** The synthesized probe set every fuzzy-join arm shares: every 7th
    * customer, cycling four mutation arms by key — head transposition /
    * substitution / deletion (distances 2,1,1), plus a 6-substitution
    * mangle arm that still BLOCKS (tail grams shared) but must be
    * REJECTED by verify — the candidate-not-match path.
    */
  private def dirtyProbes(cust: DataFrame): DataFrame = {
    val nm = col("c_name")
    cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("probe_key"),
        when(col("c_custkey") % 4 === 0, // transpose chars 2,3
          concat(nm.substr(lit(1), lit(1)), nm.substr(lit(3), lit(1)),
            nm.substr(lit(2), lit(1)), nm.substr(lit(4), length(nm))))
        .when(col("c_custkey") % 4 === 1, // substitute char 5
          concat(nm.substr(lit(1), lit(4)), lit("x"),
            nm.substr(lit(6), length(nm))))
        .when(col("c_custkey") % 4 === 2, // delete char 3
          concat(nm.substr(lit(1), lit(2)), nm.substr(lit(4), length(nm))))
        .otherwise( // mangle head beyond FuzzyK: blocks, must not match
          concat(lit("zzzzzz"), nm.substr(lit(7), length(nm))))
          .as("dirty_name"))
  }

  private[graft] def fuzzyVerified(s: SparkSession, dir: String,
      gram: Int = FuzzyGram): (DataFrame, DataFrame) = {
    val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
    val dirty = dirtyProbes(cust)
      .localCheckpoint(true) // grams, verify, and final join read it
    val cleanGrams = fuzzyGrams(cust, "c_custkey", "c_name", gram)
      .localCheckpoint(true) // feeds the df count AND the posting join
    // blocking index: drop corpus-constant grams (df > FuzzyMaxDf)
    val keep = cleanGrams.groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= FuzzyMaxDf)
      .select("gram")
    val cands = fuzzyGrams(dirty, "probe_key", "dirty_name", gram)
      .join(keep, "gram") // informative grams only
      .join(cleanGrams, "gram")
      .select("probe_key", "c_custkey").distinct()
    // THRESHOLD-BOUNDED levenshtein: O(FuzzyK * n) banded DP instead
    // of the full O(n*m) matrix — returns the exact distance when it
    // is <= FuzzyK and -1 otherwise, which is precisely this query's
    // accept set + no-match sentinel, so the oracle (full distance,
    // then filter) is unchanged. The ad-hoc predicate form
    // `levenshtein(a,b) <= k` gets the same kernel automatically via
    // [[graft.plans.BoundedLevenshteinRule]].
    val verified = cands
      .join(dirty, "probe_key")
      .join(cust, "c_custkey")
      .withColumn("dist",
        levenshtein(col("dirty_name"), col("c_name"), FuzzyK))
    (dirty, verified)
  }

  /** One row per (key, band, gram) over the [[FuzzyBands]] gram
    * families. ONE scan of the input builds every family: per band,
    * anchors are the first valid positions (slice of an ascending
    * sequence, so a name shorter than the band's span contributes an
    * EMPTY array rather than the fabricated grams a descending
    * sequence would emit), keys are per-band distinct, and the
    * families flatten into one (band, gram) explode. `probe = true`
    * fans the positional bands' anchors ±[[FuzzyK]] (probe side only
    * — the df cap is counted on the clean side's unfanned keys). All
    * row-local codegen column algebra — gram mass is ~B x the
    * contiguous family's (+2·[[FuzzyK]]x on the probe's positional
    * bands), linear in the corpus.
    */
  private[graft] def fuzzyBandedGrams(df: DataFrame, keyCol: String,
      nameCol: String, gram: Int, probe: Boolean,
      bandsUsed: Seq[Int] = 0 until FuzzyBands) = {
    val nm = col(nameCol)
    val deltas: Seq[Int] = if (probe) -FuzzyK to FuzzyK else Seq(0)
    def anchors(span: Int) =
      slice(sequence(lit(1), greatest(length(nm), lit(1))), lit(1),
        greatest(length(nm) - lit(span), lit(0)))
    def contiguous(i: org.apache.spark.sql.Column) = nm.substr(i, lit(gram))
    // band 0: contiguous content grams; band 1: stride-2 skip-grams
    val b0 = array_distinct(transform(anchors(gram - 1), contiguous(_)))
    val b1 = array_distinct(transform(anchors((gram - 1) * 2),
      i => concat((0 until gram).map(j => nm.substr(i + lit(2 * j), lit(1))): _*)))
    // bands 2/3: positional (start-/end-anchored); the position is part
    // of the join key, probe side fanned over deltas
    def positional(pos: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      array_distinct(concat(deltas.map(d =>
        transform(anchors(gram - 1),
          i => concat(pos(i).plus(lit(d)).cast("string"), lit(":"), contiguous(i)))): _*))
    val b2 = positional(identity)
    val b3 = positional(i => length(nm) - i)
    val perBand = Seq(b0, b1, b2, b3).zipWithIndex
      .filter { case (_, b) => bandsUsed.contains(b) }
      .map { case (arr, b) =>
        transform(arr, g => struct(lit(b).as("band"), g.as("gram")))
      }
    df.select(col(keyCol), explode(flatten(array(perBand: _*))).as("bg"))
      .select(col(keyCol), col("bg.band").as("band"), col("bg.gram").as("gram"))
  }

  /** rel_fuzzy_join_banded's blocking + verify (the fuzzyVerified
    * shape with OR-amplified banded blocking): per-band df cap — a
    * gram's document frequency is counted WITHIN its family, so one
    * family's hot gram never censors another's discriminative one —
    * equi posting join on (band, gram), cross-band candidate dedup
    * BEFORE the verify. Factored out for the PlanShapeSpec pin
    * (blocking joins stay equi on (band, gram), verify set is never
    * all-pairs) exactly as fuzzyVerified is.
    */
  private[graft] def fuzzyBandedVerified(s: SparkSession, dir: String,
      gram: Int,
      bandsUsed: Seq[Int] = 0 until FuzzyBands): (DataFrame, DataFrame) = {
    val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
    val dirty = dirtyProbes(cust)
      .localCheckpoint(true) // grams, verify, and final join read it
    val cleanGrams = fuzzyBandedGrams(cust, "c_custkey", "c_name", gram,
        probe = false, bandsUsed)
      .localCheckpoint(true) // feeds the df count AND the posting join
    val keep = cleanGrams.groupBy("band", "gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= FuzzyMaxDf)
      .select("band", "gram")
    val cands = fuzzyBandedGrams(dirty, "probe_key", "dirty_name", gram,
        probe = true, bandsUsed)
      .join(keep, Seq("band", "gram")) // informative grams only, per band
      .join(cleanGrams, Seq("band", "gram"))
      .select("probe_key", "c_custkey").distinct() // cross-band dedup
    val verified = cands
      .join(dirty, "probe_key")
      .join(cust, "c_custkey")
      .withColumn("dist",
        levenshtein(col("dirty_name"), col("c_name"), FuzzyK))
    (dirty, verified)
  }

  /** The cross-run drain of the fallback queue ([[FuzzyFallbackCap]]'s
    * missing half): starved probes PERSIST — each run appends its
    * batch's starved set to a [[graft.sources.SegmentStore]] (queue
    * membership is an ADDITIVE count: +1 on enqueue, −1 on serve, so
    * the store's zero-read append / read-time sum / compact machinery
    * carries the queue like any other maintained aggregate), then
    * drains at most `drainCap` pending probes OLDEST-FIRST
    * (enq_run, probe_key — deterministic) through the unpruned
    * fallback tier alongside its own batch. The cap is the same
    * rate-limit argument as the fallback's: unpruned re-blocking is
    * priced per drained probe, so each run's fallback cost is bounded
    * no matter how deep the queue gets, and — unlike the plain
    * fallback — overflow is never dropped, only deferred. Output: one
    * row per starved probe with its enqueue run, drain run (−1 if
    * still queued when the staging ends), fallback match, and the
    * queue DEPTH after its drain (the health-report column; remaining
    * rows carry the final depth). A mid-sequence compact proves the
    * queue survives segment folding. Single-writer per store
    * (SegmentStore's contract); the staged runs here are sequential.
    */
  private[graft] def fuzzyQueueStaged(s: SparkSession, cust: DataFrame,
      batches: Seq[DataFrame], gram: Int, dfCap: Int, drainCap: Int,
      storeDir: String): DataFrame = {
    import graft.sources.SegmentStore
    val qpath = s"$storeDir/queue"
    val qKeys = Seq("probe_key", "dirty_name", "enq_run")
    // corpus-level blocking index, built once, shared by every run's
    // starvation probe AND (unpruned) by the fallback tier
    val cleanGrams = fuzzyGrams(cust, "c_custkey", "c_name", gram)
      .localCheckpoint(true)
    val keep = cleanGrams.groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select("gram")
      .localCheckpoint(true)
    def pending() = SegmentStore.merged(s, qpath, qKeys, "d")
      .filter(col("d") > 0)
    var out = Vector.empty[DataFrame]
    batches.zipWithIndex.foreach { case (batch0, idx) =>
      val r = idx + 1
      val batch = batch0.localCheckpoint(true)
      val blocked = fuzzyGrams(batch, "probe_key", "dirty_name", gram)
        .join(keep, "gram")
        .join(cleanGrams, "gram")
        .select("probe_key").distinct()
      val starved = batch.join(blocked, Seq("probe_key"), "left_anti")
        .select(col("probe_key"), col("dirty_name"),
          lit(r.toLong).as("enq_run"), lit(1L).as("d"))
      SegmentStore.append(starved, qpath) // enqueue (zero-read append)
      val drained = pending()
        .orderBy(col("enq_run").asc, col("probe_key").asc)
        .limit(drainCap) // TakeOrdered: oldest-first, deterministic
        .select("probe_key", "dirty_name", "enq_run")
        .localCheckpoint(true) // cap-bounded; fallback + dequeue read it
      // fallback tier on the drained probes only, df cap lifted
      val fbv = fuzzyGrams(drained, "probe_key", "dirty_name", gram)
        .join(cleanGrams, "gram")
        .select("probe_key", "c_custkey").distinct()
        .join(drained, "probe_key")
        .join(cust, "c_custkey")
        .withColumn("dist",
          levenshtein(col("dirty_name"), col("c_name"), FuzzyK))
        .localCheckpoint(true) // candidate audit + rank both read it
      val nCands = fbv.groupBy("probe_key")
        .agg(count(lit(1)).as("n_candidates"))
      val w = Window.partitionBy("probe_key")
        .orderBy(col("dist").asc, col("c_custkey").asc)
      val best = fbv.filter(col("dist") >= 0)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("probe_key"), col("c_custkey").as("match_key"),
          col("dist").cast("long").as("dist"))
      SegmentStore.append(drained.select(col("probe_key"), col("dirty_name"),
        col("enq_run"), lit(-1L).as("d")), qpath) // dequeue
      val depth = pending().count() // the run's health report
      out :+= drained.select("probe_key", "enq_run")
        .join(nCands, Seq("probe_key"), "left")
        .join(best, Seq("probe_key"), "left")
        .select(col("probe_key"), col("enq_run"),
          lit(r.toLong).as("drained_run"),
          coalesce(col("match_key"), lit(-1L)).as("match_key"),
          coalesce(col("dist"), lit(-1L)).as("dist"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          lit(depth).as("depth_after"))
      // mid-sequence fold: zero rows (enqueued-then-served) collapse
      // away, pending counts survive — queue state is ordinary
      // additive state
      if (r == 2) SegmentStore.compact(s, qpath, qKeys, "d")
    }
    val stillQueued = pending().localCheckpoint(true)
    val finalDepth = stillQueued.count()
    out.reduce(_ unionByName _)
      .unionByName(stillQueued.select(col("probe_key"), col("enq_run"),
        lit(-1L).as("drained_run"), lit(-1L).as("match_key"),
        lit(-1L).as("dist"), lit(0L).as("n_candidates"),
        lit(finalDepth).as("depth_after")))
      .orderBy("probe_key")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Pricing-summary aggregation (TPC-H Q1 shape): scan + filter pushdown
    // + hash partial/final aggregate.
    "rel_q1" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"), 18, 2)).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"), 18, 2)).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice"), 18, 2) * dec(lit(1.0) - col("l_discount"), 5, 2))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"), 18, 2)).cast("double") / count(lit(1)).cast("double"))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Revenue-per-customer top-10: fact-fact equi-join (shuffle) + dim
    // broadcast join + TakeOrderedAndProject.
    "rel_top_customers" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val rev = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("l_extendedprice"), 18, 2) * dec(lit(1.0) - col("l_discount"), 5, 2))
          .as("rev_exact"))
      rev.join(broadcast(c), rev("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("rev_exact").cast("double").as("revenue"))
        .orderBy(col("rev_exact").desc, col("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", "revenue")
    }),

    // Per-customer top-3 orders by totalprice: rank window + group-limit
    // (WindowGroupLimit pushes the <=3 below the shuffle).
    "rel_window_orders" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rnk")
    }),

    // Raw scan with projection + predicate pushdown (ReadSchema should be
    // 3 columns, PushedFilters non-empty).
    "rel_scan_pushdown" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_quantity") < 5.0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Customers with no orders per nation: anti join + dim joins.
    "rel_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val n = Tables.nation(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("idle_customers"))
        .orderBy("n_name")
    }),

    // High-value open orders' customers: semi join + filter.
    "rel_semi_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o.filter(col("o_totalprice") > 100000.0 && col("o_orderstatus") === "O"),
          c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // AS-OF (point-in-time) join: for each purchase event, the most
    // recent click by the same user at or before the purchase — the
    // operator Spark lacks natively (DuckDB's native ASOF JOIN is the
    // oracle). Mechanism and determinism contract live on
    // [[graft.operators.AsofJoin]] (distributed union-merge: one
    // shuffle per side, one growing-frame window pass). INNER
    // semantics: purchases with no prior click are dropped, keeping
    // the output null-free (null timestamps compare NaT != NaT in the
    // driver gate).
    "rel_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"), col("value").as("click_value"))
      graft.operators.AsofJoin.join(purchases, clicks,
          key = "user_id", leftTs = "p_ts", rightTs = "click_ts",
          rightOrder = "click_id",
          rightCols = Seq("click_id", "click_ts", "click_value"))
        .orderBy("purchase_id")
    }),

    // FORWARD as-of: for each click, the EARLIEST purchase at or after
    // it by the same user — the time-to-convert primitive (attribution
    // asks "what click preceded this purchase", funnel analysis asks
    // "when did this click convert"; the two directions of one
    // operator). Same single union-merge window plan with the scan
    // order reversed (AsofJoin forward=true); ties break to the lowest
    // purchase id, a total order the oracle mirrors.
    "rel_asof_join_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      graft.operators.AsofJoin.join(clicks, purchases,
          key = "user_id", leftTs = "c_ts", rightTs = "p_ts",
          rightOrder = "purchase_id",
          rightCols = Seq("purchase_id", "p_ts"), forward = true)
        .withColumn("secs_to_convert",
          (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).cast("long"))
        .orderBy("click_id")
    }),

    // The hot-key-safe variant: identical as-of semantics with the sort
    // partitioned by (key, day-bucket) and per-bucket boundary rows
    // carried forward — the plan shape that survives one user with 10^8
    // events. Same oracle as rel_asof_join by construction.
    "rel_asof_join_bucketed" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"), col("value").as("click_value"))
      graft.operators.AsofJoin.joinBucketed(purchases, clicks,
          key = "user_id", leftTs = "p_ts", rightTs = "click_ts",
          rightOrder = "click_id",
          rightCols = Seq("click_id", "click_ts", "click_value"),
          bucketSeconds = 86400L)
        .orderBy("purchase_id")
    }),

    // LEFT-OUTER as-of: every purchase keeps its row whether or not a
    // prior click exists — the coverage-auditing form of rel_asof_join
    // (AsofJoin inner=false; identical union-merge plan, the match
    // filter is simply not applied). The driver comparator needs
    // null-free output, so the unmatched rows surface as a matched=0
    // flag with sentinel click columns (click_ts itself is dropped:
    // a null timestamp compares NaT != NaT in the gate).
    "rel_asof_join_outer" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"), col("value").as("click_value"))
      graft.operators.AsofJoin.join(purchases, clicks,
          key = "user_id", leftTs = "p_ts", rightTs = "click_ts",
          rightOrder = "click_id",
          rightCols = Seq("click_id", "click_value"), inner = false)
        .select(col("purchase_id"), col("user_id"), col("p_ts"),
          when(col("click_id").isNull, 0L).otherwise(1L).as("matched"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("click_value"), lit(0.0)).as("click_value"))
        .orderBy("purchase_id")
    }),

    // TPC-H Q3 shape — the canonical 3-table join+agg+top-N: segment
    // filter on the small dim (customer), date filters pushed to both
    // fact scans, lineitem⨝orders shuffles on the join key while
    // customer broadcasts, revenue in exact DECIMAL, and the final
    // top-10 plans as TakeOrderedAndProject (no global sort). The query
    // Catalyst's join reordering + AQE exist for; at 100 TB the only
    // full-size shuffle is the l⨝o key exchange.
    "rel_q3" -> ((s, dir) => {
      val cutoff = lit("1997-06-01 00:00:00").cast("timestamp")
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val rev = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sum(dec(col("l_extendedprice"), 18, 2) *
          dec(lit(1.0) - col("l_discount"), 5, 2)).as("rev_exact"))
      rev.orderBy(col("rev_exact").desc, col("o_orderkey")).limit(10)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("rev_exact").cast("double").as("revenue"))
    }),

    // INTERVAL join (batch form of the stream-stream attribution op):
    // every click within the 6-hour window BEFORE a same-user purchase —
    // where as-of keeps only the latest match, attribution keeps ALL
    // in-window matches. Runs through StreamOps.intervalJoin so the
    // driver oracle checks the exact code path the streaming job uses
    // (on batch the watermark is a no-op). Plan: equi-join on user_id
    // with the time range as a residual predicate — key-partitioned
    // shuffle, row count bounded by clicks-per-user-per-window.
    "rel_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      graft.streaming.StreamOps.intervalJoin(
          purchases, "p_ts", clicks, "click_ts",
          Seq("user_id" -> "c_user"), "6 hours", "1 hour")
        .select("purchase_id", "user_id", "p_ts", "click_id", "click_ts")
        .orderBy("purchase_id", "click_id")
    }),

    // Attribution COVERAGE (left-outer interval join): every purchase
    // with its in-window click count — zero rows are the unattributed
    // purchases an attribution pipeline audits for. Same operator as
    // rel_interval_join with joinType=left_outer; the count aggregate
    // keeps the output null-free (the driver comparator's contract).
    "rel_attribution_gap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      graft.streaming.StreamOps.intervalJoin(
          purchases, "p_ts", clicks, "click_ts",
          Seq("user_id" -> "c_user"), "6 hours", "1 hour", "left_outer")
        .groupBy("purchase_id", "user_id")
        .agg(count(col("click_id")).as("n_clicks"))
        .orderBy("purchase_id")
    }),

    // FUNNEL: per-user view -> click -> purchase progression by min-ts
    // chaining (first view, first click strictly after it within
    // FunnelClickWindowHours, first purchase strictly after that within
    // FunnelBuyWindowHours — the windowed form every product funnel
    // uses; unwindowed chaining saturates at this event density and
    // would never exercise the partial-progression branch). Delegates
    // to [[graft.streaming.StreamOps.funnel]]'s batch branch — the SAME
    // chain the streaming stateful form is spec-proven equal to — whose
    // scale shape is: each stage aggregates to one row per user BEFORE
    // any join (a hot user's million events partial-min map-side; the
    // joins only ever see 1-row-per-user frames), never a per-user
    // event collection. Missing stages surface as epoch sentinels + the
    // `reached` count, keeping the output null-free.
    "rel_funnel" -> ((s, dir) =>
      graft.streaming.StreamOps.funnel(Tables.events(s, dir),
          FunnelClickWindowHours * 3600L * 1000L,
          FunnelBuyWindowHours * 3600L * 1000L, "1 hour")
        .orderBy("user_id")),

    // STREAMING-FUNNEL replay as a driver query — the ft_stream_replay
    // treatment for FunnelFn: the event corpus is staged into three
    // deterministic micro-batches with a planted OUT-OF-ORDER arm
    // (views from [Jan 7, Jan 11) with event_id % 5 == 2 are HELD BACK
    // into batch 1, so they arrive after their users' later clicks from
    // batch 0 — the late-earlier-view re-evaluation path) and folded
    // through the literal stateful transition the stream runs
    // (StreamOps.funnelReplay via TestGroupState), under a fixed
    // watermark schedule whose steps keep the held-back arm live and
    // whose last step passes every funnel horizon so all states
    // finalize via their EventTimeTimeout. By the funnel's finalization
    // proof the replay converges to the batch chain, so the rel_funnel
    // oracle hash-gates the STREAMING semantics — state buffering,
    // late-arrival re-evaluation, timeout finalization — not just the
    // relational branch.
    "rel_funnel_replay" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val t = (d: String) => lit(s"2024-01-$d 00:00:00").cast("timestamp")
      val held = col("event_type") === "view" &&
        col("ts") >= t("07") && col("ts") < t("11") &&
        col("event_id") % 5 === 2
      val batch = when(held, 1)
        .when(col("ts") < t("11"), 0)
        .when(col("ts") < t("21"), 1)
        .otherwise(2)
      // epoch ms, UTC: wm after batch 0 sits below the held-back arm's
      // event times (it survives the late filter); the final step is
      // past max(ts) + click + buy windows (every funnel finalizes)
      val wmSchedule = Seq(1704585600000L, 1705449600000L, 1707523200000L)
      graft.streaming.StreamOps.funnelReplay(ev,
          FunnelClickWindowHours * 3600L * 1000L,
          FunnelBuyWindowHours * 3600L * 1000L, batch, wmSchedule)
        .orderBy("user_id")
    }),

    // RETENTION: the cohort matrix (signup-day cohort x active-day
    // offset -> distinct users), rel_funnel's product-analytics
    // companion. user->cohort collapses per user BEFORE the activity
    // join; activity is pre-distincted to user x day, so the join
    // carries at most |users| x |days| rows and the per-cell distinct
    // count partial-aggregates map-side. Calendar math is date-typed
    // on both engines (UTC session), so the matrix is integer-exact.
    "rel_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort_day"))
      val activity = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      cohort.join(activity, "user_id")
        .withColumn("day_offset",
          datediff(col("day"), col("cohort_day")).cast("long"))
        .filter(col("day_offset") >= 0L)
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct("user_id").cast("long").as("n_users"))
        // ISO string: DATE surfaces as date32 here but TIMESTAMP in
        // DuckDB's parquet round-trip — the string form is the one
        // calendar type both engines agree on byte-for-byte
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // INCREMENTAL retention — the dedup_incremental batch-bounded
    // pattern applied to product analytics: a 100 TB event history is
    // never rescanned per reporting day; instead two persisted stores
    // are MAINTAINED — (user_id -> cohort_day) and the distinct
    // (user_id, activity day) pair set — each partitioned by
    // pmod(user_id, parts) so an append rewrites only the directories
    // its batch touches (the upsertMinhash pure-function-key shape: no
    // cross-directory moves). The driver query bulk-loads the
    // pre-Jan-21 history, then appends two later "daily crawl" windows
    // through the SAME upsert path; because cohort inserts are
    // first-batch-wins over time-ordered batches (= global MIN signup
    // day) and pair inserts are idempotent set-unions, the maintained
    // stores converge to the full-history state, and the matrix read
    // back from them matches the one-shot rel_retention oracle exactly.
    // Per-increment cost: the batch + touched directories — never the
    // event history.
    "rel_retention_incremental" -> ((s, dir) => {
      val storeDir = graft.sources.TempDirs.scratch("graft_retn_")
      retentionIngestStaged(s, storeDir, Tables.events(s, dir))
      retentionStoreRead(s, storeDir)
    }),

    // RETRACTION on the maintained retention stores — the same staged
    // ingest, then the retracted users' rows leave BOTH key-replace
    // legs (cohort membership and the (user, day) activity pairs) via
    // the shared AnnIndex touched-partition delete engine — partition
    // is the same pure user-hash as the funnel store, so the rewrite
    // set comes straight from the ids and directories the delete
    // vacates are dropped. No sidecar to maintain here; the report
    // read is [[retentionStoreRead]], the identical incremental path.
    // Converges bit-exactly to the one-shot cohort matrix over the
    // event history WITHOUT the retracted users (COUNT(DISTINCT)
    // per cell simply never sees them).
    "rel_retention_retract" -> ((s, dir) => {
      val storeDir = graft.sources.TempDirs.scratch("graft_retr_")
      val ev = Tables.events(s, dir)
      // staging is SETUP here (the takedown is the measured event) —
      // bulk-write the staged ingests' fixpoint (see retentionBulkStage;
      // rel_retention_incremental keeps the per-batch ingests)
      retentionBulkStage(s, storeDir, ev)
      val del = ev
        .filter(col("user_id").isNotNull && col("user_id") % 10 === 7)
        .select("user_id").distinct()
        .localCheckpoint(true) // id set read by two deletes + parts probe
      val delParts = del
        .select(pmod(col("user_id"), lit(RetentionParts)).as("part"))
        .distinct().collect().map(_.getLong(0)).toSeq // <= parts rows
      for (leg <- Seq("cohort", "pairs");
           p = s"$storeDir/$leg" if hasPartData(s, p))
        graft.sources.AnnIndex.deleteRowsInParts(
          s, p, "user_id", "part", del, delParts)
      retentionStoreRead(s, storeDir)
    }),

    // INCREMENTAL funnel — the batch dual of the STREAMING funnel
    // (funnel-as-of-watermark, maintained by daily increments): a
    // 100 TB event history is never rescanned per reporting day; two
    // user-hashed parquet stores are maintained instead. `results`
    // holds one row per FINALIZED user and doubles as the streaming
    // branch's tombstone — a finalized user's later events are
    // anti-joined away on arrival. `pending` buffers the funnel events
    // of users still inside their horizon, pruned to the streaming
    // state bound (FunnelFn's tighten-only rule): with current first
    // view v and batch watermark wm, the final first view can only land
    // in [lb, v] for lb = min(wm, v), so only the min view itself,
    // clicks in (lb, v + W1], and purchases in (lb, v + W1 + W2] can
    // ever matter; a viewless user keeps nothing at or below wm (a
    // future view arrives at or above wm and a click must strictly
    // follow its view). A user finalizes exactly when
    // wm > v + W1 + W2 — every chain-relevant event is then below the
    // watermark and already buffered — the SAME instant the streaming
    // funnel's EventTimeTimeout fires, so per increment the cost is the
    // batch, the watermark-bounded pending state, and the tombstone
    // check — which a BLOOM SIDECAR over finalized ids now routes (the
    // pipe_decontam_bloom pattern deployed as maintained state): the
    // bloom rejects definitely-new users without touching the store,
    // only bloom-positives reach the exact anti-join, and that join's
    // finalized scan is PARTITION-PRUNED to the positives' user-hash
    // dirs — so the one piece that grew with history now costs
    // O(positives), exactness untouched (no false negatives; the fp
    // sliver dies in the exact join). The sidecar itself is maintained
    // by segment-append (O(batch) aggregate + one bloom-bytes driver
    // merge per ingest — the finalized store is never rescanned; the
    // event HISTORY never was). Finalized rows APPEND
    // as new files to their user-hash
    // partitions (finalized users are new by construction — no rewrite,
    // unlike the upsert stores); the staged windows replay the
    // rel_retention_incremental choreography under a deliberately
    // LAGGING watermark schedule (see the schedule comment in
    // [[funnelIncremental]] — it keeps both store branches live on
    // this corpus), and the final read (results ∪ chain(pending) at
    // wm = ∞) converges to the one-shot rel_funnel oracle exactly.
    // StreamOpsSpec pins the equality, that BOTH stores are non-empty,
    // and the pending-state bound per ingest.
    "rel_funnel_incremental" -> ((s, dir) =>
      funnelIncremental(s, Tables.events(s, dir))),

    // RETRACTION on the maintained funnel — the GDPR-deletion leg of
    // rel_funnel_incremental, and the KEY-REPLACE counterpart of the
    // additive takedowns (text_bm25/lm, pipe_quality_nb,
    // ft_counts_retract append negated partials; a per-user state
    // store has no negation, so it deletes rows): a user's funnel is
    // self-contained, so takedown = delete their rows from BOTH store
    // legs — finalized results and the pending carry-over — via the
    // shared AnnIndex touched-partition engine (partition is a pure
    // id hash here, so the rewrite set comes straight from the
    // retracted ids, no locating scan; directories the delete fully
    // vacates are dropped), then account the takedown in the sidecar's
    // staleness ledger and let the POLICY decide the re-freeze
    // ([[funnelSidecarRetire]] + [[funnelSidecarMaintain]]): a bloom
    // cannot delete, but the stale sidecar stays CORRECT — retracted
    // members are false positives and every positive still passes the
    // exact anti-join the delete already fixed — so the finalized-
    // store re-freeze scan is paid only when retired mass crosses
    // FunnelBloomStaleFrac of the frozen geometry, making takedown
    // cost purely batch-sized (this staging retires ~10% — below the
    // dial — so the query's cost receipt shows the store-sized term
    // GONE; StoreRetractionSpec drives the ledger past the dial and
    // pins the rebuild + exact recount). AS-OF/contract note: this
    // store answers "what did we hold on date X" with the PRESENT only
    // — deliberately. Retaining pre-delete snapshots would keep the
    // retracted users' rows on disk and defeat the takedown; the audit
    // trail is the accounting (ledger, exact recounts), and time travel
    // lives on the additive stores (SegmentStore.mergedAsOf — see its
    // contract paragraph). The read is
    // [[funnelStoreRead]], the identical path the incremental form
    // uses. Converges bit-exactly to the one-shot funnel over the
    // event history WITHOUT the retracted users — as if they never
    // browsed.
    "rel_funnel_retract" -> ((s, dir) => {
      val storeDir = graft.sources.TempDirs.scratch("graft_funr_")
      val parts = 16L
      val ev = Tables.events(s, dir)
      // staging is SETUP here (the takedown is the measured event) —
      // bulk-write the staged schedule's fixpoint (see funnelBulkStage;
      // rel_funnel_incremental keeps the per-batch ingests)
      funnelBulkStage(s, storeDir, ev)
      val resPath = s"$storeDir/results"
      val pendPath = s"$storeDir/pending"
      val bloomPath = s"$storeDir/bloom"
      val del = ev
        .filter(col("user_id").isNotNull && col("user_id") % 10 === 7)
        .select("user_id").distinct()
        .localCheckpoint(true) // id set read by two deletes + the parts probe
      val delParts = del
        .select(pmod(col("user_id"), lit(parts)).as("part"))
        .distinct().collect().map(_.getLong(0)).toSeq // <= 16 rows
      // the ledger counts FINALIZED rows actually leaving — the same
      // unit as the frozen n_items — not raw retracted ids: ids never
      // finalized (or already removed by a repeat takedown) would
      // over-accumulate staleness and fire the store-sized re-freeze
      // earlier than the dial intends. One read, pruned to the same
      // partitions the delete is about to rewrite anyway.
      val nRetired =
        if (!hasPartData(s, resPath)) 0L
        else s.read.parquet(resPath)
          .filter(col("part").isin(delParts.map(Long.box): _*) &&
            col("user_id").isNotNull)
          .join(del, Seq("user_id"), "left_semi")
          .count()
      for (p <- Seq(resPath, pendPath) if hasPartData(s, p))
        graft.sources.AnnIndex.deleteRowsInParts(
          s, p, "user_id", "part", del, delParts)
      funnelSidecarRetire(s, bloomPath, nRetired) // ledger only, touched-parts read
      funnelSidecarMaintain(s, resPath, bloomPath)
      funnelStoreRead(s, resPath, pendPath,
        // empty-store fallback must also exclude the retracted users
        graft.streaming.StreamOps.funnel(
          ev.filter(col("user_id").isNull || col("user_id") % 10 =!= 7),
          FunnelClickWindowHours * 3600L * 1000L,
          FunnelBuyWindowHours * 3600L * 1000L, "1 hour"))
    }),

    // The bloom sidecar's SATURATION HEALTH REPORT (the pq_code_stats /
    // mm_band_stats discipline applied to the funnel tombstone): run
    // the staged fold, then read the sidecar's own geometry row and
    // measure it — exact items inserted vs frozen capacity, and the
    // OBSERVED positive rate over the non-finalized user population
    // (every positive there is a false positive by construction, since
    // the bloom holds exactly the finalized set). n_items and n_probed
    // are exact integers the oracle recomputes from the event history;
    // the fp / fill columns are hash-gated invariants (within
    // capacity, fp under the sizing's bound, no rebuild due at driver
    // SFs) — the bloom's bit pattern itself is engine-specific, so the
    // BOUND is the cross-engine contract, the ft_dbsize_approx twin
    // pattern. The wired resize path (fill > 50% ⇒ doubled rebuild)
    // is spec-exercised with a tiny initial capacity.
    "rel_funnel_bloom_stats" -> ((s, dir) => {
      val storeDir = graft.sources.TempDirs.scratch("graft_fbs_")
      val ev = Tables.events(s, dir)
      // staging is SETUP here (the sidecar report is the measured event)
      // — bulk-write the staged schedule's fixpoint, bit-identical
      // sidecar included (see funnelBulkStage's bloom argument)
      funnelBulkStage(s, storeDir, ev)
      import s.implicits._
      val bloomDf = (
        // a corpus where no non-null user ever finalizes leaves no
        // sidecar — report the empty geometry (the oracle's n_items
        // is 0 there too) instead of failing on the missing path
        if (!hasParquetData(s, s"$storeDir/bloom"))
          Seq((null: Array[Byte], 0L, FunnelBloomItems))
            .toDF("bf", "n_items", "capacity")
        else s.read.parquet(s"$storeDir/bloom"))
        .localCheckpoint(true) // geometry row + probe subquery read it
      val finU =
        if (!hasPartData(s, s"$storeDir/results"))
          Seq.empty[Long].toDF("user_id")
        else s.read.parquet(s"$storeDir/results")
          .filter(col("user_id").isNotNull).select("user_id")
      val nonFin = ev
        .filter(col("event_type").isin("view", "click", "purchase") &&
          col("user_id").isNotNull)
        .select("user_id").distinct()
        .join(finU, Seq("user_id"), "left_anti")
      val probed = nonFin.agg(
        count(lit(1)).as("n_probed"),
        sum(when(coalesce(graft.functions.SketchExprs.mightContain(
          bloomDf.select("bf"), col("user_id")), lit(false)), 1L)
          .otherwise(0L)).as("n_fp"))
      bloomDf.select("n_items", "capacity").crossJoin(probed)
        .select(
          col("capacity"),
          col("n_items"),
          col("n_probed").cast("long").as("n_probed"),
          (col("n_items") <= col("capacity")).as("within_capacity"),
          // observed fp rate under the ~2% sizing bound (+ sampling
          // slack to 5%): 20·fp <= probed, integers only
          (lit(20L) * coalesce(col("n_fp"), lit(0L)) <= col("n_probed"))
            .as("fp_rate_ok"),
          (lit(2L) * col("n_items") > col("capacity")).as("rebuild_due"))
    }),

    // USER SESSIONIZATION — the per-user form of ft_sessions with the
    // product-analytics payload: one row per (user, session) with the
    // event count, purchase count, and exact duration; the substrate
    // session-scoped funnels and engagement metrics aggregate from.
    // session_window on a BATCH frame merges events with gaps up to
    // SessionGapHours (an event exactly at previous + gap MERGES —
    // StreamOpsSpec pins the boundary; the islands oracle breaks
    // strictly past the gap to match) and every session finalizes; the
    // SAME expression under readStream + watermark is the streaming
    // form (StreamOps.sessionCounts' contract). Duration is an integer
    // micros difference — no float time math. Scale shape: one shuffle
    // on user_id, sessions assembled by Spark's session-window
    // aggregation (sort-merge within partition), output bounded by
    // event count.
    "rel_sessionize" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(
          session_window(col("ts"), s"$SessionGapHours hours"),
          col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
        .select(col("user_id"),
          col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("n_events"), col("n_purchases"),
          expr("(unix_micros(last_ts) - unix_micros(first_ts)) DIV 1000000")
            .as("duration_secs"),
          (col("n_purchases") > 0L).as("converted"))
        .orderBy("user_id", "s_start")
    }),

    // VOLUME-ANOMALY gate (the ingest monitor a crawl pipeline runs
    // before anything downstream trusts a day's data): per event type,
    // flag days whose count sits more than AnomalyK sigma from the
    // type's daily mean. The usual z-score is a double sqrt chain —
    // engine-order-dependent, unhashable — so the test runs ENTIRELY in
    // integer algebra: (c - mu)^2 > K^2 * sigma^2 multiplied through by
    // nd^2 becomes (c*nd - S1)^2 > K^2 * (nd*S2 - S1^2) over exact
    // integers (nd days, S1 = sum c, S2 = sum c^2) — the 6-sigma
    // invariant-gate trick applied to monitoring. The squared products
    // are taken in decimal(38,0) (the rel_q1 dec() discipline): S1^2
    // passes 2^63 once a type's total event count reaches ~3e9, well
    // inside the 100 TB design point, and 38 digits carries the
    // algebra exactly to ~1e19 events per type. Null-ts events (which
    // the corpus contract admits) have no day: both engines filter
    // them, which also sidesteps the engines' opposite NULL orderings
    // in the final sort. The synthetic corpus
    // is deliberately uniform (natural max |z| ~ 3.0), so a 3x burst is
    // PLANTED on clicks/Jan-15 (the text_pii synthesis trick): exactly
    // that one (type, day) must flag, spec-pinned. The decimal algebra
    // stays INTERNAL: the report row emits only BIGINT/bool decision
    // columns — n, is_anomaly, and the dev2/bound ratio quantized to
    // integer bits (margin_bits = bitlen(1 + dev2 div (bound+1)), the
    // text_lm bin()-length discipline; dev2 > bound ⟺ margin_bits >= 2,
    // exactly, because integral div by bound+1 reads >= 1 iff
    // dev2 > bound). Rationale: DECIMAL(38,0)-from-HUGEINT output
    // columns were this gate's only repeat flake target two rounds
    // running (driver-side DuckDB under load; the Spark parquet was
    // bit-identical to passing runs) — the exact decimal evidence moved
    // to the hash-gated rel_anomaly_days_invariant twin below. Scale
    // shape: one map-side-combined (type, day) count, a per-type 1-row
    // moment aggregate broadcast back over days — output bounded by
    // types x calendar days, like rel_retention.
    "rel_anomaly_days" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      val plantDay = lit("2024-01-15").cast("date")
      val plant = ev.filter(col("event_type") === "click" &&
        to_date(col("ts")) === plantDay)
      val aug = ev.unionByName(plant).unionByName(plant) // 3x that day
      val c = aug
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // feeds the moment aggregate AND the final join
      val st = c.groupBy("event_type").agg(
        count(lit(1)).as("nd"),
        sum("n").cast("long").as("s1"),
        sum(col("n") * col("n")).cast("long").as("s2"))
      val dev = dec(col("n"), 38, 0) * dec(col("nd"), 38, 0) -
        dec(col("s1"), 38, 0)
      c.join(broadcast(st), "event_type")
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"),
          dec(dev * dev, 38, 0).as("dev2"),
          dec(dec(lit(AnomalyK.toLong * AnomalyK), 38, 0) *
            (dec(col("nd"), 38, 0) * dec(col("s2"), 38, 0) -
              dec(col("s1"), 38, 0) * dec(col("s1"), 38, 0)), 38, 0)
            .as("bound"))
        .select(col("event_type"), col("day"), col("n"),
          length(bin(expr("1 + dev2 div (bound + 1)"))).cast("long")
            .as("margin_bits"),
          (col("dev2") > col("bound")).as("is_anomaly"))
        .orderBy("event_type", "day")
    }),

    // The decimal EVIDENCE behind rel_anomaly_days, as a hash-gated
    // invariant twin (the ft_dbsize_approx_invariant discipline): the
    // DECIMAL(38,0) moment algebra runs fully on the Spark side and is
    // reduced to exact per-type boolean identities — Σ_days (n·nd − s1)
    // = 0 (the deviations of any distribution sum to zero exactly),
    // nd·s2 − s1² >= 0 (Cauchy–Schwarz on the daily counts), and the
    // planted 3x click day flagged — against a literal-TRUE oracle, so
    // the decimals are still exercised end to end without ever emitting
    // a DECIMAL-from-HUGEINT column through the compare harness.
    "rel_anomaly_days_invariant" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      val plantDay = lit("2024-01-15").cast("date")
      val plant = ev.filter(col("event_type") === "click" &&
        to_date(col("ts")) === plantDay)
      val aug = ev.unionByName(plant).unionByName(plant)
      val c = aug
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // feeds the moment aggregate AND the per-day join
      val st = c.groupBy("event_type").agg(
        count(lit(1)).as("nd"),
        sum("n").cast("long").as("s1"),
        sum(col("n") * col("n")).cast("long").as("s2"))
      val dev = dec(col("n"), 38, 0) * dec(col("nd"), 38, 0) -
        dec(col("s1"), 38, 0)
      val bound = dec(dec(lit(AnomalyK.toLong * AnomalyK), 38, 0) *
        (dec(col("nd"), 38, 0) * dec(col("s2"), 38, 0) -
          dec(col("s1"), 38, 0) * dec(col("s1"), 38, 0)), 38, 0)
      c.join(broadcast(st), "event_type")
        .select(col("event_type"), col("day"), dev.as("dev"),
          (dec(dev * dev, 38, 0) > bound).as("flag"),
          (dec(col("nd"), 38, 0) * dec(col("s2"), 38, 0) -
            dec(col("s1"), 38, 0) * dec(col("s1"), 38, 0) >= lit(0))
            .as("nonneg"))
        .groupBy("event_type")
        .agg(
          (sum(col("dev")) === lit(0)).as("dev_sum_zero"),
          min(col("nonneg")).as("bound_nonneg"),
          (col("event_type") =!= "click" ||
            coalesce(max(when(col("day") === plantDay, col("flag"))),
              lit(false))).as("planted_flagged"))
        .orderBy("event_type")
    }),

    // FUZZY entity-matching join (the record-linkage / data-cleaning
    // operator): a "dirty" probe list is matched against the clean
    // customer roster within Levenshtein distance FuzzyK, WITHOUT the
    // all-pairs distance matrix — candidates come from a q-gram
    // blocking join (distinct FuzzyGram-char substrings, df-pruned at
    // FuzzyMaxDf so corpus-constant grams like the shared "Customer#"
    // head never become hot join keys — the dedup_ngram stop-shingle
    // guard), then ONLY candidates pay the codegen'd levenshtein
    // verify, and a per-probe (distance, key) rank keeps the best
    // match. The general recall guarantee is the Gravano count filter
    // (strings within edit distance k share >= len-q+1-q*k grams);
    // df-pruning trades that worst case for scale — discriminative
    // grams survive, so edits that leave any discriminative region
    // intact are recalled, which the planted arms exercise: probes are
    // synthesized from every 7th customer, cycling four mutation arms
    // by key — head transposition / substitution / deletion
    // (distances 2,1,1), plus a
    // 6-substitution mangle arm that still BLOCKS (tail grams shared)
    // but must be REJECTED by verify — the candidate-not-match path.
    // On this corpus 160/162 plants match their source with ZERO false
    // links; the two misses (probe 0 — an all-zero tail with no
    // informative gram at ANY cap — and probe 14, whose "014" gram the
    // 1400-1499 key block pushes over the df cap) are BLOCKING
    // STARVATION, visible as n_candidates = 0 in the output — exactly
    // the audit signal a linkage pipeline routes to a fallback matcher
    // (spec-pinned: every miss is starvation, never a verify loss).
    // Output: per probe, the best match key (-1 = none), its distance,
    // and the candidate count the blocking admitted (the audit that
    // the join stayed banded, not quadratic). Scale shape: gram df is
    // a map-side-combined vocab aggregate; the posting join is equi on
    // gram with every surviving key df-bounded; the verify set is
    // candidate-sized; the rank window partitions by probe key.
    "rel_fuzzy_join" -> ((s, dir) => {
      val (dirty, verified0) = fuzzyVerified(s, dir)
      val verified = verified0
        .localCheckpoint(true) // candidate audit + match rank both read it
      val nCands = verified.groupBy("probe_key")
        .agg(count(lit(1)).as("n_candidates"))
      val w = Window.partitionBy("probe_key")
        .orderBy(col("dist").asc, col("c_custkey").asc)
      val best = verified.filter(col("dist") >= 0)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("probe_key"), col("c_custkey").as("match_key"),
          col("dist").cast("long").as("dist"))
      dirty.select("probe_key")
        .join(nCands, Seq("probe_key"), "left")
        .join(best, Seq("probe_key"), "left")
        .select(col("probe_key"),
          coalesce(col("match_key"), lit(-1L)).as("match_key"),
          coalesce(col("dist"), lit(-1L)).as("dist"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .orderBy("probe_key")
    }),

    // The STARVATION FALLBACK arm rel_fuzzy_join's audit column exists
    // for: probes the df-pruned blocking admitted ZERO candidates for
    // (n_candidates = 0 — on this corpus probe 0, whose all-zero tail
    // has no informative gram at ANY cap, and probe 14, whose "014"
    // gram the 1400-1499 key block pushes over the cap) re-block with
    // the df cap LIFTED, then pay the same banded verify and
    // (dist, key) rank. Lifting the cap is safe exactly BECAUSE the
    // input is RATE-LIMITED: at most FuzzyFallbackCap starved probes
    // escalate per run (deterministic by probe key; overflow queues
    // for the next run — see the cap's scaladoc for the 10x staging
    // that motivates the bound), materialized before the unpruned
    // join — the spec pins that only starved probes reach it. The hot
    // corpus-constant grams the primary path prunes therefore fan out
    // over at most cap probes, never the whole batch — a wider
    // matcher priced per escalated probe, the standard two-tier
    // linkage design (Gravano et al.'s count-filter blocking with an
    // exhaustive, queue-bounded fallback tier). Output mirrors rel_fuzzy_join over
    // the starved probes only; on this corpus both recover their true
    // source (probe 0 at the transposition distance 2, probe 14 at
    // the deletion distance 1) with zero false links — the rank's
    // dist-asc tie-break puts the true source above the distance-2
    // near-keys the unpruned blocking also admits.
    "rel_fuzzy_join_fallback" -> ((s, dir) => {
      val (dirty, verified0) = fuzzyVerified(s, dir)
      val verified = verified0.localCheckpoint(true)
      val starved = dirty
        .join(verified.select("probe_key").distinct(),
          Seq("probe_key"), "left_anti")
        .orderBy("probe_key").limit(FuzzyFallbackCap) // rate-limited escalation
        .localCheckpoint(true) // cap-bounded; the unpruned join reads ONLY this
      val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
      val fbCands = fuzzyGrams(starved, "probe_key", "dirty_name")
        .join(fuzzyGrams(cust, "c_custkey", "c_name"), "gram") // cap lifted
        .select("probe_key", "c_custkey").distinct()
      val fbv = fbCands
        .join(starved, "probe_key")
        .join(cust, "c_custkey")
        .withColumn("dist",
          levenshtein(col("dirty_name"), col("c_name"), FuzzyK))
        .localCheckpoint(true) // candidate audit + rank both read it
      val nCands = fbv.groupBy("probe_key")
        .agg(count(lit(1)).as("n_candidates"))
      val w = Window.partitionBy("probe_key")
        .orderBy(col("dist").asc, col("c_custkey").asc)
      val best = fbv.filter(col("dist") >= 0)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("probe_key"), col("c_custkey").as("match_key"),
          col("dist").cast("long").as("dist"))
      starved.select("probe_key")
        .join(nCands, Seq("probe_key"), "left")
        .join(best, Seq("probe_key"), "left")
        .select(col("probe_key"),
          coalesce(col("match_key"), lit(-1L)).as("match_key"),
          coalesce(col("dist"), lit(-1L)).as("dist"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .orderBy("probe_key")
    }),

    // SCALED-WIDTH fuzzy join — rel_fuzzy_join with the gram width
    // DERIVED from the corpus count ([[scaledFuzzyGram]]: the
    // knnScaledBits / phashPatches width ladder applied to q-gram
    // blocking). The fixed-width form's recall decays as the entity
    // population grows: entities sharing any given gram multiply
    // linearly, every discriminative gram crosses the df cap, and
    // blocking starves (the 10x probe staging starves ~the whole batch
    // at width 3). Growing q with log(N) holds per-gram populations
    // bounded, so the starvation sliver — and with it the fallback
    // queue — stays thin at ANY corpus size; the Gravano recall bound
    // caps the ladder at 6 for these name lengths at FuzzyK = 2. The
    // oracle derives the same width with the same integer comparison
    // (a one-row width CTE, the sim_knn_graph_scaled pattern), so one
    // static SQL text checks every derived width; at the driver SFs the
    // rule lands on 3 and the result coincides with rel_fuzzy_join —
    // the ScaleProbe match-rate receipt is where the widths diverge.
    "rel_fuzzy_join_scaled" -> ((s, dir) => {
      val q = scaledFuzzyGram(Tables.customer(s, dir).count())
      val (dirty, verified0) = fuzzyVerified(s, dir, q)
      val verified = verified0
        .localCheckpoint(true) // candidate audit + match rank both read it
      val nCands = verified.groupBy("probe_key")
        .agg(count(lit(1)).as("n_candidates"))
      val w = Window.partitionBy("probe_key")
        .orderBy(col("dist").asc, col("c_custkey").asc)
      val best = verified.filter(col("dist") >= 0)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("probe_key"), col("c_custkey").as("match_key"),
          col("dist").cast("long").as("dist"))
      dirty.select("probe_key")
        .join(nCands, Seq("probe_key"), "left")
        .join(best, Seq("probe_key"), "left")
        .select(col("probe_key"),
          coalesce(col("match_key"), lit(-1L)).as("match_key"),
          coalesce(col("dist"), lit(-1L)).as("dist"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          lit(q.toLong).as("gram_width"))
        .orderBy("probe_key")
    }),

    // BANDED fuzzy join — the scaled-width form with OR-amplified
    // blocking ([[FuzzyBands]] gram families incl. the positional
    // pair, per-band df caps, cross-band candidate dedup; the
    // sim_knn_graph_banded pattern applied to record linkage). This
    // is the recall owner for the regime the width ladder can't reach
    // (BASELINE.md's 10x analysis): when numeric-substring ALIASING
    // pushes every content gram of a probe over the df cap, the
    // position-annotated families keep df at the true entity
    // population, and the start-/end-anchor pair covers any placement
    // of the edits relative to the gram (MEASURED at 10x: all 1610 of
    // the scaled form's residual misses recovered, zero false links —
    // the match-rate receipt in BASELINE.md). Verify and rank are
    // unchanged — banding only widens the candidate set, so false
    // links stay impossible (every candidate pays the exact banded
    // Levenshtein). Cost: gram mass x ~B, still linear in the corpus;
    // the blocking joins stay equi on (band, gram) — plan-pinned.
    "rel_fuzzy_join_banded" -> ((s, dir) => {
      val q = scaledFuzzyGram(Tables.customer(s, dir).count())
      // the DEPLOYED band set (stride-2 dropped — see FuzzyBandsDeployed)
      val (dirty, verified0) = fuzzyBandedVerified(s, dir, q, FuzzyBandsDeployed)
      val verified = verified0
        .localCheckpoint(true) // candidate audit + match rank both read it
      val nCands = verified.groupBy("probe_key")
        .agg(count(lit(1)).as("n_candidates"))
      val w = Window.partitionBy("probe_key")
        .orderBy(col("dist").asc, col("c_custkey").asc)
      val best = verified.filter(col("dist") >= 0)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("probe_key"), col("c_custkey").as("match_key"),
          col("dist").cast("long").as("dist"))
      dirty.select("probe_key")
        .join(nCands, Seq("probe_key"), "left")
        .join(best, Seq("probe_key"), "left")
        .select(col("probe_key"),
          coalesce(col("match_key"), lit(-1L)).as("match_key"),
          coalesce(col("dist"), lit(-1L)).as("dist"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          lit(q.toLong).as("gram_width"))
        .orderBy("probe_key")
    }),

    // BAND-COST HEALTH REPORT for the OR-amplified blocking — the
    // pq_code_stats / mm_band_stats / ivf_cell_stats discipline applied
    // to rel_fuzzy_join_banded's gram families, wiring the band-count
    // cost dial the round-12 ablation documented by hand: per family,
    // the clean-side GRAM MASS (posting rows — what the band adds to
    // build cost), the mass and gram count SURVIVING the per-band df
    // cap (the band's live selectivity), the matched probes the band
    // COVERS (its winning pair collides there), and its MARGINAL
    // matches — matched probes covered by NO other band, i.e. the
    // recall actually lost if the band is dropped. A band whose
    // marginal column reads 0 while its mass column is ~1/B of the
    // total is the "25% less gram mass at identical recall" deployment
    // move; a positional band owning nonzero marginals is the residual
    // regime's proof of necessity. All-integer → hash-gated. Scale
    // shape: the same one-scan banded gram build + equi joins as the
    // banded query (mass aggregates are map-side-combined, coverage
    // joins are match-set-sized), output bounded by the band count.
    "rel_fuzzy_join_band_stats" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
      val q = scaledFuzzyGram(cust.count())
      val dirty = dirtyProbes(cust).localCheckpoint(true)
      val cleanGrams = fuzzyBandedGrams(cust, "c_custkey", "c_name", q,
          probe = false)
        .localCheckpoint(true) // df count, posting join, and masses read it
      val keep = cleanGrams.groupBy("band", "gram")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= FuzzyMaxDf)
        .select("band", "gram")
        .localCheckpoint(true) // kept-mass AND candidate join read it
      // per-band candidate pairs (band retained through the dedup)
      val candsB = fuzzyBandedGrams(dirty, "probe_key", "dirty_name", q,
          probe = true)
        .join(keep, Seq("band", "gram"))
        .join(cleanGrams, Seq("band", "gram"))
        .select("band", "probe_key", "c_custkey").distinct()
        .localCheckpoint(true) // verify set + coverage both read it
      val verified = candsB.select("probe_key", "c_custkey").distinct()
        .join(dirty, "probe_key")
        .join(cust, "c_custkey")
        .withColumn("dist",
          levenshtein(col("dirty_name"), col("c_name"), FuzzyK))
      val w = Window.partitionBy("probe_key")
        .orderBy(col("dist").asc, col("c_custkey").asc)
      // no checkpoint: cover (checkpointed below) is best's only
      // consumer — nb/covered/marginal all read cover, not best
      val best = verified.filter(col("dist") >= 0)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("probe_key"), col("c_custkey").as("match_key"))
      // which bands admitted each probe's WINNING pair (renamed join
      // keys: best derives from candsB, so qualified refs are ambiguous)
      val cover = best
        .join(candsB.select(col("band"), col("probe_key").as("pk"),
          col("c_custkey").as("ck")),
          col("probe_key") === col("pk") && col("match_key") === col("ck"))
        .select(col("probe_key"), col("band"))
        .localCheckpoint(true) // per-band coverage + sole-band count
      val nb = cover.groupBy("probe_key")
        .agg(countDistinct("band").as("nbands"))
      val covered = cover.groupBy("band")
        .agg(countDistinct("probe_key").as("covered_matches"))
      val marginal = cover.join(nb, "probe_key")
        .filter(col("nbands") === 1)
        .groupBy("band").agg(count(lit(1)).as("marginal_matches"))
      val mass = cleanGrams.groupBy("band")
        .agg(count(lit(1)).as("gram_mass"),
          countDistinct("gram").as("n_grams"))
      val keptMass = cleanGrams.join(keep, Seq("band", "gram"))
        .groupBy("band")
        .agg(count(lit(1)).as("kept_mass"),
          countDistinct("gram").as("n_kept_grams"))
        .withColumnRenamed("band", "kband")
      val coveredR = covered.withColumnRenamed("band", "cband")
      val marginalR = marginal.withColumnRenamed("band", "gband")
      mass.join(keptMass, col("band") === col("kband"), "left")
        .join(coveredR, col("band") === col("cband"), "left")
        .join(marginalR, col("band") === col("gband"), "left")
        .select(col("band").cast("long").as("band"),
          col("gram_mass"), coalesce(col("kept_mass"), lit(0L)).as("kept_mass"),
          col("n_grams"), coalesce(col("n_kept_grams"), lit(0L)).as("n_kept_grams"),
          coalesce(col("covered_matches"), lit(0L)).as("covered_matches"),
          coalesce(col("marginal_matches"), lit(0L)).as("marginal_matches"),
          lit(q.toLong).as("gram_width"))
        .orderBy("band")
    }),

    // The fallback queue DRAINED ACROSS RUNS (see [[fuzzyQueueStaged]]):
    // a 3-run staging — probe batches split by probe_key % 3 — where
    // each run enqueues its starved probes into the persisted
    // segment-store queue and drains at most [[FuzzyQueueDrainCap]]
    // oldest-first through the unpruned fallback tier. At sf0.01 the
    // corpus starves 3 probes > the cap, so the staging itself
    // demonstrates the carry-over: one probe waits a run and drains in
    // the next, depth returning to 0 — overflow deferred, never
    // dropped. depth_after is the per-run queue-depth health report.
    "rel_fuzzy_join_queue" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
      val dirtyAll = dirtyProbes(cust).localCheckpoint(true)
      val batches = (0 until 3).map(b =>
        dirtyAll.filter(pmod(col("probe_key"), lit(3L)) === lit(b.toLong)))
      fuzzyQueueStaged(s, cust, batches, FuzzyGram, FuzzyMaxDf,
        FuzzyQueueDrainCap,
        graft.sources.TempDirs.scratch("graft_fq_"))
    }),

    // Semi-structured extraction: the events' JSON props column parsed
    // with schema-on-read (from_json with an explicit schema — codegen'd
    // JsonToStructs, no UDF) and aggregated per event type. The 100 TB
    // note: parsing happens in the scan's projection, so column pruning
    // still drops props for queries that don't touch it, and the
    // aggregate is an ordinary map-side-combined groupBy.
    "rel_json_extract" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k")
      ev.select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum("k").cast("long").as("sum_k"),
          max("k").cast("long").as("max_k"),
          countDistinct("k").as("n_distinct_k"))
        .orderBy("event_type")
    }),

    // ROLLUP (hierarchical grouping-sets aggregate): revenue at
    // (returnflag, linestatus), per-returnflag subtotal, and grand
    // total in ONE pass — the report shape that otherwise runs three
    // aggregations. Spark plans this as Expand (3 rows per input, one
    // per grouping set) + a single partial+final hash aggregate, so
    // map-side combine still applies; at 100 TB the alternative worth
    // knowing is aggregating the finest level first and re-aggregating
    // the (tiny) result for the coarser sets — same answer, Expand
    // traffic replaced by a second 6-row aggregate. Null grouping keys
    // (the rolled-up levels) surface as an 'ALL' sentinel + grouping_id
    // so the output is null-free for the driver comparator.
    "rel_rollup" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("long").as("gid"),
          sum(dec(col("l_extendedprice"), 18, 2) *
            dec(lit(1.0) - col("l_discount"), 5, 2)).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("gid"), col("revenue"), col("n_items"))
        .orderBy("gid", "rflag", "lstatus")
    }),

    // PIVOT (wide conditional aggregation): per returnflag, quantity and
    // row count split by linestatus columns — the report-matrix shape.
    // Spark's pivot with EXPLICIT values (F/O — TPC-H's linestatus
    // domain) compiles to a single hash aggregate over conditional
    // aggregates: one pass, map-side combined, no extra shuffle vs the
    // plain groupBy; never call pivot without values at scale (it runs
    // a distinct-scan job just to discover the column set).
    "rel_pivot" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(
          sum(dec(col("l_quantity"), 18, 2)).cast("double").as("qty"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          coalesce(col("F_qty"), lit(0.0)).as("qty_f"),
          coalesce(col("F_n"), lit(0L)).as("n_f"),
          coalesce(col("O_qty"), lit(0.0)).as("qty_o"),
          coalesce(col("O_n"), lit(0L)).as("n_o"))
        .orderBy("l_returnflag")
    }),

    // OFFSET window functions (lag): gap in seconds between a customer's
    // consecutive orders — the inter-arrival signal behind churn/RFM
    // features. One hash-partitioned sort per customer (bounded
    // rows-per-key, same skew contract as the as-of merge); the first
    // order of each customer has no predecessor and is filtered, keeping
    // the output null-free.
    "rel_order_gaps" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("prev_ts", lag(col("o_orderdate"), 1).over(w))
        .withColumn("prev_orderkey", lag(col("o_orderkey"), 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .select(col("o_custkey"), col("o_orderkey"),
          col("prev_orderkey").cast("long").as("prev_orderkey"),
          // o_orderdate is TIMESTAMP_NTZ (no direct long cast); via the
          // UTC session timezone the round-trip is exact epoch seconds
          (col("o_orderdate").cast("timestamp").cast("long") -
            col("prev_ts").cast("timestamp").cast("long")).as("gap_seconds"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Ingestion dedup (batch form of StreamOps.dedupWithinWatermark —
    // the same call the streaming path runs; on a batch frame the
    // watermark is a no-op and it coincides with dropDuplicates).
    // Redelivery is simulated by re-appending every 5th event, the
    // at-least-once duplicate an ingest pipeline actually sees; the
    // per-type count == distinct-count equality is the recovered
    // exactly-once view. Identical rows per event_id, so the
    // arbitrary-winner semantics of dropDuplicates cannot leak
    // nondeterminism into the gate.
    "rel_dedup_events" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select("event_id", "event_type", "user_id", "value")
      val redelivered = ev.unionByName(ev.filter(col("event_id") % 5 === 0))
      graft.streaming.StreamOps.dedupWithinWatermark(
          redelivered, Seq("event_id"), "1 hour")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct("event_id").as("n_distinct"))
        .orderBy("event_type")
    }),

    // Set operators: customers active in BOTH 1995 and 1996 (INTERSECT),
    // minus customers who ever placed a very large order (EXCEPT). Set ops
    // plan as aggregate/join under the hood — distinct semantics shuffle
    // on the key, no row blowup.
    "rel_set_ops" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      def activeIn(year: Int) =
        o.filter(col("o_orderdate") >= lit(s"$year-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit(s"${year + 1}-01-01 00:00:00").cast("timestamp"))
          .select(col("o_custkey"))
      val big = o.filter(col("o_totalprice") > 450000.0).select(col("o_custkey"))
      activeIn(1995).intersect(activeIn(1996)).except(big)
        .orderBy("o_custkey")
    })
  )

  /** As-of oracle: explicit window SQL instead of DuckDB's native ASOF
    * JOIN, because native ASOF leaves right-side ties (two clicks by one
    * user at the same click_ts) unspecified while the Spark side
    * deterministically picks the highest click_id — this form encodes
    * that exact tie-break, so the gate cannot flap on tied data.
    */
  private val asofOracleSql: String =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, ts AS p_ts
      |  FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT event_id AS click_id, user_id, ts AS click_ts, value AS click_value
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT purchase_id, user_id, p_ts, click_id, click_ts, click_value
      |FROM (
      |  SELECT p.purchase_id, p.user_id, p.p_ts,
      |         c.click_id, c.click_ts, c.click_value,
      |         row_number() OVER (PARTITION BY p.purchase_id
      |                            ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
      |  FROM p JOIN c
      |    ON p.user_id = c.user_id AND c.click_ts <= p.p_ts
      |) WHERE rn = 1
      |ORDER BY purchase_id""".stripMargin

  /** The one-shot funnel chain — the SINGLE oracle for rel_funnel and
    * its replay/incremental forms (all three converge to it by
    * construction; one definition so a window/schema tweak cannot
    * desynchronize them).
    */
  private lazy val funnelSql: String = funnelSqlWhere("TRUE")

  /** The one-shot funnel over `events WHERE pred` — TRUE for the
    * one-shot/replay/maintained forms, the corpus-without for
    * rel_funnel_retract (the pipeExportSqlWhere discipline: one chain
    * definition for every artifact).
    */
  private def funnelSqlWhere(pred: String): String =
    s"""WITH ev AS (
      |  SELECT * FROM events WHERE $pred
      |), v AS (
      |  SELECT user_id, MIN(ts) AS t_view FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_click
      |  FROM ev e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view
      |    AND e.ts <= v.t_view + INTERVAL $FunnelClickWindowHours HOUR
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_purchase
      |  FROM ev e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |    AND e.ts <= c.t_click + INTERVAL $FunnelBuyWindowHours HOUR
      |  GROUP BY e.user_id
      |)
      |SELECT v.user_id, v.t_view,
      |  CAST(1 + CASE WHEN c.t_click IS NULL THEN 0 ELSE 1 END
      |         + CASE WHEN p.t_purchase IS NULL THEN 0 ELSE 1 END AS BIGINT) AS reached,
      |  COALESCE(c.t_click, TIMESTAMP '1970-01-01') AS t_click,
      |  COALESCE(p.t_purchase, TIMESTAMP '1970-01-01') AS t_purchase
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** The one-shot cohort matrix — shared by rel_retention and its
    * maintained form, same single-definition rationale as funnelSql.
    */
  private lazy val retentionSql: String = retentionSqlWhere("TRUE")

  /** The cohort matrix over `events WHERE pred` — TRUE for the
    * one-shot/maintained forms, the corpus-without for
    * rel_retention_retract.
    */
  private def retentionSqlWhere(pred: String): String =
    s"""WITH ev AS (
      |  SELECT * FROM events WHERE $pred
      |), cohort AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM ev
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), activity AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM ev
      |)
      |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
      |  CAST(datediff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
      |  CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_users
      |FROM cohort c JOIN activity a USING (user_id)
      |WHERE datediff('day', c.cohort_day, a.day) >= 0
      |GROUP BY c.cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** The banded-blocking CTE chain (derived width qw, dirty probes, the
    * four clean-side gram families cg, per-band df keep, probe-side
    * fanned families dg, band-retaining candidates candsb, cross-band
    * deduped cands) — shared by the rel_fuzzy_join_banded oracle and
    * the rel_fuzzy_join_band_stats report so the join and its health
    * report can never disagree about a band's contribution.
    */
  private def fuzzyBandedCtes(bands: Seq[Int]): String = {
    val caps = Seq(3, 4, 5, 6)
      .map(q => FuzzyMaxDf.toLong * math.pow(10, q).toLong).mkString(", ")
    val cgArms = Map(
      0 -> """SELECT c_custkey, 0 AS band, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(c_name) - (q - 1)),
        |    i -> substr(c_name, i, CAST(q AS INT))))) AS gram
        |  FROM customer CROSS JOIN qw""".stripMargin,
      1 -> """SELECT c_custkey, 1 AS band, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(c_name) - (q - 1) * 2),
        |    i -> array_to_string(list_transform(
        |      generate_series(0, CAST(q AS INT) - 1),
        |      j -> substr(c_name, CAST(i + j * 2 AS INT), 1)), '')))) AS gram
        |  FROM customer CROSS JOIN qw""".stripMargin,
      2 -> """SELECT c_custkey, 2 AS band, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(c_name) - (q - 1)),
        |    i -> concat(CAST(i AS VARCHAR), ':',
        |                substr(c_name, i, CAST(q AS INT)))))) AS gram
        |  FROM customer CROSS JOIN qw""".stripMargin,
      3 -> """SELECT c_custkey, 3 AS band, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(c_name) - (q - 1)),
        |    i -> concat(CAST(length(c_name) - i AS VARCHAR), ':',
        |                substr(c_name, i, CAST(q AS INT)))))) AS gram
        |  FROM customer CROSS JOIN qw""".stripMargin)
    val dgArms = Map(
      0 -> """SELECT probe_key, 0 AS band, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(dirty_name) - (q - 1)),
        |    i -> substr(dirty_name, i, CAST(q AS INT))))) AS gram
        |  FROM dirty CROSS JOIN qw""".stripMargin,
      1 -> """SELECT probe_key, 1 AS band, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(dirty_name) - (q - 1) * 2),
        |    i -> array_to_string(list_transform(
        |      generate_series(0, CAST(q AS INT) - 1),
        |      j -> substr(dirty_name, CAST(i + j * 2 AS INT), 1)), '')))) AS gram
        |  FROM dirty CROSS JOIN qw""".stripMargin,
      2 -> """SELECT probe_key, 2 AS band, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(dirty_name) - (q - 1)),
        |    i -> concat(CAST(i + dd AS VARCHAR), ':',
        |                substr(dirty_name, i, CAST(q AS INT)))))) AS gram
        |  FROM dirty CROSS JOIN qw CROSS JOIN deltas""".stripMargin,
      3 -> """SELECT probe_key, 3 AS band, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(dirty_name) - (q - 1)),
        |    i -> concat(CAST(length(dirty_name) - i + dd AS VARCHAR), ':',
        |                substr(dirty_name, i, CAST(q AS INT)))))) AS gram
        |  FROM dirty CROSS JOIN qw CROSS JOIN deltas""".stripMargin)
    val cg = bands.sorted.map(cgArms).mkString("\n  UNION ALL\n  ")
    val dg = bands.sorted.map(dgArms).mkString("\n  UNION ALL\n  ")
    s"""qw AS (
      |  SELECT CAST(COALESCE(MIN(q), 6) AS BIGINT) AS q FROM (
      |    SELECT UNNEST([3, 4, 5, 6]) AS q, UNNEST([$caps]) AS cap
      |  ) t WHERE cap >= 16 * (SELECT COUNT(*) FROM customer)
      |), dirty AS (
      |  SELECT c_custkey AS probe_key,
      |    CASE WHEN c_custkey % 4 = 0
      |           THEN concat(substr(c_name,1,1), substr(c_name,3,1),
      |                       substr(c_name,2,1), substr(c_name,4))
      |         WHEN c_custkey % 4 = 1
      |           THEN concat(substr(c_name,1,4), 'x', substr(c_name,6))
      |         WHEN c_custkey % 4 = 2
      |           THEN concat(substr(c_name,1,2), substr(c_name,4))
      |         ELSE concat('zzzzzz', substr(c_name,7)) END AS dirty_name
      |  FROM customer WHERE c_custkey % 7 = 0
      |), cg AS (
      |  $cg
      |), keep AS (
      |  SELECT band, gram FROM (
      |    SELECT band, gram, COUNT(*) AS df FROM cg GROUP BY 1, 2
      |  ) t WHERE df <= $FuzzyMaxDf
      |), deltas AS (
      |  SELECT UNNEST(range(-$FuzzyK, ${FuzzyK + 1})) AS dd
      |), dg AS (
      |  $dg
      |), candsb AS (
      |  SELECT DISTINCT band, probe_key, c_custkey
      |  FROM dg JOIN keep USING (band, gram) JOIN cg USING (band, gram)
      |), cands AS (
      |  SELECT DISTINCT probe_key, c_custkey FROM candsb
      |)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "rel_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "rel_top_customers" ->
      """WITH rev AS (
        |  SELECT o.o_custkey,
        |         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l.l_discount AS DECIMAL(5,2))) AS rev_exact
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY o.o_custkey
        |)
        |SELECT c.c_custkey, c.c_name, CAST(rev_exact AS DOUBLE) AS revenue
        |FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
        |ORDER BY rev_exact DESC, c.c_custkey
        |LIMIT 10""".stripMargin,

    "rel_window_orders" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders
        |)
        |SELECT o_custkey, rnk, o_orderkey, o_totalprice
        |FROM ranked WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin,

    "rel_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_quantity < 5.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "rel_anti_join" ->
      """SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS idle_customers
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    "rel_semi_join" ->
      """SELECT c.c_custkey, c.c_mktsegment
        |FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_totalprice > 100000.0 AND o.o_orderstatus = 'O')
        |ORDER BY c.c_custkey""".stripMargin,

    "rel_asof_join" -> asofOracleSql,

    // earliest at-or-after, ties to the lowest purchase id
    "rel_asof_join_forward" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT click_id, user_id, c_ts, purchase_id, p_ts,
        |       CAST(FLOOR(EPOCH(p_ts)) - FLOOR(EPOCH(c_ts)) AS BIGINT) AS secs_to_convert
        |FROM (
        |  SELECT c.click_id, c.user_id, c.c_ts, p.purchase_id, p.p_ts,
        |         row_number() OVER (PARTITION BY c.click_id
        |                            ORDER BY p.p_ts ASC, p.purchase_id ASC) AS rn
        |  FROM c JOIN p
        |    ON c.user_id = p.user_id AND p.p_ts >= c.c_ts
        |) WHERE rn = 1
        |ORDER BY click_id""".stripMargin,

    // joinBucketed has identical semantics; the same window-SQL oracle
    // (which encodes the Spark tie-break: latest click_ts, highest
    // click_id) checks both plan shapes.
    "rel_asof_join_bucketed" -> asofOracleSql,

    // the LEFT JOIN form of the same window oracle: an unmatched
    // purchase yields one all-null click row at rn = 1
    "rel_asof_join_outer" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts, value AS click_value
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT purchase_id, user_id, p_ts,
        |       CAST(CASE WHEN click_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS matched,
        |       CAST(COALESCE(click_id, -1) AS BIGINT) AS click_id,
        |       COALESCE(click_value, CAST(0.0 AS DOUBLE)) AS click_value
        |FROM (
        |  SELECT p.purchase_id, p.user_id, p.p_ts,
        |         c.click_id, c.click_value,
        |         row_number() OVER (PARTITION BY p.purchase_id
        |                            ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
        |  FROM p LEFT JOIN c
        |    ON p.user_id = c.user_id AND c.click_ts <= p.p_ts
        |) WHERE rn = 1
        |ORDER BY purchase_id""".stripMargin,

    "rel_q3" ->
      """WITH rev AS (
        |  SELECT o.o_orderkey, o.o_orderdate,
        |         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l.l_discount AS DECIMAL(5,2))) AS rev_exact
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'BUILDING'
        |    AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        |    AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
        |  GROUP BY o.o_orderkey, o.o_orderdate
        |)
        |SELECT o_orderkey, o_orderdate, CAST(rev_exact AS DOUBLE) AS revenue
        |FROM rev
        |ORDER BY rev_exact DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "rel_funnel" -> funnelSql,

    // replay convergence: the staged micro-batch fold finalizes every
    // funnel, so the oracle is the batch chain unchanged
    "rel_funnel_replay" -> funnelSql,

    // maintained-fold convergence: finalization fires only when the
    // watermark has passed the whole funnel horizon (chain immutable)
    // and the final read chains the still-pending buffer, so the
    // incremental result is the one-shot chain exactly
    "rel_funnel_incremental" -> funnelSql,
    // maintained-store takedown == the funnel over the history without
    // the retracted users
    "rel_funnel_retract" ->
      funnelSqlWhere("user_id IS NULL OR user_id % 10 != 7"),

    // exact integers recomputed from the event history (finalized =
    // non-null users whose first view clears the staged fold's final
    // watermark minus the funnel horizon); the fill/fp columns are
    // literal-TRUE/FALSE invariants — the bloom's bit pattern is
    // engine-specific, so the BOUND is the cross-engine contract
    "rel_funnel_bloom_stats" ->
      s"""WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), fin AS (
        |  SELECT user_id FROM v
        |  WHERE user_id IS NOT NULL
        |    AND t_view + INTERVAL ${FunnelClickWindowHours + FunnelBuyWindowHours} HOUR
        |        < TIMESTAMP '2024-01-06 00:00:00'
        |), u AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')
        |    AND user_id IS NOT NULL
        |), cap AS (
        |  -- the wired resize's invariant: capacity is the smallest
        |  -- doubling of the initial sizing with 2*n_items <= capacity
        |  -- (the maintenance doubles past 50% fill, so the final
        |  -- geometry is a pure function of the finalized count — a
        |  -- literal here would diverge at any SF that triggers a resize)
        |  SELECT CAST(MIN(c) AS BIGINT) AS capacity FROM (
        |    SELECT $FunnelBloomItems * (CAST(1 AS BIGINT) << g) AS c
        |    FROM (SELECT UNNEST(generate_series(0, 40)) AS g)
        |  ) WHERE c >= 2 * (SELECT COUNT(*) FROM fin)
        |)
        |SELECT (SELECT capacity FROM cap) AS capacity,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM fin) AS n_items,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM u
        |   WHERE user_id NOT IN (SELECT user_id FROM fin)) AS n_probed,
        |  (SELECT COUNT(*) FROM fin) <= (SELECT capacity FROM cap) AS within_capacity,
        |  TRUE AS fp_rate_ok,
        |  2 * (SELECT COUNT(*) FROM fin) > (SELECT capacity FROM cap) AS rebuild_due""".stripMargin,

    "rel_retention" -> retentionSql,

    // maintained-store convergence: batch-ordered first-writer-wins
    // cohorts == global MIN signup day, pair appends == the distinct
    // activity set, so the incremental matrix is the one-shot matrix
    "rel_retention_incremental" -> retentionSql,
    // maintained-store takedown == the cohort matrix without the
    // retracted users
    "rel_retention_retract" ->
      retentionSqlWhere("user_id IS NULL OR user_id % 10 != 7"),

    // islands form of the session merge: break strictly PAST the gap
    // (an event exactly at previous + gap merges — the Spark
    // session_window boundary, StreamOpsSpec-pinned); end = last + gap.
    // ts IS NOT NULL mirrors Spark: session_window DROPS null event
    // times, while a bare islands window would fold them into the
    // user's last session
    "rel_sessionize" ->
      s"""WITH l AS (
        |  SELECT user_id, ts, event_type,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        |  FROM events WHERE ts IS NOT NULL
        |), f AS (
        |  SELECT user_id, ts, event_type,
        |         CASE WHEN pts IS NULL
        |                OR ts - pts > INTERVAL $SessionGapHours HOUR
        |              THEN 1 ELSE 0 END AS brk
        |  FROM l
        |), s AS (
        |  SELECT user_id, ts, event_type,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f
        |)
        |SELECT user_id,
        |  MIN(ts) AS s_start,
        |  MAX(ts) + INTERVAL $SessionGapHours HOUR AS s_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |  (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_secs,
        |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0 AS converted
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,

    // same 3x plant, same integer moment algebra; null-ts rows filtered
    // (no day) on both sides; the squared products run in HUGEINT
    // INTERNALLY only — the emitted columns are BIGINT/bool (the ratio
    // quantized to integer bits), the exact decimals live in the
    // invariant twin
    "rel_anomaly_days" ->
      s"""WITH aug AS (
        |  SELECT event_type, ts FROM events WHERE ts IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, ts FROM events
        |  WHERE ts IS NOT NULL AND event_type = 'click'
        |    AND CAST(ts AS DATE) = DATE '2024-01-15'
        |  UNION ALL
        |  SELECT event_type, ts FROM events
        |  WHERE ts IS NOT NULL AND event_type = 'click'
        |    AND CAST(ts AS DATE) = DATE '2024-01-15'
        |), c AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM aug GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type,
        |         CAST(COUNT(*) AS BIGINT) AS nd,
        |         CAST(SUM(n) AS BIGINT) AS s1,
        |         CAST(SUM(n * n) AS BIGINT) AS s2
        |  FROM c GROUP BY 1
        |), m AS (
        |  SELECT c.event_type, c.day, c.n,
        |    (CAST(c.n AS HUGEINT) * st.nd - st.s1)
        |      * (CAST(c.n AS HUGEINT) * st.nd - st.s1) AS dev2,
        |    ${AnomalyK * AnomalyK} * (CAST(st.nd AS HUGEINT) * st.s2
        |      - CAST(st.s1 AS HUGEINT) * st.s1) AS bound
        |  FROM c JOIN st USING (event_type)
        |)
        |SELECT event_type,
        |  strftime(day, '%Y-%m-%d') AS day,
        |  n,
        |  CAST(length(bin(CAST(1 + dev2 // (bound + 1) AS BIGINT))) AS BIGINT)
        |    AS margin_bits,
        |  dev2 > bound AS is_anomaly
        |FROM m
        |ORDER BY event_type, day""".stripMargin,

    // the decimal moment algebra runs Spark-side and reduces to exact
    // boolean identities; the oracle is the literal-TRUE contract (the
    // ft_dbsize_approx_invariant pattern)
    "rel_anomaly_days_invariant" ->
      """SELECT event_type,
        |  TRUE AS dev_sum_zero,
        |  TRUE AS bound_nonneg,
        |  TRUE AS planted_flagged
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same q-gram blocking + levenshtein verify + (dist, key) rank;
    // both engines' levenshtein is the plain unit-cost edit distance
    "rel_fuzzy_join" ->
      s"""WITH dirty AS (
        |  SELECT c_custkey AS probe_key,
        |    CASE WHEN c_custkey % 4 = 0
        |           THEN concat(substr(c_name,1,1), substr(c_name,3,1),
        |                       substr(c_name,2,1), substr(c_name,4))
        |         WHEN c_custkey % 4 = 1
        |           THEN concat(substr(c_name,1,4), 'x', substr(c_name,6))
        |         WHEN c_custkey % 4 = 2
        |           THEN concat(substr(c_name,1,2), substr(c_name,4))
        |         ELSE concat('zzzzzz', substr(c_name,7)) END AS dirty_name
        |  FROM customer WHERE c_custkey % 7 = 0
        |), cg AS (
        |  SELECT c_custkey, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(c_name) - ${FuzzyGram - 1}),
        |    i -> substr(c_name, i, $FuzzyGram)))) AS gram
        |  FROM customer
        |), keep AS (
        |  SELECT gram FROM (
        |    SELECT gram, COUNT(*) AS df FROM cg GROUP BY 1
        |  ) t WHERE df <= $FuzzyMaxDf
        |), dg AS (
        |  SELECT probe_key, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(dirty_name) - ${FuzzyGram - 1}),
        |    i -> substr(dirty_name, i, $FuzzyGram)))) AS gram
        |  FROM dirty
        |), cands AS (
        |  SELECT DISTINCT probe_key, c_custkey
        |  FROM dg JOIN keep USING (gram) JOIN cg USING (gram)
        |), verified AS (
        |  SELECT v.probe_key, v.c_custkey,
        |         levenshtein(d.dirty_name, c.c_name) AS dist
        |  FROM cands v
        |  JOIN dirty d ON d.probe_key = v.probe_key
        |  JOIN customer c ON c.c_custkey = v.c_custkey
        |), nc AS (
        |  SELECT probe_key, CAST(COUNT(*) AS BIGINT) AS n_candidates
        |  FROM verified GROUP BY 1
        |), best AS (
        |  SELECT probe_key, c_custkey AS match_key, CAST(dist AS BIGINT) AS dist
        |  FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY probe_key ORDER BY dist, c_custkey) AS rnk
        |    FROM verified WHERE dist <= $FuzzyK
        |  ) t WHERE rnk = 1
        |)
        |SELECT d.probe_key,
        |  CAST(COALESCE(match_key, -1) AS BIGINT) AS match_key,
        |  CAST(COALESCE(b.dist, -1) AS BIGINT) AS dist,
        |  CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates
        |FROM dirty d LEFT JOIN nc USING (probe_key) LEFT JOIN best b USING (probe_key)
        |ORDER BY probe_key""".stripMargin,

    // same dirty/gram synthesis; starved = probes outside the primary
    // blocking's candidate set; their re-block drops the keep prune
    "rel_fuzzy_join_fallback" ->
      s"""WITH dirty AS (
        |  SELECT c_custkey AS probe_key,
        |    CASE WHEN c_custkey % 4 = 0
        |           THEN concat(substr(c_name,1,1), substr(c_name,3,1),
        |                       substr(c_name,2,1), substr(c_name,4))
        |         WHEN c_custkey % 4 = 1
        |           THEN concat(substr(c_name,1,4), 'x', substr(c_name,6))
        |         WHEN c_custkey % 4 = 2
        |           THEN concat(substr(c_name,1,2), substr(c_name,4))
        |         ELSE concat('zzzzzz', substr(c_name,7)) END AS dirty_name
        |  FROM customer WHERE c_custkey % 7 = 0
        |), cg AS (
        |  SELECT c_custkey, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(c_name) - ${FuzzyGram - 1}),
        |    i -> substr(c_name, i, $FuzzyGram)))) AS gram
        |  FROM customer
        |), keep AS (
        |  SELECT gram FROM (
        |    SELECT gram, COUNT(*) AS df FROM cg GROUP BY 1
        |  ) t WHERE df <= $FuzzyMaxDf
        |), dg AS (
        |  SELECT probe_key, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(dirty_name) - ${FuzzyGram - 1}),
        |    i -> substr(dirty_name, i, $FuzzyGram)))) AS gram
        |  FROM dirty
        |), blocked AS (
        |  SELECT DISTINCT probe_key
        |  FROM dg JOIN keep USING (gram) JOIN cg USING (gram)
        |), starved AS (
        |  SELECT probe_key, dirty_name FROM dirty
        |  WHERE probe_key NOT IN (SELECT probe_key FROM blocked)
        |  ORDER BY probe_key LIMIT $FuzzyFallbackCap
        |), fb AS (
        |  SELECT DISTINCT s.probe_key, g.c_custkey
        |  FROM dg s JOIN cg g USING (gram)
        |  WHERE s.probe_key IN (SELECT probe_key FROM starved)
        |), fverified AS (
        |  SELECT v.probe_key, v.c_custkey,
        |         levenshtein(d.dirty_name, c.c_name) AS dist
        |  FROM fb v
        |  JOIN dirty d ON d.probe_key = v.probe_key
        |  JOIN customer c ON c.c_custkey = v.c_custkey
        |), nc AS (
        |  SELECT probe_key, CAST(COUNT(*) AS BIGINT) AS n_candidates
        |  FROM fverified GROUP BY 1
        |), best AS (
        |  SELECT probe_key, c_custkey AS match_key, CAST(dist AS BIGINT) AS dist
        |  FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY probe_key ORDER BY dist, c_custkey) AS rnk
        |    FROM fverified WHERE dist <= $FuzzyK
        |  ) t WHERE rnk = 1
        |)
        |SELECT s.probe_key,
        |  CAST(COALESCE(match_key, -1) AS BIGINT) AS match_key,
        |  CAST(COALESCE(b.dist, -1) AS BIGINT) AS dist,
        |  CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates
        |FROM starved s LEFT JOIN nc USING (probe_key) LEFT JOIN best b USING (probe_key)
        |ORDER BY probe_key""".stripMargin,

    // same pipeline at the DERIVED gram width: a one-row width CTE
    // (same integer rule as scaledFuzzyGram) feeds every substr/df
    // stage, so one static text checks every derived width
    "rel_fuzzy_join_scaled" -> {
      val caps = Seq(3, 4, 5, 6)
        .map(q => FuzzyMaxDf.toLong * math.pow(10, q).toLong).mkString(", ")
      s"""WITH qw AS (
        |  SELECT CAST(COALESCE(MIN(q), 6) AS BIGINT) AS q FROM (
        |    SELECT UNNEST([3, 4, 5, 6]) AS q, UNNEST([$caps]) AS cap
        |  ) t WHERE cap >= 16 * (SELECT COUNT(*) FROM customer)
        |), dirty AS (
        |  SELECT c_custkey AS probe_key,
        |    CASE WHEN c_custkey % 4 = 0
        |           THEN concat(substr(c_name,1,1), substr(c_name,3,1),
        |                       substr(c_name,2,1), substr(c_name,4))
        |         WHEN c_custkey % 4 = 1
        |           THEN concat(substr(c_name,1,4), 'x', substr(c_name,6))
        |         WHEN c_custkey % 4 = 2
        |           THEN concat(substr(c_name,1,2), substr(c_name,4))
        |         ELSE concat('zzzzzz', substr(c_name,7)) END AS dirty_name
        |  FROM customer WHERE c_custkey % 7 = 0
        |), cg AS (
        |  SELECT c_custkey, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(c_name) - (q - 1)),
        |    i -> substr(c_name, i, CAST(q AS INT))))) AS gram
        |  FROM customer CROSS JOIN qw
        |), keep AS (
        |  SELECT gram FROM (
        |    SELECT gram, COUNT(*) AS df FROM cg GROUP BY 1
        |  ) t WHERE df <= $FuzzyMaxDf
        |), dg AS (
        |  SELECT probe_key, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(dirty_name) - (q - 1)),
        |    i -> substr(dirty_name, i, CAST(q AS INT))))) AS gram
        |  FROM dirty CROSS JOIN qw
        |), cands AS (
        |  SELECT DISTINCT probe_key, c_custkey
        |  FROM dg JOIN keep USING (gram) JOIN cg USING (gram)
        |), verified AS (
        |  SELECT v.probe_key, v.c_custkey,
        |         levenshtein(d.dirty_name, c.c_name) AS dist
        |  FROM cands v
        |  JOIN dirty d ON d.probe_key = v.probe_key
        |  JOIN customer c ON c.c_custkey = v.c_custkey
        |), nc AS (
        |  SELECT probe_key, CAST(COUNT(*) AS BIGINT) AS n_candidates
        |  FROM verified GROUP BY 1
        |), best AS (
        |  SELECT probe_key, c_custkey AS match_key, CAST(dist AS BIGINT) AS dist
        |  FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY probe_key ORDER BY dist, c_custkey) AS rnk
        |    FROM verified WHERE dist <= $FuzzyK
        |  ) t WHERE rnk = 1
        |)
        |SELECT d.probe_key,
        |  CAST(COALESCE(match_key, -1) AS BIGINT) AS match_key,
        |  CAST(COALESCE(b.dist, -1) AS BIGINT) AS dist,
        |  CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates,
        |  (SELECT q FROM qw) AS gram_width
        |FROM dirty d LEFT JOIN nc USING (probe_key) LEFT JOIN best b USING (probe_key)
        |ORDER BY probe_key""".stripMargin
    },

    // scaled-width pipeline with OR-amplified banded blocking: band 0
    // contiguous grams, band 1 stride-2 skip-grams (nested lambdas),
    // bands 2/3 start-/end-anchored positional grams with the probe
    // side's anchors fanned +-k; df caps apply within each band on the
    // clean side's unfanned keys, the posting join is on (band, gram),
    // and candidates dedup across bands before verify
    "rel_fuzzy_join_banded" ->
      s"""WITH ${fuzzyBandedCtes(FuzzyBandsDeployed)}, verified AS (
        |  SELECT v.probe_key, v.c_custkey,
        |         levenshtein(d.dirty_name, c.c_name) AS dist
        |  FROM cands v
        |  JOIN dirty d ON d.probe_key = v.probe_key
        |  JOIN customer c ON c.c_custkey = v.c_custkey
        |), nc AS (
        |  SELECT probe_key, CAST(COUNT(*) AS BIGINT) AS n_candidates
        |  FROM verified GROUP BY 1
        |), best AS (
        |  SELECT probe_key, c_custkey AS match_key, CAST(dist AS BIGINT) AS dist
        |  FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY probe_key ORDER BY dist, c_custkey) AS rnk
        |    FROM verified WHERE dist <= $FuzzyK
        |  ) t WHERE rnk = 1
        |)
        |SELECT d.probe_key,
        |  CAST(COALESCE(match_key, -1) AS BIGINT) AS match_key,
        |  CAST(COALESCE(b.dist, -1) AS BIGINT) AS dist,
        |  CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates,
        |  (SELECT q FROM qw) AS gram_width
        |FROM dirty d LEFT JOIN nc USING (probe_key) LEFT JOIN best b USING (probe_key)
        |ORDER BY probe_key""".stripMargin,

    // per-band masses from cg, survival from keep, coverage/marginal
    // from the winning pair's band memberships in candsb — the same
    // factored CTE chain as the banded join, so report and join can
    // never disagree about what a band contributes
    "rel_fuzzy_join_band_stats" ->
      s"""WITH ${fuzzyBandedCtes(0 until FuzzyBands)}, verified AS (
        |  SELECT v.probe_key, v.c_custkey,
        |         levenshtein(d.dirty_name, c.c_name) AS dist
        |  FROM cands v
        |  JOIN dirty d ON d.probe_key = v.probe_key
        |  JOIN customer c ON c.c_custkey = v.c_custkey
        |), best AS (
        |  SELECT probe_key, c_custkey AS match_key
        |  FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY probe_key ORDER BY dist, c_custkey) AS rnk
        |    FROM verified WHERE dist <= $FuzzyK
        |  ) t WHERE rnk = 1
        |), cover AS (
        |  SELECT DISTINCT b.probe_key, cb.band
        |  FROM best b JOIN candsb cb
        |    ON cb.probe_key = b.probe_key AND cb.c_custkey = b.match_key
        |), nbq AS (
        |  SELECT probe_key, COUNT(DISTINCT band) AS nbands
        |  FROM cover GROUP BY 1
        |), cov AS (
        |  SELECT band, CAST(COUNT(DISTINCT probe_key) AS BIGINT) AS covered_matches
        |  FROM cover GROUP BY 1
        |), marg AS (
        |  SELECT band, CAST(COUNT(*) AS BIGINT) AS marginal_matches
        |  FROM cover JOIN nbq USING (probe_key)
        |  WHERE nbands = 1 GROUP BY band
        |), mass AS (
        |  SELECT band, CAST(COUNT(*) AS BIGINT) AS gram_mass,
        |         CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_grams
        |  FROM cg GROUP BY 1
        |), km AS (
        |  SELECT band, CAST(COUNT(*) AS BIGINT) AS kept_mass,
        |         CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_kept_grams
        |  FROM cg JOIN keep USING (band, gram) GROUP BY 1
        |)
        |SELECT CAST(mass.band AS BIGINT) AS band,
        |  gram_mass,
        |  CAST(COALESCE(kept_mass, 0) AS BIGINT) AS kept_mass,
        |  n_grams,
        |  CAST(COALESCE(n_kept_grams, 0) AS BIGINT) AS n_kept_grams,
        |  CAST(COALESCE(covered_matches, 0) AS BIGINT) AS covered_matches,
        |  CAST(COALESCE(marginal_matches, 0) AS BIGINT) AS marginal_matches,
        |  (SELECT q FROM qw) AS gram_width
        |FROM mass LEFT JOIN km USING (band) LEFT JOIN cov USING (band)
        |LEFT JOIN marg USING (band)
        |ORDER BY band""".stripMargin,

    // the queue fold unrolled: enq_run is a pure function of the batch
    // split, each run's drain is the oldest `cap` pending probes (sv
    // minus prior drains), depths replay the post-dequeue counts, and
    // the fallback CTEs mirror rel_fuzzy_join_fallback over the
    // drained set
    "rel_fuzzy_join_queue" ->
      s"""WITH dirty AS (
        |  SELECT c_custkey AS probe_key,
        |    CASE WHEN c_custkey % 4 = 0
        |           THEN concat(substr(c_name,1,1), substr(c_name,3,1),
        |                       substr(c_name,2,1), substr(c_name,4))
        |         WHEN c_custkey % 4 = 1
        |           THEN concat(substr(c_name,1,4), 'x', substr(c_name,6))
        |         WHEN c_custkey % 4 = 2
        |           THEN concat(substr(c_name,1,2), substr(c_name,4))
        |         ELSE concat('zzzzzz', substr(c_name,7)) END AS dirty_name
        |  FROM customer WHERE c_custkey % 7 = 0
        |), cg AS (
        |  SELECT c_custkey, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(c_name) - ${FuzzyGram - 1}),
        |    i -> substr(c_name, i, $FuzzyGram)))) AS gram
        |  FROM customer
        |), keep AS (
        |  SELECT gram FROM (
        |    SELECT gram, COUNT(*) AS df FROM cg GROUP BY 1
        |  ) t WHERE df <= $FuzzyMaxDf
        |), dg AS (
        |  SELECT probe_key, UNNEST(list_distinct(list_transform(
        |    generate_series(1, length(dirty_name) - ${FuzzyGram - 1}),
        |    i -> substr(dirty_name, i, $FuzzyGram)))) AS gram
        |  FROM dirty
        |), blocked AS (
        |  SELECT DISTINCT probe_key
        |  FROM dg JOIN keep USING (gram) JOIN cg USING (gram)
        |), sv AS (
        |  SELECT probe_key, dirty_name, probe_key % 3 + 1 AS enq_run
        |  FROM dirty
        |  WHERE probe_key NOT IN (SELECT probe_key FROM blocked)
        |), d1 AS (
        |  SELECT probe_key, 1 AS drained_run FROM sv WHERE enq_run <= 1
        |  ORDER BY enq_run, probe_key LIMIT $FuzzyQueueDrainCap
        |), d2 AS (
        |  SELECT probe_key, 2 AS drained_run FROM sv WHERE enq_run <= 2
        |    AND probe_key NOT IN (SELECT probe_key FROM d1)
        |  ORDER BY enq_run, probe_key LIMIT $FuzzyQueueDrainCap
        |), d3 AS (
        |  SELECT probe_key, 3 AS drained_run FROM sv WHERE enq_run <= 3
        |    AND probe_key NOT IN (SELECT probe_key FROM d1
        |                          UNION ALL SELECT probe_key FROM d2)
        |  ORDER BY enq_run, probe_key LIMIT $FuzzyQueueDrainCap
        |), dr AS (
        |  SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3
        |), depths AS (
        |  SELECT r.r AS r,
        |    (SELECT COUNT(*) FROM sv WHERE sv.enq_run <= r.r)
        |      - (SELECT COUNT(*) FROM dr WHERE dr.drained_run <= r.r) AS depth
        |  FROM (SELECT UNNEST([1, 2, 3]) AS r) r
        |), fb AS (
        |  SELECT DISTINCT s.probe_key, g.c_custkey
        |  FROM dg s JOIN cg g USING (gram)
        |  WHERE s.probe_key IN (SELECT probe_key FROM dr)
        |), fverified AS (
        |  SELECT v.probe_key, v.c_custkey,
        |         levenshtein(d.dirty_name, c.c_name) AS dist
        |  FROM fb v
        |  JOIN dirty d ON d.probe_key = v.probe_key
        |  JOIN customer c ON c.c_custkey = v.c_custkey
        |), nc AS (
        |  SELECT probe_key, CAST(COUNT(*) AS BIGINT) AS n_candidates
        |  FROM fverified GROUP BY 1
        |), best AS (
        |  SELECT probe_key, c_custkey AS match_key, CAST(dist AS BIGINT) AS dist
        |  FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY probe_key ORDER BY dist, c_custkey) AS rnk
        |    FROM fverified WHERE dist <= $FuzzyK
        |  ) t WHERE rnk = 1
        |), fdepth AS (
        |  SELECT (SELECT COUNT(*) FROM sv) - (SELECT COUNT(*) FROM dr) AS depth
        |)
        |SELECT sv.probe_key,
        |  CAST(sv.enq_run AS BIGINT) AS enq_run,
        |  CAST(COALESCE(dr.drained_run, -1) AS BIGINT) AS drained_run,
        |  CAST(CASE WHEN dr.probe_key IS NULL THEN -1
        |            ELSE COALESCE(b.match_key, -1) END AS BIGINT) AS match_key,
        |  CAST(CASE WHEN dr.probe_key IS NULL THEN -1
        |            ELSE COALESCE(b.dist, -1) END AS BIGINT) AS dist,
        |  CAST(CASE WHEN dr.probe_key IS NULL THEN 0
        |            ELSE COALESCE(nc.n_candidates, 0) END AS BIGINT) AS n_candidates,
        |  CAST(CASE WHEN dr.probe_key IS NULL THEN (SELECT depth FROM fdepth)
        |            ELSE (SELECT depth FROM depths WHERE r = dr.drained_run)
        |       END AS BIGINT) AS depth_after
        |FROM sv
        |LEFT JOIN dr ON dr.probe_key = sv.probe_key
        |LEFT JOIN nc ON nc.probe_key = sv.probe_key
        |LEFT JOIN best b ON b.probe_key = sv.probe_key
        |ORDER BY sv.probe_key""".stripMargin,

    "rel_interval_join" ->
      """SELECT p.purchase_id, p.user_id, p.p_ts, c.click_id, c.click_ts
        |FROM (SELECT event_id AS purchase_id, user_id, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT event_id AS click_id, user_id, ts AS click_ts
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.click_ts <= p.p_ts
        | AND c.click_ts >= p.p_ts - INTERVAL 6 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin,

    "rel_attribution_gap" ->
      """SELECT p.purchase_id, p.user_id, CAST(COUNT(c.click_id) AS BIGINT) AS n_clicks
        |FROM (SELECT event_id AS purchase_id, user_id, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT event_id AS click_id, user_id, ts AS click_ts
        |           FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.click_ts <= p.p_ts
        | AND c.click_ts >= p.p_ts - INTERVAL 6 HOUR
        |GROUP BY p.purchase_id, p.user_id
        |ORDER BY purchase_id""".stripMargin,

    "rel_json_extract" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |  CAST(COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS n_distinct_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // gid mirrors Spark's grouping_id bit order (first rollup column =
    // most significant bit), derived from key null-ness — the grouping
    // columns are never null in the data, so null <=> rolled-up level
    "rel_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        |       COALESCE(l_linestatus, 'ALL') AS lstatus,
        |       CAST(CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
        |          + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gid,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, rflag, lstatus""".stripMargin,

    // pivot == conditional aggregation; DECIMAL sums keep it exact
    "rel_pivot" ->
      """SELECT l_returnflag,
        |  CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_f,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_o,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // epoch_us keeps the subtraction exact; timestamps are whole seconds
    // so the integer division is lossless (Spark casts ts -> long secs)
    "rel_order_gaps" ->
      """WITH g AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_ts,
        |    LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_key
        |  FROM orders
        |)
        |SELECT o_custkey, o_orderkey,
        |       CAST(prev_key AS BIGINT) AS prev_orderkey,
        |       CAST((epoch_us(o_orderdate) - epoch_us(prev_ts)) // 1000000 AS BIGINT) AS gap_seconds
        |FROM g WHERE prev_ts IS NOT NULL
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // dedup of byte-identical redeliveries recovers the original events
    "rel_dedup_events" ->
      """SELECT event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "rel_set_ops" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0
        |ORDER BY o_custkey""".stripMargin
  )
}
