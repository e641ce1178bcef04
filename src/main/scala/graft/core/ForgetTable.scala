package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.LongRefExpr

/** Read-time decay/query parameters (one reference HTTP request's knobs).
  *
  * @param rate     decays per second (`-default-rate`, goforget/forget.go:22)
  * @param nowEpoch evaluation time, epoch seconds — explicit, never
  *                 wall-clock, so plans are deterministic under retries
  *                 and oracle-comparable
  * @param prune    `-prune` flag (goforget/forget.go:24)
  * @param mode     see [[DecayMode]]
  * @param sigma    `-expire-sigma` (goforget/forget.go:25)
  */
final case class ForgetParams(
    rate: Double,
    nowEpoch: Long,
    prune: Boolean = true,
    mode: DecayMode = DecayMode.Expected,
    sigma: Double = 2.0)

/** Spark-native forget-table: named categorical distributions with
  * Poisson time-forgetting, re-expressed as relational state + pure decay
  * algebra over two DataFrames (SURVEY.md §1.5):
  *
  *   - `counts(dist STRING, bin STRING, count LONG)` — one row per
  *     (distribution, bin), the reference's sorted-set entries.
  *   - `meta(dist STRING, z LONG, t LONG, rate DOUBLE)` — the reference's
  *     `<name>._Z` / `<name>._T` keys (goforget/redis_utils.go:222-233).
  *
  * Scale notes (the 100 TB design):
  *   - `counts` is built with `groupBy(dist, bin)` — hash-partial
  *     aggregation map-side, one shuffle on the composite key; no skew
  *     concentration on `dist` alone.
  *   - Per-dist scalars over the FULL store (Z in `dist(None)`,
  *     `compacted`, `expiry`, `alive`) are computed with
  *     `groupBy(dist).agg(...)` + an equi-join back, NOT
  *     `Window.partitionBy(dist)`: windows shuffle every row to a single
  *     partition per dist with no partial aggregation (a straggler when
  *     one dist is hot), whereas agg+join combines map-side and lets AQE
  *     broadcast the tiny per-dist side.
  *   - Per-dist sums over a BOUNDED selection (`get`'s requested bins,
  *     `topK`'s at most k rows per dist, `dist(Some(name))`'s one dist)
  *     are a `sum(...).over(Window.partitionBy(dist))` in the same pass:
  *     a dist's partition holds no more rows than the read returns for
  *     it, while agg+join would scan the selection twice — for a point
  *     read, its counts and meta each twice, with an extra broadcast and
  *     exchange per read. Over a single-partition input
  *     (`StateStore.loadDist`) the window needs no exchange at all.
  *   - Top-K uses `row_number` over (dist, count desc) + `<= k` filter,
  *     which Spark's WindowGroupLimit rewrites into a per-partition
  *     group-limit before the shuffle — distributed partial top-K.
  *   - All decay arithmetic is [[Decay.amount]]: `functions._` columns
  *     plus the codegen `PoissonDecayExpr`, so every read path — including
  *     Sampled mode — stays inside whole-stage codegen. `nowEpoch` enters
  *     the plan as a `LongRefExpr`, which generated code reads by
  *     reference, so reads at different clocks share compiled classes.
  */
final class ForgetTable(val counts: DataFrame, val meta: DataFrame) {

  import ForgetTable._

  // ---------------------------------------------------------------- reads

  /** Full-distribution read, `/dist` (goforget/forget.go:71-115):
    * Fill -> Decay -> Normalize. Z is recomputed from surviving counts
    * (forget.go:109-110), so p = new_count / sum(new_count) per dist.
    * Zero-count bins remain in the output (they are only ZREM'd by the
    * async write-back, goforget/redis_utils.go:163-166).
    *
    * @param name optional single distribution (predicate pushed to scan)
    */
  def dist(params: ForgetParams, name: Option[String] = None): DataFrame = {
    val base = name.fold(counts)(n => counts.filter(col("dist") === n))
    val decayed = withDecayedCount(joinMeta(base), params)
    val z2 = sum("new_count")
    val withZ2 =
      if (name.isDefined) decayed.withColumn("z2", z2.over(Window.partitionBy("dist")))
      else decayed.join(decayed.groupBy("dist").agg(z2.as("z2")), "dist")
    withZ2
      .select(col("dist"), col("bin"), col("new_count").as("count"),
        probability(col("new_count"), col("z2")).as("p"))
      .orderBy("dist", "bin")
  }

  /** Point lookup, `/get` (goforget/forget.go:117-160): GetField reads the
    * STORED Z (goforget/distribution.go:56-78), then Decay() subtracts each
    * selected bin's decay from that stored Z — no re-normalize. So
    * p = new_count / (stored_z - sum(l) over the selected bins only).
    * Bins absent from the distribution surface with count 0 and p 0
    * (redis ZSCORE nil -> 0, distribution.go:71-74).
    */
  def get(name: String, bins: Seq[String], params: ForgetParams): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    // a request's bins are a driver-side list, so one partition: over a
    // single-partition `counts` (StateStore.loadDist) neither the join
    // nor the per-dist window plans an exchange
    val requested = bins.toDF("bin").withColumn("dist", lit(name)).coalesce(1)
    val sel = requested
      .join(counts.filter(col("dist") === name), Seq("dist", "bin"), "left")
      .na.fill(0L, Seq("count"))
    decayAgainstStoredZ(joinMeta(sel), params)
      .select(col("dist"), col("bin"), col("count"), col("p"))
      .orderBy("dist", "bin")
  }

  /** Top-K read, `/nmostprobable` (goforget/forget.go:171-215): the K most
    * probable bins are selected on STORED counts (ZREVRANGEBYSCORE,
    * goforget/redis_utils.go:211-220; ties broken by reverse-lex member
    * order), THEN decayed without re-normalizing — p is the decayed count
    * over stored Z minus only the K selected bins' decay (§2.1 footnote of
    * SURVEY.md).
    *
    * @param name optional single distribution; None ranks every dist
    */
  def topK(k: Int, params: ForgetParams, name: Option[String] = None): DataFrame = {
    val w = Window.partitionBy("dist").orderBy(col("count").desc, col("bin").desc)
    val sel = name match {
      case Some(n) =>
        // Single distribution: sort+limit plans as TakeOrderedAndProject
        // (per-partition partial top-K, merged on one reducer) — no
        // window shuffle of the dist's full bin set. The rank window
        // then runs over at most k rows.
        counts.filter(col("dist") === n)
          .orderBy(col("count").desc, col("bin").desc).limit(k)
          .withColumn("rnk", row_number().over(w).cast("long"))
      case None =>
        // All distributions: rank window + <=k filter, which Spark
        // rewrites via WindowGroupLimit into a partial group-limit
        // below the shuffle.
        counts.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= k)
    }
    decayAgainstStoredZ(joinMeta(sel), params)
      .select(col("dist"), col("rnk"), col("bin"), col("count"), col("p"))
      .orderBy("dist", "rnk")
  }

  /** Count of stored distributions, `/dbsize` = DBSIZE/3
    * (goforget/forget.go:162-169). Exact form; at the 100 TB scale prefer
    * [[dbsizeApprox]] (HLL++, no exact-distinct shuffle).
    */
  def dbsize: DataFrame =
    counts.agg(countDistinct(col("dist")).as("n_dists"))

  def dbsizeApprox(rsd: Double = 0.01): DataFrame =
    counts.agg(approx_count_distinct(col("dist"), rsd).as("n_dists"))

  // --------------------------------------------------------------- writes

  /** Increment merge, `/incr` O1 (goforget/redis_utils.go:222-233):
    * ZINCRBY per (dist, bin), INCRBY on Z, SETNX on T — i.e. T is set only
    * when the distribution is first created, never refreshed by writes.
    *
    * @param incr DataFrame of (dist, bin, n, t) new increments; `t` epoch
    *             seconds of the increment event (used only for SETNX
    *             semantics on brand-new distributions)
    */
  def merged(incr: DataFrame): ForgetTable = {
    val incrCounts = incr.groupBy("dist", "bin")
      .agg(sum("n").cast("long").as("count"))
    val newCounts = counts.unionByName(incrCounts)
      .groupBy("dist", "bin").agg(sum("count").as("count"))
    val incrMeta = incr.groupBy("dist").agg(
      sum("n").cast("long").as("z_inc"),
      min("t").as("t_new"))
    val newMeta = meta.join(incrMeta, Seq("dist"), "full_outer")
      .select(
        col("dist"),
        (coalesce(col("z"), lit(0L)) + coalesce(col("z_inc"), lit(0L))).as("z"),
        coalesce(col("t"), col("t_new")).as("t"), // SETNX: first writer wins
        coalesce(col("rate"), lit(0.5)).as("rate"))
    new ForgetTable(newCounts, newMeta)
  }

  /** State after the async write-back (goforget/redis_utils.go:139-196):
    * decay every bin, ZREM the zero-count ones (prune), SET Z/T. This is
    * the reference's lazy-decay compaction expressed as a snapshot
    * transform; returns the surviving state tables.
    */
  def compacted(params: ForgetParams): ForgetTable = {
    val decayed = withDecayedCount(joinMeta(counts), params)
    val survivors = decayed.filter(col("new_count") > 0L)
      .select(col("dist"), col("bin"), col("new_count").as("count"))
    val newMeta = survivors.groupBy("dist").agg(sum("count").as("z"))
      .withColumn("t", LongRefExpr.lit(params.nowEpoch))
      .withColumn("rate", lit(params.rate))
    new ForgetTable(survivors, newMeta)
  }

  /** Decayed state WITHOUT prune (write-back with `-prune=false`): bins
    * floor at count 1 (goforget/distribution.go:158-164).
    */
  def decayedState(params: ForgetParams): DataFrame =
    withDecayedCount(joinMeta(counts), params)
      .select(col("dist"), col("bin"), col("new_count").as("count"))
      .orderBy("dist", "bin")

  /** TTL expiry prediction, O9 (goforget/redis_utils.go:180-189):
    * eta = sqrt(maxCount / rate); expire = floor((sigma + eta) * eta)
    * seconds. maxCount is the largest SURVIVING (non-zero) decayed count —
    * zero-count bins are ZREM'd before the max is taken. Distributions
    * whose decayed Z hits 0 are dropped (the DISCARD branch,
    * redis_utils.go:158-161).
    */
  def expiry(params: ForgetParams): DataFrame = {
    val decayed = withDecayedCount(joinMeta(counts), params)
    decayed.filter(col("new_count") > 0L)
      .groupBy("dist").agg(max("new_count").as("max_count"))
      .withColumn("expire_sec", ttlSec(col("max_count"), params))
      .withColumn("expire_at", LongRefExpr.lit(params.nowEpoch) + col("expire_sec"))
      .select("dist", "max_count", "expire_sec", "expire_at")
      .orderBy("dist")
  }

  /** GC keep-filter: distributions still alive at `params.nowEpoch` given
    * an expiry stamped at their last write-back time `t` (batch analog of
    * Redis EXPIRE, SURVEY.md O9).
    */
  def alive(params: ForgetParams): DataFrame = {
    val decayed = withDecayedCount(joinMeta(counts), params)
    val exp = decayed.filter(col("new_count") > 0L)
      .groupBy(col("dist"), col("t")).agg(max("new_count").as("max_count"))
      .withColumn("expire_at", col("t") + ttlSec(col("max_count"), params))
    exp.filter(LongRefExpr.lit(params.nowEpoch) < col("expire_at")).select("dist")
  }

  // -------------------------------------------------------------- helpers

  /** counts ⋈ meta on dist — the analog of the reference recombining the
    * three Redis keys of one distribution inside a MULTI
    * (goforget/redis_utils.go:201-207). The per-dist side is orders of
    * magnitude smaller than counts; AQE plans it as a broadcast join at
    * any realistic dist cardinality.
    */
  private def joinMeta(df: DataFrame): DataFrame =
    df.join(meta.select("dist", "z", "t"), "dist")

  /** Adds `l` (clamped decay) and `new_count` columns. */
  private def withDecayedCount(df: DataFrame, params: ForgetParams): DataFrame =
    df.withColumn("l", Decay.amount(params, col("dist"), col("bin"), col("count"), col("t")))
      .withColumn("new_count", col("count") - col("l"))

  /** O9 TTL in seconds, `floor((sigma + eta) * eta)` (see [[expiry]]). */
  private def ttlSec(maxCount: Column, params: ForgetParams): Column = {
    val eta = sqrt(maxCount.cast("double") / lit(params.rate))
    floor((lit(params.sigma) + eta) * eta).cast("long")
  }

  /** Decay the (already selected) rows against the STORED Z: the /get and
    * /nmostprobable path, where Decay() runs without Normalize() and Z is
    * decremented by only the selected bins' decay
    * (goforget/distribution.go:153-175 called from forget.go:156,211).
    * The selection is bounded, so `l_sel` is a window sum (Scale notes).
    */
  private def decayAgainstStoredZ(sel: DataFrame, params: ForgetParams): DataFrame =
    withDecayedCount(sel, params)
      .withColumn("l_sel", sum("l").over(Window.partitionBy("dist")))
      .withColumn("z_adj", col("z") - col("l_sel"))
      .withColumn("count", col("new_count"))
      .withColumn("p", probability(col("count"), col("z_adj")))
}

object ForgetTable {

  /** p = count / Z, with Z = 0 => 0 (goforget/distribution.go:142-151). */
  def probability(count: Column, z: Column): Column =
    when(z === 0L, lit(0.0)).otherwise(count.cast("double") / z.cast("double"))

  /** Canonical events -> forget-table mapping (FIXTURES.md): each event is
    * `/incr?distribution=<event_type>&field=<user_id>&N=1`. `t` follows
    * SETNX semantics observed over a batch: the FIRST event's timestamp...
    * except the reference's write-back then refreshes T on every decay; for
    * the batch snapshot the convention (per FIXTURES.md) is t = max(ts),
    * i.e. the state as of the last write's compaction.
    */
  def fromEvents(events: DataFrame, rate: Double = 0.5): ForgetTable = {
    val counts = events.groupBy(
        col("event_type").as("dist"),
        col("user_id").cast("string").as("bin"))
      .agg(count(lit(1)).as("count"))
    val meta = events.groupBy(col("event_type").as("dist"))
      .agg(
        count(lit(1)).as("z"),
        unix_timestamp(max(col("ts"))).as("t"))
      .withColumn("rate", lit(rate))
    new ForgetTable(counts, meta)
  }

  /** Weighted mapping: N = 1 + floor(value) (clamped at >= 1), exercising
    * `/incr?N=<n>` with n != 1 (goforget/forget.go:47-57).
    */
  def fromEventsWeighted(events: DataFrame, rate: Double = 0.5): ForgetTable = {
    val n = greatest(lit(1L), lit(1L) + floor(col("value")).cast("long"))
    val weighted = events.select(
      col("event_type").as("dist"),
      col("user_id").cast("string").as("bin"),
      n.as("n"),
      unix_timestamp(col("ts")).as("t"))
    val counts = weighted.groupBy("dist", "bin").agg(sum("n").as("count"))
    val meta = weighted.groupBy("dist").agg(
        sum("n").as("z"),
        max("t").as("t"))
      .withColumn("rate", lit(rate))
    new ForgetTable(counts, meta)
  }
}
