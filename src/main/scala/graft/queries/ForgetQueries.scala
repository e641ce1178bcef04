package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DecayMode, ForgetParams, ForgetTable}
import graft.sources.Tables

/** Driver-contract queries for the forget-table core (SURVEY.md §2.1),
  * each paired with an ANSI-SQL DuckDB oracle over the same parquet.
  *
  * Determinism rules shared by both sides (SURVEY.md §7.3):
  *   - `now` is the fixed literal 2024-01-31T00:00:00Z (epoch 1706659200),
  *     never wall-clock.
  *   - Default decay mode is Expected (l = floor(rate * dt)) — a single
  *     IEEE double multiply + floor, bit-identical across engines. All
  *     rate literals are CAST(... AS DOUBLE) in the SQL because DuckDB
  *     parses bare decimal literals as DECIMAL, whose exact arithmetic
  *     could round differently from Spark's double math.
  *   - Aggregates on BIGINT are CAST back to BIGINT in DuckDB (its SUM
  *     returns HUGEINT, which would break the schema compare).
  *   - Every query ends in a total-order ORDER BY.
  */
object ForgetQueries {

  /** 2024-01-31T00:00:00Z — one day past the last event in testdata. */
  final val Now = 1706659200L

  /** Bins per serialized JSON page (ft_json). Small enough to exercise
    * page boundaries at sf0.01; at scale it bounds the per-row payload
    * regardless of how hot a distribution is.
    */
  final val JsonPageSize = 64

  /** Salt for ft_json's data_json fingerprint — the BIGINT compare
    * surface shipped to the driver instead of the raw JSON VARCHAR
    * (the single-shot DuckDB wide-value flake class, r16/r17).
    */
  final val JsonFpSalt = 37

  /** ft_heavy_hitters_invariant: top-K report size, CMS relative-error
    * eps (error bound eps * stream length), confidence, and the fixed
    * seed that makes the sketch replay-deterministic.
    */
  final val HhK = 10
  final val CmsEps = 0.005
  final val CmsConf = 0.99
  final val CmsSeed = 42

  /** ft_heavy_hitters_invariant's staged-merge arm: the corpus is
    * sharded this many ways (stand-ins for per-executor shards), one
    * CMS per shard, merged driver-side — `merge_ok` gates
    * merged == one-pass per reported bin.
    */
  final val CmsShards = 8

  /** ft_segment_stats_invariant: staged ingest count and the
    * auto-compaction policy's live-segment bound. 5 appends at bound 2
    * force the policy to fire twice and end on exactly one folded
    * segment — a deterministic trace the oracle can state literally.
    */
  final val SegIngests = 5
  final val SegMaxSegments = 2

  private def ft(s: SparkSession, dir: String): ForgetTable =
    ForgetTable.fromEvents(Tables.events(s, dir))

  // ----------------------------------------------------------------- SQL
  // Shared oracle fragments (DuckDB dialect).

  private val countsCte =
    """counts AS (
      |  SELECT event_type AS dist, CAST(user_id AS VARCHAR) AS bin,
      |         CAST(COUNT(*) AS BIGINT) AS count
      |  FROM events GROUP BY 1, 2
      |)""".stripMargin

  /** Mirrors `ForgetTable.fromEvents` exactly, including its pinned
    * default rate — the ONE place the oracle defines `rate`, so a future
    * rate parameterization changes Spark and oracle together (every
    * oracle that surfaces rate reads it from this CTE).
    */
  private val metaCte =
    """meta AS (
      |  SELECT event_type AS dist, CAST(COUNT(*) AS BIGINT) AS z,
      |         CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS t,
      |         CAST(0.5 AS DOUBLE) AS rate
      |  FROM events GROUP BY 1
      |)""".stripMargin

  /** Expected-mode decay + goforget clamp over a CTE named `sel` that has
    * (dist, bin, count-as-cnt, z, t [, extras]).
    */
  private def decayCte(rate: Double, prune: Boolean): String = {
    val clamped = if (prune) "cnt" else "cnt - 1"
    s"""dec AS (
       |  SELECT *, CASE WHEN cnt < 1 THEN 0
       |                 ELSE CAST(FLOOR(CAST($rate AS DOUBLE) * CAST($Now - t AS DOUBLE)) AS BIGINT)
       |            END AS lraw
       |  FROM sel
       |), clamped AS (
       |  SELECT *, CASE WHEN lraw >= cnt THEN $clamped ELSE lraw END AS l
       |  FROM dec
       |), d2 AS (
       |  SELECT *, cnt - l AS newc FROM clamped
       |)""".stripMargin
  }

  // -------------------------------------------------------------- queries

  /** The §1.4 JSON wire pages with the RAW serialized data_json —
    * byte-level surface behind the registered ft_json query, which
    * ships only (length, md5-60) BIGINT folds of each page to the
    * driver's single-shot DuckDB compare (the r16/r17 wide-VARCHAR
    * flake class). Shape pinned value-level by PipelineSurfaceSpec
    * (parse + mass reconcile + fp/len tie-back), plan shape by
    * PlanShapeSpec (bucket-bounded ranks only).
    */
  private[graft] def jsonPages(s: SparkSession, dir: String): DataFrame = {
      val t = ft(s, dir)
      def esc(c: org.apache.spark.sql.Column) =
        replace(replace(c, lit("\\"), lit("\\\\")), lit("\""), lit("\\\""))
      val counts = t.counts
      val zs = counts.groupBy("dist").agg(sum("count").as("z"))
      val bucketed = counts.withColumn("bkt", substring(col("bin"), 1, 2))
      val perBkt = bucketed.groupBy("dist", "bkt").agg(count(lit(1)).as("n"))
      val lower = perBkt.select(col("dist").as("o_dist"),
        col("bkt").as("o_bkt"), col("n").as("o_n"))
      val off = perBkt
        .join(lower,
          col("dist") === col("o_dist") && col("o_bkt") < col("bkt"), "left")
        .groupBy("dist", "bkt")
        .agg(coalesce(sum("o_n"), lit(0L)).as("offset"))
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy("dist", "bkt").orderBy("bin")
      bucketed
        .join(broadcast(off), Seq("dist", "bkt"))
        .withColumn("rank", col("offset") + row_number().over(wB))
        .withColumn("page", ((col("rank") - 1) / lit(JsonPageSize)).cast("long"))
        .join(broadcast(zs), Seq("dist"))
        .withColumn("p",
          round(col("count").cast("double") / col("z").cast("double"), 9))
        .groupBy("dist", "page")
        .agg(
          max("z").as("z"),
          concat(lit("["),
            array_join(
              transform(
                sort_array(collect_list(struct(col("bin"), col("count"), col("p")))),
                e => format_string("""{"bin":"%s","count":%d,"p":%.9f}""",
                  esc(e.getField("bin")), e.getField("count"), e.getField("p"))),
              ","),
            lit("]")).as("data_json"))
        .join(t.meta.select(col("dist"), col("rate")), Seq("dist"))
        .select(col("dist"), col("page"), col("z"),
          col("rate"), lit(true).as("prune"),
          col("data_json"))
        .orderBy("dist", "page")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ft_counts" -> ((s, dir) =>
      ft(s, dir).counts.orderBy("dist", "bin")),

    "ft_counts_weighted" -> ((s, dir) =>
      ForgetTable.fromEventsWeighted(Tables.events(s, dir))
        .counts.orderBy("dist", "bin")),

    // MAINTAINED increment path — the reference's own write operator
    // (O1 /incr, an additive counter: goforget redis_utils.go INCRBY)
    // carried on the LOG-STRUCTURED store text_lm_incremental
    // introduced, because bin counts are the engine's founding additive
    // aggregate: each staged ingest APPENDS its batch's partial
    // (dist, bin) counts as a new parquet segment with ZERO reads of
    // existing state (the write path a 100 TB/day event firehose
    // needs — contrast the key-replace stores, which must read and
    // rewrite touched partitions), read-time aggregation sums partials
    // across segments, and the mid-sequence COMPACT — run here between
    // ingests 2 and 3 — bounds read amplification. The meta legs ride
    // the same layout for free: Z is a sum and the SETNX/refresh T a
    // max, both mergeable. Converges bit-exactly to the one-shot
    // ft_counts oracle (sum of disjoint partials == total).
    "ft_counts_incremental" -> ((s, dir) => {
      import graft.sources.SegmentStore
      val path = s"${graft.sources.TempDirs.scratch("graft_ftc_")}/segments"
      val ev = Tables.events(s, dir)
      val t = (d: String) => lit(s"2024-01-$d 00:00:00").cast("timestamp")
      def ingest(batch: org.apache.spark.sql.DataFrame): Unit =
        SegmentStore.append(
          batch.groupBy(
              col("event_type").as("dist"),
              col("user_id").cast("string").as("bin"))
            .agg(count(lit(1)).as("count")), path)
      ingest(ev.filter(col("ts") < t("11")))                          // bulk
      ingest(ev.filter(col("ts") >= t("11") && col("ts") < t("21")))  // day 1
      SegmentStore.compact(s, path, Seq("dist", "bin"), "count")
      // the last batch takes the COMPLEMENT including null ts, so the
      // staging partitions the domain exhaustively — ft_counts counts
      // null-ts rows, and a range filter would silently drop them
      ingest(ev.filter(col("ts").isNull || col("ts") >= t("21")))     // day 2
      SegmentStore.merged(s, path, Seq("dist", "bin"), "count")
        .orderBy("dist", "bin")
    }),

    // RETRACTION on the reference's own counter surface — the GDPR
    // opt-out leg of ft_counts_incremental: after the full staged
    // ingest, every event of the opted-out users (user_id % 10 = 7) is
    // retracted by ONE zero-read append of the negated partial counts
    // (additive state's native takedown — the text_bm25_retract shape
    // on the founding aggregate), the post-retraction compact folds the
    // ± rows away, and the read applies the reference's own prune
    // filter (`count > 0`, goforget redis_utils.go:163-166): a bin
    // whose counts cancel exactly to zero leaves the distribution, as
    // if the user had never been counted. Converges bit-exactly to the
    // one-shot counts of the event stream WITHOUT the opted-out users.
    "ft_counts_retract" -> ((s, dir) => {
      import graft.sources.SegmentStore
      val path = s"${graft.sources.TempDirs.scratch("graft_ftr_")}/segments"
      val ev = Tables.events(s, dir)
      val t = (d: String) => lit(s"2024-01-$d 00:00:00").cast("timestamp")
      def partials(batch: org.apache.spark.sql.DataFrame) =
        batch.groupBy(
            col("event_type").as("dist"),
            col("user_id").cast("string").as("bin"))
          .agg(count(lit(1)).as("count"))
      // the ft_counts_incremental staging (exhaustive domain partition)
      SegmentStore.append(partials(ev.filter(col("ts") < t("11"))), path)
      SegmentStore.append(partials(
        ev.filter(col("ts") >= t("11") && col("ts") < t("21"))), path)
      SegmentStore.append(partials(
        ev.filter(col("ts").isNull || col("ts") >= t("21"))), path)
      SegmentStore.append(
        partials(ev.filter(col("user_id") % 10 === 7))
          .select(col("dist"), col("bin"), (-col("count")).as("count")),
        path) // the takedown: negated partials, zero reads
      SegmentStore.compact(s, path, Seq("dist", "bin"), "count")
      SegmentStore.merged(s, path, Seq("dist", "bin"), "count")
        .filter(col("count") > 0) // the reference's prune filter
        .orderBy("dist", "bin")
    }),

    // TOMBSTONE ACCOUNTING for the retraction path — what
    // ft_counts_retract leaves behind, measured and reclaimed. A
    // retracted key's ± partials cancel at read but survive every
    // plain fold as a zero row, so a store taking continuous takedowns
    // grows with its RETRACTION HISTORY, not its live population — at
    // 100 TB that is unbounded dead weight every merged() read
    // re-aggregates. This query stages the exact ft_counts_retract
    // fold (3 disjoint ingests + one negated opt-out append), reads
    // the tombstone health report (distinct keys / fully-cancelled /
    // over-retracted / physical rows — all column-pruned aggregates),
    // then runs the ZERO-DROP compact and proves the reclaim: physical
    // rows shrink to exactly the live keys while the pruned read is
    // bit-identical before and after (full-outer mismatch count, a
    // distributed probe — nothing collects). Every count column is
    // derived independently by the DuckDB oracle from the events
    // table; the two booleans are the policy trigger (tombstone_due,
    // oracle-derivable: opted-out keys exist) and the read-equality
    // invariant.
    "ft_tombstones" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.SegmentStore
      val path = s"${graft.sources.TempDirs.scratch("graft_ftt_")}/segments"
      val ev = Tables.events(s, dir)
      val t = (d: String) => lit(s"2024-01-$d 00:00:00").cast("timestamp")
      def partials(batch: org.apache.spark.sql.DataFrame) =
        batch.groupBy(
            col("event_type").as("dist"),
            col("user_id").cast("string").as("bin"))
          .agg(count(lit(1)).as("count"))
      SegmentStore.append(partials(ev.filter(col("ts") < t("11"))), path)
      SegmentStore.append(partials(
        ev.filter(col("ts") >= t("11") && col("ts") < t("21"))), path)
      SegmentStore.append(partials(
        ev.filter(col("ts").isNull || col("ts") >= t("21"))), path)
      SegmentStore.append(
        partials(ev.filter(col("user_id") % 10 === 7))
          .select(col("dist"), col("bin"), (-col("count")).as("count")),
        path) // the takedown: negated partials, zero reads
      val pre = SegmentStore.tombstoneStats(s, path, Seq("dist", "bin"),
        "count").head() // ONE row
      val before = SegmentStore.merged(s, path, Seq("dist", "bin"), "count")
        .filter(col("count") > 0)
        .localCheckpoint(true) // materialized — compact swaps the files under it
      SegmentStore.compact(s, path, Seq("dist", "bin"), "count",
        dropCancelled = true)
      val post = SegmentStore.tombstoneStats(s, path, Seq("dist", "bin"),
        "count").head() // ONE row
      val after = SegmentStore.merged(s, path, Seq("dist", "bin"), "count")
        .filter(col("count") > 0)
        .select(col("dist").as("dist2"), col("bin").as("bin2"),
          col("count").as("c2"))
      val nBad = before
        .join(after, col("dist") <=> col("dist2") &&
          col("bin") <=> col("bin2"), "full_outer")
        .filter(not(col("count") <=> col("c2"))).count()
      Seq((pre.getLong(0), pre.getLong(1), pre.getLong(2), pre.getLong(3),
        pre.getBoolean(4), post.getLong(3), nBad == 0L))
        .toDF("n_keys", "n_cancelled", "n_negative", "phys_before",
          "tombstone_due", "phys_after", "reads_equal")
    }),

    // AS-OF (time-travel) reads — the audit query the retraction path
    // needs: history IS the log-structured store's physical layout, so
    // "the counts as of ingest k" is a read over segments <= k, and
    // because `seg` is the directory partition key that read is
    // PARTITION-PRUNED (an as-of probe scans only the segments it
    // covers, never the full history — plan-pinned in PlanShapeSpec).
    // Stages the ft_counts_retract fold WITHOUT compacting (a fold
    // collapses history — the compaction policy is also the audit
    // retention policy) and reads four snapshots: after the bulk load,
    // after each daily ingest, and after the takedown. The last
    // snapshot proves the GDPR timeline end-to-end: the opted-out
    // users' bins exist as of segment 2 and are gone as of segment 3,
    // under the reference's own prune read. Each snapshot is a
    // linear pruned scan; the union is four of them.
    "ft_counts_asof" -> ((s, dir) => {
      import graft.sources.SegmentStore
      val path = s"${graft.sources.TempDirs.scratch("graft_ftao_")}/segments"
      val ev = Tables.events(s, dir)
      val t = (d: String) => lit(s"2024-01-$d 00:00:00").cast("timestamp")
      def partials(batch: org.apache.spark.sql.DataFrame) =
        batch.groupBy(
            col("event_type").as("dist"),
            col("user_id").cast("string").as("bin"))
          .agg(count(lit(1)).as("count"))
      SegmentStore.append(partials(ev.filter(col("ts") < t("11"))), path)
      SegmentStore.append(partials(
        ev.filter(col("ts") >= t("11") && col("ts") < t("21"))), path)
      SegmentStore.append(partials(
        ev.filter(col("ts").isNull || col("ts") >= t("21"))), path)
      SegmentStore.append(
        partials(ev.filter(col("user_id") % 10 === 7))
          .select(col("dist"), col("bin"), (-col("count")).as("count")),
        path) // the takedown: negated partials, zero reads
      (0L to 3L).map { k =>
        SegmentStore.mergedAsOf(s, path, Seq("dist", "bin"), "count", k)
          .filter(col("count") > 0) // the reference's prune read
          .select(lit(k).as("as_of"), col("dist"), col("bin"), col("count"))
      }.reduce(_ unionByName _)
        .orderBy("as_of", "dist", "bin")
    }),

    // GLOBAL as-of over a MULTI-WRITER store at a COMMITTED EPOCH —
    // the cross-producer audit ft_counts_asof answers for one log:
    // three zero-coordination producers (web = even user_ids, app =
    // the complement including null, gdpr = the takedown stream) land
    // their own writer=/seg= sequences, and the coordination job
    // commits two epoch manifests at MIXED per-writer frontiers —
    // epoch 0 freezes (web -> 1, app -> 0), a vector NO single global
    // segment bound can express (web is fully ingested, app only
    // through day 10), epoch 1 freezes the complete store including
    // the takedown. Each snapshot is one mergedAsOfEpoch call: the
    // manifest replays the frozen vector, the OR-of-ANDs predicate
    // prunes to exactly the covered writer/seg directories, and the
    // epoch-1 read under the reference's prune filter proves the GDPR
    // timeline — the opted-out users exist at epoch 0 and are gone at
    // epoch 1. Oracle derives both snapshots independently from the
    // events table.
    "ft_counts_asof_global" -> ((s, dir) => {
      import graft.sources.SegmentStore
      val path = s"${graft.sources.TempDirs.scratch("graft_ftaog_")}/segments"
      val ev = Tables.events(s, dir)
      val t11 = lit("2024-01-11 00:00:00").cast("timestamp")
      val isWeb = col("user_id").isNotNull && col("user_id") % 2 === 0
      def partials(batch: DataFrame) =
        batch.groupBy(
            col("event_type").as("dist"),
            col("user_id").cast("string").as("bin"))
          .agg(count(lit(1)).as("count"))
      // web: two batches split at day 11 (null ts rides the second)
      SegmentStore.appendExactlyOnce(
        partials(ev.filter(isWeb && col("ts") < t11)), path, "web", 0L)
      SegmentStore.appendExactlyOnce(
        partials(ev.filter(isWeb && (col("ts").isNull || col("ts") >= t11))),
        path, "web", 1L)
      // app: the complement population, same split
      SegmentStore.appendExactlyOnce(
        partials(ev.filter(!isWeb && col("ts") < t11)), path, "app", 0L)
      SegmentStore.commitEpoch(s, path, 0L) // frontier (web -> 1, app -> 0)
      SegmentStore.appendExactlyOnce(
        partials(ev.filter(!isWeb && (col("ts").isNull || col("ts") >= t11))),
        path, "app", 1L)
      // gdpr: its own producer — negated partials of the opted-out users
      SegmentStore.appendExactlyOnce(
        partials(ev.filter(col("user_id") % 10 === 7))
          .select(col("dist"), col("bin"), (-col("count")).as("count")),
        path, "gdpr", 0L)
      SegmentStore.commitEpoch(s, path, 1L) // the complete store
      SegmentStore.epochs(s, path).map { e =>
        SegmentStore.mergedAsOfEpoch(s, path, Seq("dist", "bin"), "count", e)
          .filter(col("count") > 0) // the reference's prune read
          .select(lit(e).as("epoch"), col("dist"), col("bin"), col("count"))
      }.reduce(_ unionByName _)
        .orderBy("epoch", "dist", "bin")
    }),

    // SEGMENT-STORE monitoring + auto-compaction policy, driver-gated:
    // the LSM read-amplification trade ft_counts_incremental states is
    // here BOUNDED by construction — SegIngests disjoint batches land
    // through appendWithPolicy(maxSegments = SegMaxSegments), which
    // folds whenever the live-segment count passes the bound, so the
    // trace is deterministic (1,2,3->1,2,3->1: two policy firings, one
    // final segment) and every column is either genuinely
    // cross-checked (store_rows = distinct keys after the final fold;
    // total_count = the corpus row count — partials summed across the
    // policy's folds lose nothing) or a deterministic policy outcome
    // (n_segments; bound_ok; counts_match vs the one-shot ft_counts
    // state, compared Spark-side with a full outer join). The
    // segmentStats read is one row PER LIVE SEGMENT — bounded by the
    // policy this query proves, which is what makes it a safe
    // monitoring scan at 100 TB. Batches partition the corpus by a
    // null-safe user_id residue, so the union is exhaustive whatever
    // the corpus's null discipline.
    "ft_segment_stats_invariant" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.SegmentStore
      val path = s"${graft.sources.TempDirs.scratch("graft_segstat_")}/segments"
      val ev = Tables.events(s, dir)
      def batch(i: Int): DataFrame = ev
        .filter(coalesce(pmod(col("user_id"), lit(SegIngests)),
          lit(0)) === i)
        .groupBy(col("event_type").as("dist"),
          col("user_id").cast("string").as("bin"))
        .agg(count(lit(1)).as("count"))
      (0 until SegIngests).foreach { i =>
        SegmentStore.appendWithPolicy(batch(i), path,
          Seq("dist", "bin"), "count", SegMaxSegments)
      }
      val st = SegmentStore.segmentStats(s, path)
        .agg(count(lit(1)).as("n_segments"),
          sum("n_rows").cast("long").as("store_rows"))
        .head() // ONE row
      val merged = SegmentStore.merged(s, path, Seq("dist", "bin"), "count")
        .localCheckpoint(true) // total + mismatch probe both read it
      val total = merged.agg(sum("count").cast("long")).head().getLong(0)
      val one = ft(s, dir).counts.select(col("dist").as("dist2"),
        col("bin").as("bin2"), col("count").as("c_one"))
      val nBad = merged.withColumnRenamed("count", "c_inc")
        .join(one, col("dist") <=> col("dist2") &&
          col("bin") <=> col("bin2"), "full_outer")
        .filter(not(col("c_inc") <=> col("c_one"))).count()
      Seq((st.getLong(0), SegMaxSegments.toLong,
        st.getLong(0) <= SegMaxSegments.toLong,
        st.getLong(1), total, nBad == 0L))
        .toDF("n_segments", "max_segments", "bound_ok",
          "store_rows", "total_count", "counts_match")
    }),

    "ft_meta" -> ((s, dir) =>
      ft(s, dir).meta.orderBy("dist")),

    "ft_dist" -> ((s, dir) =>
      ft(s, dir).dist(ForgetParams(rate = 0.002, nowEpoch = Now))),

    "ft_dist_one" -> ((s, dir) =>
      ft(s, dir).dist(ForgetParams(rate = 0.002, nowEpoch = Now), Some("click"))),

    "ft_get" -> ((s, dir) =>
      ft(s, dir).get("click", Seq("1", "3", "7", "11", "99999"),
        ForgetParams(rate = 0.001, nowEpoch = Now))),

    "ft_topk" -> ((s, dir) =>
      ft(s, dir).topK(10, ForgetParams(rate = 0.0005, nowEpoch = Now))),

    // Single-dist top-K: the TakeOrderedAndProject fast path.
    "ft_topk_one" -> ((s, dir) =>
      ft(s, dir).topK(10, ForgetParams(rate = 0.0005, nowEpoch = Now),
        Some("click"))),

    "ft_prune" -> ((s, dir) =>
      ft(s, dir).compacted(ForgetParams(rate = 0.002, nowEpoch = Now))
        .counts.orderBy("dist", "bin")),

    "ft_noprune" -> ((s, dir) =>
      ft(s, dir).decayedState(
        ForgetParams(rate = 0.002, nowEpoch = Now, prune = false))),

    "ft_proportional" -> ((s, dir) =>
      ft(s, dir).dist(
        ForgetParams(rate = 0.0001, nowEpoch = Now, mode = DecayMode.Proportional))),

    "ft_expiry" -> ((s, dir) =>
      ft(s, dir).expiry(ForgetParams(rate = 0.002, nowEpoch = Now))),

    // GC keep-filter (batch analog of Redis EXPIRE firing): distributions
    // still alive at `now` given expiry stamped at their last write time.
    // rate=0.01 decays 4 of the 5 event-type dists past their TTL.
    "ft_alive" -> ((s, dir) =>
      ft(s, dir).alive(ForgetParams(rate = 0.01, nowEpoch = Now))
        .orderBy("dist")),

    "ft_dbsize" -> ((s, dir) =>
      ft(s, dir).dbsize),

    // HLL++ variant for the 100 TB case (no exact-distinct shuffle).
    // approx_count_distinct's sketch is engine-specific, so there is no
    // DuckDB oracle -> rows-only driver check; the exact result at these
    // cardinalities (5 dists, far below sketch error) matches ft_dbsize.
    "ft_dbsize_approx" -> ((s, dir) =>
      ft(s, dir).dbsizeApprox()),

    // Driver-CHECKABLE invariant for the sketch path: |approx - exact|
    // must sit inside the sketch's error envelope (rsd = 0.01, bounded
    // below by 1 for tiny cardinalities where HLL++ is exact). The
    // sketch itself is engine-specific, but this boolean is
    // deterministic, so the oracle is literal TRUE — a broken sketch
    // (or a regression in the exact path) flips it and fails the hash
    // gate, unlike the rows-only check it upgrades.
    "ft_dbsize_approx_invariant" -> ((s, dir) => {
      val t = ft(s, dir)
      t.dbsize.select(col("n_dists").as("exact"))
        .crossJoin(t.dbsizeApprox().select(col("n_dists").as("approx")))
        .select(
          (abs(col("approx") - col("exact")).cast("double") <=
            greatest(lit(1.0), lit(0.05) * col("exact").cast("double")))
            .as("within_rsd"))
    }),

    // COUNT-MIN heavy hitters — the last classic sketch the engine was
    // missing (HLL dbsize, bloom decontam, GK quantiles all gated
    // already): the hot-bin report a 100 TB ingest reads from a
    // mergeable eps*N-error sketch instead of an exact top-K pass.
    // Sketch bytes are engine-specific, so the driver gate is the
    // invariant-twin pattern with the EXACT column genuinely
    // cross-checked: the top-HhK bins by exact count (tie-broken on
    // bin, both engines) each carry two sketch-contract booleans —
    // never_under (CMS can only over-count: its estimate is a min over
    // hashed counters each holding the true count plus non-negative
    // collision mass) and within_eps (estimate <= exact +
    // ceil(CmsEps * N), the CMS guarantee at CmsConf — deterministic
    // here because the seed is fixed; measured margins at every SF sit
    // far inside the bound). Driver-side work is three bounded reads —
    // ONE serialized sketch row, one total, HhK exact rows — the
    // centroid-collect precedent; the sketch build itself is a single
    // map-side-combined mergeable aggregate, the property that lets
    // 1000 executors each sketch a shard and merge the results — and
    // that claim is now STAGED, not asserted: the same corpus is
    // sharded CmsShards ways (a groupBy shard key — each group's
    // sketch is what one executor's shard would produce), the
    // per-shard sketches merge driver-side via CountMinSketch
    // .mergeInPlace (CmsShards sketch rows collected — bounded), and
    // `merge_ok` hash-gates that the merged sketch's estimate equals
    // the one-pass sketch's on every reported bin. At the FIXED seed
    // the equality is exact by construction (same hash functions,
    // counters additive over disjoint shards), so any drift in either
    // path flips a literal-TRUE oracle column.
    "ft_heavy_hitters_invariant" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id").cast("string").as("bin"))
        .localCheckpoint(true) // one-pass sketch, shard sketches, exact top-K
      // sketch + stream length in ONE pass (a separate count() would be
      // a whole extra corpus scan at the design point)
      val skRow = ev
        .agg(expr(s"count_min_sketch(bin, ${CmsEps}d, ${CmsConf}d, $CmsSeed)").as("sk"),
          count(lit(1)).as("n"))
        .head() // ONE row
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]]("sk")))
      val merged = ev
        .groupBy(pmod(crc32(col("bin")), lit(CmsShards.toLong)).as("shard"))
        .agg(expr(s"count_min_sketch(bin, ${CmsEps}d, ${CmsConf}d, $CmsSeed)").as("sk"))
        .collect() // CmsShards rows of sketch bytes
        .map(r => org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("sk"))))
        .reduce { (a, b) => a.mergeInPlace(b); a }
      val bound = math.ceil(CmsEps * skRow.getAs[Long]("n")).toLong
      val top = ev.groupBy("bin").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("bin")).limit(HhK)
        .collect() // HhK rows
      top.toSeq.map { r =>
        val (bin, exact) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(bin)
        (bin, exact, est >= exact, est <= exact + bound,
          merged.estimateCount(bin) == est)
      }.toDF("bin", "exact", "never_under", "within_eps", "merge_ok")
        .orderBy("bin")
    }),

    // STREAMING-SEMANTICS replay as a driver query: the event corpus
    // folded through ForgetStream.transitionRequests — the exact
    // function every streaming micro-batch runs (ForgetStreamSpec
    // proves micro-batch ≡ this fold) — as one deterministic batch
    // replay per distribution, with a mid-stream /nmostprobable read
    // injected as a sequence point (increments before it land before
    // its partial head-decay write-back, after-increments after — the
    // reference worker's serialization). The seeded-Poisson decay is
    // replay-stable but not SQL-expressible, so the driver gate is the
    // invariant-twin pattern (ft_sampled_invariant): per dist,
    //   mass_ok         0 <= Z <= raw increment total (no resurrection)
    //   consistency_ok  Z == Σ count (the reference's _Z bookkeeping)
    //   clock_ok        state clock == the replay's now
    //   prune_ok        no zero-count bin survives under prune
    // All four are pure functions of the corpus, so the oracle is
    // literal TRUE per dist and the hash gate fails if the streaming
    // fold drifts. Timestamps are mapped t -> 2t (order-preserving)
    // and the read sits at an ODD tick, so no event can tie with the
    // sequence point — tie order between an incr and a read would be
    // arrival-dependent, and this keeps the replay bit-deterministic
    // under any partitioning.
    "ft_stream_replay" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.{BinSnapshot, ForgetStream, FtRequest}
      val p = ForgetStream.Params(rate = 0.001)
      val now2 = 2L * Now
      val ev = Tables.events(s, dir)
      val incrs = ev.select(col("event_type").as("dist"),
        col("user_id").cast("string").as("bin"),
        lit(1L).as("n"), (unix_timestamp(col("ts")) * 2L).as("tsSec"),
        lit("incr").as("op"), lit(0).as("k"))
      val reads = ev.select(col("event_type").as("dist")).distinct()
        .select(col("dist"), lit("").as("bin"), lit(0L).as("n"),
          lit(2L * 1705276800L + 1L).as("tsSec"), // 2024-01-15, odd tick
          lit("topk").as("op"), lit(3).as("k"))
      val st = incrs.unionByName(reads).as[FtRequest]
        .groupByKey(_.dist)
        .flatMapGroups { (dist: String, it: Iterator[FtRequest]) =>
          val (state, _) = ForgetStream.transitionRequests(dist, it.toSeq, None, now2, p)
          state.iterator.flatMap(s0 => s0.counts.iterator.map { case (b, c) =>
            BinSnapshot(dist, b, c, s0.z, s0.t)
          })
        }
      val z0 = ev.groupBy(col("event_type").as("dist"))
        .agg(count(lit(1)).as("z0"))
      st.toDF.groupBy("dist")
        .agg(max("z").as("z"), min("t").as("tmin"), max("t").as("tmax"),
          sum("count").as("sumc"), min("count").as("minc"))
        .join(z0, "dist")
        .select(col("dist"),
          (col("z") >= 0L && col("z") <= col("z0")).as("mass_ok"),
          (col("z") === col("sumc")).as("consistency_ok"),
          (col("tmin") === now2 && col("tmax") === now2).as("clock_ok"),
          (col("minc") > 0L).as("prune_ok"))
        .orderBy("dist")
    }),

    // PERSISTED WRITE-BACK roundtrip — the storage layer driven end to
    // end as one deterministic query: save the pre-cutoff state into a
    // bucketed parquet store (StateStore.save), replace every
    // post-cutoff-touched distribution with its full merged bin set
    // (upsertDistributions — the touched buckets and meta, z/t refreshed
    // with rate carry-over, published together), GC expired
    // distributions (compact — the (σ+η)·η TTL keep-filter), then load
    // the store back and emit counts ⋈ meta. Each write is one
    // crash-safe Publish transaction over counts and meta. Every step's
    // on-disk result is what the oracle recomputes in SQL, so the driver gate
    // covers the save → upsert → compact → load cycle, not just the
    // in-memory operators. (Scratch store per invocation — the
    // self-contained driver contract; a deployment saves once.)
    "ft_store_roundtrip" -> ((s, dir) => {
      val storeDir = graft.sources.TempDirs.scratch("graft_ftstore_")
      val ev = Tables.events(s, dir)
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val old = ForgetTable.fromEvents(ev.filter(col("ts") < cutoff))
      graft.sources.StateStore.save(old, storeDir)
      // snapshot batch = the FULL surviving bin set of every dist with
      // post-cutoff traffic (exactly what ForgetStream emits per
      // micro-batch), carrying the refreshed z/t
      val full = ForgetTable.fromEvents(ev)
      val touched = ev.filter(col("ts") >= cutoff)
        .select(col("event_type").as("dist")).distinct()
      val snaps = full.counts.join(touched, "dist")
        .join(full.meta.select("dist", "z", "t"), "dist")
        .select("dist", "bin", "count", "z", "t")
      graft.sources.StateStore.upsertDistributions(s, storeDir, snaps)
      // rate and sigma chosen so that the compact both keeps and drops
      // at every scale the gate runs: at sf0.001 it keeps `purchase`
      // (1 of 5 dists, 15 rows), at sf0.01 it drops `error` (4 of 5
      // kept, 600 rows). Each side of the TTL test has a margin of
      // over a minute.
      graft.sources.StateStore.compact(s, storeDir,
        ForgetParams(rate = 0.0079, nowEpoch = Now, sigma = 48.5))
      val ft2 = graft.sources.StateStore.load(s, storeDir)
      ft2.counts.join(ft2.meta, "dist")
        .select("dist", "bin", "count", "z", "t", "rate")
        .orderBy("dist", "bin")
    }),

    "ft_incr_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cutoff = "2024-01-15 00:00:00"
      val old = ForgetTable.fromEvents(ev.filter(col("ts") < lit(cutoff).cast("timestamp")))
      val incr = ev.filter(col("ts") >= lit(cutoff).cast("timestamp")).select(
        col("event_type").as("dist"),
        col("user_id").cast("string").as("bin"),
        greatest(lit(1L), lit(1L) + floor(col("value")).cast("long")).as("n"),
        unix_timestamp(col("ts")).as("t"))
      old.merged(incr).counts.orderBy("dist", "bin")
    }),

    // Sampled (seeded-Poisson) decay: the reference's stochastic semantics,
    // replay-stable but not SQL-expressible -> rows-only driver check.
    "ft_sampled" -> ((s, dir) =>
      ft(s, dir).dist(
        ForgetParams(rate = 0.002, nowEpoch = Now, mode = DecayMode.Sampled))),

    // Driver-CHECKABLE invariants for the seeded-Poisson sampler behind
    // Sampled decay (upgrading ft_sampled's rows-only check):
    //   - mean_ok / var_ok: per dist, draws at lambda = 4 seeded from
    //     the corpus's event ids must have sample mean within
    //     6*sqrt(lambda/B) of lambda and sample variance within
    //     6*sqrt((lambda + 2*lambda^2)/B) of lambda (B = rows per dist;
    //     both are 6-sigma envelopes of the respective estimators).
    //   - mass_ok: Sampled decay never resurrects mass (0 <= z_sampled
    //     <= z0) under prune semantics.
    // The draws are pure functions of (lambda, seed), so every boolean
    // is deterministic and the oracle is literal TRUE — a broken
    // sampler or decay path fails the hash gate.
    "ft_sampled_invariant" -> ((s, dir) => {
      val lam = 4.0
      val draws = Tables.events(s, dir).select(
        col("event_type").as("dist"),
        graft.functions.PoissonDecayExpr(
          lit(lam), xxhash64(lit("inv"), col("event_id"))).cast("double").as("k"))
      val stats = draws.groupBy("dist").agg(
        count(lit(1)).cast("double").as("b"),
        avg("k").as("m"),
        (avg(col("k") * col("k")) - avg("k") * avg("k")).as("v"))
      val t = ft(s, dir)
      val zs = t.dist(ForgetParams(rate = 0.002, nowEpoch = Now, mode = DecayMode.Sampled))
        .groupBy("dist").agg(sum("count").as("z_sampled"))
      val z0 = t.counts.groupBy("dist").agg(sum("count").as("z0"))
      stats.join(zs, "dist").join(z0, "dist")
        .select(col("dist"),
          (abs(col("m") - lit(lam)) <= lit(6.0) * sqrt(lit(lam) / col("b"))).as("mean_ok"),
          (abs(col("v") - lit(lam)) <=
            lit(6.0) * sqrt((lit(lam) + lit(2.0 * lam * lam)) / col("b"))).as("var_ok"),
          (col("z_sampled") >= 0L && col("z_sampled") <= col("z0")).as("mass_ok"))
        .orderBy("dist")
    }),

    // Event-time tumbling-window totals per dist (StreamOps): batch form
    // of the windowed aggregation the streaming layer runs with a
    // watermark. 1-day windows align to the unix epoch on both engines.
    "ft_windowed" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type").as("dist"),
        col("user_id").cast("string").as("bin"),
        col("ts"))
      graft.streaming.StreamOps.windowedTotals(ev, "1 day", "1 day", "0 seconds")
        .orderBy("w_start", "dist")
    }),

    // SLIDING windows (2-day window, 1-day slide): every event lands in
    // exactly 2 epoch-aligned windows. Same streaming machinery as
    // ft_windowed; the overlap is what tumbling can't express.
    "ft_windowed_sliding" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type").as("dist"), col("ts"))
      graft.streaming.StreamOps.windowedTotals(ev, "2 days", "1 day", "0 seconds")
        .orderBy("w_start", "dist")
    }),

    // Windowed TOP-K: the 3 most active bins per (1-day window, dist) —
    // the time-bucketed analog of /nmostprobable ("what trended per
    // day"), composing the windowed aggregation with the same
    // rank-within-group limit ft_topk uses. Plan: groupBy on the
    // composite (window, dist, bin) — partial map-side agg, no hot
    // key — then row_number <= 3 over (w_start, dist), which rewrites
    // to WindowGroupLimit (partial per-partition top-K before the
    // shuffle). Ties break by count desc, bin asc on both engines.
    "ft_windowed_topk" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type").as("dist"),
        col("user_id").cast("string").as("bin"),
        col("ts"))
      val counts = graft.streaming.StreamOps
        .windowedBinCounts(ev, "1 day", "1 day", "0 seconds")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("w_start", "dist")
        .orderBy(col("count").desc, col("bin"))
      counts.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("w_start", "w_end", "dist", "rnk", "bin", "count")
        .orderBy("w_start", "dist", "rnk")
    }),

    // SESSION windows per (dist, bin), 1-day gap (StreamOps.sessionCounts
    // — see its scaladoc for the composite-key scale argument). Sessions
    // close at last-event + gap; the oracle reproduces the merge with
    // lag/cumsum island detection and exact interval arithmetic.
    "ft_sessions" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type").as("dist"),
        col("user_id").cast("string").as("bin"),
        col("ts"))
      graft.streaming.StreamOps.sessionCounts(ev, "1 day", "0 seconds")
        .orderBy("dist", "bin", "s_start")
    }),

    // JSON wire shape (SURVEY.md §1.4): the reference's full response
    // payload — data entries `{bin, count, p}` (distribution.go:18-28,
    // Value carries count AND p) under an envelope with Z, rate, prune
    // (distribution.go:31-36, filled by forget.go:114). Serialization is
    // PAGED: bins are chunked `JsonPageSize` per row (row_number DIV
    // pageSize in bin order) so a hot distribution with 10^8 bins yields
    // bounded rows, never one multi-GB collect_list row.
    //
    // Cross-engine formatting rules (the oracle mirrors each):
    //   - `p` is ROUNDED to 9 decimals before the explicit %.9f print.
    //     Raw doubles would differ two ways: shortest-repr/scientific
    //     cutoffs (hence %.9f), and tie-rounding at the 10th digit —
    //     java.util.Formatter rounds HALF_UP, DuckDB's fmt rounds
    //     half-to-even, so a dyadic p like 0.0009765625 would format as
    //     ...63 vs ...62. Rounding first resolves the tie identically
    //     (both engines round positive halves up/away at round()).
    //   - `bin` is JSON-escaped (backslash, then quote) like the
    //     reference's encoding/json; control characters inside bins are
    //     not escaped (user_id-derived bins are printable by contract).
    //   - the envelope `rate` flows from the meta table (forget.go:114
    //     fills Rate from the distribution), not a literal.
    //
    // Scale shape (ForgetTable's design rule at the top of that file):
    // NO per-dist window anywhere. `z` is groupBy(dist)+broadcast join.
    // The page rank is two-phase: bins are coarse-bucketed by an
    // ORDER-PRESERVING key (the 2-char bin prefix — a string prefix
    // preserves lexicographic order, so global bin rank = bucket offset
    // + rank within bucket, exactly), per-(dist,bucket) row counts are
    // aggregated map-side into a tiny table, bucket offsets come from a
    // self-join on that aggregate, and the only row_number runs inside
    // bounded (dist,bucket) partitions. A 10^8-bin hot distribution
    // spreads across its buckets instead of landing on one straggler.
    "ft_json" -> ((s, dir) =>
      jsonPages(s, dir)
        .select(col("dist"), col("page"), col("z"), col("rate"),
          col("prune"),
          length(col("data_json")).cast("long").as("data_len"),
          graft.functions.Md5Long60Expr(col("data_json"), JsonFpSalt)
            .as("data_fp"))
        .orderBy("dist", "page"))
  )

  // -------------------------------------------------------------- oracles

  def oracleSql: Map[String, String] = Map(
    "ft_counts" ->
      s"""WITH $countsCte
         |SELECT dist, bin, "count" FROM counts ORDER BY dist, bin""".stripMargin,

    // segment sums of disjoint batches == the one-shot counts
    "ft_counts_incremental" ->
      s"""WITH $countsCte
         |SELECT dist, bin, "count" FROM counts ORDER BY dist, bin""".stripMargin,

    // ingest-all then retract the opted-out users (negated partials +
    // prune filter) == the one-shot counts WITHOUT those users (null
    // user_ids are nobody's opt-out — kept on both sides)
    "ft_counts_retract" ->
      """WITH rcounts AS (
        |  SELECT event_type AS dist, CAST(user_id AS VARCHAR) AS bin,
        |         CAST(COUNT(*) AS BIGINT) AS count
        |  FROM events
        |  WHERE user_id IS NULL OR user_id % 10 != 7
        |  GROUP BY 1, 2
        |)
        |SELECT dist, bin, "count" FROM rcounts ORDER BY dist, bin""".stripMargin,

    // tombstone accounting derived independently from the events
    // table: keys = distinct (event_type, user_id); cancelled = the
    // opted-out users' keys (their negation batch is exactly their
    // event set, so they cancel to zero and nothing else does);
    // physical rows before the fold = the sum of each staged batch's
    // distinct-key count (one parquet row per key per append);
    // after the zero-drop fold = live keys only. reads_equal is the
    // Spark-side full-outer invariant (before/after pruned reads
    // bit-identical), TRUE by construction when the reclaim is sound.
    "ft_tombstones" ->
      """WITH
        |b1 AS (SELECT DISTINCT event_type, user_id FROM events
        |       WHERE ts < TIMESTAMP '2024-01-11 00:00:00'),
        |b2 AS (SELECT DISTINCT event_type, user_id FROM events
        |       WHERE ts >= TIMESTAMP '2024-01-11 00:00:00'
        |         AND ts < TIMESTAMP '2024-01-21 00:00:00'),
        |b3 AS (SELECT DISTINCT event_type, user_id FROM events
        |       WHERE ts IS NULL OR ts >= TIMESTAMP '2024-01-21 00:00:00'),
        |b4 AS (SELECT DISTINCT event_type, user_id FROM events
        |       WHERE user_id % 10 = 7),
        |keys AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
        |       CAST((SELECT COUNT(*) FROM b4) AS BIGINT) AS n_cancelled,
        |       CAST(0 AS BIGINT) AS n_negative,
        |       CAST((SELECT COUNT(*) FROM b1) + (SELECT COUNT(*) FROM b2)
        |            + (SELECT COUNT(*) FROM b3) + (SELECT COUNT(*) FROM b4)
        |            AS BIGINT) AS phys_before,
        |       (SELECT COUNT(*) FROM b4) > 0 AS tombstone_due,
        |       CAST((SELECT COUNT(*) FROM keys) - (SELECT COUNT(*) FROM b4)
        |            AS BIGINT) AS phys_after,
        |       TRUE AS reads_equal""".stripMargin,

    // four snapshots of the staged fold, each derived independently:
    // asof 0 = bulk only; 1 = through day 1; 2 = every event; 3 =
    // every event minus the opted-out users (their negation batch is
    // exactly their event set, and the prune read drops the zeroes)
    "ft_counts_asof" ->
      """WITH snap AS (
        |  SELECT 0 AS as_of, event_type, user_id FROM events
        |  WHERE ts < TIMESTAMP '2024-01-11 00:00:00'
        |  UNION ALL
        |  SELECT 1, event_type, user_id FROM events
        |  WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
        |  UNION ALL
        |  SELECT 2, event_type, user_id FROM events
        |  UNION ALL
        |  SELECT 3, event_type, user_id FROM events
        |  WHERE user_id IS NULL OR user_id % 10 != 7
        |)
        |SELECT CAST(as_of AS BIGINT) AS as_of, event_type AS dist,
        |       CAST(user_id AS VARCHAR) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS count
        |FROM snap GROUP BY 1, 2, 3
        |ORDER BY as_of, dist, bin""".stripMargin,

    // two committed-epoch snapshots derived independently: epoch 0 =
    // the frozen MIXED frontier (all of web's even-user population +
    // the complement population through day 10); epoch 1 = the whole
    // store minus the opted-out users (their gdpr-writer negation is
    // exactly their event set, and the prune read drops the zeroes)
    "ft_counts_asof_global" ->
      """WITH snap AS (
        |  SELECT 0 AS epoch, event_type, user_id FROM events
        |  WHERE (user_id IS NOT NULL AND user_id % 2 = 0)
        |     OR ts < TIMESTAMP '2024-01-11 00:00:00'
        |  UNION ALL
        |  SELECT 1, event_type, user_id FROM events
        |  WHERE user_id IS NULL OR user_id % 10 != 7
        |)
        |SELECT CAST(epoch AS BIGINT) AS epoch, event_type AS dist,
        |       CAST(user_id AS VARCHAR) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS count
        |FROM snap GROUP BY 1, 2, 3
        |ORDER BY epoch, dist, bin""".stripMargin,

    "ft_counts_weighted" ->
      """SELECT event_type AS dist, CAST(user_id AS VARCHAR) AS bin,
        |       CAST(SUM(GREATEST(1, 1 + CAST(FLOOR(value) AS BIGINT))) AS BIGINT) AS count
        |FROM events GROUP BY 1, 2 ORDER BY dist, bin""".stripMargin,

    "ft_meta" ->
      s"""WITH $metaCte
         |SELECT dist, z, t, rate FROM meta ORDER BY dist""".stripMargin,

    "ft_dist" ->
      s"""WITH $countsCte, $metaCte,
         |sel AS (
         |  SELECT c.dist, c.bin, c."count" AS cnt, m.z, m.t
         |  FROM counts c JOIN meta m USING (dist)
         |), ${decayCte(0.002, prune = true)},
         |z2 AS (SELECT dist, CAST(SUM(newc) AS BIGINT) AS z2 FROM d2 GROUP BY 1)
         |SELECT d2.dist, d2.bin, newc AS "count",
         |       CASE WHEN z2 = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE CAST(newc AS DOUBLE) / CAST(z2 AS DOUBLE) END AS p
         |FROM d2 JOIN z2 USING (dist)
         |ORDER BY dist, bin""".stripMargin,

    "ft_dist_one" ->
      s"""WITH $countsCte, $metaCte,
         |sel AS (
         |  SELECT c.dist, c.bin, c."count" AS cnt, m.z, m.t
         |  FROM counts c JOIN meta m USING (dist)
         |  WHERE c.dist = 'click'
         |), ${decayCte(0.002, prune = true)},
         |z2 AS (SELECT dist, CAST(SUM(newc) AS BIGINT) AS z2 FROM d2 GROUP BY 1)
         |SELECT d2.dist, d2.bin, newc AS "count",
         |       CASE WHEN z2 = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE CAST(newc AS DOUBLE) / CAST(z2 AS DOUBLE) END AS p
         |FROM d2 JOIN z2 USING (dist)
         |ORDER BY dist, bin""".stripMargin,

    "ft_get" ->
      s"""WITH $countsCte, $metaCte,
         |fields AS (SELECT UNNEST(['1','3','7','11','99999']) AS bin),
         |sel AS (
         |  SELECT m.dist, f.bin, CAST(COALESCE(c."count", 0) AS BIGINT) AS cnt, m.z, m.t
         |  FROM fields f
         |  CROSS JOIN (SELECT * FROM meta WHERE dist = 'click') m
         |  LEFT JOIN counts c ON c.dist = m.dist AND c.bin = f.bin
         |), ${decayCte(0.001, prune = true)},
         |zadj AS (SELECT dist, CAST(SUM(l) AS BIGINT) AS lsel FROM d2 GROUP BY 1)
         |SELECT d2.dist, d2.bin, newc AS "count",
         |       CASE WHEN (z - lsel) = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE CAST(newc AS DOUBLE) / CAST(z - lsel AS DOUBLE) END AS p
         |FROM d2 JOIN zadj USING (dist)
         |ORDER BY dist, bin""".stripMargin,

    "ft_topk" ->
      s"""WITH $countsCte, $metaCte,
         |ranked AS (
         |  SELECT dist, bin, "count",
         |         CAST(ROW_NUMBER() OVER (PARTITION BY dist ORDER BY "count" DESC, bin DESC) AS BIGINT) AS rnk
         |  FROM counts
         |),
         |sel AS (
         |  SELECT r.dist, r.rnk, r.bin, r."count" AS cnt, m.z, m.t
         |  FROM ranked r JOIN meta m USING (dist) WHERE r.rnk <= 10
         |), ${decayCte(0.0005, prune = true)},
         |zadj AS (SELECT dist, CAST(SUM(l) AS BIGINT) AS lsel FROM d2 GROUP BY 1)
         |SELECT d2.dist, d2.rnk, d2.bin, newc AS "count",
         |       CASE WHEN (z - lsel) = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE CAST(newc AS DOUBLE) / CAST(z - lsel AS DOUBLE) END AS p
         |FROM d2 JOIN zadj USING (dist)
         |ORDER BY dist, rnk""".stripMargin,

    "ft_topk_one" ->
      s"""WITH $countsCte, $metaCte,
         |ranked AS (
         |  SELECT dist, bin, "count",
         |         CAST(ROW_NUMBER() OVER (PARTITION BY dist ORDER BY "count" DESC, bin DESC) AS BIGINT) AS rnk
         |  FROM counts WHERE dist = 'click'
         |),
         |sel AS (
         |  SELECT r.dist, r.rnk, r.bin, r."count" AS cnt, m.z, m.t
         |  FROM ranked r JOIN meta m USING (dist) WHERE r.rnk <= 10
         |), ${decayCte(0.0005, prune = true)},
         |zadj AS (SELECT dist, CAST(SUM(l) AS BIGINT) AS lsel FROM d2 GROUP BY 1)
         |SELECT d2.dist, d2.rnk, d2.bin, newc AS "count",
         |       CASE WHEN (z - lsel) = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE CAST(newc AS DOUBLE) / CAST(z - lsel AS DOUBLE) END AS p
         |FROM d2 JOIN zadj USING (dist)
         |ORDER BY dist, rnk""".stripMargin,

    "ft_prune" ->
      s"""WITH $countsCte, $metaCte,
         |sel AS (
         |  SELECT c.dist, c.bin, c."count" AS cnt, m.z, m.t
         |  FROM counts c JOIN meta m USING (dist)
         |), ${decayCte(0.002, prune = true)}
         |SELECT dist, bin, newc AS "count" FROM d2 WHERE newc > 0
         |ORDER BY dist, bin""".stripMargin,

    "ft_noprune" ->
      s"""WITH $countsCte, $metaCte,
         |sel AS (
         |  SELECT c.dist, c.bin, c."count" AS cnt, m.z, m.t
         |  FROM counts c JOIN meta m USING (dist)
         |), ${decayCte(0.002, prune = false)}
         |SELECT dist, bin, newc AS "count" FROM d2
         |ORDER BY dist, bin""".stripMargin,

    "ft_proportional" ->
      s"""WITH $countsCte, $metaCte,
         |sel AS (
         |  SELECT c.dist, c.bin, c."count" AS cnt, m.z, m.t
         |  FROM counts c JOIN meta m USING (dist)
         |), dec AS (
         |  SELECT *, CASE WHEN cnt < 1 THEN 0
         |                 ELSE CAST(FLOOR(CAST(cnt AS DOUBLE) * CAST(0.0001 AS DOUBLE) * CAST($Now - t AS DOUBLE)) AS BIGINT)
         |            END AS lraw
         |  FROM sel
         |), d2 AS (
         |  SELECT *, CASE WHEN cnt - lraw <= 0 THEN 1 ELSE cnt - lraw END AS newc
         |  FROM dec
         |),
         |z2 AS (SELECT dist, CAST(SUM(newc) AS BIGINT) AS z2 FROM d2 GROUP BY 1)
         |SELECT d2.dist, d2.bin, newc AS "count",
         |       CASE WHEN z2 = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE CAST(newc AS DOUBLE) / CAST(z2 AS DOUBLE) END AS p
         |FROM d2 JOIN z2 USING (dist)
         |ORDER BY dist, bin""".stripMargin,

    "ft_expiry" ->
      s"""WITH $countsCte, $metaCte,
         |sel AS (
         |  SELECT c.dist, c.bin, c."count" AS cnt, m.z, m.t
         |  FROM counts c JOIN meta m USING (dist)
         |), ${decayCte(0.002, prune = true)},
         |mx AS (
         |  SELECT dist, CAST(MAX(newc) AS BIGINT) AS max_count
         |  FROM d2 WHERE newc > 0 GROUP BY 1
         |)
         |SELECT dist, max_count,
         |       CAST(FLOOR((CAST(2.0 AS DOUBLE) + SQRT(CAST(max_count AS DOUBLE) / CAST(0.002 AS DOUBLE)))
         |                  * SQRT(CAST(max_count AS DOUBLE) / CAST(0.002 AS DOUBLE))) AS BIGINT) AS expire_sec,
         |       $Now + CAST(FLOOR((CAST(2.0 AS DOUBLE) + SQRT(CAST(max_count AS DOUBLE) / CAST(0.002 AS DOUBLE)))
         |                  * SQRT(CAST(max_count AS DOUBLE) / CAST(0.002 AS DOUBLE))) AS BIGINT) AS expire_at
         |FROM mx ORDER BY dist""".stripMargin,

    "ft_dbsize" ->
      "SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_dists FROM events",

    // The invariants are deterministic booleans (seeded sampler; sketch
    // vs exact), so the oracle is literal TRUE — the hash gate fails
    // the moment either engine-specific path drifts out of its envelope.
    "ft_dbsize_approx_invariant" ->
      "SELECT CAST(TRUE AS BOOLEAN) AS within_rsd",

    // store_rows / total_count genuinely cross-checked against the
    // corpus; the policy trace (5 appends at bound 2 -> two folds ->
    // one live segment) is deterministic, so its outcome is literal
    "ft_segment_stats_invariant" ->
      s"""SELECT CAST(1 AS BIGINT) AS n_segments,
         |  CAST($SegMaxSegments AS BIGINT) AS max_segments,
         |  CAST(TRUE AS BOOLEAN) AS bound_ok,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |    (SELECT DISTINCT event_type, user_id FROM events) t) AS store_rows,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS total_count,
         |  CAST(TRUE AS BOOLEAN) AS counts_match""".stripMargin,

    // exact top-K genuinely cross-checked; the sketch-contract booleans
    // are the invariant twin (CMS bytes are engine-specific)
    "ft_heavy_hitters_invariant" ->
      s"""SELECT bin, exact,
         |  CAST(TRUE AS BOOLEAN) AS never_under,
         |  CAST(TRUE AS BOOLEAN) AS within_eps,
         |  CAST(TRUE AS BOOLEAN) AS merge_ok
         |FROM (
         |  SELECT CAST(user_id AS VARCHAR) AS bin,
         |         CAST(COUNT(*) AS BIGINT) AS exact
         |  FROM events GROUP BY 1
         |  ORDER BY exact DESC, bin LIMIT $HhK
         |) t ORDER BY bin""".stripMargin,

    "ft_sampled_invariant" ->
      """SELECT DISTINCT event_type AS dist,
        |       CAST(TRUE AS BOOLEAN) AS mean_ok,
        |       CAST(TRUE AS BOOLEAN) AS var_ok,
        |       CAST(TRUE AS BOOLEAN) AS mass_ok
        |FROM events ORDER BY dist""".stripMargin,

    "ft_alive" ->
      s"""WITH $countsCte, $metaCte,
         |sel AS (
         |  SELECT c.dist, c.bin, c."count" AS cnt, m.z, m.t
         |  FROM counts c JOIN meta m USING (dist)
         |), ${decayCte(0.01, prune = true)},
         |mx AS (
         |  SELECT dist, t, CAST(MAX(newc) AS BIGINT) AS max_count
         |  FROM d2 WHERE newc > 0 GROUP BY 1, 2
         |)
         |SELECT dist FROM mx
         |WHERE $Now < t + CAST(FLOOR((CAST(2.0 AS DOUBLE) + SQRT(CAST(max_count AS DOUBLE) / CAST(0.01 AS DOUBLE)))
         |                            * SQRT(CAST(max_count AS DOUBLE) / CAST(0.01 AS DOUBLE))) AS BIGINT)
         |ORDER BY dist""".stripMargin,

    "ft_windowed" ->
      """SELECT make_timestamp(CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) * 86400 * 1000000) AS w_start,
        |       make_timestamp((CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) + 1) * 86400 * 1000000) AS w_end,
        |       event_type AS dist, CAST(COUNT(*) AS BIGINT) AS z
        |FROM events GROUP BY 1, 2, 3 ORDER BY w_start, dist""".stripMargin,

    "ft_windowed_sliding" ->
      """WITH e AS (
        |  SELECT event_type AS dist, CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS d
        |  FROM events
        |)
        |SELECT make_timestamp((d - o) * 86400 * 1000000) AS w_start,
        |       make_timestamp((d - o + 2) * 86400 * 1000000) AS w_end,
        |       dist, CAST(COUNT(*) AS BIGINT) AS z
        |FROM e CROSS JOIN (SELECT UNNEST([0, 1]) AS o) off
        |GROUP BY 1, 2, 3 ORDER BY w_start, dist""".stripMargin,

    "ft_windowed_topk" ->
      """WITH wc AS (
        |  SELECT make_timestamp(CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) * 86400 * 1000000) AS w_start,
        |         make_timestamp((CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) + 1) * 86400 * 1000000) AS w_end,
        |         event_type AS dist, CAST(user_id AS VARCHAR) AS bin,
        |         CAST(COUNT(*) AS BIGINT) AS "count"
        |  FROM events GROUP BY 1, 2, 3, 4
        |), r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY w_start, dist
        |                                    ORDER BY "count" DESC, bin) AS BIGINT) AS rnk
        |  FROM wc
        |)
        |SELECT w_start, w_end, dist, rnk, bin, "count"
        |FROM r WHERE rnk <= 3
        |ORDER BY w_start, dist, rnk""".stripMargin,

    "ft_sessions" ->
      """WITH e AS (
        |  SELECT event_type AS dist, CAST(user_id AS VARCHAR) AS bin, ts FROM events
        |), l AS (
        |  SELECT dist, bin, ts,
        |         lag(ts) OVER (PARTITION BY dist, bin ORDER BY ts) AS pts
        |  FROM e
        |), f AS (
        |  SELECT dist, bin, ts,
        |         -- break strictly PAST the gap: Spark merges an event
        |         -- landing exactly at previous + gap (StreamOpsSpec pins
        |         -- the boundary)
        |         CASE WHEN pts IS NULL OR ts - pts > INTERVAL 1 DAY THEN 1 ELSE 0 END AS brk
        |  FROM l
        |), s AS (
        |  SELECT dist, bin, ts,
        |         SUM(brk) OVER (PARTITION BY dist, bin ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f
        |)
        |SELECT MIN(ts) AS s_start, MAX(ts) + INTERVAL 1 DAY AS s_end,
        |       dist, bin, CAST(COUNT(*) AS BIGINT) AS n
        |FROM s GROUP BY dist, bin, sid ORDER BY dist, bin, s_start""".stripMargin,

    "ft_json" ->
      s"""WITH $countsCte, $metaCte,
         |mrate AS (
         |  SELECT dist, rate FROM meta
         |), zs AS (
         |  SELECT dist, CAST(SUM("count") AS BIGINT) AS z FROM counts GROUP BY 1
         |), pg AS (
         |  SELECT c.dist, c.bin, c."count", zs.z,
         |         round(CAST(c."count" AS DOUBLE) / CAST(zs.z AS DOUBLE), 9) AS p,
         |         CAST((ROW_NUMBER() OVER (PARTITION BY c.dist ORDER BY c.bin) - 1)
         |              // $JsonPageSize AS BIGINT) AS page
         |  FROM counts c JOIN zs USING (dist)
         |),
         |pages AS (
         |  SELECT dist, page, z, m.rate, TRUE AS prune,
         |         '[' || string_agg(
         |           printf('{"bin":"%s","count":%d,"p":%.9f}',
         |                  replace(replace(bin, '\', '\\'), '"', '\"'), "count", p),
         |           ',' ORDER BY bin) || ']' AS data_json
         |  FROM pg JOIN mrate m USING (dist)
         |  GROUP BY dist, page, z, m.rate
         |)
         |SELECT dist, page, z, rate, prune,
         |       CAST(length(data_json) AS BIGINT) AS data_len,
         |       CAST(concat('0x', substr(md5(concat('$JsonFpSalt:', data_json)),
         |         1, 15)) AS BIGINT) AS data_fp
         |FROM pages ORDER BY dist, page""".stripMargin,

    // deterministic booleans (seeded replay) -> literal-TRUE oracle,
    // hash-gated like ft_sampled_invariant
    "ft_stream_replay" ->
      """SELECT DISTINCT event_type AS dist,
        |       CAST(TRUE AS BOOLEAN) AS mass_ok,
        |       CAST(TRUE AS BOOLEAN) AS consistency_ok,
        |       CAST(TRUE AS BOOLEAN) AS clock_ok,
        |       CAST(TRUE AS BOOLEAN) AS prune_ok
        |FROM events ORDER BY dist""".stripMargin,

    // store contents after save(old) -> upsert(touched full state) ->
    // compact(TTL GC at rate 0.006, which expires 2 of the 5 dists): touched dists carry the full-merge
    // counts and refreshed z/t, untouched dists keep the pre-cutoff
    // state, and only dists still inside their (σ+η)·η TTL survive
    "ft_store_roundtrip" ->
      s"""WITH old_counts AS (
         |  SELECT event_type AS dist, CAST(user_id AS VARCHAR) AS bin,
         |         CAST(COUNT(*) AS BIGINT) AS "count"
         |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1, 2
         |), full_counts AS (
         |  SELECT event_type AS dist, CAST(user_id AS VARCHAR) AS bin,
         |         CAST(COUNT(*) AS BIGINT) AS "count"
         |  FROM events GROUP BY 1, 2
         |), touched AS (
         |  SELECT DISTINCT event_type AS dist FROM events
         |  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
         |), store_counts AS (
         |  SELECT * FROM old_counts WHERE dist NOT IN (SELECT dist FROM touched)
         |  UNION ALL
         |  SELECT * FROM full_counts WHERE dist IN (SELECT dist FROM touched)
         |), old_meta AS (
         |  SELECT event_type AS dist, CAST(COUNT(*) AS BIGINT) AS z,
         |         CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS t
         |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1
         |), full_meta AS (
         |  SELECT event_type AS dist, CAST(COUNT(*) AS BIGINT) AS z,
         |         CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS t
         |  FROM events GROUP BY 1
         |), store_meta AS (
         |  SELECT dist, z, t, CAST(0.5 AS DOUBLE) AS rate FROM old_meta
         |  WHERE dist NOT IN (SELECT dist FROM touched)
         |  UNION ALL
         |  SELECT dist, z, t, CAST(0.5 AS DOUBLE) AS rate FROM full_meta
         |  WHERE dist IN (SELECT dist FROM touched)
         |), sel AS (
         |  SELECT c.dist, c.bin, c."count" AS cnt, m.z, m.t
         |  FROM store_counts c JOIN store_meta m USING (dist)
         |), ${decayCte(0.0079, prune = true)},
         |mx AS (
         |  SELECT dist, t, CAST(MAX(newc) AS BIGINT) AS max_count
         |  FROM d2 WHERE newc > 0 GROUP BY 1, 2
         |), alive AS (
         |  SELECT dist FROM mx
         |  WHERE $Now < t + CAST(FLOOR((CAST(48.5 AS DOUBLE) + SQRT(CAST(max_count AS DOUBLE) / CAST(0.0079 AS DOUBLE)))
         |                              * SQRT(CAST(max_count AS DOUBLE) / CAST(0.0079 AS DOUBLE))) AS BIGINT)
         |)
         |SELECT c.dist, c.bin, c."count", m.z, m.t, m.rate
         |FROM store_counts c
         |JOIN alive a USING (dist)
         |JOIN store_meta m USING (dist)
         |ORDER BY dist, bin""".stripMargin,

    "ft_incr_merge" ->
      """WITH old_counts AS (
        |  SELECT event_type AS dist, CAST(user_id AS VARCHAR) AS bin,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1, 2
        |), incr AS (
        |  SELECT event_type AS dist, CAST(user_id AS VARCHAR) AS bin,
        |         CAST(SUM(GREATEST(1, 1 + CAST(FLOOR(value) AS BIGINT))) AS BIGINT) AS c
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1, 2
        |), unioned AS (
        |  SELECT * FROM old_counts UNION ALL SELECT * FROM incr
        |)
        |SELECT dist, bin, CAST(SUM(c) AS BIGINT) AS count
        |FROM unioned GROUP BY 1, 2 ORDER BY dist, bin""".stripMargin
  )
}
