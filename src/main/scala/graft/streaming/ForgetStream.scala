package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Decay

/** Per-distribution streaming state — the live analog of the reference's
  * three Redis keys (counts sorted-set, `._Z`, `._T`;
  * goforget/redis_utils.go:222-233).
  */
final case class DistState(counts: Map[String, Long], z: Long, t: Long)

/** Emitted snapshot row after each state update. */
final case class BinSnapshot(dist: String, bin: String, count: Long, z: Long, t: Long)

/** One request against the streaming forget-table — the stream analog of
  * the reference's HTTP surface. `op` is one of:
  *
  *   - `"incr"` — `/incr` (goforget/forget.go:55-69): merge `n` into
  *     `bin`, then the update worker's full decay
  *   - `"topk"` — `/nmostprobable` (forget.go:171-215): read the `k`
  *     most-probable bins, decay ONLY those, write only their decay back
  *   - `"dist"` — `/dist` (forget.go:71-115): full read-repair of every
  *     bin
  *
  * `bin`/`n` are meaningful for `"incr"`; `k` for `"topk"`.
  */
final case class FtRequest(dist: String, bin: String, n: Long, tsSec: Long, op: String, k: Int)

object FtRequest {
  def incr(dist: String, bin: String, n: Long, tsSec: Long): FtRequest =
    FtRequest(dist, bin, n, tsSec, "incr", 0)
  def topK(dist: String, k: Int, tsSec: Long): FtRequest =
    FtRequest(dist, "", 0L, tsSec, "topk", k)
  def dist(dist: String, tsSec: Long): FtRequest =
    FtRequest(dist, "", 0L, tsSec, "dist", 0)
}

/** Structured-Streaming forget-table: `flatMapGroupsWithState` keyed by
  * distribution, mirroring the reference's update-worker loop
  * (goforget/redis_utils.go:124-196):
  *
  *   - increments merge into the counts map, bump Z, SETNX T
  *   - every update lazily decays the distribution (seeded Poisson — the
  *     reference's stochastic semantics, but replay-stable so micro-batch
  *     retries converge) and prunes empty bins. The decay is
  *     [[graft.core.Decay.sampler]], the batch reads' Sampled mode: the
  *     same seed, `dt` and clamp, so stream and store decay alike
  *   - the state timeout is set to the O9 expiry formula
  *     `(sigma + eta) * eta`, `eta = sqrt(maxCount / rate)` — on timeout
  *     the state is removed, exactly Redis `EXPIRE` of all three keys
  *     (goforget/redis_utils.go:184-189)
  *
  * The checkpointed state store replaces the reference's WATCH/MULTI
  * optimistic concurrency: exactly-once state commits per micro-batch.
  * For the 100 TB ambition run with the RocksDB state store provider
  * (unbounded bins-per-dist stay off-heap and incremental-checkpoint).
  */
object ForgetStream {

  final case class Params(rate: Double, prune: Boolean = true, sigma: Double = 2.0)

  /** Pure state transition: merge a batch of increments, then decay.
    * `incrs` are `"incr"` requests (`op`/`k` are ignored); a new
    * distribution's `T` is the first one's `tsSec`. `nowSec` is the
    * processing time injected by the caller (tests pass a fixed clock;
    * production passes the micro-batch time).
    */
  def transition(dist: String, incrs: Seq[FtRequest], prev: Option[DistState],
                 nowSec: Long, p: Params): DistState = {
    val base = prev.getOrElse(DistState(Map.empty, 0L, incrs.headOption.map(_.tsSec).getOrElse(nowSec)))
    // ZINCRBY: counts grow by the batch's increments (settle re-sums Z)
    val merged = incrs.foldLeft(base.counts) { (m, e) =>
      m.updated(e.bin, m.getOrElse(e.bin, 0L) + e.n)
    }
    // lazy decay at read-repair time (UpdateDistribution: Fill -> Decay ->
    // Normalize; goforget/redis_utils.go:146-152)
    val decay = Decay.sampler(dist, base.t, nowSec, p.rate, p.prune)
    settle(merged.map { case (bin, count) => bin -> decay(bin, count) }, nowSec, p)
  }

  /** The write-back after a decay: prune, `Z = Σ counts`, `T = now`. */
  private def settle(counts: Map[String, Long], nowSec: Long, p: Params): DistState = {
    val kept = if (p.prune) counts.filter(_._2 > 0L) else counts
    DistState(kept, kept.values.sum, nowSec)
  }

  /** Partial read-repair: decay ONLY the `k` most-probable bins and
    * advance the distribution clock — the reference's top-K write-back
    * drift. After `/nmostprobable` the handler enqueues a distribution
    * holding just the K fetched bins (forget.go:213-214,
    * distribution.go:41-54); when the worker's refill is skipped the
    * write-back persists only those bins' decay plus the new `_T`
    * (redis_utils.go:146-175 via the distribution.go:84-86 early
    * return). The observable semantic: the HEAD of a distribution ages
    * on every top-K read, while the TAIL's decay clock skips the
    * interval entirely (its pending decay is forgotten when `_T`
    * advances) — replaying reference traffic progressively flattens the
    * head relative to the tail.
    *
    * Bin order mirrors `ZREVRANGEBYSCORE` (count desc, bin desc on ties;
    * redis_utils.go:218). Returns the new state plus the K fetched bins
    * post-decay (the read response; 0-count bins stay in the response
    * but are pruned from state, like ZREM'd bins still present in the
    * handler's in-memory Data).
    */
  def topKDecay(dist: String, s: DistState, k: Int, nowSec: Long,
                p: Params): (DistState, Seq[(String, Long)]) = {
    val decay = Decay.sampler(dist, s.t, nowSec, p.rate, p.prune)
    val head = s.counts.toSeq.sortBy { case (b, c) => (-c, b) }(
      Ordering.Tuple2(Ordering.Long, Ordering.String.reverse)).take(k)
    val decayedHead = head.map { case (bin, count) => bin -> decay(bin, count) }
    (settle(s.counts ++ decayedHead, nowSec, p), decayedHead)
  }

  /** Fold a micro-batch of mixed requests through the state, mirroring
    * the reference's serialized update worker: requests apply strictly
    * in EVENT-TIME order (`tsSec`; ties keep arrival order — the sort is
    * stable). A maximal run of consecutive increments folds as ONE
    * [[transition]] — increments commute with each other, so merging a
    * run is identical to applying them singly — but every read
    * (`"topk"` as [[topKDecay]] partial write-back, `"dist"` as a full
    * [[transition]] read-repair) is a sequence point: an increment that
    * arrives AFTER a read in the same micro-batch lands after that
    * read's decay, never inside it, matching the reference worker's
    * one-request-at-a-time serialization (goforget/redis_utils.go:
    * 124-137). Returns the next state (None = the distribution emptied /
    * never existed) and the rows each op emitted: incr runs emit the
    * whole post-decay distribution, reads emit exactly the bins they
    * fetched.
    */
  def transitionRequests(dist: String, reqs: Seq[FtRequest], prev: Option[DistState],
                         nowSec: Long, p: Params): (Option[DistState], Vector[BinSnapshot]) = {
    var out = Vector.empty[BinSnapshot]
    var state: Option[DistState] = prev
    var run = Vector.empty[FtRequest]
    def flushIncrs(): Unit = if (run.nonEmpty) {
      val s = transition(dist, run, state, nowSec, p)
      out ++= s.counts.map { case (b, c) => BinSnapshot(dist, b, c, s.z, s.t) }
      state = Some(s)
      run = Vector.empty
    }
    reqs.toVector.sortBy(_.tsSec).foreach { r =>
      if (r.op == "incr") run :+= r
      else {
        flushIncrs()
        state match {
          case None => // absent distribution: empty response, nothing to repair
          case Some(s) =>
            r.op match {
              case "topk" =>
                val (next, fetched) = topKDecay(dist, s, r.k, nowSec, p)
                out ++= fetched.map { case (b, c) => BinSnapshot(dist, b, c, next.z, next.t) }
                state = Some(next)
              case _ => // "dist": full lazy read-repair
                val next = transition(dist, Seq.empty, Some(s), nowSec, p)
                out ++= next.counts.map { case (b, c) => BinSnapshot(dist, b, c, next.z, next.t) }
                state = Some(next)
            }
        }
      }
    }
    flushIncrs()
    val terminal = state.filterNot(s => s.z == 0L && p.prune)
    (terminal, out)
  }

  /** Expiry timeout (seconds) for a state snapshot — O9. */
  def expirySec(s: DistState, p: Params): Long = {
    val maxCount = if (s.counts.isEmpty) 0L else s.counts.values.max
    val eta = math.sqrt(maxCount.toDouble / p.rate)
    ((p.sigma + eta) * eta).toLong
  }

  def requestsFn(p: Params, clock: () => Long, withExpiry: Boolean = true)(
      dist: String, reqs: Iterator[FtRequest],
      state: GroupState[DistState]): Iterator[BinSnapshot] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val (next, out) = transitionRequests(dist, reqs.toSeq, state.getOption, clock(), p)
      next match {
        case Some(s) =>
          state.update(s)
          if (withExpiry)
            state.setTimeoutDuration(math.max(1L, expirySec(s, p)) * 1000L)
        case None if state.exists => state.remove()
        case None =>
      }
      out.iterator
    }
  }

  /** Wire a stream of mixed read/write requests into the stateful
    * forget-table — the full reference HTTP surface as a stream,
    * including the top-K partial write-back drift (see [[topKDecay]]).
    * An all-`"incr"` stream is the plain increments path.
    *
    * @param withExpiry true (production) arms ProcessingTimeTimeout so
    *        idle distributions self-destruct like Redis EXPIRE. Note the
    *        engine then schedules continuous timeout-check micro-batches;
    *        deterministic tests pass false (the expiry formula itself is
    *        covered by pure-function tests on [[expirySec]]).
    * @param initial warm-restart state (see [[initialStateFrom]]) — the
    *        reference's restart-from-Redis: a rebooted worker resumes
    *        from the store, not from zero. Only consulted on the FIRST
    *        run of a checkpoint; afterwards the checkpointed state wins.
    */
  def requests(events: Dataset[FtRequest], p: Params,
               clock: () => Long = () => System.currentTimeMillis() / 1000L,
               withExpiry: Boolean = true,
               initial: Option[Dataset[(String, DistState)]] = None): Dataset[BinSnapshot] = {
    implicit val stateEnc = Encoders.product[DistState]
    implicit val outEnc = Encoders.product[BinSnapshot]
    val timeout =
      if (withExpiry) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val grouped = events.groupByKey(_.dist)(Encoders.STRING)
    initial match {
      case Some(init) =>
        val initKV = init.groupByKey(_._1)(Encoders.STRING)
          .mapValues(_._2)(stateEnc)
        grouped.flatMapGroupsWithState(OutputMode.Update, timeout, initKV)(
          requestsFn(p, clock, withExpiry))
      case None =>
        grouped.flatMapGroupsWithState(OutputMode.Update, timeout)(
          requestsFn(p, clock, withExpiry))
    }
  }

  /** Per-dist [[DistState]] rows from a batch forget-table — feed a
    * [[graft.sources.StateStore]]-loaded table to [[requests]]' `initial`
    * for a warm restart. The collect happens inside Spark's
    * initial-state machinery (distributed, co-partitioned with the
    * stream's groupBy), not on the driver.
    */
  def initialStateFrom(counts: org.apache.spark.sql.DataFrame,
                       meta: org.apache.spark.sql.DataFrame): Dataset[(String, DistState)] = {
    import org.apache.spark.sql.functions._
    implicit val enc = Encoders.tuple(Encoders.STRING, Encoders.product[DistState])
    counts.groupBy("dist")
      .agg(map_from_entries(collect_list(struct(col("bin"), col("count")))).as("counts"))
      .join(meta.select(col("dist"), col("z"), col("t")), "dist")
      .select(col("dist").as("_1"),
        struct(col("counts"), col("z"), col("t")).as("_2"))
      .as[(String, DistState)]
  }
}
