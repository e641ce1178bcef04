package graft.streaming

import scala.collection.mutable

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
    val w = new Work(dist, nowSec, p)
    prev match {
      case Some(s) => w.seed(s)
      case None => w.open(incrs.headOption.map(_.tsSec).getOrElse(nowSec))
    }
    // ZINCRBY: counts grow by the batch's increments
    incrs.foreach(e => w.add(e.bin, e.n))
    // lazy decay at read-repair time (UpdateDistribution: Fill -> Decay ->
    // Normalize; goforget/redis_utils.go:146-152)
    w.decayAll()
    w.state
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
    val w = new Work(dist, nowSec, p)
    w.seed(s)
    val fetched = w.topK(k)
    (w.state, fetched)
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
    *
    * Cost: the batch folds through one mutable working copy of the
    * distribution, seeded once from `prev`; an increment is one map
    * update. Every decay in a batch runs at the batch's clock, so only
    * the first can see `dt > 0`: that one decays every bin, and each
    * later one (`dt = 0`, where every draw is 0) only clamps or prunes
    * the bins that can hold a count below 1 — those below 1 in `prev`
    * and those an increment touched since. A `topk` read is O(n log k)
    * through a `k`-bounded heap, not a sort of every bin. `Z` is kept
    * as a running sum. Emitting a whole distribution stays O(n).
    */
  def transitionRequests(dist: String, reqs: Seq[FtRequest], prev: Option[DistState],
                         nowSec: Long, p: Params): (Option[DistState], Vector[BinSnapshot]) = {
    def alive(s: DistState) = !(s.z == 0L && p.prune)
    if (reqs.isEmpty) return (prev.filter(alive), Vector.empty)
    val w = new Work(dist, nowSec, p)
    prev.foreach(w.seed)
    val out = Vector.newBuilder[BinSnapshot]
    var run = false // an increment run is merged and its decay is pending
    def flushIncrs(): Unit = if (run) {
      w.decayAll()
      w.emit(out)
      run = false
    }
    reqs.sortBy(_.tsSec).foreach { r =>
      if (r.op == "incr") {
        // a new distribution's clock opens at its earliest increment
        if (!w.exists) w.open(r.tsSec)
        w.add(r.bin, r.n)
        run = true
      } else {
        flushIncrs()
        // an absent distribution: empty response, nothing to repair
        if (w.exists) r.op match {
          case "topk" =>
            val fetched = w.topK(r.k)
            fetched.foreach { case (b, c) => out += BinSnapshot(dist, b, c, w.z, w.t) }
          case _ => // "dist": full lazy read-repair
            w.decayAll()
            w.emit(out)
        }
      }
    }
    flushIncrs()
    (if (w.exists) Some(w.state).filter(alive) else None, out.result())
  }

  /** `ZREVRANGEBYSCORE` order: the sort key `(-count, bin)` ascending,
    * with `bin` descending on ties (redis_utils.go:218).
    */
  private val RevRange: Ordering[(String, Long)] = (x, y) => {
    val c = java.lang.Long.compare(-x._2, -y._2)
    if (c != 0) c else y._1.compareTo(x._1)
  }

  /** One distribution's mutable working copy for one fold: the counts,
    * their running sum `z`, the clock `t`, and the dirty set. Invariant:
    * every bin outside `dirty` holds a count of at least 1, which the
    * Sampled decay at `dt = 0` leaves as it is.
    */
  private final class Work(dist: String, nowSec: Long, p: Params) {
    private val counts = mutable.HashMap.empty[String, Long]
    private val dirty = mutable.HashSet.empty[String]
    var z = 0L
    var t = 0L
    /** False until the state exists: seeded, or opened by an increment. */
    var exists = false

    def seed(s: DistState): Unit = {
      counts.sizeHint(s.counts.size)
      s.counts.foreachEntry { (b, c) =>
        counts.update(b, c)
        z += c
        if (c < 1L) dirty += b
      }
      t = s.t
      exists = true
    }

    def open(t0: Long): Unit = {
      t = t0
      exists = true
    }

    def add(bin: String, n: Long): Unit = {
      counts.update(bin, counts.getOrElse(bin, 0L) + n)
      z += n
      dirty += bin
    }

    /** `bin`'s count becomes `c`; under prune a count of 0 or less
      * drops the bin (the write-back's ZREM).
      */
    private def put(bin: String, old: Long, c: Long): Unit = {
      if (p.prune && c <= 0L) counts.remove(bin) else counts.update(bin, c)
      z += c - old
    }

    /** The full lazy read-repair, then the write-back: decay every bin
      * from `t` to now, prune, `T = now`. At `dt = 0` only the dirty
      * bins can move.
      */
    def decayAll(): Unit = {
      val decay = Decay.sampler(dist, t, nowSec, p.rate, p.prune)
      if (t < nowSec) {
        // decay in place, then prune in a second pass: writing to the map
        // from inside its own filterInPlace loses bins
        counts.mapValuesInPlace(decay)
        if (p.prune) counts.filterInPlace((_, c) => c > 0L)
        z = counts.valuesIterator.sum
      } else dirty.foreach(b => counts.get(b).foreach(c => put(b, c, decay(b, c))))
      dirty.clear()
      t = nowSec
    }

    /** [[topKDecay]] on the working copy: decay the `k` most-probable
      * bins, prune every bin at 0 or less, `T = now`. Returns the fetched
      * bins, post-decay, in [[RevRange]] order.
      */
    def topK(k: Int): Vector[(String, Long)] = {
      val decay = Decay.sampler(dist, t, nowSec, p.rate, p.prune)
      val fetched = head(k).map { case (b, c) =>
        val d = decay(b, c)
        put(b, c, d)
        b -> d
      }
      if (p.prune) {
        // a bin below 1 outside the head is dirty; every other one is >= 1
        dirty.foreach(b => counts.get(b).foreach(c => if (c <= 0L) {
          counts.remove(b)
          z -= c
        }))
        dirty.clear()
      }
      t = nowSec
      fetched
    }

    /** The `k` first bins in [[RevRange]] order, from a `k`-bounded heap
      * whose top is the worst bin kept.
      */
    private def head(k: Int): Vector[(String, Long)] =
      if (k <= 0) Vector.empty
      else {
        val heap = mutable.PriorityQueue.empty[(String, Long)](RevRange)
        counts.foreach { e =>
          if (heap.size < k) heap.enqueue(e)
          else if (RevRange.lt(e, heap.head)) {
            heap.dequeue()
            heap.enqueue(e)
          }
        }
        heap.dequeueAll.reverseIterator.toVector
      }

    def emit(out: mutable.Growable[BinSnapshot]): Unit =
      counts.foreachEntry((b, c) => out += BinSnapshot(dist, b, c, z, t))

    def state: DistState = DistState(counts.toMap, z, t)
  }

  /** Expiry timeout (seconds) for a state snapshot — O9. */
  def expirySec(s: DistState, p: Params): Long = {
    val maxCount = if (s.counts.isEmpty) 0L else s.counts.values.max
    val eta = math.sqrt(maxCount.toDouble / p.rate)
    ((p.sigma + eta) * eta).toLong
  }

  /** Spark sets a timeout's deadline to `now + duration` in ms, so a
    * duration past this bound could overflow it into the past.
    */
  private final val MaxTimeoutMs = Long.MaxValue / 2

  /** The state timeout in ms: [[expirySec]], at least one second, and
    * saturated at [[MaxTimeoutMs]]. At `rate = 0` the expiry is
    * `Long.MaxValue` s, which a plain `* 1000` overflows to a negative
    * duration that Spark rejects.
    */
  def expiryMs(s: DistState, p: Params): Long = {
    val sec = math.max(1L, expirySec(s, p))
    if (sec > MaxTimeoutMs / 1000L) MaxTimeoutMs else sec * 1000L
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
          if (withExpiry) state.setTimeoutDuration(expiryMs(s, p))
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
