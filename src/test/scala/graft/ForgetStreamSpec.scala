package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Decay
import graft.streaming.{BinSnapshot, DistState, ForgetStream, FtRequest}

/** Streaming forget-table: pure transition semantics + an end-to-end
  * micro-batch run through MemoryStream, checked against the same
  * increments replayed through the pure transition (batch equivalence).
  */
class ForgetStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private val T0 = 1706659200L
  private val params = ForgetStream.Params(rate = 0.5)

  test("transition merges increments like ZINCRBY/INCRBY (no elapsed time => no decay)") {
    val incrs = Seq(
      FtRequest.incr("colors", "red", 3L, T0),
      FtRequest.incr("colors", "blue", 1L, T0),
      FtRequest.incr("colors", "red", 2L, T0))
    val s = ForgetStream.transition("colors", incrs, None, T0, params)
    assert(s.counts == Map("red" -> 5L, "blue" -> 1L))
    assert(s.z == 6L)
    assert(s.t == T0)
  }

  test("transition decays existing state before the new epoch (lazy read-repair)") {
    val prev = DistState(Map("red" -> 100L), 100L, T0)
    // rate 0.5, dt huge => wipe-out guard fires, prune empties the bin
    val s = ForgetStream.transition("colors", Seq.empty, Some(prev), T0 + 100000L, params)
    assert(s.counts.isEmpty && s.z == 0L)
    // no-prune floors at 1
    val s2 = ForgetStream.transition("colors", Seq.empty, Some(prev), T0 + 100000L,
      params.copy(prune = false))
    assert(s2.counts == Map("red" -> 1L) && s2.z == 1L)
  }

  test("expirySec matches the O9 formula") {
    val s = DistState(Map("a" -> 3L), 3L, T0)
    // eta = sqrt(3/0.5) = sqrt(6); ttl = floor((2+eta)*eta) = 10
    assert(ForgetStream.expirySec(s, params) == 10L)
    assert(ForgetStream.expirySec(DistState(Map.empty, 0L, T0), params) == 0L)
  }

  test("topKDecay repairs only the fetched head: tail count AND tail clock untouched") {
    val s = DistState(Map("head" -> 500L, "tail" -> 400L), 900L, T0)
    val (next, fetched) = ForgetStream.topKDecay("colors", s, 1, T0 + 10L, params)
    // only the most-probable bin was fetched and decayed
    assert(fetched.map(_._1) == Seq("head"))
    val headAfter = fetched.head._2
    assert(headAfter < 500L, "seeded Poisson draw over dt=10 at rate .5 must decay the head")
    assert(next.counts("head") == headAfter)
    // the tail's count is byte-identical — its pending decay was forgotten
    assert(next.counts("tail") == 400L)
    assert(next.z == headAfter + 400L)
    // ...because _T advanced for the WHOLE distribution (the drift)
    assert(next.t == T0 + 10L)
  }

  test("top-K read drift: head ages across both intervals, tail only after its clock restarts") {
    // reference traffic replay: incr at T0, /nmostprobable at T0+10, /dist at T0+20
    val (s1, _) = ForgetStream.transitionRequests("colors", Seq(
      FtRequest.incr("colors", "head", 500L, T0),
      FtRequest.incr("colors", "tail", 400L, T0)), None, T0, params)
    val (s2, fetched) = ForgetStream.transitionRequests("colors",
      Seq(FtRequest.topK("colors", 1, T0 + 10L)), s1, T0 + 10L, params)
    val (s3, _) = ForgetStream.transitionRequests("colors",
      Seq(FtRequest.dist("colors", T0 + 20L)), s2, T0 + 20L, params)

    assert(fetched.map(_.bin) == Seq("head"))
    val headDrifted = s3.get.counts("head")
    val tailFinal = s3.get.counts("tail")

    // the tail's final count is what a FULL-repair-only history gives it
    // from T0+10 (its decay over [T0, T0+10] never happened)...
    val tailSkip = ForgetStream.transition("colors", Seq.empty,
      Some(DistState(Map("tail" -> 400L), 400L, T0 + 10L)), T0 + 20L, params)
    assert(tailFinal == tailSkip.counts("tail"))
    // ...while the head decayed over BOTH intervals
    val headBoth0 = ForgetStream.topKDecay("colors",
      DistState(Map("head" -> 500L), 500L, T0), 1, T0 + 10L, params)._1
    val headBoth = ForgetStream.transition("colors", Seq.empty,
      Some(headBoth0), T0 + 20L, params)
    assert(headDrifted == headBoth.counts("head"))
    assert(500L - headDrifted > 400L - tailFinal,
      "head must have aged strictly more than the tail")
  }

  test("mixed batch folds in event-time order: an incr after a read is not decayed by it") {
    // One micro-batch carrying topk(t1) and incr(t2 > t1) — listed in
    // REVERSE arrival order to prove the fold sorts by tsSec. The
    // serialized-worker semantics: the read wipes the stale head (huge
    // dt at rate .5), then the increment lands fresh, after the read's
    // decay. The old merge-all-increments-first ordering would have
    // decayed the incremented count to zero along with the stale one.
    val prev = DistState(Map("head" -> 2L), 2L, T0)
    val now = T0 + 100000L
    val (next, out) = ForgetStream.transitionRequests("colors", Seq(
      FtRequest.incr("colors", "head", 100L, now + 1L),
      FtRequest.topK("colors", 1, now)), Some(prev), now, params)
    // the read fetched the stale head, fully decayed
    assert(out.head.count == 0L)
    // the post-read increment survives undecayed (dt=0 after the read)
    assert(next.get.counts == Map("head" -> 100L))
    assert(next.get.z == 100L)
  }

  test("property: an incr-only batch in any arrival order folds as one event-time-ordered transition") {
    import org.scalacheck.{Gen, Prop, Test, rng}
    val p = ForgetStream.Params(rate = 0.01)
    val now = T0 + 1000L
    val reqGen = for {
      bin <- Gen.oneOf("a", "b", "c", "d")
      n <- Gen.choose(1L, 200L)
      ts <- Gen.choose(T0, now)
    } yield FtRequest.incr("colors", bin, n, ts)
    val caseGen = for {
      reqs <- Gen.nonEmptyListOf(reqGen)
      // random sort keys shuffle the arrival order away from event time
      keys <- Gen.listOfN(reqs.size, Gen.choose(0, Int.MaxValue))
      prev <- Gen.option(Gen.const(DistState(Map("a" -> 50L, "e" -> 7L), 57L, T0 - 50L)))
    } yield (reqs.zip(keys).sortBy(_._2).map(_._1), prev)
    val prop = Prop.forAllNoShrink(caseGen) { case (arrived, prev) =>
      val expected = ForgetStream.transition("colors", arrived.sortBy(_.tsSec), prev, now, p)
      val (next, rows) = ForgetStream.transitionRequests("colors", arrived, prev, now, p)
      // a new distribution's decay window opens at the EARLIEST event,
      // whichever one arrived first
      val opened = prev.getOrElse(DistState(Map.empty, 0L, arrived.map(_.tsSec).min))
      next == Some(expected).filterNot(s => s.z == 0L && p.prune) &&
        rows.map(r => (r.bin, r.count, r.z, r.t)).sorted ==
          expected.counts.toSeq.map { case (b, c) => (b, c, expected.z, expected.t) }.sorted &&
        ForgetStream.transition("colors", arrived, Some(opened), now, p) == expected
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(rng.Seed(20261018L)), prop)
    assert(res.passed, res)
  }

  test("end-to-end mixed-request run (incr -> topk -> dist) equals pure replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var now = T0
    val mem = MemoryStream[FtRequest]
    val out = ForgetStream.requests(mem.toDS(), params, clock = () => now, withExpiry = false)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("ft_requests").start()
    try {
      val incrs = Seq(
        FtRequest.incr("colors", "head", 500L, T0),
        FtRequest.incr("colors", "tail", 400L, T0))
      mem.addData(incrs: _*)
      q.processAllAvailable()
      now = T0 + 10L
      mem.addData(FtRequest.topK("colors", 1, T0 + 10L))
      q.processAllAvailable()
      val topkRows = spark.table("ft_requests").as[BinSnapshot].collect()
        .filter(_.t == T0 + 10L)
      now = T0 + 20L
      mem.addData(FtRequest.dist("colors", T0 + 20L))
      q.processAllAvailable()
      val finalRows = spark.table("ft_requests").as[BinSnapshot].collect()
        .filter(_.t == T0 + 20L).map(r => r.bin -> r.count).toMap

      // pure replay of the same traffic
      val (s1, _) = ForgetStream.transitionRequests("colors", incrs, None, T0, params)
      val (s2, fetched) = ForgetStream.transitionRequests("colors",
        Seq(FtRequest.topK("colors", 1, T0 + 10L)), s1, T0 + 10L, params)
      val (s3, _) = ForgetStream.transitionRequests("colors",
        Seq(FtRequest.dist("colors", T0 + 20L)), s2, T0 + 20L, params)

      // the topk micro-batch emitted exactly the fetched head bin
      assert(topkRows.map(r => r.bin -> r.count).toMap ==
        fetched.map(r => r.bin -> r.count).toMap)
      assert(topkRows.map(_.bin).toSeq == Seq("head"))
      // the dist micro-batch emitted the drifted state
      assert(finalRows == s3.get.counts)
      assert(finalRows.nonEmpty)
    } finally q.stop()
  }

  test("end-to-end micro-batch run equals pure-transition replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixedNow = T0 + 10L
    val mem = MemoryStream[FtRequest]
    val out = ForgetStream.requests(mem.toDS(), params, clock = () => fixedNow, withExpiry = false)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("ft_stream").start()
    try {
      val batch = Seq(
        FtRequest.incr("colors", "red", 30L, T0),
        FtRequest.incr("colors", "blue", 10L, T0),
        FtRequest.incr("pets", "cat", 7L, T0))
      mem.addData(batch: _*)
      q.processAllAvailable()
      val got = spark.table("ft_stream").as[BinSnapshot].collect()
        .map(r => (r.dist, r.bin) -> (r.count, r.z)).toMap

      val colorsExpected = ForgetStream.transition("colors",
        batch.filter(_.dist == "colors"), None, fixedNow, params)
      val petsExpected = ForgetStream.transition("pets",
        batch.filter(_.dist == "pets"), None, fixedNow, params)
      val expected =
        colorsExpected.counts.map { case (b, c) => ("colors", b) -> (c, colorsExpected.z) } ++
          petsExpected.counts.map { case (b, c) => ("pets", b) -> (c, petsExpected.z) }
      assert(got == expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("second micro-batch continues from checkpointed state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixedNow = T0
    val mem = MemoryStream[FtRequest]
    val out = ForgetStream.requests(mem.toDS(), params, clock = () => fixedNow, withExpiry = false)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("ft_stream2").start()
    try {
      mem.addData(FtRequest.incr("d", "x", 5L, T0))
      q.processAllAvailable()
      mem.addData(FtRequest.incr("d", "x", 2L, T0), FtRequest.incr("d", "y", 1L, T0))
      q.processAllAvailable()
      val rows = spark.sql("select * from ft_stream2").as[BinSnapshot].collect()
      // last update for (d,x) reflects both batches: 5 + 2 (no decay, dt=0)
      val lastX = rows.filter(r => r.bin == "x").maxBy(_.z)
      assert(lastX.count == 7L)
      assert(lastX.z == 8L)
    } finally q.stop()
  }

  test("property: the working-copy fold equals the immutable reference fold") {
    import org.scalacheck.{Gen, Prop, Test, rng}
    import org.scalacheck.Prop.propBoolean
    val now = T0 + 1000L
    // six bins, so k = 7 asks for more bins than any dist holds
    val bins = Seq("a", "b", "c", "d", "e", "ü")
    val countGen = Gen.frequency(4 -> Gen.choose(1L, 4L), 2 -> Gen.choose(-3L, 0L),
      1 -> Gen.choose(5L, 400L))
    val prevGen = for {
      nBins <- Gen.choose(0, bins.size)
      stored <- Gen.pick(nBins, bins)
      counts <- Gen.listOfN(nBins, countGen)
      // a z that disagrees with Σ counts shows whether an untouched state is kept as is
      z <- Gen.frequency(4 -> Gen.const(counts.sum), 1 -> Gen.choose(-2L, 20L))
      t <- Gen.choose(now - 400L, now + 100L)
    } yield DistState(stored.zip(counts).toMap, z, t)
    val tsGen = Gen.choose(now - 300L, now + 30L)
    val reqGen = Gen.frequency(
      6 -> (for {
        bin <- Gen.oneOf(bins)
        n <- Gen.frequency(5 -> Gen.choose(1L, 20L), 1 -> Gen.choose(-5L, 0L))
        ts <- tsGen
      } yield FtRequest.incr("colors", bin, n, ts)),
      2 -> (for {
        k <- Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 3), 1 -> Gen.const(7))
        ts <- tsGen
      } yield FtRequest.topK("colors", k, ts)),
      1 -> tsGen.map(FtRequest.dist("colors", _)))
    val caseGen = for {
      prev <- Gen.option(prevGen)
      reqs <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, reqGen))
      rate <- Gen.oneOf(0.0, 0.01, 0.5)
      prune <- Gen.oneOf(true, false)
    } yield (prev, reqs, ForgetStream.Params(rate = rate, prune = prune))

    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    def cover(c: (Option[DistState], List[FtRequest], ForgetStream.Params)): Unit = {
      val (prev, reqs, p) = c
      val sorted = reqs.sortBy(_.tsSec)
      Seq(
        "mixed incr and read" -> (reqs.exists(_.op == "incr") && reqs.exists(_.op != "incr")),
        "n <= 0" -> reqs.exists(r => r.op == "incr" && r.n <= 0L),
        "k = 0" -> reqs.exists(r => r.op == "topk" && r.k == 0),
        "k above the bin count" -> reqs.exists(r => r.op == "topk" && r.k > bins.size),
        "count tie" -> prev.exists(s => s.counts.values.toSeq.distinct.size < s.counts.size),
        "prev None" -> prev.isEmpty,
        "prev count < 1" -> prev.exists(_.counts.values.exists(_ < 1L)),
        "prev t after now" -> prev.exists(_.t > now),
        "read before the first incr" -> (prev.isEmpty && sorted.headOption.exists(_.op != "incr")),
        s"rate ${p.rate}" -> true,
        s"prune ${p.prune}" -> true
      ).foreach { case (what, hit) => if (hit) seen(what) += 1 }
    }

    // the rows of each topk read, in order: the fold of the requests up
    // to and including the read emits them after the fold of those before it
    def topkRows(fold: (Seq[FtRequest], Option[DistState]) => (Option[DistState], Vector[BinSnapshot]),
                 sorted: Seq[FtRequest], prev: Option[DistState]): Seq[Vector[BinSnapshot]] =
      sorted.indices.filter(sorted(_).op == "topk").map { i =>
        fold(sorted.take(i + 1), prev)._2.drop(fold(sorted.take(i), prev)._2.size)
      }
    def rowKey(r: BinSnapshot) = (r.bin, r.count, r.z, r.t)

    val prop = Prop.forAllNoShrink(caseGen) { c =>
      cover(c)
      val (prev, reqs, p) = c
      val (next, rows) = ForgetStream.transitionRequests("colors", reqs, prev, now, p)
      val (wantNext, wantRows) = ForgetStreamModel.transitionRequests("colors", reqs, prev, now, p)
      val sorted = reqs.sortBy(_.tsSec)
      val incrs = sorted.filter(_.op == "incr")
      val heads = prev.toSeq.flatMap(s => Seq(0, 1, 3, 7).map(k => k ->
        (ForgetStream.topKDecay("colors", s, k, now, p), ForgetStreamModel.topKDecay("colors", s, k, now, p))))
      (next == wantNext) :| s"state $next != $wantNext" &&
        (rows.map(rowKey).sorted == wantRows.map(rowKey).sorted) :| s"rows $rows != $wantRows" &&
        (topkRows(ForgetStream.transitionRequests("colors", _, _, now, p), sorted, prev) ==
          topkRows(ForgetStreamModel.transitionRequests("colors", _, _, now, p), sorted, prev)) :|
          "topk rows in another order" &&
        (ForgetStream.transition("colors", incrs, prev, now, p) ==
          ForgetStreamModel.transition("colors", incrs, prev, now, p)) :| "transition" &&
        heads.forall { case (_, (got, want)) => got == want } :| s"topKDecay $heads"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(600).withWorkers(1)
      .withInitialSeed(rng.Seed(20261021L)), prop)
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case other => other.toString
    })
    val wanted = Seq("mixed incr and read", "n <= 0", "k = 0", "k above the bin count",
      "count tie", "prev None", "prev count < 1", "prev t after now", "read before the first incr",
      "rate 0.0", "rate 0.01", "rate 0.5", "prune true", "prune false")
    assert(wanted.forall(seen(_) > 0), s"uncovered: ${wanted.filterNot(seen(_) > 0)}")
  }

  test("expiryMs saturates: rate 0 gives a positive timeout that cannot overflow a deadline") {
    val s = DistState(Map("a" -> 3L), 3L, T0)
    assert(ForgetStream.expiryMs(s, params) == 10000L)
    // an empty or tiny state still times out after one second
    assert(ForgetStream.expiryMs(DistState(Map.empty, 0L, T0), params) == 1000L)
    // rate 0: eta = sqrt(3 / 0) = inf, so expirySec is Long.MaxValue
    val still = ForgetStream.Params(rate = 0.0)
    assert(ForgetStream.expirySec(s, still) == Long.MaxValue)
    val ms = ForgetStream.expiryMs(s, still)
    assert(ms > 0L && ms + System.currentTimeMillis() > 0L)
  }

  test("end-to-end: a rate-0 stream with expiry on runs its first batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixedNow = T0
    val mem = MemoryStream[FtRequest]
    mem.addData(FtRequest.incr("d", "x", 5L, T0), FtRequest.incr("d", "y", 2L, T0))
    val out = ForgetStream.requests(mem.toDS(), ForgetStream.Params(rate = 0.0),
      clock = () => fixedNow, withExpiry = true)
    // a processing-time timeout schedules timeout-check batches without
    // end, so wait for the first batch's rows rather than for an idle query
    val q = out.writeStream.outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .format("memory").queryName("ft_stream_rate0").start()
    try {
      def rows = spark.table("ft_stream_rate0").as[BinSnapshot].collect()
        .map(r => r.bin -> r.count).toMap
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (q.isActive && rows.isEmpty && System.nanoTime() < deadline) Thread.sleep(100L)
      q.exception.foreach(e => throw e)
      assert(rows == Map("x" -> 5L, "y" -> 2L))
    } finally q.stop()
  }
}

/** The immutable fold `ForgetStream` ran before its working copy, kept
  * verbatim as the reference model of the fold's semantics: every read
  * rebuilds the distribution's `Map`, every decay draws every bin, and
  * a `topk` sorts every bin.
  */
object ForgetStreamModel {
  import ForgetStream.Params

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

  def topKDecay(dist: String, s: DistState, k: Int, nowSec: Long,
                p: Params): (DistState, Seq[(String, Long)]) = {
    val decay = Decay.sampler(dist, s.t, nowSec, p.rate, p.prune)
    val head = s.counts.toSeq.sortBy { case (b, c) => (-c, b) }(
      Ordering.Tuple2(Ordering.Long, Ordering.String.reverse)).take(k)
    val decayedHead = head.map { case (bin, count) => bin -> decay(bin, count) }
    (settle(s.counts ++ decayedHead, nowSec, p), decayedHead)
  }

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
}
