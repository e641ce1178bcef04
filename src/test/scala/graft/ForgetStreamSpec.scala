package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

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
}
