package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalacheck.{Gen, Prop, Test, rng}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DecayMode, ForgetParams, ForgetTable}
import graft.streaming.{DistState, ForgetStream, FtRequest}

/** Batch ≡ stream: the stream's decay (`ForgetStream`) and the batch
  * reads' Sampled mode (`ForgetTable`) are one operator, since both call
  * `graft.core.Decay` for the seed, the elapsed time, the draw and the
  * clamp. Random stored states and event-time-sorted increment runs go
  * through both engines at clocks before, between and after the
  * distributions' `t`, under both `prune` settings. Every generated case
  * is its own distribution, so one DataFrame per `(now, prune)` checks a
  * whole batch of cases in a few Spark jobs.
  */
class DecayEquivalenceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private val T0 = 1706659200L
  private val Rate = 0.01
  private val K = 3
  /** Every state's `t` and every increment's time lie in `T0 ± 1000`:
    * the first clock precedes them all (no decay), the last follows them
    * all (lambda 15 to 35, wipe-outs included).
    */
  private val Clocks = Seq(T0 - 1500L, T0, T0 + 600L, T0 + 2500L)

  /** One distribution: its stored state (None = new) and its increments. */
  private case class Case(dist: String, prev: Option[DistState], incrs: Seq[FtRequest])

  // a few bins per dist, so increments land on stored bins; one is
  // non-ASCII, so the seed hashes multi-byte UTF-8
  private val bins = Seq("a", "b", "c", "d", "e", "f", "g", "ü")
  private val countGen = Gen.frequency(3 -> Gen.choose(1L, 6L), 1 -> Gen.choose(7L, 2000L))
  private val timeGen = Gen.choose(T0 - 1000L, T0 + 1000L)

  private def caseGen(dist: String): Gen[Case] = for {
    nBins <- Gen.choose(0, bins.size)
    stored <- Gen.pick(nBins, bins)
    counts <- Gen.listOfN(nBins, countGen)
    prev <- Gen.option(timeGen.map(t => DistState(stored.zip(counts).toMap, counts.sum, t)))
    nIncrs <- Gen.choose(0, 6)
    incrs <- Gen.listOfN(nIncrs, for {
      bin <- Gen.oneOf(bins)
      n <- Gen.choose(1L, 50L)
      ts <- timeGen
    } yield FtRequest.incr(dist, bin, n, ts))
  } yield Case(dist, prev, incrs.sortBy(_.tsSec))

  private val batchGen: Gen[Seq[Case]] =
    Gen.sequence[Seq[Case], Case]((0 until 150).map(i => caseGen(s"d$i")))

  /** Where the two engines disagree on `cases`, at every clock and prune. */
  private def mismatches(cases: Seq[Case]): Seq[String] = {
    import spark.implicits._
    val stored = new ForgetTable(
      cases.flatMap(c => c.prev.toSeq.flatMap(_.counts.map { case (b, n) => (c.dist, b, n) }))
        .toDF("dist", "bin", "count"),
      cases.flatMap(c => c.prev.map(s => (c.dist, s.z, s.t, Rate))).toDF("dist", "z", "t", "rate"))
    val incr = cases.flatMap(_.incrs.map(r => (r.dist, r.bin, r.n, r.tsSec)))
      .toDF("dist", "bin", "n", "t")
    val merged = stored.merged(incr)
    def diff[A](what: String, stream: Set[A], batch: Set[A]): Seq[String] =
      if (stream == batch) Nil
      else Seq(s"$what: stream only ${(stream -- batch).take(4)}, batch only ${(batch -- stream).take(4)}")

    val perClock = for (now <- Clocks; prune <- Seq(true, false)) yield {
      val at = s"now=T0${if (now >= T0) "+" else ""}${now - T0} prune=$prune"
      val p = ForgetParams(rate = Rate, nowEpoch = now, prune = prune, mode = DecayMode.Sampled)
      val sp = ForgetStream.Params(rate = Rate, prune = prune)
      val next = cases.map(c => c.dist -> ForgetStream.transition(c.dist, c.incrs, c.prev, now, sp))

      // transition == merged, then compacted (prune) or decayedState
      val streamRows = next.flatMap { case (d, s) =>
        s.counts.map { case (b, n) => (d, b, n, s.z, s.t) } }.toSet
      val batchRows =
        if (prune) {
          val c = merged.compacted(p)
          c.counts.join(c.meta, "dist").select("dist", "bin", "count", "z", "t").collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
        } else {
          val rows = merged.decayedState(p).collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          val z = rows.groupMapReduce(_._1)(_._3)(_ + _)
          rows.map { case (d, b, n) => (d, b, n, z(d), now) }.toSet
        }

      // expirySec of the stream's state == expiry's expire_sec
      val streamTtl = next.collect { case (d, s) if s.counts.nonEmpty =>
        d -> ForgetStream.expirySec(s, sp) }.toSet
      val batchTtl = merged.expiry(p).collect().map(r => r.getString(0) -> r.getLong(2)).toSet

      // topKDecay's fetched rows == topK over every dist, and for one
      val fetched = cases.flatMap(c => c.prev.toSeq.flatMap(s =>
        ForgetStream.topKDecay(c.dist, s, K, now, sp)._2.map { case (b, n) => (c.dist, b, n) }))
      def topRows(rows: Array[Row]) =
        rows.map(r => (r.getString(0), r.getString(2), r.getLong(3))).toSet
      val one = cases.find(_.prev.exists(_.counts.size > K)).map(_.dist)
      diff(s"$at rows", streamRows, batchRows) ++
        diff(s"$at expiry", streamTtl, batchTtl) ++
        diff(s"$at topK", fetched.toSet, topRows(stored.topK(K, p).collect())) ++
        one.toSeq.flatMap(d => diff(s"$at topK($d)", fetched.filter(_._1 == d).toSet,
          topRows(stored.topK(K, p, Some(d)).collect())))
    }
    perClock.flatten
  }

  test("property: ForgetStream's transition and top-K decay equal the batch Sampled reads, row for row") {
    val prop = Prop.forAllNoShrink(batchGen) { cases =>
      val bad = mismatches(cases)
      bad.isEmpty :| bad.mkString("; ")
    }
    // two batches of 150 distributions
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(2).withWorkers(1)
      .withInitialSeed(rng.Seed(20261019L)), prop)
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case other => other.toString
    })
  }
}
