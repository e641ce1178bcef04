package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DecayMode, ForgetParams, ForgetTable}

/** Behavioural tests of the forget-table operators on the README's own
  * micro-fixture (`colors = {red:3, blue:1}`, goforget/README.md:23-35)
  * plus decay edge cases from goforget/distribution.go:158-164.
  */
class ForgetTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private val T0 = 1706659200L

  /** colors={red:3,blue:1} at t=T0, plus a second dist pets={cat:5}. */
  private def fixture: ForgetTable = {
    import spark.implicits._
    val counts = Seq(
      ("colors", "red", 3L), ("colors", "blue", 1L), ("pets", "cat", 5L)
    ).toDF("dist", "bin", "count")
    val meta = Seq(
      ("colors", 4L, T0, 0.5), ("pets", 5L, T0, 0.5)
    ).toDF("dist", "z", "t", "rate")
    new ForgetTable(counts, meta)
  }

  test("dist: no elapsed time => counts unchanged, p sums to 1 per dist") {
    val out = fixture.dist(ForgetParams(rate = 0.5, nowEpoch = T0)).collect()
    val colors = out.filter(_.getString(0) == "colors")
    assert(colors.map(r => r.getString(1) -> r.getLong(2)).toMap ==
      Map("red" -> 3L, "blue" -> 1L))
    val pSum = colors.map(_.getDouble(3)).sum
    assert(math.abs(pSum - 1.0) < 1e-12)
    // README example: red 0.75, blue 0.25 (goforget/README.md:29-34)
    assert(colors.find(_.getString(1) == "red").get.getDouble(3) == 0.75)
  }

  test("dist: expected decay subtracts floor(rate*dt) per bin then renormalizes") {
    // rate=0.5, dt=2 => l=1 per bin; red 3->2, blue 1->0 (clamped by prune)
    val out = fixture.dist(ForgetParams(rate = 0.5, nowEpoch = T0 + 2))
      .collect().filter(_.getString(0) == "colors")
      .map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out("red")._1 == 2L)
    assert(out("blue")._1 == 0L) // kept in output with count 0 (ZREM is write-back only)
    assert(out("red")._2 == 1.0) // renormalized: 2/2
    assert(out("blue")._2 == 0.0)
  }

  test("no-prune floors surviving count at 1 via l = count-1 (distribution.go:158-164)") {
    val out = fixture.decayedState(
        ForgetParams(rate = 0.5, nowEpoch = T0 + 1000, prune = false))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // dt=1000 => l=500 >= every count => floor at 1
    assert(out(("colors", "red")) == 1L)
    assert(out(("colors", "blue")) == 1L)
    assert(out(("pets", "cat")) == 1L)
  }

  test("prune drops emptied bins from compacted state") {
    val ft2 = fixture.compacted(ForgetParams(rate = 0.5, nowEpoch = T0 + 2))
    val counts = ft2.counts.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts == Map(("colors", "red") -> 2L, ("pets", "cat") -> 4L))
    val meta = ft2.meta.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(meta == Map("colors" -> 2L, "pets" -> 4L)) // Z recomputed from survivors
  }

  test("get uses stored Z decremented by only the selected bins' decay") {
    // dt=2, rate=0.5 => l=1. Select only red: newc=2, Z'=4-1=3 => p=2/3.
    val out = fixture.get("colors", Seq("red"), ForgetParams(rate = 0.5, nowEpoch = T0 + 2))
      .collect()
    assert(out.length == 1)
    assert(out.head.getLong(2) == 2L)
    assert(math.abs(out.head.getDouble(3) - 2.0 / 3.0) < 1e-15)
  }

  test("get: absent bin surfaces with count 0 and p 0 (ZSCORE nil)") {
    val out = fixture.get("colors", Seq("nosuch"), ForgetParams(rate = 0.5, nowEpoch = T0))
      .collect()
    assert(out.length == 1 && out.head.getLong(2) == 0L && out.head.getDouble(3) == 0.0)
  }

  test("topK selects on stored counts, then decays against stored Z") {
    // K=1 picks red (3 > 1); dt=2 => l=1; p = 2 / (4-1)
    val out = fixture.topK(1, ForgetParams(rate = 0.5, nowEpoch = T0 + 2), Some("colors"))
      .collect()
    assert(out.length == 1)
    assert(out.head.getString(2) == "red")
    assert(out.head.getLong(3) == 2L)
    assert(math.abs(out.head.getDouble(4) - 2.0 / 3.0) < 1e-15)
  }

  test("topK tie-break follows reverse-lex bin order (ZREVRANGEBYSCORE)") {
    import spark.implicits._
    val counts = Seq(("d", "a", 2L), ("d", "b", 2L), ("d", "c", 1L)).toDF("dist", "bin", "count")
    val meta = Seq(("d", 5L, T0, 0.5)).toDF("dist", "z", "t", "rate")
    val out = new ForgetTable(counts, meta)
      .topK(2, ForgetParams(rate = 0.5, nowEpoch = T0)).collect()
    assert(out.map(_.getString(2)).toSeq == Seq("b", "a"))
  }

  test("sampled decay is deterministic across evaluations (replay-stable)") {
    val p = ForgetParams(rate = 0.1, nowEpoch = T0 + 20, mode = DecayMode.Sampled)
    val a = fixture.dist(p).collect().map(_.toSeq)
    val b = fixture.dist(p).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("a read at a clock before the dist's t decays nothing, in every mode (dt = max(0, now - t))") {
    val stored = Map(("colors", "red") -> 3L, ("colors", "blue") -> 1L, ("pets", "cat") -> 5L)
    for (mode <- Seq(DecayMode.Expected, DecayMode.Proportional, DecayMode.Sampled);
         prune <- Seq(true, false)) {
      val p = ForgetParams(rate = 0.5, nowEpoch = T0 - 1000, prune = prune, mode = mode)
      val read = fixture.dist(p).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val state = fixture.decayedState(p).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(read == stored, s"$mode prune=$prune")
      assert(state == stored, s"$mode prune=$prune")
    }
  }

  test("proportional mode decays big bins faster and floors at 1 (pyforget)") {
    import spark.implicits._
    val counts = Seq(("d", "big", 1000L), ("d", "small", 2L)).toDF("dist", "bin", "count")
    val meta = Seq(("d", 1002L, T0, 0.5)).toDF("dist", "z", "t", "rate")
    val out = new ForgetTable(counts, meta)
      .dist(ForgetParams(rate = 0.001, nowEpoch = T0 + 1000, mode = DecayMode.Proportional))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // lambda_big = 1000*0.001*1000 = 1000 >= count => floor at 1
    assert(out("big") == 1L)
    // lambda_small = 2*0.001*1000 = 2 => 2-2=0 => floored to 1
    assert(out("small") == 1L)
  }

  test("expiry formula: eta=sqrt(max/rate), ttl=floor((sigma+eta)*eta) (redis_utils.go:184-185)") {
    val out = fixture.expiry(ForgetParams(rate = 0.5, nowEpoch = T0)).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // colors: max=3, eta=sqrt(6)=2.449..., ttl=floor((2+2.449)*2.449)=10
    assert(out("colors") == 10L)
    // pets: max=5, eta=sqrt(10)=3.162..., ttl=floor(5.162*3.162)=16
    assert(out("pets") == 16L)
  }

  test("merged follows ZINCRBY/INCRBY/SETNX: counts add, Z adds, T first-writer-wins") {
    import spark.implicits._
    val incr = Seq(
      ("colors", "red", 2L, T0 + 50),   // existing dist: T must NOT move
      ("fruit", "apple", 1L, T0 + 60)   // new dist: T set from increment
    ).toDF("dist", "bin", "n", "t")
    val m = fixture.merged(incr)
    val counts = m.counts.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts(("colors", "red")) == 5L)
    assert(counts(("fruit", "apple")) == 1L)
    val meta = m.meta.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(meta("colors") == (6L, T0))        // z 4+2, t unchanged (SETNX)
    assert(meta("fruit") == (1L, T0 + 60))    // new dist
    assert(meta("pets") == (5L, T0))          // untouched
  }

  test("dbsize counts distinct distributions (DBSIZE/3)") {
    assert(fixture.dbsize.collect().head.getLong(0) == 2L)
  }
}
