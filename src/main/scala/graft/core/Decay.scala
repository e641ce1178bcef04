package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{LongRefExpr, PoissonDecayExpr}

/** Decay mode for a forget-table read.
  *
  * The reference's decay draws `k ~ Poisson(rate * dt)` per bin and
  * subtracts it (`goforget/distribution.go:153-175`). That sampling is
  * non-deterministic, which is both untestable against a SQL oracle and
  * unsafe under Spark task retries. We therefore expose three modes:
  *
  *   - [[DecayMode.Expected]] — deterministic: subtract
  *     `floor(E[Poisson(lambda)]) = floor(lambda)`. ANSI-SQL-expressible,
  *     the default, hash-matched against the DuckDB oracle.
  *   - [[DecayMode.Sampled]] — the reference's stochastic semantics with
  *     a per-row seed (`xxhash64(dist, bin, now)`), replay-stable; the
  *     stream's mode.
  *   - [[DecayMode.Proportional]] — pyforget's variant
  *     (`pyforget/distribution.py:29`): lambda scales with the bin count
  *     (`count * rate * dt`, true exponential forgetting in expectation);
  *     expected-value form, deterministic.
  */
sealed trait DecayMode
object DecayMode {
  case object Expected extends DecayMode
  case object Sampled extends DecayMode
  case object Proportional extends DecayMode
}

/** Every decay decision, for batch reads (`ForgetTable`, as Columns) and
  * the stream (`graft.streaming.ForgetStream`, in Scala) alike: elapsed
  * time `dt = max(0, now - t)` (a clock before `t` decays nothing); the
  * draw, `count < 1 => 0` (`goforget/decay.go:41-43`) else a function of
  * `lambda = rate * dt`; the Sampled seed `xxhash64(dist, bin, now)`, as
  * the Catalyst expression in batch and its [[XXH64]] chain in the
  * stream; and the clamp. `DecayEquivalenceSpec` checks the two engines
  * equal, row for row.
  */
object Decay {

  /** `l`, the clamped decay of a bin with stored `count` and dist clock
    * `t`. In Expected mode `floor(lambda)` outgrows any count long before
    * Sampled's wipe-out guard (`goforget/decay.go:17-19`) would fire, so
    * the clamp gives the same observable wipe-out.
    */
  def amount(params: ForgetParams, dist: Column, bin: Column, count: Column,
             t: Column): Column = {
    val now = LongRefExpr.lit(params.nowEpoch)
    val dt = greatest(lit(0L), now - t).cast("double")
    val rate = lit(params.rate)
    def drawn(k: Column): Column = when(count < 1L, lit(0L)).otherwise(k)
    params.mode match {
      case DecayMode.Expected =>
        clampGo(drawn(floor(rate * dt).cast("long")), count, params.prune)
      case DecayMode.Sampled =>
        // native codegen Expression, not the UDF bridge — keeps the whole
        // decay+clamp pipeline inside one WholeStageCodegen span
        clampGo(drawn(PoissonDecayExpr(rate * dt, xxhash64(dist, bin, now))), count,
          params.prune)
      case DecayMode.Proportional =>
        // pyforget rates = v * rate * tau (distribution.py:29), and its
        // clamp floors the decayed count at 1 (distribution.py:59-60)
        val nc = count - drawn(floor(count.cast("double") * rate * dt).cast("long"))
        count - when(nc <= 0L, lit(1L)).otherwise(nc)
    }
  }

  /** The stream's twin of [[amount]] in Sampled mode: one dist's decay
    * from clock `t` to `now` as `(bin, count) => new count`, hashing
    * `dist` once (42 is Catalyst `xxhash64`'s seed). At `lambda = 0`
    * every draw is 0, so only the clamp acts and nothing is hashed.
    */
  def sampler(dist: String, t: Long, now: Long, rate: Double,
              prune: Boolean): (String, Long) => Long = {
    val lambda = rate * math.max(0L, now - t).toDouble
    if (lambda == 0.0) return (_, count) => count - clampGo(0L, count, prune)
    val distHash = XXH64.hashUTF8String(UTF8String.fromString(dist), 42L)
    (bin, count) => {
      val seed = XXH64.hashLong(now, XXH64.hashUTF8String(UTF8String.fromString(bin), distHash))
      count - clampGo(draw(count, lambda, seed), count, prune)
    }
  }

  /** One bin's Sampled draw before the clamp: the same for every bin with
    * `count >= 1` (goforget semantics; contrast Proportional). */
  def draw(count: Long, lambda: Double, seed: Long): Long =
    if (count < 1) 0L else Poisson.decayDraw(lambda, seed)

  /** goforget clamp (`distribution.go:158-164`): if the draw meets or
    * exceeds the count, prune mode empties the bin (l = count) while
    * no-prune leaves a floor of one (l = count - 1). Faithfully preserves
    * the reference's quirk that a zero-count bin under no-prune gets
    * l = -1, i.e. is resurrected to count 1. Mirrored for Columns below.
    */
  def clampGo(raw: Long, count: Long, prune: Boolean): Long =
    if (raw >= count) (if (prune) count else count - 1) else raw

  def clampGo(raw: Column, count: Column, prune: Boolean): Column =
    when(raw >= count, if (prune) count else count - 1L).otherwise(raw)
}
