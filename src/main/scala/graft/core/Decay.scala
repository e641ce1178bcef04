package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

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
  *     a per-row seed (`xxhash64(dist, bin, now)`), replay-stable.
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

object Decay {

  /** Raw (pre-clamp) decay amount for one bin, as a Column[Long].
    *
    * @param count  stored bin count
    * @param dtSec  now - T, seconds (per distribution)
    * @param rate   decays/sec
    * @param seed   per-row seed column, only used by Sampled
    *
    * `count < 1 => 0` mirrors `goforget/decay.go:41-43`. In Sampled mode
    * the `exp(-lambda) < 1e-8 => Int.MaxValue` wipe-out guard
    * (`goforget/decay.go:17-19`) is kept; in Expected mode `floor(lambda)`
    * grows past any count long before that threshold, so the clamp
    * produces the same observable wipe-out.
    */
  def rawAmount(mode: DecayMode, count: Column, dtSec: Column, rate: Double,
                seed: Column): Column = mode match {
    case DecayMode.Expected =>
      when(count < 1L, lit(0L))
        .otherwise(floor(lit(rate) * dtSec.cast("double")).cast("long"))
    case DecayMode.Proportional =>
      // pyforget rates = v * rate * tau (distribution.py:29); E[Poisson] = lambda
      when(count < 1L, lit(0L))
        .otherwise(floor(count.cast("double") * lit(rate) * dtSec.cast("double")).cast("long"))
    case DecayMode.Sampled =>
      // native codegen Expression, not the UDF bridge — keeps the whole
      // decay+clamp pipeline inside one WholeStageCodegen span
      when(count < 1L, lit(0L)).otherwise(
        graft.functions.PoissonDecayExpr(
          lit(rate) * dtSec.cast("double"), seed))
  }

  /** goforget clamp (`distribution.go:158-164`): if the draw meets or
    * exceeds the count, prune mode empties the bin (l = count) while
    * no-prune leaves a floor of one (l = count - 1). Faithfully preserves
    * the reference's quirk that a zero-count bin under no-prune gets
    * l = -1, i.e. is resurrected to count 1.
    */
  def clampGo(raw: Column, count: Column, prune: Boolean): Column =
    when(raw >= count, if (prune) count else count - 1L).otherwise(raw)

  /** pyforget clamp (`distribution.py:59-60`): subtract, then floor the
    * *result* at 1 (`values[values <= 0] = 1`). Returns the new count.
    */
  def newCountPy(raw: Column, count: Column): Column = {
    val nc = count - raw
    when(nc <= 0L, lit(1L)).otherwise(nc)
  }
}
