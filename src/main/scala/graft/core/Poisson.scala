package graft.core

/** Seeded inverse-CDF Poisson sampler.
  *
  * Mirrors the semantics of the reference sampler
  * (`goforget/decay.go:12-34`) with its three convergence guards:
  *   - lambda == 0            => 0
  *   - exp(-lambda) < 1e-8    => Int.MaxValue ("wipe-out": the expected
  *     decay is so large the bin is certain to empty; lambda > ~18.42)
  *   - iteration cap exceeded => -1 (caller treats as "no decay", see
  *     `goforget/decay.go:50-54`). NOTE: the reference declares the cap
  *     but never decrements its counter (`decay.go:21,29-31`), making the
  *     guard dead code; we implement a live cap so the loop is provably
  *     bounded under task retries.
  *
  * Unlike the reference — which draws from a process-global PRNG
  * (`decay.go:22`) — sampling here is a pure function of
  * `(lambda, seed)`. Spark recomputes partitions on task retry and on
  * stage re-execution; a non-deterministic expression would yield
  * different results per attempt and corrupt exactly-once sinks. Seeding
  * per-row — with the one seed [[Decay]] defines for batch and stream,
  * `xxhash64(dist, bin, now)` — keeps the distributional behaviour while
  * staying replay-stable.
  */
object Poisson {
  final val MaxIter = 1000

  /** SplitMix64 finalizer: seed -> uniform double in [0, 1).
    * Public-domain mixing constants (Steele et al., "Fast Splittable
    * Pseudorandom Number Generators", OOPSLA 2014).
    */
  def uniform(seed: Long): Double = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Inverse-CDF sample of Poisson(lambda) driven by uniform draw `u`. */
  def sampleWithUniform(lambda: Double, u: Double): Int = {
    if (lambda == 0.0) return 0
    var e = math.exp(-lambda)
    if (e < 1e-8) return Int.MaxValue
    var k = 0
    var p = e
    var counter = MaxIter
    while (p < u) {
      k += 1
      e *= lambda / k
      p += e
      counter -= 1
      if (counter == 0) return -1
    }
    k
  }

  /** Seeded sample: pure in (lambda, seed). */
  def sample(lambda: Double, seed: Long): Int =
    sampleWithUniform(lambda, uniform(seed))

  /** The one decay draw: the seeded sample with the `-1 => 0` caller
    * contract applied (`goforget/decay.go:50-54`: a non-converged sample
    * decays nothing). [[Decay]] adds the `count < 1 => 0` rule
    * (`decay.go:41-43`) around it, once for generated code (through
    * `graft.functions.PoissonDecayExpr`) and once for the stream.
    */
  def decayDraw(lambda: Double, seed: Long): Long = {
    val k = sampleWithUniform(lambda, uniform(seed))
    if (k == -1) 0L else k.toLong
  }
}
