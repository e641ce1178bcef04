package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Decay, Poisson}

/** Unit + property-style tests for the seeded Poisson sampler, mirroring
  * the guard structure of the reference sampler (goforget/decay.go:12-34).
  * Property cases are driven by a fixed-seed RNG so failures reproduce.
  */
class PoissonSpec extends AnyFunSuite {

  private def cases[A](n: Int)(gen: scala.util.Random => A): Seq[A] = {
    val rng = new scala.util.Random(20240812L)
    Seq.fill(n)(gen(rng))
  }

  test("lambda == 0 returns 0 (decay.go:13-15)") {
    assert(Poisson.sample(0.0, 12345L) == 0)
  }

  test("exp(-lambda) < 1e-8 returns Int.MaxValue wipe-out (decay.go:16-19)") {
    // e^-lambda < 1e-8  <=>  lambda > 18.4207...
    assert(Poisson.sample(18.5, 1L) == Int.MaxValue)
    assert(Poisson.sample(1000.0, 99L) == Int.MaxValue)
    // just below the threshold: a real sample
    val k = Poisson.sample(18.0, 7L)
    assert(k >= 0 && k != Int.MaxValue)
  }

  test("uniform maps seeds into [0, 1)") {
    for (seed <- cases(10000)(_.nextLong())) {
      val u = Poisson.uniform(seed)
      assert(u >= 0.0 && u < 1.0, s"seed=$seed u=$u")
    }
  }

  test("sample is deterministic in (lambda, seed)") {
    for ((lambda, seed) <- cases(2000)(r => (r.nextDouble() * 18.0, r.nextLong()))) {
      assert(Poisson.sample(lambda, seed) == Poisson.sample(lambda, seed))
    }
  }

  test("sample mean approximates lambda over many seeds") {
    for (lambda <- Seq(0.5, 2.0, 8.0)) {
      val n = 20000
      val mean = (0 until n).map(i => Poisson.sample(lambda, i.toLong * 7919L)).sum.toDouble / n
      // Poisson stddev = sqrt(lambda); mean-of-n stderr = sqrt(lambda/n)
      val tol = 6 * math.sqrt(lambda / n)
      assert(math.abs(mean - lambda) < tol, s"lambda=$lambda mean=$mean")
    }
  }

  test("Decay.draw: count < 1 decays by 0 (decay.go:41-43)") {
    assert(Decay.draw(0L, 0.5 * 100000L, 42L) == 0L)
    assert(Decay.draw(-3L, 0.5 * 100000L, 42L) == 0L)
  }

  test("Decay.draw is independent of count when count >= 1 (goforget semantics)") {
    for ((c1, c2, dt) <- cases(500)(r =>
        (1L + r.nextInt(1000000), 1L + r.nextInt(1000000), 1L + r.nextInt(30)))) {
      assert(Decay.draw(c1, 0.3 * dt, 5L) == Decay.draw(c2, 0.3 * dt, 5L))
    }
  }

  test("non-converged sample (-1) maps to zero decay (decay.go:50-54)") {
    // MaxIter bounds the loop; with normal lambdas convergence is fast, so
    // exercise the mapping directly.
    assert(Poisson.sampleWithUniform(18.0, 0.9999999999) >= 0)
  }
}
