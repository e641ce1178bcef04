package ftbench

import scala.collection.mutable

/** Command-line arguments; anything unknown or malformed exits 2.
  * `fault` names the check whose first output a test run corrupts.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      outDir: String, dataDir: String, fault: Option[String])

object Args {
  val Workloads = Seq("ft_serve", "ft_stream")
  /** The checks of each workload that `--fault` can corrupt. */
  val Faults = Map("ft_serve" -> Seq("response", "fingerprint"), "ft_stream" -> Seq("batch"))

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case k if k.startsWith("--") && i + 1 < argv.length => kv(k) = argv(i + 1); i += 2
        case other => usage(s"unexpected argument '$other'")
      }
    }
    val known = Set("--workload", "--seed", "--seconds", "--trace", "--out-dir", "--data-dir",
      "--fault")
    (kv.keySet -- known).headOption.foreach(k => usage(s"unknown option $k"))
    def need(k: String) = kv.getOrElse(k, usage(s"missing $k"))
    val w = need("--workload")
    if (!Workloads.contains(w))
      usage(s"unknown workload '$w' (known: ${Workloads.mkString(", ")})")
    val fault = kv.get("--fault")
    fault.filterNot(Faults(w).contains).foreach(f =>
      usage(s"$w has no check '$f' to corrupt (known: ${Faults(w).mkString(", ")})"))
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got '$t'")
    }
    Args(w,
      need("--seed").toLongOption.getOrElse(usage("--seed must be an integer")),
      need("--seconds").toIntOption.filter(_ > 0).getOrElse(usage("--seconds must be a positive integer")),
      trace, need("--out-dir"), need("--data-dir"), fault)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"ftbench: $msg")
    sys.exit(2)
  }
}

/** What one workload run hands back to [[Main]]. `e2e` holds every
  * end-to-end metric; `layers` the workload-specific per-layer values
  * that [[Layers]] cannot derive from the listeners.
  */
final case class Result(attempted: Int, failed: Int, mismatches: Seq[String],
                        e2e: Map[String, Double], layers: Map[String, Double],
                        notes: Map[String, Double] = Map.empty)

object Stats {
  /** Median; NaN for an empty sample. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Seeded helpers shared by the input generators. */
object Gen {
  /** SplitMix64 finalizer: a pure 64-bit mix, so generators can be
    * evaluated on executors and on the driver with identical results.
    */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1) from a (seed, a, b) triple. */
  def unit(seed: Long, a: Long, b: Long): Double =
    (mix(mix(seed ^ mix(a)) + b) >>> 11).toDouble / (1L << 53).toDouble

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      var acc = 0.0
      w.map { x => acc += x; acc }
    }
    def next(rnd: scala.util.Random): Int = {
      val u = rnd.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else -i - 1
    }
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
