package ftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import graft.sources.GraftSession

/** Benchmark entry point; `run.py` builds the classpath and calls it as
  * `ftbench.Main --workload W --seed N --seconds S --trace 0|1
  * --out-dir D --data-dir T [--fault CHECK]`.
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed`, and the end-to-end metrics (`--trace 0`) or the per-layer
  * metrics (`--trace 1`). Exit 0 when every output check passed, 1 when
  * one failed, 2 on bad arguments, 3 when set-up crashed.
  *
  * `--fault CHECK` corrupts the first output of one check (a response,
  * a report fingerprint or a batch hash) so a test can prove the checks
  * bite.
  */
object Main {
  val E2eUnits: Seq[(String, String)] =
    Seq("setup_s" -> "s", "read_ms" -> "ms", "write_ms" -> "ms", "ops_per_s" -> "1/s")

  private def loadavg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0Ms = sys.props.get("ftbench.t0").flatMap(_.toLongOption)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = loadavg
    val runDir = s"${a.outDir}/run"
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(a.trace)
    tr.register(spark)

    val res = try a.workload match {
      case "ft_serve" => Serve.run(spark, tr, a, runDir, t0Ms)
      case "ft_stream" => Stream.run(spark, tr, a, runDir, t0Ms)
    } catch {
      case e: Throwable =>
        System.err.println(s"ftbench: ${a.workload} set-up failed")
        e.printStackTrace()
        spark.stop()
        sys.exit(3)
    }
    val ctx = Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "cores" -> cores.toString, "loadavg_start" -> Json.num(loadStart),
      "loadavg_end" -> Json.num(loadavg))
    res.mismatches.foreach(m => println(s"ftbench: CHECK FAILED $m"))

    val metrics =
      if (!a.trace) E2eUnits.map { case (k, u) => k -> (res.e2e(k), u) }
      else {
        org.apache.spark.ftbench.Bus.drain(spark.sparkContext)
        val layers = Layers.compute(tr, res.layers)
        report(a, ctx, res, layers, tr)
        Layers.Units.map { case (k, u) => k -> (layers(k), u) }
      }
    spark.stop()

    val summary = Json.obj(ctx ++ Seq(
      "attempted" -> res.attempted.toString, "failed" -> res.failed.toString,
      "e2e" -> Json.obj(res.e2e.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "notes" -> Json.obj(res.notes.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })))
    println(s"ftbench context: $summary")
    val correct = res.mismatches.isEmpty
    // the baseline for the tracing overhead: healthy untraced runs only
    if (!a.trace && correct && a.fault.isEmpty)
      Files.write(Paths.get(s"${a.outDir}/untraced-${a.workload}.jsonl"),
        (summary + "\n").getBytes("UTF-8"), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Prints the per-layer table and the tracing overhead, and writes the
    * spans and counters to `trace-<workload>-<seed>.json`.
    */
  private def report(a: Args, ctx: Seq[(String, String)], res: Result,
                     layers: Map[String, Double], tr: Tracer): Unit = {
    println(s"ftbench: per-layer metrics, ${a.workload}, seed ${a.seed}, " +
      s"${res.attempted} timed operations")
    val units = Layers.Units.toMap
    layers.toSeq.sorted.foreach { case (k, v) =>
      println(f"  $k%-46s ${v}%16.3f ${units.getOrElse(k, "")}")
    }
    // overhead = this traced run against the median of the untraced runs
    // of the same workload since the last build (run.py clears the file)
    val untraced = Paths.get(s"${a.outDir}/untraced-${a.workload}.jsonl")
    val history =
      if (!Files.exists(untraced)) Seq.empty
      else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        Files.readAllLines(untraced).asScala.toSeq.filter(_.nonEmpty).map(l => mapper.readTree(l).get("e2e"))
      }
    if (history.isEmpty)
      println("  tracing overhead: no untraced run of this workload in this checkout yet")
    val overhead = if (history.isEmpty) Seq.empty else E2eUnits.map(_._1).map { k =>
      val base = Stats.median(history.filter(_.has(k)).map(_.get(k).asDouble()))
      val rel = (res.e2e(k) - base) / base
      println(f"  tracing overhead $k%-12s traced ${res.e2e(k)}%.3f, median of ${history.size} " +
        f"untraced $base%.3f (${rel * 100}%+.1f%%)")
      k -> rel
    }
    val base = tr.spans.headOption.fold(0L)(_.startNs)
    val trace = Json.obj(ctx ++ Seq(
      "layers" -> Json.obj(layers.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "tracing_overhead" -> Json.obj(overhead.map { case (k, v) => k -> Json.num(v) }),
      "ops" -> tr.ops.map(o => Json.obj(Seq("id" -> o.id.toString, "kind" -> Json.str(o.kind),
        "start_ms" -> o.startMs.toString, "end_ms" -> o.endMs.toString, "ms" -> Json.num(o.ms))))
        .mkString("[", ",\n", "]"),
      "spans" -> tr.spans.map(s => Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "op" -> s.op.toString, "parent" -> s.parent.toString,
        "start_ms" -> Json.num((s.startNs - base) / 1e6), "ms" -> Json.num(s.ms))))
        .mkString("[", ",\n", "]")))
    Files.write(Paths.get(s"${a.outDir}/trace-${a.workload}-${a.seed}.json"),
      (trace + "\n").getBytes("UTF-8"))
  }
}
