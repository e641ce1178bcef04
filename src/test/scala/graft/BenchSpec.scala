package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every mode of [[Bench]], run in-process over a few cheap queries at
  * sf0.001. The suite run's stdout is read the way a runner that keeps
  * only its tail reads it: the last 2000 characters, sbt's closing line
  * included, then the last JSON object in them.
  */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private val SfDir = "/root/testdata/sf0.001"
  private val json = new ObjectMapper()

  private def runBench(args: Seq[String], only: String,
      extra: Map[String, String] = Map.empty): Seq[String] = {
    val lines = Seq.newBuilder[String]
    Bench.run(spark, args, Map("SPARK_GRAFT_SF_DIR" -> SfDir,
      "SPARK_GRAFT_BENCH_ONLY" -> only) ++ extra, lines += _)
    lines.result()
  }

  /** The last line of `text` that parses as a JSON object. */
  private def lastJsonObject(text: String): Option[JsonNode] =
    text.split("\n").reverseIterator.map(_.trim).filter(_.startsWith("{"))
      .flatMap(l => scala.util.Try(json.readTree(l)).toOption)
      .find(_.isObject)

  test("suite mode: the last JSON object in stdout's 2000-character tail is the summary, and both sidecars hold per-pass fingerprints") {
    val outDir = graft.sources.TempDirs.scratch("graft_benchspec_")
    val outPath = s"$outDir/bench_last.json"
    val stdout = runBench(Nil, "ft_counts,ft_topk",
      Map("SPARK_GRAFT_BENCH_OUT" -> outPath))
    val captured = (stdout :+
      "[success] Total time: 42 s, completed Oct 20, 2026, 10:00:00 PM").mkString("\n")
    val summary = lastJsonObject(captured.takeRight(2000))
      .getOrElse(fail(s"no JSON object in the last 2000 characters of:\n$captured"))
    Seq("metric", "value", "total_min2", "n_queries").foreach(k =>
      assert(summary.has(k), s"summary lacks $k: $summary"))
    assert(summary.get("metric").asText == "total")
    assert(summary.get("n_queries").asInt == 2)
    assert(summary.get("failed").size == 0)
    assert(summary.get("total_min2").asDouble <= summary.get("value").asDouble)
    val sidecar = json.readTree(Files.readString(Paths.get(outPath)))
    assert(json.readTree(Files.readString(Paths.get(s"$outDir/bench_summary.json"))) == summary)
    val fps = sidecar.get("fingerprints")
    Seq("ft_counts", "ft_topk").foreach { q =>
      val passes = fps.get(q)
      assert(passes.size == 2 && passes.get(0).isTextual, s"$q: $passes")
      assert(passes.get(0) == passes.get(1), s"$q: passes disagree $passes")
    }
    assert(sidecar.get("fingerprint_mismatch").size == 0)
    assert(sidecar.get("repeat2").size == 2)
  }

  test("profile mode prints a non-empty frame table for its query") {
    val stdout = runBench(Seq("profile"), "ft_counts")
    assert(stdout.head.startsWith("==== ft_counts  total "), stdout)
    assert(stdout.tail.nonEmpty && stdout.tail.forall(_.matches("""\s+\d+\.\d\ds  .+""")),
      stdout)
  }

  test("scale mode prints one 1x/Nx ratio line per query, and a query's receipt after its own line") {
    val stdout = runBench(Seq("scale", "2"), "ft_counts,dedup_ngram")
    assert(stdout.size == 4, stdout)
    assert(stdout.head.startsWith("[probe] query") && stdout.head.contains("2x(s)"))
    val ratio = """\[probe\] (\w+)\s+\d+\.\d\d\s+\d+\.\d\d\s+\d+\.\d\d\s+\((\d+) -> (\d+)\)""".r
    // selection runs in name order
    assert(Seq(stdout(1), stdout(3)).collect { case ratio(q, _, _) => q } ==
      Seq("dedup_ngram", "ft_counts"), stdout)
    assert(stdout(2).matches("""\[probe\] dedup_ngram\s+pair-mass \d+ -> \d+ .*"""), stdout(2))
  }

  test("a mistyped query name or a malformed mode fails before anything runs") {
    for (args <- Seq(Nil, Seq("profile"), Seq("scale", "2"))) {
      val e = intercept[IllegalArgumentException](runBench(args, "ft_counts,ft_countz"))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ft_countz"))
    }
    for (args <- Seq(Seq("scale"), Seq("scale", "0"), Seq("scale", "x"), Seq("profle")))
      intercept[IllegalArgumentException](runBench(args, "ft_counts"))
  }
}
