package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_ONLY=a,b,c restricts the dump (driver leaves
    // it unset -> full run); an unknown name fails it.
    val selected = Bench.selected(sys.env, "SPARK_GRAFT_ONLY")
    // Queries dump CONCURRENTLY (SPARK_GRAFT_VERIFY_PAR threads,
    // default 4): each query is an independent Spark job writing its
    // own output dir, and one query's plan rarely saturates the local
    // executor, so overlapping them recovers the idle cores — the
    // sequential dump was the bulk of the correctness gate's wall time
    // (the round-15 driver artifact landed empty on a budget). Results
    // are unaffected: per-query outputs are disjoint, the scheduler is
    // FIFO across jobs, and every query's determinism rules are
    // per-row (no cross-query state beyond scratch dirs keyed per
    // query). Failures stay per-query and loud.
    val par = math.max(1, sys.env.get("SPARK_GRAFT_VERIFY_PAR")
      .flatMap(_.trim.toIntOption).getOrElse(4))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val tasks = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            // Distinct tag from the '[verify] ... failed' lines the
            // driver greps — a per-query wall-time receipt for triage.
            System.err.println(
              f"[verify-time] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
          } catch {
            // NonFatal ONLY: an OutOfMemoryError (likelier with 4
            // queries in flight) logged as a per-query failure would
            // let the dump continue in a poisoned JVM and risk
            // silently-wrong parquet for every later query. Fatal
            // errors must kill the run and zero the round loudly.
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      })
    }
    // A fatal error (OOM etc.) escapes the Runnable BY DESIGN — but
    // FutureTask captures it rather than killing anything: main would
    // die here in ExecutionException while the non-daemon pool threads
    // keep writing parquet from a poisoned JVM and then hold it alive
    // forever (a hang, with oracle_sql.json never written). halt() is
    // the only call that stops in-flight writers immediately.
    try tasks.foreach(_.get())
    catch {
      case e: Throwable =>
        System.err.println(s"[verify] FATAL, halting: ${e.getMessage}")
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
