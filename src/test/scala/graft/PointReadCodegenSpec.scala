package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ForgetParams, ForgetTable}
import graft.sources.{StateStore, Tables}

/** A warm point read compiles nothing: the distribution name, its
  * bucket and the read's `nowEpoch` reach the generated code only as
  * references, never as literals, so a read of another distribution, or
  * at another clock, reuses every class the first read compiled (with
  * the codegen cache sized in [[graft.sources.GraftSession]]).
  */
class PointReadCodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm point read of a distribution in another bucket compiles no class") {
    val dir = Files.createTempDirectory("graft_codegen_").toString
    StateStore.save(ForgetTable.fromEvents(Tables.events(spark, "/root/testdata/sf0.001")),
      dir, nBuckets = 8)
    val (a, b) = ("click", "view")
    assert(StateStore.bucketOf(a, 8) != StateStore.bucketOf(b, 8))
    val params = ForgetParams(rate = 0.002, nowEpoch = 1706659200L)
    def reads(name: String, bins: Seq[String], p: ForgetParams): Seq[DataFrame] = {
      val ft = StateStore.loadDist(spark, dir, name)
      Seq(ft.get(name, bins, p), ft.topK(10, p, Some(name)), ft.dist(p, Some(name)))
    }
    reads(a, Seq("1", "3", "absent"), params).foreach(_.collect())
    val before = compiles
    reads(b, Seq("2", "5", "absent"), params).foreach(_.collect())
    assert(compiles - before == 0, "a warm point read compiled generated classes")
    // `nowEpoch` too is a reference (`LongRefExpr`), so a later `now`
    // reuses the same classes
    val warm = compiles
    reads(b, Seq("2", "5", "absent"), params.copy(nowEpoch = params.nowEpoch + 1))
      .foreach(_.collect())
    assert(compiles - warm == 0, "a point read at a new nowEpoch compiled generated classes")
  }
}
