package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{BinSnapshot, ForgetStream, FtRequest}

/** The 100 TB state-store wiring, proven in-sandbox: ForgetStream's
  * `flatMapGroupsWithState` state on `RocksDBStateStoreProvider`
  * (via [[graft.sources.GraftSession.enableRocksDBStateStore]]) instead
  * of the default in-heap HDFS-backed provider.
  *
  * Asserts three things the default-provider specs can't:
  *   1. the same micro-batch run produces the same state transitions
  *      (provider choice is semantics-free),
  *   2. state survives across micro-batches on RocksDB (checkpoint +
  *      changelog round-trip, not just in-heap map reuse),
  *   3. RocksDB actually served the state — the query reports non-empty
  *      `rocksdb*` custom metrics with real load activity.
  *
  * Reference semantics unchanged: merge→decay→prune per update
  * (goforget/redis_utils.go:124-196); this spec swaps only the state
  * backend, which replaces the reference's Redis data plane.
  */
class RocksDBStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  private val T0 = 1706659200L
  private val params = ForgetStream.Params(rate = 0.5)

  test("ForgetStream end-to-end on RocksDBStateStoreProvider") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.sources.GraftSession.enableRocksDBStateStore(spark)
    try {
      val fixedNow = T0 + 10L
      val mem = MemoryStream[FtRequest]
      val out = ForgetStream.requests(mem.toDS(), params, clock = () => fixedNow, withExpiry = false)
      val q = out.writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("ft_rocksdb").start()
      try {
        val batch = Seq(
          FtRequest.incr("colors", "red", 30L, T0),
          FtRequest.incr("colors", "blue", 10L, T0),
          FtRequest.incr("pets", "cat", 7L, T0))
        mem.addData(batch: _*)
        q.processAllAvailable()

        // (1) provider choice is semantics-free: equals pure-transition replay
        val got = spark.table("ft_rocksdb").as[BinSnapshot].collect()
          .map(r => (r.dist, r.bin) -> (r.count, r.z)).toMap
        val expected = Seq("colors", "pets").flatMap { d =>
          val s = ForgetStream.transition(d, batch.filter(_.dist == d), None, fixedNow, params)
          s.counts.map { case (b, c) => (d, b) -> (c, s.z) }
        }.toMap
        assert(got == expected)
        assert(got.nonEmpty)

        // (2) second micro-batch continues from RocksDB-checkpointed state
        mem.addData(FtRequest.incr("pets", "cat", 5L, T0 + 10L))
        q.processAllAvailable()
        val catRows = spark.table("ft_rocksdb").as[BinSnapshot].collect()
          .filter(r => r.dist == "pets" && r.bin == "cat")
        // dt=0 between batches (fixed clock): counts merge without decay
        assert(catRows.map(_.count).max ==
          expected(("pets", "cat"))._1 + 5L)

        // (3) RocksDB really served the state: provider-specific metrics
        val metrics = q.lastProgress.stateOperators.head.customMetrics.asScala
        val rocksKeys = metrics.keys.filter(_.toLowerCase.contains("rocksdb"))
        assert(rocksKeys.nonEmpty,
          s"no rocksdb custom metrics — provider did not engage: ${metrics.keys.mkString(",")}")
      } finally q.stop()
    } finally graft.sources.GraftSession.disableRocksDBStateStore(spark)
  }
}
