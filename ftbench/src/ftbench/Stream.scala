package ftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.sources.GraftSession
import graft.streaming.{BinSnapshot, DistState, ForgetStream, FtRequest}

/** The stream's processing-time clock. The state function reads it on
  * executor threads of the same JVM (local mode); the client advances it
  * by a fixed step before each micro-batch.
  */
object VClock {
  @volatile var now: Long = 0L
}

/** `ft_stream`: fixed-size `MemoryStream` micro-batches through
  * `ForgetStream.requests` on the RocksDB state store, in a closed loop.
  *
  * Traffic is Zipf-keyed `incr` requests; every [[ReadEvery]]-th batch
  * also carries `topk` and `dist` reads. Expiry is off and the clock is
  * injected, so each batch's output is a pure function of the inputs:
  * the drain hashes every emitted row on the executors, and the sum must
  * equal the hash of the same batch replayed on the driver through
  * `ForgetStream.transitionRequests`.
  */
object Stream {
  final val NDists = 20000
  final val NBins = 300
  final val BatchSize = 20000
  final val ReadEvery = 2
  final val ReadShare = 0.3
  final val T0 = 1700000000L
  /** The clock advances about [[BatchSize]] seconds a batch, so at this
    * rate an idle bin loses one count every five batches and the state
    * grows to most of the distributions, as a long-running stream's does.
    */
  final val P = ForgetStream.Params(rate = 0.00001)
  final val WarmBatches = 6
  final val SetupRounds = 3

  /** Requests of batch `b` and the clock value it is processed at. Event
    * times are distinct within a batch, so the order in which the state
    * function sees a distribution's requests is total.
    */
  def batch(seed: Long, b: Int, dists: Gen.Zipf, bins: Gen.Zipf): (Seq[FtRequest], Long) = {
    val rnd = new scala.util.Random(Gen.mix(seed * 1000003L + b))
    val base = T0 + b.toLong * (BatchSize + 10)
    val reads = b % ReadEvery == ReadEvery - 1
    val reqs = (0 until BatchSize).map { i =>
      val d = f"d${dists.next(rnd)}%05d"
      val ts = base + i
      if (reads && rnd.nextDouble() < ReadShare) {
        if (rnd.nextInt(3) == 0) FtRequest.dist(d, ts) else FtRequest.topK(d, 5, ts)
      } else FtRequest.incr(d, s"b${bins.next(rnd)}", 1L, ts)
    }
    (reqs, base + BatchSize + 5)
  }

  /** 64-bit hash of one emitted row; a batch hashes to the sum over its
    * rows, so the order rows arrive in does not matter.
    */
  def rowHash(r: BinSnapshot): Long =
    Gen.mix(Gen.mix(Gen.mix((r.dist.hashCode.toLong << 32) |
      (r.bin.hashCode & 0xffffffffL)) + r.count) + r.z * 31 + r.t)

  def hash(rows: Iterable[BinSnapshot]): Long = rows.foldLeft(0L)(_ + rowHash(_))

  /** Driver-side replay of one batch: next state and emitted rows. */
  def replay(state: mutable.Map[String, DistState], reqs: Seq[FtRequest],
             now: Long): Vector[BinSnapshot] = {
    var out = Vector.empty[BinSnapshot]
    reqs.groupBy(_.dist).foreach { case (d, rs) =>
      val (next, rows) = ForgetStream.transitionRequests(d, rs, state.get(d), now, P)
      next match {
        case Some(s) => state(d) = s
        case None => state.remove(d)
      }
      out ++= rows
    }
    out
  }

  def run(spark: SparkSession, tr: Tracer, a: Args, runDir: String, t0Ms: Long): Result = {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    GraftSession.enableRocksDBStateStore(spark)
    val dists = new Gen.Zipf(NDists, 1.0)
    val bins = new Gen.Zipf(NBins, 1.0)
    // (micro-batch id, rows, hash) of each micro-batch the drain saw
    val emitted = new java.util.concurrent.LinkedBlockingQueue[(Long, Long, Long)]()

    def start(ckpt: String, input: MemoryStream[FtRequest]): StreamingQuery = {
      val out = tr.span("streaming.requests")(
        ForgetStream.requests(input.toDS(), P, () => VClock.now, withExpiry = false))
      out.writeStream.outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch { (ds: Dataset[BinSnapshot], id: Long) =>
          val (n, h) = ds.rdd.aggregate((0L, 0L))(
            { case ((n, h), r) => (n + 1, h + rowHash(r)) },
            { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) })
          emitted.put((id, n, h))
        }
        .start()
    }

    // ---- set-up rounds: start a stream on a fresh checkpoint, run one
    // batch, stop. The measured stream starts after them.
    val rounds = (1 to SetupRounds).map { r =>
      val t = System.nanoTime()
      val input = MemoryStream[FtRequest]
      val q = start(s"$runDir/setup$r", input)
      val (reqs, now) = batch(a.seed, -r, dists, bins)
      VClock.now = now
      input.addData(reqs)
      q.processAllAvailable()
      q.stop()
      (System.nanoTime() - t) / 1e9
    }
    emitted.clear()
    System.err.println(s"ftbench: stream set-up rounds ${rounds.map(r => f"$r%.2f").mkString(", ")} s")

    val input = MemoryStream[FtRequest]
    val q = start(s"$runDir/checkpoint", input)
    // the drain's (micro-batch id, rows, hash) records of each batch; the
    // batches are checked after the loop, so the loop times only the stream
    val drained = mutable.LinkedHashMap.empty[Int, Seq[(Long, Long, Long)]]
    def kind(b: Int) = if (b % ReadEvery == ReadEvery - 1) "read" else "incr"

    /** Runs batch `b` and returns its latency in ms. */
    def step(b: Int, timed: Boolean): Double = {
      val (reqs, now) = batch(a.seed, b, dists, bins)
      VClock.now = now
      val body = () => { input.addData(reqs); q.processAllAvailable() }
      val ms =
        if (timed) tr.op(kind(b))(body())._2
        else { val t = System.nanoTime(); body(); (System.nanoTime() - t) / 1e6 }
      val got = mutable.ArrayBuffer.empty[(Long, Long, Long)]
      emitted.drainTo(got.asJava)
      drained(b) = got.toSeq
      ms
    }

    (0 until WarmBatches).foreach(b => step(b, timed = false))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3 - rounds.sum + Stats.median(rounds)

    val lat = mutable.Map("read" -> mutable.ArrayBuffer.empty[Double],
      "incr" -> mutable.ArrayBuffer.empty[Double])
    var attempted, failed = 0
    val loopStart = System.nanoTime()
    var b = WarmBatches
    while ((System.nanoTime() - loopStart) / 1e9 < a.seconds || b % ReadEvery != 0) {
      attempted += 1
      try lat(kind(b)) += step(b, timed = true)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"ftbench: batch $b failed: $e")
      }
      b += 1
    }
    val loopS = lat.values.flatten.sum / 1e3
    q.stop()

    // ---- check every batch, in order, against the driver-side replay
    val state = mutable.HashMap.empty[String, DistState]
    val mismatches = mutable.ArrayBuffer.empty[String]
    var fault = a.fault.contains("batch")
    var transitionMs = 0.0
    var rowsOut, events = 0L
    (0 until b).foreach { n =>
      val (reqs, now) = batch(a.seed, n, dists, bins)
      val t1 = System.nanoTime()
      val exp = tr.span("streaming.transition")(replay(state, reqs, now))
      val got = drained.getOrElse(n, Nil)
      val rows = got.map(_._2).sum
      if (n >= WarmBatches && drained.contains(n)) {
        transitionMs += (System.nanoTime() - t1) / 1e6
        rowsOut += rows
        events += reqs.size
      }
      val h = got.map(_._3).sum + (if (fault) { fault = false; 1L } else 0L)
      if (got.size != 1 || rows != exp.size || h != hash(exp))
        mismatches += s"batch $n: ${got.size} micro-batches, $rows rows hash $h, " +
          s"replay ${exp.size} rows hash ${hash(exp)}"
    }
    val timedBatchIds = drained.filter(_._1 >= WarmBatches).values.flatten.map(_._1).toSet

    val layers = mutable.Map(
      "streaming.transition_ms" -> transitionMs / math.max(1, attempted),
      "streaming.rows_emitted_per_event" -> rowsOut.toDouble / math.max(1L, events))
    if (tr.on) {
      org.apache.spark.ftbench.Bus.drain(spark.sparkContext)
      val ps = tr.progress.filter(p => p.id == q.id && timedBatchIds.contains(p.batchId)).toSeq
      def mean(f: StreamingQueryProgress => Double) =
        if (ps.isEmpty) 0.0 else ps.map(f).sum / ps.size
      def dur(k: String)(p: StreamingQueryProgress) =
        Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)
      val ops = ps.map(_.stateOperators.head)
      layers ++= Map(
        "streaming.trigger_ms" -> mean(dur("triggerExecution")),
        "streaming.add_batch_ms" -> mean(dur("addBatch")),
        "streaming.planning_ms" -> mean(dur("queryPlanning")),
        "streaming.wal_ms" -> mean(dur("walCommit")),
        "statestore.rows" -> ops.lastOption.fold(0.0)(_.numRowsTotal.toDouble),
        "statestore.bytes" -> ops.lastOption.fold(0.0)(_.memoryUsedBytes.toDouble),
        "statestore.rows_updated" -> mean(_.stateOperators.head.numRowsUpdated.toDouble),
        "statestore.commit_ms" -> mean(_.stateOperators.head.commitTimeMs.toDouble))
      val custom = ops.flatMap(_.customMetrics.asScala.toSeq)
        .filter { case (k, _) => k.startsWith("rocksdb") }
      custom.groupBy(_._1).foreach { case (k, vs) =>
        val m = vs.map(_._2.toDouble).sum / ops.size
        val key = k.stripPrefix("rocksdb")
        if (m != 0.0) layers(s"statestore.rocksdb_${key.head.toLower}${key.tail}") = m
      }
    }

    Result(attempted, failed, mismatches.toSeq,
      Map("setup_s" -> setupS, "read_ms" -> Stats.median(lat("read")),
        "write_ms" -> Stats.median(lat("incr")), "ops_per_s" -> events / loopS),
      layers.toMap,
      Map("batches" -> attempted.toDouble, "read_batches" -> lat("read").size.toDouble,
        "batch_p50_ms" -> Stats.median(lat.values.flatten)))
  }
}
