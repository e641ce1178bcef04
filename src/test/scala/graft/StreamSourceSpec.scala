package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ForgetTable
import graft.sources.Tables
import graft.streaming.{BinSnapshot, ForgetStream, FtRequest, KafkaShape}

/** End-to-end streaming ingestion from a real file source: the events
  * parquet replayed through `readStream` -> ForgetStream must land on
  * exactly the state the batch path computes from the same files
  * (rate 0 isolates ingestion semantics from decay, which has its own
  * specs). This is the production wiring: a file/Kafka increment feed
  * into the stateful forget-table.
  */
class StreamSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.sources.GraftSession.local()

  test("readStream over events parquet -> ForgetStream == batch fromEvents") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"

    // Batch truth: counts via the batch constructor (no decay at rate 0).
    val batchCounts = ForgetTable.fromEvents(Tables.events(spark, dir))
      .counts.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    // Streaming: same data as an unbounded source. The file source wants
    // a directory (testdata ships single files), so stage a copy; the
    // ts normalization is schema-adaptive like Tables.events (nanos-long
    // generations DIV to seconds; timestamp generations go through
    // unix_timestamp under the UTC session).
    val stage = java.nio.file.Files.createTempDirectory("graft_stream_src_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("part-0.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(stage.toString).schema
    val tsSec = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000000000")
      case _ => unix_timestamp(col("ts").cast("timestamp"))
    }
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
      .select(
        col("event_type").as("dist"),
        col("user_id").cast("string").as("bin"),
        lit(1L).as("n"),
        tsSec.as("tsSec"),
        lit("incr").as("op"),
        lit(0).as("k"))
      .as[FtRequest]

    val fixedNow = 1706659200L
    val out = ForgetStream.requests(events, ForgetStream.Params(rate = 0.0),
      clock = () => fixedNow, withExpiry = false)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("stream_ingest").start()
    try {
      q.processAllAvailable()
      val snaps = spark.table("stream_ingest").as[BinSnapshot].collect()
      // counts only grow at rate 0: the final value per key is the max
      val streamed = snaps.groupBy(s => (s.dist, s.bin))
        .map { case (k, ss) => k -> ss.map(_.count).max }
      assert(streamed == batchCounts)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("Kafka-shaped unbounded source -> KafkaShape -> ForgetStream, end-to-end") {
    import spark.implicits._
    // rate-micro-batch is the in-sandbox stand-in for the Kafka connector:
    // an unbounded source whose batch b deterministically carries values
    // [b*rpb, (b+1)*rpb). Mapped onto the connector's exact 7-column wire
    // schema so KafkaShape sees precisely what format("kafka") yields.
    val rpb = 8
    val kafkaShaped = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rpb.toString)
      .option("startTimestamp", "0")
      .load()
      .select(
        concat(lit("d"), col("value") % 2).cast("binary").as("key"),
        to_json(struct(
          concat(lit("d"), col("value") % 2).as("dist"),
          concat(lit("b"), col("value") % 4).as("bin"),
          lit(1L).as("n"))).cast("binary").as("value"),
        lit("graft_incr").as("topic"),
        (col("value") % 2).cast("int").as("partition"),
        col("value").as("offset"),
        col("timestamp"),
        lit(0).cast("int").as("timestampType"))

    val events = KafkaShape.requestEvents(kafkaShaped)
    val out = ForgetStream.requests(events, ForgetStream.Params(rate = 0.0),
      clock = () => 1706659200L, withExpiry = false)
    // rate-micro-batch never runs dry (each trigger mints the next batch),
    // so bound the run with a fixed trigger count instead of
    // processAllAvailable: stop after the sink has seen >= 2 batches.
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("kafka_ingest").start()
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table("kafka_ingest").count() < 16 && System.nanoTime() < deadline)
        Thread.sleep(100)
      q.stop()
      val snaps = spark.table("kafka_ingest").as[BinSnapshot].collect()
      assert(snaps.nonEmpty)
      val finalPerKey = snaps.groupBy(s => (s.dist, s.bin))
        .map { case (k, ss) => k -> ss.maxBy(_.count) }
      // values mod 8 spread evenly: the 4 live (dist,bin) combos each get
      // 2 rows per batch — counts are equal across keys and Z = 2*count
      assert(finalPerKey.keySet ==
        Set(("d0", "b0"), ("d0", "b2"), ("d1", "b1"), ("d1", "b3")))
      val counts = finalPerKey.values.map(_.count).toSet
      assert(counts.size == 1, s"uneven ingest: $finalPerKey")
      assert(counts.head % 2 == 0 && counts.head >= 2L)
      assert(finalPerKey.values.forall(s => s.z == 2 * s.count))
    } finally q.stop()
  }

  test("KafkaShape.requestEvents parses the op envelope (defaults, malformed drop)") {
    import spark.implicits._
    val rows = Seq(
      ("""{"dist":"colors","bin":"red","n":3}""", 100L),          // incr, explicit n
      ("""{"dist":"colors","bin":"blue"}""", 101L),               // incr, default n=1
      ("""{"dist":"colors","op":"topk","k":5}""", 102L),          // read op
      ("""{"dist":"colors","op":"dist"}""", 103L),                // full read, default k
      ("""not json at all""", 104L),                              // malformed: dropped
      ("""{"dist":"colors","n":2}""", 105L),                      // incr w/o bin: dropped (ref 500s)
      ("""{"dist":"colors","op":"incr"}""", 106L))                // explicit incr w/o bin: dropped
      .toDF("payload", "sec")
      .select(
        lit(null).cast("binary").as("key"),
        col("payload").cast("binary").as("value"),
        lit("graft_req").as("topic"), lit(0).as("partition"),
        monotonically_increasing_id().as("offset"),
        col("sec").cast("timestamp").as("timestamp"),
        lit(0).cast("int").as("timestampType"))

    val got = KafkaShape.requestEvents(rows).collect().sortBy(_.tsSec)
    assert(got.toSeq == Seq(
      FtRequest("colors", "red", 3L, 100L, "incr", 10),
      FtRequest("colors", "blue", 1L, 101L, "incr", 10),
      FtRequest("colors", "", 1L, 102L, "topk", 5),
      FtRequest("colors", "", 1L, 103L, "dist", 10)))
  }
}
