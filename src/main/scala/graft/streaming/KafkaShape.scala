package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Adapter from a Kafka-source-shaped stream to forget-table requests.
  *
  * `spark.readStream.format("kafka")` always yields the same 7-column
  * wire schema — `key`/`value` (binary), `topic`, `partition`, `offset`,
  * `timestamp`, `timestampType` — so the production wiring is expressed
  * against that shape, not against a broker: anything presenting the
  * schema (the real connector, or in-sandbox a rate/memory stand-in
  * mapped onto it) flows through unchanged. This replaces the
  * reference's HTTP ingest (`goforget/forget.go:27-69`: one `/incr` per
  * event) with the bus a 100 TB pipeline would actually use.
  *
  * Payload contract: `value` is a UTF-8 JSON envelope
  * `{"dist": "...", "bin": "...", "n": 1}` (n optional, default 1 — the
  * reference's default increment, forget.go:36-44; see
  * [[requestSchema]] for the optional read fields); the Kafka
  * `timestamp` supplies event time. Producers key messages by `dist` so
  * a distribution's events ride one partition in order — the bus-level
  * analog of the reference's serialized per-distribution update worker
  * (redis_utils.go:124-137). Malformed envelopes parse to null dist and
  * are dropped (the reference 500s them, forget.go:31-35).
  */
object KafkaShape {

  /** JSON envelope carried in the Kafka `value`: `dist`, `bin`, `n`,
    * plus optional `op` ("incr" | "topk" | "dist", default "incr") and
    * `k` (top-K size, default 10, the reference's default N;
    * forget.go:194-204).
    */
  val requestSchema: StructType = new StructType()
    .add("dist", StringType).add("bin", StringType).add("n", LongType)
    .add("op", StringType).add("k", LongType)

  /** Parse a Kafka-shaped frame into requests for [[ForgetStream.requests]]. */
  def requestEvents(kafka: DataFrame): Dataset[FtRequest] =
    kafka
      .select(
        from_json(col("value").cast("string"), requestSchema).as("v"),
        col("timestamp").cast("long").as("tsSec"))
      // An incr envelope with no bin is malformed — the reference 500s it
      // (forget.go:36-44); dropping it here beats silently incrementing
      // a spurious "" bin. Reads carry no bin.
      .where(col("v.dist").isNotNull &&
        (coalesce(col("v.op"), lit("incr")) =!= "incr" || col("v.bin").isNotNull))
      .select(
        col("v.dist").as("dist"), coalesce(col("v.bin"), lit("")).as("bin"),
        coalesce(col("v.n"), lit(1L)).as("n"), col("tsSec"),
        coalesce(col("v.op"), lit("incr")).as("op"),
        coalesce(col("v.k"), lit(10L)).cast("int").as("k"))
      .as[FtRequest](Encoders.product[FtRequest])
}
