package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Kafka JSON source wiring — the Structured-Streaming twin of the
  * reference's producer/consumer pair (`scripts/kafka/kafka_producer.py:
  * 456-563`, `kafka_consumer.py:447-569`): JSON message values keyed by
  * business id, four topics, micro-batched idempotent ingestion.
  *
  * Requires the `spark-sql-kafka` connector on the classpath at deploy
  * time (not bundled in this build environment). In-sandbox the SAME
  * consumer pipeline runs end-to-end minus the broker via the FILE wire
  * twin below: a producer (`writeFileDrop`) appends micro-batch drops of
  * Kafka-shaped envelopes (key, JSON-string value, timestamp) to a
  * directory, and `fileStream` is a `readStream` over those drops whose
  * decode path is IDENTICAL to the Kafka source's (`decodeValue` is shared
  * character-for-character) — only the transport differs.
  */
object KafkaJson {

  /** The Kafka message envelope as it crosses the wire: string key, JSON
    * string value, broker timestamp. Timestamps inside the VALUE travel as
    * strings (the reference producer emits isoformat strings,
    * `kafka_producer.py:457-461`) — JSON's millisecond-truncating timestamp
    * format would otherwise lose microsecond precision in transit.
    */
  private val envelopeSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("timestamp",
      org.apache.spark.sql.types.TimestampType)))

  /** Decode a wire frame (message_key, value, kafka_timestamp) into typed
    * columns — the consumer's `json.loads` + column alignment
    * (`kafka_consumer.py:203-245`). Shared verbatim by the Kafka source,
    * the file twin, and the batch round-trip query, so exercising any one
    * of them exercises the decode the others run.
    */
  def decodeValue(wire: DataFrame, schema: StructType): DataFrame =
    wire.select(
      col("message_key"),
      from_json(col("value").cast("string"), schema).as("v"),
      col("kafka_timestamp"))
      .select(col("message_key"), col("v.*"), col("kafka_timestamp"))

  /** Encode rows into Kafka-wire envelopes keyed by a business-id column —
    * the producer's `json.dumps` (`kafka_producer.py:457-461`). Timestamp
    * columns are stringified first (isoformat parity; see `envelopeSchema`).
    */
  def encodeWire(df: DataFrame, keyCol: String, ts: Column): DataFrame = {
    val stringified = df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case _: org.apache.spark.sql.types.TimestampType |
             _: org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast("string"))
        case _ => d
      }
    }
    stringified.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.map(stringified.col).toIndexedSeq: _*)).as("value"),
      ts.cast("timestamp").as("timestamp"))
  }

  /** Producer twin: append one micro-batch drop of envelopes to the topic
    * directory (one JSON-lines drop per call — the broker log segment
    * stand-in). At-least-once redelivery is a second drop containing the
    * same records; the idempotent sink must suppress them.
    */
  def writeFileDrop(df: DataFrame, topicDir: String, keyCol: String, ts: Column): Unit =
    encodeWire(df, keyCol, ts).write.mode("append").json(topicDir)

  /** Consumer twin of `stream` over a drop directory: same output columns,
    * same decode, file transport. `maxFilesPerTrigger=1` keeps one drop per
    * micro-batch — the broker's poll-batch boundary.
    */
  def fileStream(spark: SparkSession, topicDir: String, schema: StructType): DataFrame =
    decodeValue(
      spark.readStream
        .schema(envelopeSchema)
        .option("maxFilesPerTrigger", "1")
        .json(topicDir)
        .select(
          col("key").cast("string").as("message_key"),
          col("value"),
          col("timestamp").as("kafka_timestamp")),
      schema)

  /** `readStream` a topic of JSON values into typed columns
    * (`from_json` flattening — the consumer's `json.loads` + column
    * alignment, `kafka_consumer.py:203-245`).
    */
  def stream(spark: SparkSession, servers: String, topic: String, schema: StructType): DataFrame =
    decodeValue(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .load()
        .select(
          col("key").cast("string").as("message_key"),
          col("value"),
          col("timestamp").as("kafka_timestamp")),
      schema)
}
