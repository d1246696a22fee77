package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KafkaJson
import graft.streaming.{IncrementalIngest, Refresh}

/** S14/S15 end-to-end minus the broker (reference
  * `scripts/kafka/kafka_producer.py:456-563` → `kafka_consumer.py:447-569`
  * → the 5-minute dbt refresh, `prefect.yaml:37-42`):
  *
  *   producer drops (Kafka-shaped envelopes, file transport)
  *     → `KafkaJson.fileStream` (the SAME decode the kafka source runs)
  *     → `IncrementalIngest.startIngest` (ON CONFLICT DO NOTHING sink)
  *     → `Refresh.tick` (downstream mart republish)
  *
  * with at-least-once redelivery exercised: a later drop re-contains
  * earlier records verbatim and the sink must suppress them. Only the
  * transport differs from production — every operator in the chain is the
  * deployed one.
  */
class KafkaFileE2eSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wireSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", StringType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  test("producer drops → fileStream → idempotent ingest → refresh, with redelivery") {
    val base = TestSpark.tempDir("graft_kafka_e2e").toString
    val (topicDir, targetDir, ckptDir, pubDir) =
      (s"$base/topic", s"$base/target", s"$base/ckpt", s"$base/pub")

    val events = queries.Q.t(spark, "/root/testdata/sf0.001", "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    // three thirds by id: drop1 = thirds {0,1}, drop2 = thirds {1,2} —
    // third 1 is redelivered verbatim in the second drop
    val third = pmod($"event_id", lit(3))
    val drop1 = events.filter(third < 2)
    val drop2 = events.filter(third >= 1)

    def runIngest(): Unit = {
      val stream = KafkaJson.fileStream(spark, topicDir, wireSchema)
        // consumer-side isoformat parse back to the native timestamp
        .select($"event_id", $"ts".cast("timestamp_ntz").as("ts"),
          $"user_id", $"event_type", $"value")
      val q = IncrementalIngest.startIngest(stream, targetDir, ckptDir,
        keys = Seq("event_id"), trigger = Trigger.AvailableNow(), tsCol = Some("ts"))
      q.awaitTermination()
    }

    KafkaJson.writeFileDrop(drop1, topicDir, "event_id", current_timestamp())
    runIngest()
    val afterDrop1 = spark.read.parquet(targetDir)
    assert(afterDrop1.count() === drop1.count())

    // at-least-once: drop2 re-contains every third-1 record verbatim
    KafkaJson.writeFileDrop(drop2, topicDir, "event_id", current_timestamp())
    runIngest()
    // and a full duplicate drop — nothing at all new
    KafkaJson.writeFileDrop(drop2, topicDir, "event_id", current_timestamp())
    runIngest()

    val target = spark.read.parquet(targetDir)
    assert(target.count() === events.count(), "each event exactly once")
    assert(target.groupBy($"event_id").count().filter($"count" > 1).count() === 0,
      "no redelivered duplicates survived the idempotent sink")
    // values survived the wire byte-exact (join back against the source)
    val mismatched = target
      .select($"event_id", $"ts".as("got_ts"), $"value".as("got_value"))
      .join(events, Seq("event_id"))
      .filter($"got_value" =!= $"value" || $"got_ts" =!= $"ts")
    assert(mismatched.count() === 0, "wire round-trip altered a record")

    // downstream refresh: hourly mart over the ingested raw, atomically
    // republished — the reference's 5-minute incremental dbt deployment
    val refresh = new Refresh(spark, Map(
      "hourly_activity" -> ((s: SparkSession) => s.read.parquet(targetDir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value")))),
      pubDir)
    refresh.tick()
    val mart = refresh.current("hourly_activity")
    val expected = events
      .groupBy(date_trunc("hour", $"ts").as("hour_start"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("total_value"))
    assert(mart.count() === expected.count())
    assert(mart.join(expected, Seq("hour_start", "event_type"))
      .filter(mart("n") =!= expected("n")).count() === 0)
  }
}
