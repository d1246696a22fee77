package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IncrementalIngest

class IncrementalIngestSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  test("idempotentAppend: re-delivered keys are dropped (ON CONFLICT DO NOTHING parity)") {
    val dir = TestSpark.tempDir("graft_ingest").toString + "/t"
    val b1 = Seq(("k1", 1), ("k2", 2), ("k2", 2)).toDF("k", "v") // in-batch dup too
    IncrementalIngest.idempotentAppend(b1, dir, Seq("k"))
    val b2 = Seq(("k2", 99), ("k3", 3)).toDF("k", "v") // k2 re-delivered
    IncrementalIngest.idempotentAppend(b2, dir, Seq("k"))
    // replay the whole second batch (at-least-once redelivery)
    IncrementalIngest.idempotentAppend(b2, dir, Seq("k"))

    val got = TestSpark.spark.read.parquet(dir).as[(String, Int)].collect().toSet
    assert(got === Set(("k1", 1), ("k2", 2), ("k3", 3)))
  }

  test("idempotentAppendPartitioned: redelivery dropped AND the guard scan partition-prunes") {
    val dir = TestSpark.tempDir("graft_ingest_part").toString + "/t"
    def batch(rows: (String, Int, String)*) =
      rows.toSeq.toDF("k", "v", "ts0")
        .select($"k", $"v", $"ts0".cast("timestamp").as("load_ts"))
    // days 1..20 of history
    val history = batch((1 to 20).map(d => (f"k$d", d, f"2024-01-$d%02d 10:00:00")): _*)
    IncrementalIngest.idempotentAppendPartitioned(history, dir, Seq("k"), "load_ts")
    // a recent batch: one redelivered key (same original ts) + one new
    val recent = batch(("k20", 20, "2024-01-20 10:00:00"), ("k21", 21, "2024-01-21 10:00:00"))
    val pending = IncrementalIngest.pendingRows(recent, dir, Seq("k"), "load_ts")

    // the guard scan carries a load_date partition filter and reads only
    // the redelivery window's partitions (>= 2024-01-20), not all history
    val plan = pending.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("load_date"),
      s"expected load_date partition filter in:\n$plan")
    val scans = pending.queryExecution.executedPlan.collectLeaves()
      .filter(_.toString.contains(dir.replace("\\", "/")))
    assert(pending.select("k").as[String].collect().toSeq === Seq("k21"))
    assert(scans.nonEmpty && scans.forall(_.metrics.get("numFiles").forall(_.value <= 2)),
      s"expected <=2 target files scanned, got ${scans.map(_.metrics.get("numFiles").map(_.value))}")

    // end-to-end: appending the batch twice leaves one k21 row
    IncrementalIngest.idempotentAppendPartitioned(recent, dir, Seq("k"), "load_ts")
    IncrementalIngest.idempotentAppendPartitioned(recent, dir, Seq("k"), "load_ts")
    val got = TestSpark.spark.read.parquet(dir)
    assert(got.count() === 21)
    assert(got.filter($"k" === "k21").count() === 1)
    assert(got.filter($"k" === "k20").count() === 1)
  }

  test("startIngest drives the idempotent sink through a real streaming query") {
    implicit val sqlCtx = TestSpark.spark.sqlContext
    val dir = TestSpark.tempDir("graft_stream").toString
    val mem = MemoryStream[(String, Int)]
    val q = IncrementalIngest.startIngest(
      mem.toDF().toDF("k", "v"), s"$dir/t", s"$dir/cp", Seq("k"),
      trigger = Trigger.AvailableNow())
    mem.addData(("a", 1), ("b", 2), ("a", 1))
    q.awaitTermination(60000)
    val got = TestSpark.spark.read.parquet(s"$dir/t").as[(String, Int)].collect().toSet
    assert(got === Set(("a", 1), ("b", 2)))
  }

  test("streaming dropDuplicatesWithinWatermark dedups redelivery with bounded state") {
    implicit val sqlCtx = TestSpark.spark.sqlContext
    val mem = MemoryStream[(String, String, Int)]
    val deduped = mem.toDF().toDF("k", "ts0", "v")
      .select($"k", $"ts0".cast("timestamp").as("ts"), $"v")
      .withWatermark("ts", "10 minutes")
      // state per key is evicted once the watermark passes ts + delay —
      // unlike plain dropDuplicates, whose state grows with all history
      .dropDuplicatesWithinWatermark("k")
    mem.addData(
      ("a", "2024-01-01 10:00:00", 1),
      ("a", "2024-01-01 10:00:00", 1), // exact redelivery
      ("a", "2024-01-01 10:01:00", 2), // same key inside the window -> dropped
      ("b", "2024-01-01 10:00:00", 3))
    val q = deduped.writeStream.format("memory").queryName("ddw_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = TestSpark.spark.sql("SELECT k, v FROM ddw_out")
      .as[(String, Int)].collect().toSet
    assert(got === Set(("a", 1), ("b", 3)))
  }

  test("stream-stream interval join correlates two live MemoryStreams") {
    import graft.streaming.StreamingJoins
    implicit val sqlCtx = TestSpark.spark.sqlContext
    val clicks = MemoryStream[(String, String)]
    val errors = MemoryStream[(String, String)]
    val joined = StreamingJoins.intervalJoin(
      clicks.toDF().select($"_1".as("c_user"), $"_2".cast("timestamp").as("c_ts")),
      "c_ts", "10 seconds",
      errors.toDF().select($"_1".as("e_user"), $"_2".cast("timestamp").as("e_ts")),
      "e_ts", "10 seconds",
      (col("c_user"), col("e_user")), "1 HOUR")
    errors.addData(("u1", "2024-01-01 10:00:00"), ("u2", "2024-01-01 10:00:00"))
    clicks.addData(
      ("u1", "2024-01-01 10:30:00"),  // inside [e_ts, e_ts+1h] -> match
      ("u1", "2024-01-01 11:30:00"),  // outside interval -> no match
      ("u3", "2024-01-01 10:15:00"))  // no error for u3 -> no match
    val q = joined.writeStream.format("memory").queryName("sj_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = TestSpark.spark.sql("SELECT c_user, c_ts FROM sj_out")
      .as[(String, java.sql.Timestamp)].collect().toSeq
    assert(got === Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 10:30:00"))))
  }

  test("windowedCounts aggregates into tumbling windows (batch-mode check)") {
    val events = Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 3.0)
    ).toDF("ts", "event_type", "value")
    val got = IncrementalIngest.windowedCounts(events, "ts", "1 hour", "10 minutes")
      .orderBy("window_start", "event_type")
      .select($"event_type", $"n", $"total_value")
      .as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
  }

  test("hoppingCounts under a real streaming query: watermark finalizes windows in append mode") {
    implicit val sqlCtx = TestSpark.spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = IncrementalIngest.hoppingCounts(
      mem.toDF().toDF("ts", "event_type", "value"),
      "ts", "1 hour", "15 minutes", "10 minutes")
      .writeStream.format("memory").queryName("__hop_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:20:00"), "click", 2.0))
      q.processAllAvailable()
      // windows are open: watermark has not passed any window end yet
      assert(TestSpark.spark.table("__hop_stream").count() === 0)
      // a far-future event advances the watermark past every early window
      mem.addData((Timestamp.valueOf("2024-01-01 23:00:00"), "click", 9.0))
      q.processAllAvailable()
      val got = TestSpark.spark.table("__hop_stream")
        .select($"window_start".cast("string"), $"n", $"total_value")
        .as[(String, Long, Double)].collect().toSet
      // finalized output == the batch-mode recompute over the early events
      val batch = IncrementalIngest.hoppingCounts(
        Seq(
          (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
          (Timestamp.valueOf("2024-01-01 10:20:00"), "click", 2.0))
          .toDF("ts", "event_type", "value"),
        "ts", "1 hour", "15 minutes", "10 minutes")
        .select($"window_start".cast("string"), $"n", $"total_value")
        .as[(String, Long, Double)].collect().toSet
      assert(got === batch)
      assert(got.size === 5) // 2 events x 4 windows, 3 shared
    } finally q.stop()
  }

  test("approx_top_k is a valid streaming aggregate: sketches merge across batches") {
    implicit val sqlCtx = TestSpark.spark.sqlContext
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("token")
      .groupBy()
      .agg(expr("approx_top_k(token, 10, 100)").as("tk"))
      .writeStream.format("memory").queryName("__hh_sketch")
      .outputMode("complete").start()
    try {
      mem.addData("a", "b", "a")
      q.processAllAvailable()
      mem.addData("a", "c", "b")
      q.processAllAvailable()
      // tracked (100) >= distinct (3): the merged sketch is exact
      val got = TestSpark.spark
        .sql("SELECT explode(tk) AS e FROM __hh_sketch")
        .select($"e.item", $"e.count").as[(String, Long)].collect().toMap
      assert(got === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    } finally q.stop()
  }

  test("hoppingCounts: every event lands in windowLen/slide overlapping windows") {
    val events = Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:20:00"), "click", 2.0)
    ).toDF("ts", "event_type", "value")
    val got = IncrementalIngest.hoppingCounts(events, "ts", "1 hour", "15 minutes", "10 minutes")
    // 4 windows per event (60/15)
    assert(got.agg(sum($"n")).first().getLong(0) === 8L)
    // the three windows covering both events aggregate across them
    val both = got.filter($"n" === 2)
      .select($"window_start".cast("string"), $"total_value")
      .as[(String, Double)].collect().toMap
    assert(both === Map(
      "2024-01-01 09:30:00" -> 3.0,
      "2024-01-01 09:45:00" -> 3.0,
      "2024-01-01 10:00:00" -> 3.0))
  }
}
