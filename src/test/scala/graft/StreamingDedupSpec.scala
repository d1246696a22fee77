package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingDedup

/** Bounded-state streaming dedup: duplicates inside the watermark horizon
  * are suppressed (across micro-batches, not just within one), the state
  * expires once the watermark passes, and the sink stays idempotent under
  * redelivery.
  */
class StreamingDedupSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000)

  test("suppresses within the horizon, expires after it, idempotent sink") {
    implicit val sqlCtx = TestSpark.spark.sqlContext
    val dir = TestSpark.tempDir("stream_dedup").toString
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingDedup.start(
      mem.toDF().toDF("k", "ts", "payload"),
      keys = Seq("k"), tsCol = "ts", delayThreshold = "10 seconds",
      outPath = s"$dir/out", checkpointPath = s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0L))
    def readOut() = TestSpark.spark.read.parquet(s"$dir/out")
      .select($"k").as[Long].collect().toSeq.sorted
    try {
      // in-batch and cross-batch duplicates of key 1 collapse to one row
      mem.addData((1L, ts(0), "a"), (1L, ts(1), "a-dup"), (2L, ts(0), "b"))
      q.processAllAvailable()
      mem.addData((1L, ts(2), "a-again"), (3L, ts(2), "c"))
      q.processAllAvailable()
      assert(readOut() === Seq(1L, 2L, 3L))

      // push the watermark far past key 1's state horizon...
      mem.addData((4L, ts(3600), "d"))
      q.processAllAvailable()
      // ...then key 1 may legally reappear: its dedup state has expired
      mem.addData((1L, ts(3601), "a-late"))
      q.processAllAvailable()
      assert(readOut() === Seq(1L, 1L, 2L, 3L, 4L))

      // redelivery of an already-written key in a NEW batch: the streaming
      // state dropped it or the idempotent append did — either way no dup
      mem.addData((4L, ts(3602), "d-redelivered"))
      q.processAllAvailable()
      assert(readOut() === Seq(1L, 1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("suppressBatch: the pure (keys, event-time) suppression relation") {
    // published target: keys 1 and 2 at their first event times
    val published = Seq((1L, ts(0), "a"), (2L, ts(5), "b"))
      .toDF("k", "ts", "payload")
    // batch: a redelivery of (1, ts0), a LATER row for key 1 (new event
    // time — appends), an in-batch duplicate pair for key 3 (earliest
    // wins), and a tie on (key, ts) broken by payload
    val batch = Seq(
      (1L, ts(0), "a-redelivered"), // suppressed: same (k, ts) as published
      (1L, ts(20), "a-new"),        // would append — but see below
      (3L, ts(2), "c-late"), (3L, ts(1), "c-first"), // in-batch: earliest wins
      (4L, ts(3), "z"), (4L, ts(3), "y")             // tie -> payload order
    ).toDF("k", "ts", "payload")
    val got = StreamingDedup.suppressBatch(
      published, batch, Seq("k"), "ts",
      tiebreak = Seq(org.apache.spark.sql.functions.col("payload")))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2))).toSet
    // key 1: within-batch dedup keeps the EARLIEST row — the redelivery —
    // which the conflict guard then suppresses (the later arrival stays
    // deduped away, matching the stream's in-horizon state semantics)
    assert(got === Set(
      (3L, ts(1), "c-first"),
      (4L, ts(3), "y")))
  }
}
