package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scd2
import graft.streaming.StreamingScd2

/** The streaming SCD2 sink must equal a from-scratch batch recompute of the
  * full version history after every micro-batch — under new keys, new
  * versions, at-least-once redelivery, and out-of-order (late) versions.
  */
class StreamingScd2Spec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private type V = (Long, String, Timestamp)

  private def groundTruth(history: Seq[V]) =
    Scd2.intervals(
      history.toDF("id", "attr", "load_ts").dropDuplicates("id", "load_ts"),
      Seq("id"), "load_ts", Seq(col("load_ts")))

  private def assertState(base: String, history: Seq[V]): Unit = {
    val got = StreamingScd2.current(TestSpark.spark, base).get
      .select($"id", $"attr", $"load_ts", $"effective_from", $"effective_to", $"is_current")
      .as[(Long, String, Timestamp, Timestamp, Timestamp, Boolean)].collect().toSet
    val want = groundTruth(history)
      .select($"id", $"attr", $"load_ts", $"effective_from", $"effective_to", $"is_current")
      .as[(Long, String, Timestamp, Timestamp, Timestamp, Boolean)].collect().toSet
    assert(got === want)
  }

  test("streaming upserts track the batch recompute across micro-batches") {
    implicit val sqlCtx = TestSpark.spark.sqlContext
    val dir = TestSpark.tempDir("scd2_stream").toString
    val mem = MemoryStream[V]
    val q = StreamingScd2.start(
      mem.toDF().toDF("id", "attr", "load_ts"),
      base = s"$dir/dim", checkpointPath = s"$dir/ckpt",
      keys = Seq("id"), tsCol = "load_ts",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))

    try {
      // batch 1: two keys, one with two versions already in one batch
      val b1 = Seq[V](
        (1L, "a1", ts("2024-01-01 00:00:00")),
        (1L, "a2", ts("2024-01-03 00:00:00")),
        (2L, "b1", ts("2024-01-02 00:00:00")))
      mem.addData(b1: _*); q.processAllAvailable()
      assertState(s"$dir/dim", b1)

      // batch 2: new version for key 1, brand-new key 3, and a redelivered
      // duplicate of key 2's version (at-least-once)
      val b2 = Seq[V](
        (1L, "a3", ts("2024-01-05 00:00:00")),
        (3L, "c1", ts("2024-01-04 00:00:00")),
        (2L, "b1", ts("2024-01-02 00:00:00")))
      mem.addData(b2: _*); q.processAllAvailable()
      assertState(s"$dir/dim", b1 ++ b2)

      // batch 3: an out-of-order OLDER version for key 1 — must splice into
      // the middle of the chain, closing against the existing neighbors
      val b3 = Seq[V]((1L, "a1b", ts("2024-01-02 00:00:00")))
      mem.addData(b3: _*); q.processAllAvailable()
      assertState(s"$dir/dim", b1 ++ b2 ++ b3)

      // untouched keys carried over exactly: key 2 still one current row
      val k2 = StreamingScd2.current(TestSpark.spark, s"$dir/dim").get
        .filter($"id" === 2L).select($"attr", $"is_current")
        .as[(String, Boolean)].collect().toSeq
      assert(k2 === Seq(("b1", true)))
    } finally q.stop()
  }

  test("re-running the same batch id rewrites an identical version (idempotent)") {
    val dir = TestSpark.tempDir("scd2_replay").toString
    val rows = Seq[V](
      (1L, "x", ts("2024-01-01 00:00:00")), (1L, "y", ts("2024-01-02 00:00:00")))
    val df = rows.toDF("id", "attr", "load_ts")
    StreamingScd2.upsertBatch(df, s"$dir/dim", Seq("id"), "load_ts", batchId = 0L)
    // failure replay: same batch, same id
    StreamingScd2.upsertBatch(df, s"$dir/dim", Seq("id"), "load_ts", batchId = 0L)
    assertState(s"$dir/dim", rows)
    // and state advances normally afterwards
    val b2 = Seq[V]((1L, "z", ts("2024-01-03 00:00:00")))
    StreamingScd2.upsertBatch(b2.toDF("id", "attr", "load_ts"),
      s"$dir/dim", Seq("id"), "load_ts", batchId = 1L)
    assertState(s"$dir/dim", rows ++ b2)
  }

  test("random histories, random batch splits: sequential merge == full SCD2") {
    // seeded random version histories arrive split arbitrarily across
    // batches (including out-of-order versions and cross-batch key
    // overlap); folding merge() over the splits must equal one full
    // Scd2.intervals over everything — the incremental/recompute identity
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val history: Seq[V] = for {
        key <- 0L until 8L
        v <- 0 until (1 + rnd.nextInt(4))
      } yield (key, s"v$v-k$key",
        ts(f"2024-01-${1 + rnd.nextInt(25)}%02d 0${rnd.nextInt(9)}:00:00"))
      val nBatches = 1 + rnd.nextInt(3)
      val batches = history.groupBy(_ => rnd.nextInt(nBatches)).values.toSeq
      val merged = batches.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
        (tgt, b) => Some(StreamingScd2.merge(
          tgt, b.toDF("id", "attr", "load_ts"), Seq("id"), "load_ts"))
      }.get
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select($"id", $"load_ts", $"effective_from", $"effective_to", $"is_current")
        .as[(Long, Timestamp, Timestamp, Timestamp, Boolean)].collect().toSet
      // dedup grain is (id, load_ts): attrs of colliding timestamps are
      // arbitrary-but-single, so compare the interval chain, not attrs
      assert(norm(merged) === norm(groundTruth(history)), s"trial $trial")
    }
  }
}
