package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingNearDup

/** The streaming near-dup detector must find planted near-duplicates of
  * indexed corpus docs, ignore novel text, agree with the batch LSH
  * pipeline's verify semantics, and stay idempotent under redelivery.
  */
class StreamingNearDupSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private lazy val corpus = queries.Q
    .t(TestSpark.spark, "/root/testdata/sf0.001", "documents")
    .select($"doc_id", $"text")
  private lazy val index =
    StreamingNearDup.buildIndex(corpus, "doc_id", "text",
      shingleWords = 2, bands = 4, rowsPerBand = 3, threshold = 0.5)

  test("batch matcher finds an exact copy and a light edit, not novel text") {
    val (srcId, srcText) = corpus.orderBy($"doc_id")
      .as[(Long, String)].head()
    // light edit: drop the last word — most shingles survive
    val edited = srcText.split(" ").dropRight(1).mkString(" ")
    val probe = Seq(
      (100001L, srcText),                        // exact copy
      (100002L, edited),                         // near duplicate
      (100003L, "zq xv qqq unseen gibberish tokens wholly novel"))
      .toDF("doc_id", "text")

    val got = StreamingNearDup.matchBatch(probe, "doc_id", "text", index)
      .select($"doc_id", $"corpus_id", $"jaccard")
      .as[(Long, Long, Double)].collect()

    val byId = got.groupBy(_._1)
    assert(byId.contains(100001L), "exact copy not matched")
    assert(byId(100001L).exists(m => m._2 == srcId && m._3 == 1.0))
    assert(byId.contains(100002L), "near duplicate not matched")
    assert(byId(100002L).exists(_._2 == srcId))
    assert(!byId.contains(100003L), "novel text must not match")
  }

  test("streaming sink is idempotent under redelivery") {
    implicit val sqlCtx = TestSpark.spark.sqlContext
    val dir = TestSpark.tempDir("near_dup").toString
    val (srcId, srcText) = corpus.orderBy($"doc_id").as[(Long, String)].head()
    val mem = MemoryStream[(Long, String)]
    val q = StreamingNearDup.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", index,
      outPath = s"$dir/pairs", checkpointPath = s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      mem.addData((200001L, srcText))
      q.processAllAvailable()
      // at-least-once redelivery of the same finding
      mem.addData((200001L, srcText))
      q.processAllAvailable()
      val out = TestSpark.spark.read.parquet(s"$dir/pairs")
        .filter($"doc_id" === 200001L && $"corpus_id" === srcId)
      assert(out.count() === 1, "redelivered match must not duplicate")
    } finally q.stop()
  }
}
