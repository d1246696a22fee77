package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{IncrementalIngest, Refresh}

class RefreshSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  test("ingest -> refresh -> marts reflect raw state; re-delivery changes nothing") {
    val base = TestSpark.tempDir("graft_refresh").toString
    val rawPath = s"$base/raw"

    val refresh = new Refresh(
      TestSpark.spark,
      Map("totals_by_key" -> { s =>
        s.read.parquet(rawPath).groupBy("k").agg(sum($"v").as("total"))
      }),
      s"$base/marts")

    // micro-batch 1
    IncrementalIngest.idempotentAppend(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), rawPath, Seq("k"))
    refresh.tick()
    assert(refresh.current("totals_by_key").as[(String, Long)].collect().toMap
      === Map("a" -> 1L, "b" -> 2L))

    // micro-batch 2 with a re-delivered key
    IncrementalIngest.idempotentAppend(
      Seq(("b", 99L), ("c", 3L)).toDF("k", "v"), rawPath, Seq("k"))
    refresh.tick()
    assert(refresh.current("totals_by_key").as[(String, Long)].collect().toMap
      === Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }
}
