package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class DedupSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private def events = Seq(
    ("u1", ts("2024-01-01 10:00:00"), 1L, "signup"),
    ("u1", ts("2024-01-02 10:00:00"), 2L, "click"),
    ("u2", ts("2024-01-03 10:00:00"), 3L, "view"),
    ("u2", ts("2024-01-03 10:00:00"), 4L, "click")
  ).toDF("user_id", "ts", "event_id", "event_type")

  private def ts(s: String) = Timestamp.valueOf(s)

  test("firstRows keeps the earliest row per key with tiebreaker") {
    val got = Dedup.firstRows(events, Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select("user_id", "event_id").as[(String, Long)].collect().toMap
    assert(got === Map("u1" -> 1L, "u2" -> 3L))
  }

  test("latestRows keeps the latest row per key") {
    val got = Dedup.firstRows(events, Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      .select("user_id", "event_id").as[(String, Long)].collect().toMap
    assert(got === Map("u1" -> 2L, "u2" -> 4L))
  }

  test("firstRows is idempotent") {
    val once = Dedup.firstRows(events, Seq("user_id"), Seq(col("ts"), col("event_id")))
    val twice = Dedup.firstRows(once, Seq("user_id"), Seq(col("ts"), col("event_id")))
    assert(once.collect().toSet === twice.collect().toSet)
  }

  test("exactDedupGroups counts copies and keeps the min id") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "c")).toDF("id", "text")
    val got = Dedup.exactDedupGroups(docs, md5(col("text")), col("id"))
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (3L, 1L)))
  }
}

class Scd2Spec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("intervals chain with no gaps/overlaps and one current row per key") {
    val versions = Seq(
      ("u1", ts("2024-01-01 00:00:00"), "bronze"),
      ("u1", ts("2024-02-01 00:00:00"), "silver"),
      ("u1", ts("2024-03-01 00:00:00"), "gold"),
      ("u2", ts("2024-01-15 00:00:00"), "bronze")
    ).toDF("user_id", "ts", "tier")
    val got = Scd2.intervals(versions, Seq("user_id"), "ts", Seq(col("ts")))

    // effective_to of version n == effective_from of version n+1
    val u1 = got.filter($"user_id" === "u1").orderBy("effective_from")
      .select("effective_from", "effective_to").as[(Timestamp, Timestamp)].collect()
    assert(u1(0)._2 === u1(1)._1 && u1(1)._2 === u1(2)._1)
    assert(u1(2)._2 === ts("9999-12-31 00:00:00"))

    assert(Scd2.current(got).count() === 2)
    assert(Scd2.current(got).filter($"user_id" === "u1")
      .select("tier").as[String].head() === "gold")
  }
}

class SessionizeSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("a gap greater than gapSeconds starts a new session") {
    val events = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 1L),
      ("u1", ts("2024-01-01 10:10:00"), 2L), // 10 min gap -> same session
      ("u1", ts("2024-01-01 12:00:00"), 3L), // 110 min gap -> new session
      ("u2", ts("2024-01-01 10:00:00"), 4L)
    ).toDF("user_id", "ts", "event_id")
    val got = Sessionize.sessions(events, "user_id", "ts", 3600L, Seq(col("ts"), col("event_id")))
      .select("user_id", "session_seq", "n_events").as[(String, Long, Long)].collect().toSet
    assert(got === Set(("u1", 1L, 2L), ("u1", 2L, 1L), ("u2", 1L, 1L)))
  }

  test("exact boundary gap does NOT start a new session (strict >)") {
    val events = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 1L),
      ("u1", ts("2024-01-01 11:00:00"), 2L) // exactly 3600s
    ).toDF("user_id", "ts", "event_id")
    val got = Sessionize.sessions(events, "user_id", "ts", 3600L, Seq(col("ts"), col("event_id")))
    assert(got.count() === 1)
  }
}

class IncrementalSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("aboveWatermark on an empty target loads everything (1900 floor)") {
    val source = Seq(("a", ts("2024-01-01 00:00:00"))).toDF("k", "ts")
    val target = source.filter(lit(false))
    assert(Incremental.aboveWatermark(source, target, "ts").count() === 1)
  }

  test("aboveWatermark is strict: boundary rows are excluded") {
    val source = Seq(
      ("a", ts("2024-01-01 00:00:00")),
      ("b", ts("2024-01-02 00:00:00")),
      ("c", ts("2024-01-03 00:00:00"))).toDF("k", "ts")
    val target = source.filter($"ts" <= ts("2024-01-02 00:00:00"))
    val got = Incremental.aboveWatermark(source, target, "ts").select("k").as[String].collect()
    assert(got.toSeq === Seq("c"))
  }

  test("newKeys excludes keys present in the target") {
    val incoming = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val target = Seq(("a", 0)).toDF("k", "v")
    val got = Incremental.newKeys(incoming, target, Seq("k")).select("k").as[String].collect().toSet
    assert(got === Set("b", "c"))
  }

  test("changedRows passes new keys and changed hashdiffs, blocks unchanged") {
    val incoming = Seq(("k1", "h1"), ("k1", "h2"), ("k2", "h9")).toDF("hk", "hashdiff")
    val target = Seq(("k1", "h1")).toDF("hk", "hashdiff")
    val got = Incremental.changedRows(incoming, target, "hk", "hashdiff")
      .as[(String, String)].collect().toSet
    assert(got === Set(("k1", "h2"), ("k2", "h9")))
  }
}

class EventWindowsSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  test("impactJoin attaches values at the requested day offsets") {
    val anchors = Seq("2024-01-10").toDF("d0").select(to_date($"d0").as("anchor_date"))
    val daily = Seq(
      ("2024-01-10", 100.0), ("2024-01-11", 110.0), ("2024-01-13", 90.0)
    ).toDF("d0", "v").select(to_date($"d0").as("d"), $"v")
    val got = EventWindows.impactJoin(anchors, daily, Seq(), "anchor_date", "d", "v", Seq(0, 1, 3, 7))
      .select("v_t0", "v_t1", "v_t3", "v_t7")
      .as[(Option[Double], Option[Double], Option[Double], Option[Double])].head()
    assert(got === ((Some(100.0), Some(110.0), Some(90.0), None)))
  }
}
