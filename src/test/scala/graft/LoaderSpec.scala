package graft

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Q

/** The testdata generator has shipped `events.ts` as parquet
  * TIMESTAMP(NANOS) in some generations and TIMESTAMP(MICROS, NTZ) in
  * others; `Q.t` must load BOTH to identical naive timestamps. This spec
  * writes one fixture of each physical type (the nanos one via the
  * parquet-java Group API — Spark cannot write nanos) and asserts the
  * loader converges them.
  */
class LoaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // one sub-microsecond-precision instant (truncates) and one exact-micro
  private val wall = Seq(
    (1L, "2024-01-05 10:30:00.123456", 123456789L % 1000),  // ns remainder 789
    (2L, "2024-01-06 23:59:59.000001", 0L))
  private def nanosOf(micros: Long, nsRem: Long): Long = micros * 1000 + nsRem

  private def microsFixture(): String = {
    val dir = TestSpark.tempDir("graft_loader_us").toString
    val s = spark
    import s.implicits._
    wall.map { case (id, w, _) => (id, w) }.toDF("event_id", "w")
      .select(col("event_id"), to_timestamp_ntz(col("w")).as("ts"),
        lit(7L).as("user_id"), lit("click").as("event_type"),
        lit(1.5).as("value"), lit("{\"k\":1}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def nanosFixture(): String = {
    val dir = TestSpark.tempDir("graft_loader_ns").toString
    val schema: MessageType = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS))
      .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val s = spark
    import s.implicits._
    // epoch micros of each wall instant, via the engine itself (UTC session)
    val micros = wall.map { case (id, w, _) => (id, w) }.toDF("event_id", "w")
      .select(col("event_id"), unix_micros(to_timestamp(col("w"))).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withConf(conf).build()
    try wall.foreach { case (id, _, nsRem) =>
      val g = new SimpleGroup(schema)
      g.add("event_id", id)
      g.add("ts", nanosOf(micros(id), nsRem))
      g.add("user_id", 7L)
      g.add("event_type", "click")
      g.add("value", 1.5)
      g.add("props", "{\"k\":1}")
      writer.write(g)
    } finally writer.close()
    dir
  }

  test("Q.t normalizes DATE-typed columns to naive midnight timestamps") {
    val dir = TestSpark.tempDir("graft_loader_date").toString
    val s = spark
    import s.implicits._
    Seq((1L, "1995-03-15"), (2L, "1996-12-01")).toDF("o_orderkey", "d")
      .select(col("o_orderkey"), col("d").cast("date").as("o_orderdate"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val loaded = Q.t(spark, dir, "orders")
    assert(loaded.schema("o_orderdate").dataType == TimestampNTZType)
    val shown = loaded.orderBy("o_orderkey").collect()
      .map(_.getAs[java.time.LocalDateTime]("o_orderdate").toString).toSeq
    assert(shown == Seq("1995-03-15T00:00", "1996-12-01T00:00"))
  }

  test("Q.t loads TIMESTAMP_MICROS and TIMESTAMP(NANOS) events identically") {
    val us = Q.t(spark, microsFixture(), "events")
    val ns = Q.t(spark, nanosFixture(), "events")
    assert(us.schema("ts").dataType == TimestampNTZType)
    assert(ns.schema("ts").dataType == TimestampNTZType)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val a = us.select(cols.map(col): _*).orderBy("event_id").collect().toSeq
    val b = ns.select(cols.map(col): _*).orderBy("event_id").collect().toSeq
    assert(a == b)
    // sub-micro nanos truncated (not rounded), matching DuckDB's division
    val shown = a.map(_.getAs[java.time.LocalDateTime]("ts").toString)
    assert(shown == Seq("2024-01-05T10:30:00.123456", "2024-01-06T23:59:59.000001"))
  }

  test("Q.maxSplitBytes parses the scan split size as Spark does (64m is 64 MiB)") {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    try {
      assert(Q.maxSplitBytes(spark) === 128L * 1024 * 1024) // the default
      spark.conf.set(key, "64m")
      assert(Q.maxSplitBytes(spark) === 64L * 1024 * 1024)
      spark.conf.set(key, "1048576")
      assert(Q.maxSplitBytes(spark) === 1024L * 1024)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
