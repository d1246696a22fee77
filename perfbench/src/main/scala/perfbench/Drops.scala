package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Generator

/** Seeded drop schedule for the live Kafka-file path, sized from the
  * reference's own traffic (BASELINE.md):
  *   - drop 0 of each topic is the bootstrap load, one day of the
  *     reference's synthetic batch volume: 8000 transactions (5000 stock +
  *     3000 crypto), 1000 customers, 200 corporates;
  *   - drops 1.. are due one `interval` apart and each carries every topic:
  *     what the reference producer sends in one 5-minute refresh window
  *     (one batch every 15 s of 5 transactions, 3 customers and
  *     2 corporates, so 20 batches = 100 / 60 / 40 records).
  * On top of that traffic the benchmark plants faults the reference does
  * not quantify, to exercise the exactly-once sink: a share of verbatim
  * redeliveries of the topic's previous drop (at-least-once delivery), and
  * a share of out-of-order records whose event time is a day older than
  * the drop's window.
  *
  * Staged per topic as parquet with `drop_id` and `redelivered` columns;
  * the producer reads one drop at its due time and writes it to each topic
  * with `KafkaJson.writeFileDrop`, one file per topic (the consumer's
  * flushes of a window, which one AvailableNow micro-batch reads anyway).
  */
object Drops {

  final case class Topic(name: String, keys: Seq[String], tsCol: String, bootstrap: Int, perDrop: Int)

  val Topics = Seq(
    Topic("transactions", Seq("transaction_id"), "transaction_timestamp", 8000, 100),
    Topic("customers", Seq("customer_id", "load_timestamp"), "load_timestamp", 1000, 60),
    Topic("corporates", Seq("company_id", "load_timestamp"), "load_timestamp", 200, 40))

  /** Customer ids the transactions and customer versions draw from: the
    * reference's 1000 customers.
    */
  val Customers = 1000L

  val RedeliverEvery = 10  // one record in 10 of the previous drop is resent
  val OutOfOrderEvery = 10 // one fresh record in 10 is a day late

  // drop g's event window starts g hours after 2024-01-10 00:00:00 UTC;
  // a late record sits one day (less half a second, so it never collides
  // with an on-time record's key) before its drop's window
  private val baseEpoch = 1704844800L
  private def stamp(g: Column, offsetS: Column, late: Column): Column =
    timestamp_seconds((lit(baseEpoch) + g * 3600L + offsetS).cast("decimal(16,1)") -
      when(late, lit(BigDecimal("86399.5"))).otherwise(lit(BigDecimal(0))))

  /** Fresh records of one topic, `n` of them, with a `seq` spine. */
  private def fresh(spark: SparkSession, t: Topic, n: Long, seed: Long): DataFrame = t.name match {
    case "transactions" =>
      Generator.transactions(spark, n, Customers, seed)
        .withColumn("seq", substring(col("transaction_id"), 5, 10).cast("long"))
        .withColumn("load_timestamp", lit(Lake.LoadTs).cast("timestamp"))
        .withColumn("source", lit("KAFKA"))
    case "customers" =>
      Generator.customers(spark, n, seed + 7)
        .withColumn("seq", substring(col("customer_id"), 6, 8).cast("long"))
        .select(
          concat(lit("CUST-"), lpad(pmod(xxhash64(lit(seed), col("seq"), lit("cid")),
            lit(Customers)).cast("string"), 8, "0")).as("customer_id"),
          col("customer_tier"), col("risk_tolerance"), col("age_group"), col("registration_date"),
          lit("PERSONAL").as("customer_type"), lit(null).cast("string").as("company_id"),
          lit("KAFKA").as("source"), col("seq"))
        .withColumn("email_addr", concat(lower(col("customer_id")), lit("@example.com")))
    case "corporates" =>
      Generator.corporates(spark, n, seed + 11)
        .withColumn("seq", substring(col("company_name"), 6, 12).cast("long"))
        .withColumn("source", lit("KAFKA"))
  }

  /** Stage drops 0..`drops` of every topic under `dir/<topic>`. */
  def write(spark: SparkSession, dir: String, drops: Int, seed: Long): Unit =
    Topics.foreach { t =>
      // drop g >= 1 covers seq [bootstrap + (g-1)*perDrop, bootstrap + g*perDrop)
      val total = t.bootstrap + drops.toLong * t.perDrop
      val g = when(col("seq") < t.bootstrap, lit(0))
        .otherwise(((col("seq") - t.bootstrap) / t.perDrop).cast("int") + 1)
      val recs = fresh(spark, t, total, seed).withColumn("drop_id", g)
        .withColumn("first_seq", when(col("drop_id") === 0, lit(0L))
          .otherwise(lit(t.bootstrap.toLong) + (col("drop_id") - 1) * t.perDrop))
      val late = pmod(xxhash64(lit(seed), col("seq"), lit("ooo")), lit(OutOfOrderEvery.toLong)) === 0
      val stamped = t.tsCol match {
        case "transaction_timestamp" =>
          recs.withColumn("transaction_timestamp", stamp(col("drop_id"),
              pmod(xxhash64(lit(seed), col("seq"), lit("sec")), lit(3600L)), late))
            .withColumn("data_date", to_date(col("transaction_timestamp")))
        case _ =>
          recs.withColumn("load_timestamp", stamp(col("drop_id"), col("seq") - col("first_seq"), late))
      }
      val cols = recordColumns(stamped)
      val freshRows = stamped.select((cols :+ "drop_id").map(col): _*)
        .withColumn("redelivered", lit(false))
      // redeliveries: a share of drop g-1's records, resent in drop g
      val resent = freshRows
        .filter(pmod(xxhash64(lit(seed), col(t.keys.head), lit("redeliver")),
          lit(RedeliverEvery.toLong)) === 0 && col("drop_id") < drops)
        .withColumn("drop_id", col("drop_id") + 1)
        .withColumn("redelivered", lit(true))
      freshRows.unionByName(resent)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/${t.name}")
    }

  /** The record columns of a staged topic (everything but the staging
    * columns), in a fixed order.
    */
  def recordColumns(df: DataFrame): Seq[String] =
    df.columns.filterNot(Set("seq", "drop_id", "first_seq", "redelivered")).toSeq.sorted

  /** The wire schema: record columns with timestamps and dates as strings,
    * as the producer's encoder stringifies them.
    */
  def wireSchema(records: StructType): StructType = StructType(records.fields.map { f =>
    f.dataType match {
      case _: TimestampType | _: TimestampNTZType | _: DateType => f.copy(dataType = StringType)
      case _ => f
    }
  })
}
