package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CsvSource, Generator}

class CsvSourceSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("price", DecimalType(10, 2)),
    StructField("ts", TimestampType)))

  private def writeCsv(rows: String*): String = {
    val dir = TestSpark.tempDir("graft_csv")
    Files.writeString(dir.resolve("part.csv"), rows.mkString("\n"))
    dir.toString
  }

  test("readPermissive: malformed cells become nulls, good cells survive (TRY_TO_* parity)") {
    val path = writeCsv(
      "id,price,ts",
      "1,10.50,2024-01-01 10:00:00",
      "2,notanumber,2024-01-02 11:00:00", // bad price only
      "x,3.25,alsobad") // bad id and ts
    val got = CsvSource.readPermissive(TestSpark.spark, path, schema)
    assert(got.schema.map(_.dataType) === schema.map(_.dataType))
    val rows = got.orderBy(asc_nulls_last("id")).collect()
    assert(rows.length === 3)
    assert(rows(0).getInt(0) === 1 && rows(0).getDecimal(1).toString === "10.50")
    assert(rows(1).getInt(0) === 2 && rows(1).isNullAt(1) && !rows(1).isNullAt(2))
    assert(rows(2).isNullAt(0) && rows(2).getDecimal(1).toString === "3.25" && rows(2).isNullAt(2))
  }

  test("readPermissive: missing columns become typed nulls; extra columns dropped") {
    val path = writeCsv("id,extra", "7,zzz")
    val got = CsvSource.readPermissive(TestSpark.spark, path, schema)
    assert(got.columns.toSeq === Seq("id", "price", "ts"))
    val r = got.collect().head
    assert(r.getInt(0) === 7 && r.isNullAt(1) && r.isNullAt(2))
  }

  test("castFailures surfaces exactly the rows that lost data") {
    val path = writeCsv("id,price,ts",
      "1,10.50,2024-01-01 10:00:00",
      "2,notanumber,2024-01-02 11:00:00")
    val bad = CsvSource.castFailures(TestSpark.spark, path, schema)
    assert(bad.select("id").as[String].collect().toSeq === Seq("2"))
  }

  test("writeOrdered round-trips with the declared column order") {
    val dir = TestSpark.tempDir("graft_csvw").toString + "/out"
    val df = Seq((1, "a")).toDF("x", "y")
    CsvSource.writeOrdered(df, Seq("y", "x"), dir)
    val back = TestSpark.spark.read.option("header", "true").csv(dir)
    assert(back.columns.toSeq === Seq("y", "x"))
  }
}

class GeneratorSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  test("customers: deterministic for a seed, row count honored") {
    val a = Generator.customers(TestSpark.spark, 500, seed = 7L).collect()
    val b = Generator.customers(TestSpark.spark, 500, seed = 7L).collect()
    assert(a.length === 500)
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
  }

  test("customers: determinism holds under repartitioning (unlike rand())") {
    val base = Generator.customers(TestSpark.spark, 200, seed = 7L)
    val shuffled = Generator.customers(TestSpark.spark, 200, seed = 7L).repartition(13)
    assert(base.collect().map(_.toString).sorted.toSeq ===
      shuffled.collect().map(_.toString).sorted.toSeq)
  }

  test("customers: tier weights are roughly honored") {
    val tiers = Generator.customers(TestSpark.spark, 4000, seed = 7L)
      .groupBy("customer_tier").count().as[(String, Long)].collect().toMap
    assert(math.abs(tiers("BRONZE") / 4000.0 - 0.40) < 0.05)
    assert(math.abs(tiers("PLATINUM") / 4000.0 - 0.10) < 0.05)
  }

  test("transactions: amount = round(qty * price, 2) and fee is 0.1%") {
    val tx = Generator.transactions(TestSpark.spark, 300, nCustomers = 50, seed = 7L)
    val bad = tx.filter(
      abs(col("transaction_amount") - round(col("quantity") * col("price_per_unit"), 2)) > 1e-9 ||
      col("fee_amount") < 0 || col("fee_amount") > col("transaction_amount") * 0.1)
    assert(bad.count() === 0)
    // every customer id refers to the generated customer spine
    assert(tx.filter(!col("customer_id").rlike("^CUST-\\d{8}$")).count() === 0)
  }
}
