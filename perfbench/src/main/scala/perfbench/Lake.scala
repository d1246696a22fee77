package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schemas.RawSchemas
import graft.sources.{CsvSource, Generator}

/** Seeded CSV lake for the daily DAG: the nine raw tables the vault reads,
  * drawn with `graft.sources.Generator` and written as header CSV, with a
  * planted count of malformed numeric cells (at most one per row, so the
  * cast-failure audit counts rows = cells).
  *
  * Malformed cells go only into columns no data-quality test reads
  * (transaction quantity / price_per_unit, stock market_cap), so the
  * expected DQ summary stays all-zero while the permissive loader still
  * has real cast failures to absorb.
  */
object Lake {

  val LoadTs = "2024-01-31 20:00:00"
  val LaterLoadTs = "2024-02-01 20:00:00"
  val CryptoFeeds = Seq("binance", "coingecko", "yfinance")
  val CryptoSymbols = Seq("BTC-USD", "ETH-USD", "SOL-USD", "ADA-USD", "XRP-USD")
  val StockTickers = Seq("AAPL", "MSFT", "NVDA", "AMZN", "GOOG")

  /** Everything a check needs to know about one generated lake. */
  final case class Truth(rawRows: Long, txRows: Long, malformedCells: Long)

  final case class Size(transactions: Long, customers: Long, corporates: Long,
      priceDays: Int, newsPerTicker: Int)

  /** The lake's table schemas: the generator's columns, typed as in
    * `RawSchemas` wherever the names agree.
    */
  def schemaOf(table: String, generated: DataFrame): StructType = {
    val ref = RawSchemas.all.getOrElse(table, StructType(Nil))
    StructType(generated.schema.fields.map { f =>
      ref.fields.find(_.name == f.name).map(r => f.copy(dataType = r.dataType)).getOrElse(f)
    })
  }

  private def loadTs(ts: String = LoadTs): Column = lit(ts).cast("timestamp")

  /** The nine generated raw tables (before any corruption), by lake name. */
  def tables(spark: SparkSession, size: Size, seed: Long): Seq[(String, DataFrame)] = {
    val custs = Generator.customers(spark, size.customers, seed)
    val personal = custs.select(
      col("customer_id"), col("email_addr"), col("customer_tier"), col("risk_tolerance"),
      col("age_group"), col("registration_date"), lit("PERSONAL").as("customer_type"),
      lit(null).cast("string").as("company_id"), loadTs().as("load_timestamp"),
      lit("BATCH_DATA").as("source"))
    // every 4th customer is re-loaded a day later with an upgraded tier, so
    // the SCD2 history has real intervals
    val upgraded = personal
      .filter(pmod(substring(col("customer_id"), 6, 8).cast("long"), lit(4)) === 0)
      .withColumn("customer_tier", when(col("customer_tier") === "BRONZE", "SILVER")
        .when(col("customer_tier") === "SILVER", "GOLD").otherwise("PLATINUM"))
      .withColumn("load_timestamp", loadTs(LaterLoadTs))
    val corps = Generator.corporates(spark, size.corporates, seed)
      .withColumn("load_timestamp", loadTs())
      .withColumn("source", lit("BATCH_DATA"))
    // corporate "customers" are customer rows keyed by their company id
    val corpCustomers = corps.select(
      col("company_id").as("customer_id"),
      concat(lower(col("company_id")), lit("@corp.example.com")).as("email_addr"),
      lit("GOLD").as("customer_tier"), lit("MODERATE").as("risk_tolerance"),
      lit("51-65").as("age_group"), lit("2023-12-01").cast("date").as("registration_date"),
      lit("CORPORATE").as("customer_type"), col("company_id"),
      loadTs().as("load_timestamp"), lit("BATCH_DATA").as("source"))

    val tx = Generator.transactions(spark, size.transactions, size.customers, seed)
      .withColumn("__n", substring(col("transaction_id"), 5, 10).cast("long"))
    val corpTx = tx.filter(col("customer_type") === "CORPORATE")
      .withColumn("customer_id", upper(substring(md5(concat(lit(seed), lit("|corp|"),
        pmod(xxhash64(lit(seed), col("__n"), lit("corp")), lit(size.corporates)))), 1, 12)))
    val txCols = (t: DataFrame) => t.drop("__n")
      .withColumn("load_timestamp", loadTs()).withColumn("source", lit("BATCH_DATA"))

    val crypto = CryptoFeeds.map { f =>
      s"raw_cryptoprices_$f" -> Generator.cryptoPrices(spark, CryptoSymbols, size.priceDays, f, seed)
        .withColumn("load_timestamp", loadTs())
    }
    val stock = Generator.stockPrices(spark, StockTickers, size.priceDays, seed)
      .withColumn("market_cap", (col("close_price") * 1000000).cast("decimal(28,2)"))
      .withColumn("source", lit("yfinance"))
      .withColumn("load_timestamp", loadTs())
    val news = Generator.news(spark, CryptoSymbols, size.newsPerTicker, seed)
      .withColumn("load_timestamp", loadTs())
      .withColumn("source", lit("NEWS_API"))

    Seq(
      "raw_transaction_personal" -> txCols(tx.filter(col("customer_type") === "PERSONAL")),
      "raw_transaction_corporate" -> txCols(corpTx),
      "raw_customers" -> personal.unionByName(upgraded).unionByName(corpCustomers),
      "raw_corporates" -> corps,
      "raw_news" -> news) ++ crypto ++ Seq("raw_stock_prices_yfinance" -> stock)
  }

  /** Columns that receive planted malformed cells, per table. */
  private val corruptible = Map(
    "raw_transaction_personal" -> Seq("quantity", "price_per_unit"),
    "raw_transaction_corporate" -> Seq("quantity", "price_per_unit"),
    "raw_stock_prices_yfinance" -> Seq("market_cap"))

  /** Write the lake under `dir` (one CSV directory per table) and return
    * the truth about it (negative counts when not `counted`). `badEvery`
    * plants one malformed cell in roughly one row of every `badEvery`.
    */
  def write(spark: SparkSession, dir: String, size: Size, seed: Long, badEvery: Int,
      only: Seq[String] = tableNames, counted: Boolean = true): Truth = {
    var raw, txRows, bad = 0L
    tables(spark, size, seed).filter { case (name, _) => only.contains(name) }.foreach { case (name, df) =>
      val schema = schemaOf(name, df)
      val asText = df.select(df.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
      val cols = corruptible.getOrElse(name, Nil)
      val marked = asText.withColumn("__bad",
        if (cols.isEmpty) lit(-1)
        else when(pmod(xxhash64(lit(seed) +: lit(name) +: asText.columns.map(col).toIndexedSeq: _*),
          lit(badEvery.toLong)) === 0,
          pmod(xxhash64(lit(seed), col(asText.columns.head), lit("col")), lit(cols.size.toLong)).cast("int"))
          .otherwise(lit(-1)))
      val corrupted = marked.select(asText.columns.map { c =>
        val i = cols.indexOf(c)
        if (i < 0) col(c) else when(col("__bad") === i, concat(col(c), lit("x"))).otherwise(col(c)).as(c)
      }.toIndexedSeq :+ col("__bad"): _*)
      val (rows, planted) =
        if (!counted) (-1L, -1L)
        else {
          val r = corrupted.agg(count(lit(1)), sum(when(col("__bad") >= 0, 1L).otherwise(0L))).head()
          (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
        }
      corrupted.drop("__bad").coalesce(if (rows > 200000) 4 else 1)
        .write.mode("overwrite").option("header", "true").csv(s"$dir/$name")
      writeSchema(dir, name, schema)
      raw += rows
      bad += planted
      if (name.startsWith("raw_transaction")) txRows += rows
    }
    Truth(raw, txRows, bad)
  }

  /** One lake table, read permissively against its declared schema. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    CsvSource.readPermissive(spark, s"$dir/$name", readSchema(dir, name))

  /** Rows of the given lake tables that lost a cell to a failed cast. */
  def castFailures(spark: SparkSession, dir: String, names: Seq[String]): Long =
    names.map(n => CsvSource.castFailures(spark, s"$dir/$n", readSchema(dir, n)).count()).sum

  /** The price and news feeds of the live path, which arrive as CSV files:
    * one crypto feed is enough for the transaction marts it republishes.
    */
  val staticFeeds: Seq[String] =
    Seq("raw_cryptoprices_binance", "raw_stock_prices_yfinance", "raw_news")

  private def writeSchema(dir: String, name: String, schema: StructType): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, s"$name.schema.json"), schema.json)

  /** The schema the lake declares for a table. */
  def readSchema(dir: String, name: String): StructType =
    DataType.fromJson(java.nio.file.Files.readString(java.nio.file.Paths.get(dir, s"$name.schema.json")))
      .asInstanceOf[StructType]

  val tableNames: Seq[String] = Seq("raw_transaction_personal", "raw_transaction_corporate",
    "raw_customers", "raw_corporates", "raw_news") ++ CryptoFeeds.map(f => s"raw_cryptoprices_$f") ++
    Seq("raw_stock_prices_yfinance")
}
