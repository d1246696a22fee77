package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.quality.{Checks, ReferenceTests}
import graft.vault.Models

/** `batch_dag`: the reference's daily flow, lake CSV -> vault -> marts ->
  * DQ, repeated over one seeded lake for the measuring window. One pass:
  * permissive load + cast-failure audit, shared vault fill, every mart and
  * semantic view written to parquet, the ported DQ suite summarised, and
  * the shared cache released.
  */
object BatchDag extends Workload {
  val name = "batch_dag"

  val Full = Lake.Size(transactions = 120000, customers = 12000, corporates = 600,
    priceDays = 30, newsPerTicker = 200)
  val Small = Lake.Size(transactions = 2000, customers = 200, corporates = 20,
    priceDays = 20, newsPerTicker = 10)
  val BadEvery = 250

  private def lake(dir: String, small: Boolean) = s"$dir/lake${if (small) "_small" else ""}"
  @volatile private var truth: Lake.Truth = _
  @volatile private var smallTruth: Lake.Truth = _

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    truth = Lake.write(spark, lake(dir, false), Full, seed, BadEvery)
    smallTruth = Lake.write(spark, lake(dir, true), Small, seed + 1, BadEvery)
  }

  def inputFacts(dir: String): Map[String, String] = Map(
    "raw_rows" -> truth.rawRows.toString, "transaction_rows" -> truth.txRows.toString,
    "malformed_cells" -> truth.malformedCells.toString, "tables" -> Lake.tableNames.size.toString,
    "size" -> Full.toString)

  /** Every mart and semantic view the reference materializes as a table. */
  def marts(m: Models): Seq[(String, DataFrame)] = Seq(
    "dim_company" -> m.dimCompany,
    "dim_customer_history" -> m.dimCustomerHistory,
    "dim_customer" -> m.dimCustomer,
    "dim_asset" -> m.dimAsset,
    "fct_transactions" -> m.fctTransactions,
    "fct_asset_prices" -> m.fctAssetPrices,
    "fct_news_events" -> m.fctNewsEvents,
    "fct_asset_price_comparison" -> m.fctAssetPriceComparison,
    "fct_asset_news_impact" -> m.fctAssetNewsImpact,
    "semantic_customer_overview" -> m.semanticCustomerOverview,
    "semantic_transactions" -> m.semanticTransactions,
    "semantic_asset_performance" -> m.semanticAssetPerformance,
    "semantic_asset_overview" -> m.semanticAssetOverview)

  /** The lake's raw tables, read permissively against their schemas. */
  def loadRaw(spark: SparkSession, lakeDir: String): Models.Raw = {
    def read(n: String) = Lake.read(spark, lakeDir, n)
    Models.Raw(
      transactionPersonal = read("raw_transaction_personal"),
      transactionCorporate = read("raw_transaction_corporate"),
      customers = read("raw_customers"),
      corporates = read("raw_corporates"),
      news = read("raw_news"),
      cryptoPrices = Lake.CryptoFeeds.map(f => f -> read(s"raw_cryptoprices_$f")).toMap,
      stockPrices = read("raw_stock_prices_yfinance"))
  }

  private final case class Pass(wallNs: Long, publishMs: Seq[Double])

  /** One lake -> DQ pass; outputs land under `out`. */
  private def pass(spark: SparkSession, lakeDir: String, out: String, t: Lake.Truth,
      tracer: Tracer, ops: Ops, heap: Option[HeapPeak]): Pass = {
    val t0 = System.nanoTime()
    var excluded = 0L
    val raw = tracer.span("sources.load_raw") {
      val raw = loadRaw(spark, lakeDir)
      val castFailures = Lake.castFailures(spark, lakeDir, Lake.tableNames)
      ops.check(s"castFailures $castFailures == planted ${t.malformedCells}",
        castFailures == t.malformedCells)
      raw
    }
    val models = Models(raw).persistShared()
    tracer.span("vault.shared_fill")(models.materializeShared())
    heap.foreach(h => excluded += h.sample())
    val publishMs = tracer.span("vault.marts") {
      marts(models).flatMap { case (mart, df) =>
        val p0 = System.nanoTime()
        ops.attempt(s"publish $mart")(df.write.mode("overwrite").parquet(s"$out/$mart"))
          .map(_ => (System.nanoTime() - p0) / 1e6)
      }
    }
    val dq = tracer.span("quality.dq") {
      val rows = ops.attempt("dq summary")(Checks.summary(ReferenceTests.all(models)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq)
      rows.foreach(r => tracer.rows(r.size))
      rows
    }
    dq.foreach { rows =>
      ops.check(s"dq summary all zero (${rows.filter(_._2 != 0).mkString(", ")})",
        rows.size == ReferenceTests.all(models).size && rows.forall(_._2 == 0L))
    }
    tracer.span("vault.release")(models.unpersistShared())
    Pass(System.nanoTime() - t0 - excluded, publishMs)
  }

  def warm(spark: SparkSession, dir: String, seed: Long, ops: Ops): Unit =
    pass(spark, lake(dir, true), s"$dir/out_small", smallTruth, new Tracer(spark.sparkContext, false),
      ops, None)

  def measure(spark: SparkSession, dir: String, seed: Long, seconds: Double,
      tracer: Tracer, heap: HeapPeak, ops: Ops): Measured = {
    val out = s"$dir/out"
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val start = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds)
      passes += pass(spark, lake(dir, false), out, truth, tracer, ops,
        if (passes.isEmpty) Some(heap) else None)
    // outputs of the last pass: fingerprinted, and the fact checked against
    // the generated transactions
    val fps = marts(Models(loadRaw(spark, lake(dir, false)))).map { case (mart, _) =>
      mart -> Fingerprint.of(spark.read.parquet(s"$out/$mart"))
    }.toMap
    ops.check(s"fct rows ${Fingerprint.rows(fps("fct_transactions"))} == generated ${truth.txRows}",
      Fingerprint.rows(fps("fct_transactions")) == truth.txRows)
    val wallS = Stats.median(passes.map(_.wallNs / 1e9).toSeq)
    Measured(
      endToEnd = Map("freshness_p50_s" -> wallS),
      layer = Map.empty,
      fingerprints = fps,
      info = Map("passes" -> passes.size.toString,
        "pass_s" -> passes.map(p => f"${p.wallNs / 1e9}%.3f").mkString(","),
        "publish_p50_ms" -> Stats.median(passes.flatMap(_.publishMs).toSeq).toString))
  }
}
