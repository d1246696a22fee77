package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Generator, Seeds}
import graft.vault.Models

/** The reference's complete named model DAG over generated
  * reference-shaped raw tables — grain, key, and semantic checks per model
  * family (the dbt schema-test equivalents).
  *
  * Fixture mirrors the reference generator's identity model
  * (`a1_1_raw_data_faker_generator.py:213-215`): corporate customers are
  * rows in raw_customers whose customer_id IS a company_id, so corporate
  * transactions resolve through BOTH hub_customer (link_customer_
  * transaction) and hub_company (link_company_transaction).
  */
class ModelsSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private val s = TestSpark.spark
  private val loadTs = lit("2024-01-21 20:00:00").cast("timestamp")
  private val cryptoSyms = Seq("BTC-USD", "ETH-USD")
  private val stockSyms = Seq("AAPL", "MSFT", "NVDA")

  private def stamp(df: DataFrame) =
    df.withColumn("load_timestamp", loadTs).withColumn("source", lit("BATCH_DATA"))

  // deterministic company id for bucket i — same recipe as Generator.corporates
  private def companyId(bucket: org.apache.spark.sql.Column) =
    upper(substring(md5(concat(lit(42L), lit("|corp|"), bucket)), 1, 12))

  private lazy val raw = {
    val tx0 = Generator.transactions(s, 800, nCustomers = 150)
      .withColumn("load_timestamp", loadTs).withColumn("source", lit("BATCH_DATA"))
    // corporate transactions: customer_id IS a company id (a1_1:213-215)
    val tx = tx0.withColumn("customer_id",
      when($"customer_type" === "CORPORATE",
        companyId(pmod(xxhash64($"transaction_id"), lit(40))))
        .otherwise($"customer_id"))
    val corp = stamp(Generator.corporates(s, 40))
    // corporate customers: one raw_customers row per company, keyed by its id
    val corporateCustomers = stamp(Generator.customers(s, 40))
      // 1:1 by id suffix so every company bucket has its customer row
      .withColumn("customer_id", companyId(substring($"customer_id", 6, 8).cast("long")))
      .dropDuplicates("customer_id")
    val personalCustomers = stamp(Generator.customers(s, 150))
    Models.Raw(
      transactionPersonal = tx.filter($"customer_type" === "PERSONAL"),
      transactionCorporate = tx.filter($"customer_type" === "CORPORATE"),
      customers = personalCustomers.unionByName(corporateCustomers)
        .withColumn("company_id",
          when(pmod(xxhash64($"customer_id"), lit(5)) === 0,
            companyId(pmod(xxhash64($"customer_id"), lit(40))))),
      corporates = corp,
      news = stamp(Generator.news(s, cryptoSyms, perTicker = 10)),
      // price feeds keep their own `source` column (= feed name, reference
      // a2_0 schema) — only the load timestamp is stamped
      cryptoPrices = Map(
        "binance" -> Generator.cryptoPrices(s, cryptoSyms, 21, "binance").withColumn("load_timestamp", loadTs),
        "coingecko" -> Generator.cryptoPrices(s, cryptoSyms, 21, "coingecko").withColumn("load_timestamp", loadTs),
        "yfinance" -> Generator.cryptoPrices(s, cryptoSyms, 21, "yfinance").withColumn("load_timestamp", loadTs)),
      stockPrices = Generator.stockPrices(s, stockSyms, 21).withColumn("load_timestamp", loadTs),
      assetInfo = Some(Seeds.assetInfo(s,
        cryptoSyms.map(_ -> "CRYPTO") ++ stockSyms.map(_ -> "STOCK"))))
  }

  private lazy val models = Models(raw)
  private lazy val nCustomers = raw.customers.select("customer_id").distinct().count()

  test("hubs: one row per business key, 32-hex md5 keys") {
    assert(models.hubCustomer.count() === nCustomers)
    assert(models.hubTransaction.count() === 800)
    val asset = models.hubAsset
    assert(asset.count() === asset.select("asset_hk").distinct().count())
    assert(asset.filter(!$"asset_hk".rlike("^[0-9a-f]{32}$")).count() === 0)
    // all five traded symbols + price-feed symbols resolve to assets
    assert(asset.count() >= 5)
  }

  test("hub_news grain is url alone; news_hk = sk(url)") {
    val hub = models.hubNews
    assert(hub.count() === hub.select("url").distinct().count())
    val wrongKey = hub.filter(
      $"news_hk" =!= md5(concat_ws("-", coalesce($"url", lit("_dbt_utils_surrogate_key_null_")))))
    assert(wrongKey.count() === 0)
  }

  test("ephemeral_news dedups duplicate scrapes before the sat consumes them") {
    // duplicate every news row with a later load_timestamp: the sat must
    // not produce duplicate (news_hk, hashdiff) rows
    val dupNews = raw.news.unionByName(
      raw.news.withColumn("load_timestamp", $"load_timestamp" + expr("INTERVAL 1 HOUR")))
    val m2 = Models(raw.copy(news = dupNews))
    assert(m2.satNewsContent.count() === models.satNewsContent.count())
    // earliest load wins
    assert(m2.satNewsContent.agg(max($"load_timestamp")).as[java.sql.Timestamp].head()
      === models.satNewsContent.agg(max($"load_timestamp")).as[java.sql.Timestamp].head())
  }

  test("sat_news_content hashdiff covers date+title+description+image") {
    val changedImage = raw.news.withColumn("image", concat($"image", lit("?v=2")))
    val m2 = Models(raw.copy(news = changedImage))
    val origDiffs = models.satNewsContent.select("hashdiff").distinct()
    val newDiffs = m2.satNewsContent.select("hashdiff").distinct()
    // every hashdiff changes when only the image changes
    assert(newDiffs.join(origDiffs, Seq("hashdiff")).count() === 0)
  }

  test("links resolve every transaction to a customer and an asset") {
    assert(models.linkCustomerTransaction.count() === 800)
    val lta = models.linkTransactionAsset
    assert(lta.count() === 800)
    // every link's asset_hk exists in hub_asset (relationships test)
    val orphans = lta.join(models.hubAsset.select("asset_hk"), Seq("asset_hk"), "left_anti")
    assert(orphans.count() === 0)
  }

  test("link_company_transaction: corporate transactions only, resolved via hub_company") {
    val lct = models.linkCompanyTransaction
    assert(lct.count() === raw.transactionCorporate.count())
    val orphans = lct.join(models.hubCompany.select("company_hk"), Seq("company_hk"), "left_anti")
    assert(orphans.count() === 0)
    // link hk is md5 of the member hash keys (md5 of md5s)
    val wrongKey = lct.filter($"company_transaction_hk" =!=
      md5(concat_ws("-", $"company_hk", $"transaction_hk")))
    assert(wrongKey.count() === 0)
  }

  test("satellites carry hashdiffs; crypto price sat unions 3 sources") {
    val sat = models.satAssetPriceCrypto
    assert(sat.count() === 2 * 21 * 3)
    assert(sat.select("record_source").distinct().count() === 3)
    assert(models.satNewsContent
      .filter(!$"hashdiff".rlike("^[0-9a-f]{32}$")).count() === 0)
  }

  test("fct_transactions: 5-way star keeps transaction grain with full column list") {
    val fct = models.fctTransactions
    assert(fct.count() === 800)
    val expected = Seq("transaction_hk", "transaction_id", "customer_id", "customer_hk",
      "asset_hk", "transaction_type", "quantity", "price_per_unit", "transaction_amount",
      "fee_amount", "transaction_timestamp", "data_date", "record_source", "load_timestamp")
    assert(fct.columns.toSeq === expected)
    // every fact row's asset link resolves
    assert(fct.filter($"asset_hk".isNull || $"data_date".isNull).count() === 0)
    // and so does its customer (personal and corporate alike)
    assert(fct.filter($"customer_id".isNull).count() === 0)
  }

  test("fct_asset_prices harmonizes crypto+stock with asset_class per branch") {
    val fap = models.fctAssetPrices
    assert(fap.filter($"price".isNull).count() === 0)
    assert(fap.count() === (2 * 21 * 3) + (3 * 21))
    assert(fap.filter($"asset_class" === "crypto").count() === 2 * 21 * 3)
    assert(fap.filter($"asset_class" === "stock")
      .filter($"price_source" =!= "YFINANCE").count() === 0)
  }

  test("price comparison pivot: one row per asset-day, crypto sources within 20%") {
    val cmp = models.fctAssetPriceComparison
    assert(cmp.count() === (2 * 21) + (3 * 21))
    val spread = cmp.filter(
      abs($"price_binance" - $"price_coingecko") / $"price_binance" > 0.2)
    assert(spread.count() === 0)
  }

  test("news impact: t0 present, derived returns consistent") {
    val impact = models.fctAssetNewsImpact
    assert(impact.count() > 0)
    val bad = impact.filter($"v_t1".isNotNull &&
      abs($"return_1d" - ($"v_t1" - $"v_t0") / $"v_t0") > 1e-4)
    assert(bad.count() === 0)
  }

  test("scd2 dim: current view has exactly one row per customer") {
    val cur = models.dimCustomer
    assert(cur.count() === nCustomers)
    assert(cur.filter(!$"is_current").count() === 0)
  }

  test("semantic_asset_performance: projection grain matches the price fact") {
    val perf = models.semanticAssetPerformance
    assert(perf.columns.toSeq === Seq("asset_symbol", "asset_type", "asset_class",
      "price_date", "price_source", "price", "volume"))
    assert(perf.count() === models.fctAssetPrices.count())
    assert(perf.select("asset_class").distinct().as[String].collect().toSet
      === Set("crypto", "stock"))
  }

  test("asset_info seed enriches dim_asset with classification attributes") {
    val dim = models.dimAssetEnriched
    val classified = dim.filter($"seed_asset_class".isNotNull)
    // the five price-feed assets all classify; tx-only symbol variants may not
    assert(classified.count() >= 5)
    assert(classified.filter($"asset_type" === "CRYPTO")
      .filter($"seed_asset_class" =!= "Cryptocurrency").count() === 0)
  }

  test("all 20 ported reference DQ tests return zero violations") {
    val results = graft.quality.Checks.summary(graft.quality.ReferenceTests.all(models))
      .as[(String, Long)].collect()
    assert(results.length >= 23)
    assert(results.map(_._1).toSet.intersect(
      Set("email_format_valid", "week52_price_range_valid", "is_active_null")).size === 3)
    val failing = results.filter(_._2 > 0)
    assert(failing.isEmpty, s"failing: ${failing.mkString(", ")}")
  }

  test("email_format_valid DETECTS each malformed shape the reference lists") {
    // one row per failure mode of tests/test_email_format_valid.sql + valid
    // controls: nulls and well-formed addresses must pass, nothing else
    val rows = Seq(
      "a@b.c" -> true, "cust-1@example.com" -> true, (null: String) -> true,
      "no-at-sign.com" -> false, "@leading.com" -> false, "trailing@" -> false,
      "a@b." -> false, "@.c" -> false, "x@y" -> false)
    val got = rows.map(_._1).toDF("email_addr")
      .withColumn("ok", graft.quality.ReferenceTests.emailFormatValid($"email_addr"))
      .select("email_addr", "ok").as[(String, Boolean)].collect().toMap
    rows.foreach { case (e, want) => assert(got(e) === want, s"email=$e") }
  }

  test("semantic overview reconciles with the raw transaction totals") {
    val overview = models.semanticCustomerOverview
    val rawTx = raw.transactionPersonal.unionByName(raw.transactionCorporate)
    val expectedTotal = rawTx
      .agg(sum($"transaction_amount".cast("decimal(20,2)"))).as[java.math.BigDecimal].head()
    val gotTotal = overview.agg(sum($"total_amount")).as[java.math.BigDecimal].head()
    assert(gotTotal === expectedTotal)
    val expected = rawTx.groupBy($"customer_id")
      .agg(count(lit(1)).as("n"), sum($"transaction_amount".cast("decimal(20,2)")).as("amt"))
    val got = overview
      .select($"customer_id", $"total_transactions".as("n"), $"total_amount".as("amt"))
    assert(got.except(expected).count() === 0)
    assert(expected.except(got).count() === 0)
    assert(got.count() === expected.count())
    assert(models.semanticAssetOverview.filter($"n_news" > 0).count() === 2)
  }

  test("q_reference_dag is deterministic in the seed: two runs, equal rows") {
    val run = () => SparkEntry.queries("q_reference_dag")(s, "")
      .orderBy("customer_id").collect().toSeq
    val first = run()
    assert(first.nonEmpty)
    assert(run() === first)
  }

  // The generator's own output, unmodified, through the same DAG: the raw
  // tables q_reference_dag builds, at 200 customers and 1000 transactions.
  private lazy val genTx = stamp(Generator.transactions(s, 1000, nCustomers = 200))
  private lazy val generated = Models(Models.Raw(
    transactionPersonal = genTx.filter($"customer_type" === "PERSONAL"),
    transactionCorporate = genTx.filter($"customer_type" === "CORPORATE"),
    customers = stamp(Generator.customers(s, 200)).withColumn("company_id", lit(null).cast("string")),
    corporates = stamp(Generator.corporates(s, 40)),
    news = stamp(Generator.news(s, cryptoSyms, perTicker = 10)),
    cryptoPrices = Seq("binance", "coingecko", "yfinance").map(src =>
      src -> Generator.cryptoPrices(s, cryptoSyms, 21, src).withColumn("load_timestamp", loadTs)).toMap,
    stockPrices = Generator.stockPrices(s, stockSyms, 21).withColumn("load_timestamp", loadTs)))

  test("hubs hold one row per business key with md5 hash keys") {
    assert(generated.hubCustomer.count() === 200)
    assert(generated.hubTransaction.count() === 1000)
    assert(generated.hubCustomer.filter(!$"customer_hk".rlike("^[0-9a-f]{32}$")).count() === 0)
  }

  test("fact keeps the transaction grain and resolves every customer") {
    assert(generated.fctTransactions.count() === 1000)
    assert(generated.fctTransactions.filter($"customer_id".isNull).count() === 0)
  }

  test("semantic overview: per-customer totals reconcile with raw transactions") {
    val expected = genTx.groupBy("customer_id")
      .agg(count(lit(1)).as("n"), sum($"transaction_amount".cast("decimal(20,2)")).as("amt"))
    val got = generated.semanticCustomerOverview
      .select($"customer_id", $"total_transactions".as("n"), $"total_amount".as("amt"))
    assert(got.except(expected).count() === 0)
    assert(got.count() === expected.count())
  }

  test("every data-quality check passes on generated data") {
    val failing = graft.quality.Checks.summary(graft.quality.ReferenceTests.all(generated))
      .filter($"n_violations" > 0).as[(String, Long)].collect()
    assert(failing.isEmpty, s"failing checks: ${failing.mkString(", ")}")
  }
}
