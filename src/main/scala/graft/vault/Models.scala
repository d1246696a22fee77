package graft.vault

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{DriverPool, Materialize}
import graft.functions.Hashing
import graft.operators.{Dedup, EventWindows, Scd2}

/** The reference's complete named model DAG (`models/`): 5 hubs, 5 links,
  * 7 satellites, 3 ephemerals, 9 marts, semantic views — each dbt SQL file
  * re-expressed as one DataFrame function with the same grain, keys, and
  * semantics (file citations inline). `Raw` carries the nine raw-table
  * inputs; every model is a pure function, so the DAG composes lazily and
  * Catalyst optimizes across model boundaries (the reference's ephemeral
  * inlining for free — SURVEY §4).
  *
  * Documented deviations from the reference SQL (each deliberate):
  *   - asset keys use the full feed symbol + upper-cased type
  *     (`("BTC-USD","CRYPTO")`) rather than `(upper(base_currency),
  *     lower(type))` — internally consistent across hub/links/sats, which
  *     is what the joins require.
  *   - `sat_asset_price_*` does NOT replicate the reference's
  *     `asset_source = hub_asset.record_source` join term
  *     (`sat_asset_price_crypto.sql:82-86`) on the FULL sat: hub_asset
  *     keeps one earliest `record_source` per asset (`hub_asset.sql:20-25`),
  *     so that term silently drops every other feed's prices — with tied
  *     load timestamps it is even nondeterministic which feed survives. The
  *     multi-source comparison mart (`fct_asset_price_comparison.sql`)
  *     only works when all feeds reach the sat, so this engine keeps them —
  *     and DETERMINIZES the reference's single-feed semantics as
  *     `satAssetPriceCryptoPrimary`: the kept feed per asset is the
  *     highest-priority feed present (`Models.feedPriority` —
  *     BINANCE > COINGECKO > YFINANCE > others alphabetically), a
  *     reproducible choice where the reference's is load-order luck.
  */
object Models {

  def apply(raw: Raw): Models = new Models(raw)

  /** The nine raw tables (SURVEY §1.2) plus the optional `asset_info` seed
    * (reference `seeds/seeds.yml:4-35`). Crypto price maps are keyed by
    * source name (binance/coingecko/yfinance/...).
    */
  final case class Raw(
      transactionPersonal: DataFrame,
      transactionCorporate: DataFrame,
      customers: DataFrame,
      corporates: DataFrame,
      news: DataFrame,
      cryptoPrices: Map[String, DataFrame],
      stockPrices: DataFrame,
      assetInfo: Option[DataFrame] = None)

  /** Deterministic feed-priority rank for the crypto price sources —
    * BINANCE (1) > COINGECKO (2) > YFINANCE (3) > anything else (9, broken
    * alphabetically by the caller). Replaces the reference's "whichever
    * feed loaded first" hub record_source with a reproducible ordering
    * (`sat_asset_price_crypto.sql:85-90` ⋈ `hub_asset.sql:20-25`).
    */
  def feedPriority(src: Column): Column =
    when(lower(src) === "binance", lit(1))
      .when(lower(src) === "coingecko", lit(2))
      .when(lower(src) === "yfinance", lit(3))
      .otherwise(lit(9))

  /** categorize_news macro parity (`macros/categorize_news.sql:1-8`):
    * keyword classification of a news title into the reference's four
    * categories.
    */
  def categorizeNews(title: Column): Column =
    when(lower(title).like("%crypto%"), lit("Crypto"))
      .when(lower(title).like("%stock%"), lit("Stock"))
      .when(lower(title).like("%market%"), lit("Market"))
      .otherwise(lit("General"))
}

/** One DAG instantiation over a Raw input: every model is a lazy val, so
  * shared upstream models (hubs, price sats, facts) are constructed once
  * per run however many downstream marts reference them — and a caller can
  * cache any lazy val (`Materialize.cache`) before materializing several
  * dependents.
  */
final class Models(val raw: Models.Raw) {
  import Models.Raw

  // ---------------------------------------------------------------- hubs

  /** hub_customer.sql:9-36 — W1 earliest-wins over customer_id + md5 key. */
  lazy val hubCustomer: DataFrame =
    DataVault.hub(raw.customers, Seq("customer_id"), "customer_hk",
      "load_timestamp", col("source"), Seq(col("load_timestamp"), col("customer_id")))

  /** hub_company.sql:17-37. */
  lazy val hubCompany: DataFrame =
    DataVault.hub(raw.corporates, Seq("company_id"), "company_hk",
      "load_timestamp", col("source"), Seq(col("load_timestamp"), col("company_id")))

  /** hub_transaction.sql:13-60 — union of personal+corporate first (U2). */
  lazy val hubTransaction: DataFrame =
    DataVault.hub(
      raw.transactionPersonal.unionByName(raw.transactionCorporate),
      Seq("transaction_id"), "transaction_hk",
      "load_timestamp", col("source"), Seq(col("load_timestamp"), col("transaction_id")))

  /** ephemeral_news.sql:8-29 — dedup raw news on (url, ticker, asset_type),
    * earliest (load_timestamp, source) wins. Every news consumer (hub, sat,
    * link) reads this, so duplicate scrapes of the same article collapse
    * before they can fan out.
    */
  lazy val ephemeralNews: DataFrame =
    Dedup.firstRows(
      raw.news.withColumn("ticker", upper(col("ticker")))
        .withColumn("asset_type", upper(col("asset_type"))),
      Seq("url", "ticker", "asset_type"),
      Seq(col("load_timestamp"), col("source")))

  /** hub_news.sql:8-37 — grain is `url` alone (an article shared across
    * tickers is ONE hub row); news_hk = generate_surrogate_key(['url']).
    */
  lazy val hubNews: DataFrame =
    DataVault.hub(ephemeralNews, Seq("url"), "news_hk",
      "load_timestamp", col("source"), Seq(col("load_timestamp"), col("source")))

  /** ephemeral_asset.sql:5-65 (U1) — all assets across price sources +
    * transactions, typed and deduped; hub_asset.sql:21-44 keys it.
    */
  lazy val ephemeralAsset: DataFrame = {
    val fromCrypto = raw.cryptoPrices.values.map(
      _.select(upper(col("symbol")).as("asset_symbol"), lit("CRYPTO").as("asset_type")))
      .reduce(_ unionByName _)
    val fromStock = raw.stockPrices
      .select(upper(col("symbol")).as("asset_symbol"), lit("STOCK").as("asset_type"))
    val fromTx = raw.transactionPersonal.unionByName(raw.transactionCorporate)
      .select(upper(col("asset_symbol")).as("asset_symbol"), upper(col("asset_type")).as("asset_type"))
    fromCrypto.unionByName(fromStock).unionByName(fromTx).distinct()
  }

  /** hub_asset.sql:21-44 — key over (symbol, type). */
  lazy val hubAsset: DataFrame =
    ephemeralAsset.select(
      Hashing.surrogateKey(col("asset_symbol"), col("asset_type")).as("asset_hk"),
      col("asset_symbol"), col("asset_type"))

  // --------------------------------------------------------------- links

  /** link_customer_transaction.sql:15-85 (J1 over the U2 union). */
  lazy val linkCustomerTransaction: DataFrame =
    DataVault.link(
      raw.transactionPersonal.unionByName(raw.transactionCorporate),
      Seq("customer_hk" -> Seq("customer_id"), "transaction_hk" -> Seq("transaction_id")),
      "customer_transaction_hk", "load_timestamp", col("source"),
      Seq(col("load_timestamp"), col("transaction_id")))

  /** link_transaction_asset.sql:15-66 (J2 case-normalized). */
  lazy val linkTransactionAsset: DataFrame = {
    val tx = raw.transactionPersonal.unionByName(raw.transactionCorporate)
      .withColumn("asset_symbol", upper(col("asset_symbol")))
      .withColumn("asset_type", upper(col("asset_type")))
    DataVault.link(tx,
      Seq("transaction_hk" -> Seq("transaction_id"),
        "asset_hk" -> Seq("asset_symbol", "asset_type")),
      "transaction_asset_hk", "load_timestamp", col("source"),
      Seq(col("load_timestamp"), col("transaction_id")))
  }

  /** link_company_transaction.sql:14-91 — corporate transactions only
    * (`customer_id` there IS the company id), and only those whose company
    * resolves in hub_company (the reference's inner hub join): a corporate
    * trade from an unregistered company yields no link row.
    */
  lazy val linkCompanyTransaction: DataFrame = {
    val src = raw.transactionCorporate.select(
      col("transaction_id"), col("customer_id").as("company_id"),
      col("load_timestamp"), col("source").as("record_source"))
    val resolved = src
      .join(broadcast(hubCompany.select(col("company_hk"), col("company_id"))), Seq("company_id"))
      .join(hubTransaction.select(col("transaction_hk"), col("transaction_id")), Seq("transaction_id"))
    Dedup.firstRows(resolved, Seq("company_hk", "transaction_hk"),
      Seq(col("load_timestamp"), col("transaction_id")))
      .select(
        Hashing.surrogateKey(col("company_hk"), col("transaction_hk")).as("company_transaction_hk"),
        col("company_hk"), col("transaction_hk"),
        col("load_timestamp"), col("record_source"))
  }

  /** link_customer_company.sql:23-40 — only customers with a company. */
  lazy val linkCustomerCompany: DataFrame =
    DataVault.link(raw.customers.filter(col("company_id").isNotNull),
      Seq("customer_hk" -> Seq("customer_id"), "company_hk" -> Seq("company_id")),
      "customer_company_hk", "load_timestamp", col("source"),
      Seq(col("load_timestamp"), col("customer_id")))

  /** link_news_asset.sql:15-88 (J2) — news_hk from url alone, asset member
    * from (ticker, type); reads the deduped ephemeral_news.
    */
  lazy val linkNewsAsset: DataFrame =
    DataVault.link(ephemeralNews,
      Seq("news_hk" -> Seq("url"), "asset_hk" -> Seq("ticker", "asset_type")),
      "news_asset_hk", "load_timestamp", col("source"),
      Seq(col("load_timestamp"), col("url")))

  // ---------------------------------------------------------- satellites

  /** sat_customer_profile.sql:41-75 — insert-only attribute history. */
  lazy val satCustomerProfile: DataFrame =
    DataVault.satellite(raw.customers, Seq("customer_id"), "customer_hk",
      Seq("customer_tier", "risk_tolerance", "age_group"), "load_timestamp")

  /** sat_company_details.sql:41-75. */
  lazy val satCompanyDetails: DataFrame =
    DataVault.satellite(raw.corporates, Seq("company_id"), "company_hk",
      Seq("company_name", "company_type", "country", "year_founded"), "load_timestamp")

  /** sat_transaction_personal.sql:15-100 / sat_transaction_corp.sql — the
    * full attribute payload, with the hashdiff over exactly the reference's
    * 14 attribute columns (`sat_transaction_personal.sql:60-75`); keys and
    * metadata are carried but not hashed.
    */
  def satTransaction(tx: DataFrame): DataFrame =
    DataVault.satellite(tx, Seq("transaction_id"), "transaction_hk",
      Seq("transaction_id", "customer_id", "asset_type", "asset_symbol",
        "transaction_type", "quantity", "price_per_unit", "transaction_amount",
        "fee_amount", "transaction_timestamp", "data_date", "customer_tier",
        "customer_risk_tolerance", "customer_type", "data_source"),
      "load_timestamp",
      hashAttrs = Seq("customer_id", "asset_type", "asset_symbol",
        "transaction_type", "quantity", "price_per_unit", "transaction_amount",
        "fee_amount", "transaction_timestamp", "data_date", "customer_tier",
        "customer_risk_tolerance", "customer_type", "data_source"),
      sourceCol = Some(col("source")))

  /** ephemeral_sat_transaction_full.sql:4-6 (U5 union distinct). */
  lazy val ephemeralSatTransactionFull: DataFrame =
    satTransaction(raw.transactionPersonal)
      .union(satTransaction(raw.transactionCorporate)).distinct()

  /** sat_asset_price_crypto.sql:15-103 (U3 of the crypto sources) — grain
    * asset_hk + observed_at + record_source + hashdiff; hashdiff over the
    * reference's 5 price attributes (`:66-72`). See the object Scaladoc
    * for why the hub record_source join term is not replicated.
    */
  lazy val satAssetPriceCrypto: DataFrame =
    raw.cryptoPrices.values.map(
      _.select(
        Hashing.surrogateKey(upper(col("symbol")), lit("CRYPTO")).as("asset_hk"),
        col("symbol"), col("base_currency"), col("quote_currency"),
        col("price"), col("volume"), col("source").as("record_source"),
        col("observed_at"),
        Hashing.hashdiff(col("symbol"), col("base_currency"), col("quote_currency"),
          col("price"), col("volume")).as("hashdiff")))
      .reduce(_ unionByName _)

  /** One (asset_hk, record_source) row per asset: the DETERMINISTIC
    * realization of hub_asset's per-asset record_source
    * (`hub_asset.sql:20-25` keeps the earliest-loaded feed — arbitrary
    * under tied load timestamps). The kept feed is the highest-priority
    * feed actually present for the asset (`Models.feedPriority`, ties
    * broken alphabetically), so reruns and replays always agree.
    * Tiny dimension (one row per asset) — broadcasts.
    */
  lazy val assetPrimaryFeed: DataFrame =
    satAssetPriceCrypto
      .groupBy(col("asset_hk"))
      .agg(min(struct(
        Models.feedPriority(col("record_source")).as("p"),
        col("record_source").as("s"))).as("__m"))
      .select(col("asset_hk"), col("__m.s").as("record_source"))

  /** sat_asset_price_crypto restricted to each asset's primary feed — the
    * reference's `asset_source = hub_asset.record_source` join term
    * (`sat_asset_price_crypto.sql:85-90`), determinized via
    * `assetPrimaryFeed`. Use this where the reference's single-feed sat
    * semantics are wanted; the full multi-feed sat stays the input for the
    * comparison mart. Map-only at scale: the primary-feed dim broadcasts.
    */
  lazy val satAssetPriceCryptoPrimary: DataFrame =
    satAssetPriceCrypto.join(broadcast(assetPrimaryFeed), Seq("asset_hk", "record_source"))

  /** sat_asset_price_stock.sql:15-103 — hashdiff over the reference's OHLCV
    * attribute set (`:70-78`, minus the columns this feed doesn't carry).
    */
  lazy val satAssetPriceStock: DataFrame = {
    val src =
      if (raw.stockPrices.columns.contains("source")) raw.stockPrices
      else raw.stockPrices.withColumn("source", lit(null).cast("string"))
    src.select(
      Hashing.surrogateKey(upper(col("symbol")), lit("STOCK")).as("asset_hk"),
      col("open_price"), col("high_price"), col("low_price"), col("close_price"),
      col("volume"), col("date").as("price_date"),
      col("date").cast("timestamp").as("observed_at"),
      // ephemeral_asset.sql:44 — stock source defaults to yfinance
      coalesce(col("source"), lit("yfinance")).as("record_source"),
      Hashing.hashdiff(col("open_price"), col("high_price"), col("low_price"),
        col("close_price"), col("volume")).as("hashdiff"))
  }

  /** sat_news_content.sql:15-63 — insert-only content satellite over the
    * deduped ephemeral_news, keyed by url-grain news_hk; hashdiff covers
    * (published_date, title, description, image) (`:36-41`) so a changed
    * date or image IS a new version.
    */
  lazy val satNewsContent: DataFrame =
    ephemeralNews.select(
      Hashing.surrogateKey(col("url")).as("news_hk"),
      col("url"),
      col("date").as("published_date"),
      col("title"), col("description"), col("image"),
      col("source").as("record_source"),
      col("load_timestamp"),
      Hashing.hashdiff(col("date"), col("title"), col("description"), col("image"))
        .as("hashdiff"))

  // --------------------------------------------------------------- marts

  /** dim_company.sql:29-51 — W2 latest-wins snapshot. */
  lazy val dimCompany: DataFrame =
    Dedup.firstRows(raw.corporates, Seq("company_id"),
      Seq(col("load_timestamp").desc, col("company_id")))
      .select(
        Hashing.surrogateKey(col("company_id")).as("company_hk"),
        col("company_id"), col("company_name"), col("company_type"),
        col("country"), col("year_founded"))

  /** dim_customer_history.sql:28-77 — SCD2 over profile versions (W3). */
  lazy val dimCustomerHistory: DataFrame =
    Scd2.intervals(
      raw.customers.select(
        Hashing.surrogateKey(col("customer_id")).as("customer_hk"),
        col("customer_id"), col("email_addr"),
        col("customer_tier"), col("risk_tolerance"),
        col("load_timestamp")),
      Seq("customer_id"), "load_timestamp", Seq(col("load_timestamp")))
      .drop("load_timestamp")

  /** dim_customer.sql:27 — current versions only (P5). */
  lazy val dimCustomer: DataFrame =
    Scd2.current(dimCustomerHistory)

  /** dim_asset.sql:36-105 — hub + latest observed price per asset (W2+U4+J5). */
  lazy val dimAsset: DataFrame = {
    val cryptoLatest = Dedup.firstRows(
      satAssetPriceCrypto, Seq("asset_hk"),
      Seq(col("observed_at").desc, col("record_source").desc))
      .select(col("asset_hk"), col("price").as("latest_price"))
    val stockLatest = Dedup.firstRows(
      satAssetPriceStock, Seq("asset_hk"),
      Seq(col("price_date").desc))
      .select(col("asset_hk"), col("close_price").as("latest_price"))
    hubAsset.join(cryptoLatest.unionByName(stockLatest), Seq("asset_hk"), "left")
  }

  /** dim_asset enriched with the static asset_info seed
    * (`seeds/seeds.yml:4-35`) — classification attributes (class,
    * category, market-cap bucket, sector) joined on (symbol, type).
    * Broadcast: the seed is a small static table.
    */
  lazy val dimAssetEnriched: DataFrame = {
    val seed = raw.assetInfo.getOrElse(
      raw.customers.sparkSession.emptyDataFrame
        .select(Seq("asset_symbol", "asset_type", "asset_name", "asset_category",
          "asset_class", "market_cap_category", "sector")
          .map(n => lit(null).cast("string").as(n)): _*))
    dimAsset.join(
      broadcast(seed.withColumnRenamed("asset_class", "seed_asset_class")),
      Seq("asset_symbol", "asset_type"), "left")
  }

  /** fct_transactions.sql:10-43 — the 5-way star: hub_transaction ⋈
    * link_customer_transaction ⋈ hub_customer ⋈ link_transaction_asset ⋈
    * ephemeral_sat_transaction_full (J4, hubs broadcast), carrying the
    * reference's full column list incl. data_date + record_source.
    */
  lazy val fctTransactions: DataFrame = {
    val t = hubTransaction.select(
      col("transaction_hk"), col("transaction_id"), col("load_timestamp"))
    val lct = linkCustomerTransaction.select(col("transaction_hk"), col("customer_hk"))
    val lta = linkTransactionAsset.select(col("transaction_hk"), col("asset_hk"))
    val r = ephemeralSatTransactionFull.select(
      col("transaction_hk"), col("transaction_type"), col("quantity"),
      col("price_per_unit"), col("transaction_amount"), col("fee_amount"),
      col("transaction_timestamp"), col("data_date"), col("data_source"))
    t.join(lct, Seq("transaction_hk"))
      .join(broadcast(hubCustomer.select(col("customer_hk"), col("customer_id"))),
        Seq("customer_hk"))
      .join(lta, Seq("transaction_hk"))
      .join(r, Seq("transaction_hk"))
      .select(
        col("transaction_hk"), col("transaction_id"), col("customer_id"),
        col("customer_hk"), col("asset_hk"),
        col("transaction_type"), col("quantity"), col("price_per_unit"),
        col("transaction_amount"), col("fee_amount"),
        col("transaction_timestamp").cast("timestamp_ntz").as("transaction_timestamp"),
        col("data_date"),
        col("data_source").as("record_source"),
        col("load_timestamp"))
  }

  /** fct_asset_prices.sql:12-53 — unified crypto+stock prices with
    * asset_class from the union branch and hub-resolved symbol/type (U4+J5).
    */
  lazy val fctAssetPrices: DataFrame = {
    // observed_at normalized to ntz: the crypto feeds may carry instants
    // while the stock sat derives it from a date — the union needs one type
    val crypto = satAssetPriceCrypto.select(
      col("asset_hk"), col("observed_at").cast("timestamp_ntz").as("observed_at"),
      col("price"), col("volume"),
      upper(col("record_source")).as("price_source"),
      lit("crypto").as("asset_class"))
    val stock = satAssetPriceStock.select(
      col("asset_hk"), col("observed_at").cast("timestamp_ntz").as("observed_at"),
      col("close_price").as("price"), col("volume"),
      upper(col("record_source")).as("price_source"),
      lit("stock").as("asset_class"))
    crypto.unionByName(stock)
      .join(broadcast(hubAsset.select(col("asset_hk"), col("asset_symbol"), col("asset_type"))),
        Seq("asset_hk"))
      .select(
        col("asset_hk"), col("asset_symbol"), col("asset_type"),
        col("observed_at"), to_date(col("observed_at")).as("price_date"),
        col("price"), col("volume"), col("price_source"), col("asset_class"))
  }

  /** fct_news_events.sql:9-29 — link ⋈ hub_news ⋈ hub_asset ⋈ sat content. */
  lazy val fctNewsEvents: DataFrame =
    linkNewsAsset.select(col("news_hk"), col("asset_hk"))
      .join(satNewsContent.select(
        col("news_hk"), col("published_date"), col("title"), col("description"),
        col("url"), col("record_source").as("news_source")), Seq("news_hk"))
      .join(broadcast(hubAsset), Seq("asset_hk"))

  /** fct_asset_price_comparison.sql:9-38 — A1 daily avg per source + A2
    * fixed pivot over the three feed names, from the unified price fact.
    */
  lazy val fctAssetPriceComparison: DataFrame =
    fctAssetPrices
      .groupBy(col("asset_hk"), col("price_date"), upper(col("price_source")).as("__src"))
      // pinned back to the sat's decimal(20,8): the per-(asset,day,source)
      // group is a single feed row so the avg is value-exact and scale-8
      // representable — keeping the output scale fixed means a DuckDB
      // replay converts decimal→double identically (hash-gate parity)
      .agg(avg(col("price")).cast(org.apache.spark.sql.types.DecimalType(20, 8))
        .as("daily_price"))
      .groupBy(col("asset_hk"), col("price_date"))
      .pivot("__src", Seq("BINANCE", "COINGECKO", "YFINANCE"))
      .agg(max(col("daily_price")))
      .withColumnsRenamed(Map(
        "BINANCE" -> "price_binance", "COINGECKO" -> "price_coingecko",
        "YFINANCE" -> "price_yfinance"))

  /** fct_asset_news_impact.sql:20-88 — J6 event windows at t0/t1/t3/t7 +
    * derived returns.
    */
  lazy val fctAssetNewsImpact: DataFrame = {
    // avg pinned back to decimal(20,8): the three crypto feeds are exact
    // 1.00x/1.01x/0.99x multiples of one base price, so their mean is the
    // scale-8 base value exactly (and the stock group is a single row) —
    // a fixed output scale keeps decimal→double conversion identical in a
    // DuckDB replay of the mart (hash-gate parity)
    val dailyPrices = fctAssetPrices
      .groupBy(col("asset_hk"), col("price_date"))
      .agg(avg(col("price")).cast(org.apache.spark.sql.types.DecimalType(20, 8))
        .as("daily_price"))
    val newsDates = fctNewsEvents
      .select(col("asset_hk"), col("news_hk"), to_date(col("published_date")).as("news_date"))
    // returns in IEEE double (explicit casts, one operation order): decimal
    // division rounds at engine-chosen scales, double +,-,/ is bit-portable
    val ret = (a: Column, b: Column) =>
      (a.cast("double") - b.cast("double")) / nullif(b.cast("double"), lit(0d))
    EventWindows.impactJoin(newsDates, dailyPrices, Seq("asset_hk"),
      "news_date", "price_date", "daily_price", Seq(0, 1, 3, 7))
      .withColumn("return_1d", ret(col("v_t1"), col("v_t0")))
      .withColumn("return_3d", ret(col("v_t3"), col("v_t0")))
      .withColumn("return_7d", ret(col("v_t7"), col("v_t0")))
      .filter(col("v_t0").isNotNull)
  }

  // ------------------------------------------------------------ semantic

  /** semantic_customer_overview.sql:9-46 — A3 KPI rollup + J5 + P7. */
  lazy val semanticCustomerOverview: DataFrame =
    fctTransactions
      .groupBy(col("customer_hk"), col("customer_id"))
      .agg(
        count(lit(1)).as("total_transactions"),
        sum(col("transaction_amount").cast("decimal(20,2)")).as("total_amount"),
        sum(col("fee_amount").cast("decimal(20,2)")).as("total_fees"),
        max(col("transaction_timestamp")).as("last_transaction_at"))
      .join(dimCustomer.select(col("customer_id"), col("customer_tier"), col("risk_tolerance")),
        Seq("customer_id"), "left")

  /** semantic_transactions.sql:41-45 — fact + asset dim flat view (J2+J5). */
  lazy val semanticTransactions: DataFrame = {
    val assets = hubAsset.select(
      col("asset_hk"),
      col("asset_symbol").as("hub_symbol"),
      col("asset_type").as("hub_type"))
    fctTransactions
      .join(broadcast(assets), Seq("asset_hk"), "left")
      .withColumnRenamed("hub_symbol", "asset_symbol")
      .withColumnRenamed("hub_type", "asset_type")
  }

  /** semantic_asset_performance.sql:10-22 — grain asset_symbol + type +
    * class + price_date + price_source; a pure projection of the unified
    * price fact (the reference materializes it as a view).
    */
  lazy val semanticAssetPerformance: DataFrame =
    fctAssetPrices.select(
      col("asset_symbol"), col("asset_type"), col("asset_class"),
      to_date(col("observed_at")).as("price_date"), col("price_source"),
      col("price"), col("volume"))

  /** semantic_asset_overview-style rollup over prices + news counts. */
  lazy val semanticAssetOverview: DataFrame = {
    val newsCounts = fctNewsEvents.groupBy(col("asset_hk"))
      .agg(count(lit(1)).as("n_news"))
    dimAsset.join(newsCounts, Seq("asset_hk"), "left")
      .withColumn("n_news", coalesce(col("n_news"), lit(0L)))
  }

  /** Mark the shared upstream models for caching, so materializing several
    * marts off one instance computes each hub/sat once instead of once per
    * mart (the execution mode a real DAG run uses — dbt materializes these
    * as tables for the same reason). Lazy: nothing is computed here; the
    * first action over each frame fills its cache. All of these are
    * key-grain frames (≤ one row per business key), orders of magnitude
    * smaller than the raw inputs, so the cache footprint is bounded by the
    * entity counts, not the fact volume.
    */
  def persistShared(): this.type = {
    sharedFrames.foreach(Materialize.cache)
    this
  }

  /** The shared upstream models [[persistShared]] caches. */
  def sharedFrames: Seq[DataFrame] =
    Seq(hubCustomer, hubCompany, hubTransaction, hubAsset, ephemeralNews,
      satNewsContent, ephemeralSatTransactionFull, satAssetPriceCrypto,
      satAssetPriceStock, fctTransactions)

  /** Force the shared cache to fill NOW (one count per frame — cheap, the
    * frames are key-grain). Bench times this as its own `q_dag_warm` line
    * so the one-time DAG cache fill stops being attributed to whichever
    * mart query happens to run first.
    *
    * The fills run as OVERLAPPED jobs from a driver thread pool (guide
    * §2.6): each frame's fill is a small independent job whose tail leaves
    * most executor slots idle, so running them back-to-back serialized the
    * whole warm on the slowest chain. Two dependency waves keep a cached
    * frame's first computation from racing its consumers: wave 1 fills the
    * frames that depend only on raw inputs; wave 2 fills the two frames
    * that read wave-1 caches (satNewsContent <- ephemeralNews,
    * fctTransactions <- hubs + sat union). Values are unchanged — counts
    * have no result the DAG consumes; this is the same concurrency a real
    * DAG runner (dbt) uses for independent models.
    */
  def materializeShared(): this.type = {
    // heaviest fills FIRST (longest-processing-time-first): the pool is
    // capped below the frame count, so a heavy chain submitted last would
    // run alone after the light ones finish and extend the wave's
    // makespan. Order is a scheduling hint only — every frame still fills
    // exactly once. (Measured order on sf0.1: the transaction-sat union
    // and the transaction/asset hubs dominate; hubCompany is trivial.)
    fillConcurrently(Seq(ephemeralSatTransactionFull, hubTransaction,
      hubAsset, satAssetPriceStock, hubCustomer, ephemeralNews,
      satAssetPriceCrypto, hubCompany))
    fillConcurrently(Seq(fctTransactions, satNewsContent))
    this
  }

  /** Run one count-job per frame on the driver pool and wait for all; the
    * first failure stops the other fills and rethrows (same visibility as
    * the sequential fill had). Callers must fill shared cached upstreams
    * BEFORE calling this (DagQueries.vault pins its raw inputs), or
    * concurrent first-computations of the same cached plan duplicate work.
    */
  private def fillConcurrently(frames: Seq[DataFrame]): Unit =
    DriverPool.all(frames.head.sparkSession)(frames.map(f => () => f.count()))

  /** Release the shared cache marked by [[persistShared]] — the teardown
    * half of the memoization contract, for long-lived sessions that are
    * done with this corpus. Blocking so callers can observe storage
    * actually returned before their next measurement.
    */
  def unpersistShared(): this.type = {
    sharedFrames.foreach(Materialize.release(_))
    this
  }
}
