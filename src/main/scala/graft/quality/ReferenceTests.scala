package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.vault.Models

/** The reference's singular data-quality test corpus (ALL 20 SQL files
  * under `tests/`; pattern: each SELECT must return zero rows —
  * `tests/README_TESTS.md`),
  * ported one-for-one as violation DataFrames over the engine's model DAG,
  * plus hub/link grain and relationship checks from the schema tests.
  * Names mirror the reference test files.
  */
object ReferenceTests {

  /** The reference's email well-formedness predicate, translated LIKE for
    * LIKE (`tests/test_email_format_valid.sql:10-15`): null emails pass;
    * otherwise require the \%_@_%._%\ shape, no leading/trailing @, and
    * length >= 5. Exposed so a spec can prove the check DETECTS malformed
    * values (the fixture corpus itself is clean by construction).
    */
  def emailFormatValid(email: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    email.isNull || (
      email.like("%@%.%") && !email.like("@%") && !email.like("%@") &&
        length(email) >= 5 && email.like("%_@_%._%"))

  /** All ported singular tests over a model DAG input. */
  def all(models: Models): Seq[(String, DataFrame)] = {
    val raw = models.raw
    val tx = raw.transactionPersonal.unionByName(raw.transactionCorporate)
    val history = models.dimCustomerHistory
    val impact = models.fctAssetNewsImpact
    val comparison = models.fctAssetPriceComparison
    val stock = raw.stockPrices

    Seq(
      // test_customer_id_not_null.sql
      "customer_id_not_null" -> Checks.notNull(raw.customers, Seq("customer_id")),

      // test_transaction_type_valid.sql
      "transaction_type_valid" ->
        Checks.acceptedValues(tx, "transaction_type", Seq("BUY", "SELL")),

      // test_customer_tier_valid.sql (trimmed domain check)
      "customer_tier_valid" -> Checks.invariant(tx,
        trim(col("customer_tier")).isin("BRONZE", "SILVER", "GOLD", "PLATINUM")),

      // test_risk_tolerance_valid.sql
      "risk_tolerance_valid" -> Checks.acceptedValues(raw.customers, "risk_tolerance",
        Seq("CONSERVATIVE", "MODERATE", "AGGRESSIVE")),

      // test_asset_type_valid.sql
      "asset_type_valid" -> Checks.invariant(tx,
        upper(col("asset_type")).isin("STOCK", "CRYPTO")),

      // test_transaction_fee_reasonable.sql: fee in [0, min(amount, 10%)]
      "transaction_fee_reasonable" -> Checks.invariant(tx,
        col("fee_amount") >= 0 &&
          col("fee_amount") <= least(col("transaction_amount"), col("transaction_amount") * 0.1)),

      // test_transaction_date_consistency.sql: data_date = date(ts)
      "transaction_date_consistency" -> Checks.invariant(tx,
        col("data_date") === to_date(col("transaction_timestamp"))),

      // test_volume_positive.sql
      "volume_positive" -> Checks.invariant(
        models.fctAssetPrices, col("volume") >= 0),

      // test_stock_price_range_valid.sql: low <= open,close <= high
      "stock_price_range_valid" -> Checks.invariant(stock,
        col("low_price") <= col("open_price") && col("open_price") <= col("high_price") &&
          col("low_price") <= col("close_price") && col("close_price") <= col("high_price")),

      // test_price_comparison_variance.sql: cross-source spread <= 20%
      "price_comparison_variance" -> Checks.invariant(comparison,
        coalesce(abs(col("price_binance") - col("price_coingecko"))
          / nullif(col("price_binance"), lit(0)) <= 0.2, lit(true))),

      // test_price_data_freshness.sql: last observation <= 7 days before
      // the corpus as-of date (fixed here for determinism)
      "price_data_freshness" -> models.satAssetPriceCrypto
        .groupBy(col("asset_hk"))
        .agg(max(col("observed_at")).as("last_obs"))
        .filter(datediff(lit("2024-01-22").cast("date"), to_date(col("last_obs"))) > 7),

      // test_news_published_date_not_future.sql (fixed as-of date)
      "news_published_date_not_future" -> Checks.invariant(raw.news,
        col("date") <= lit("2024-02-01 00:00:00").cast("timestamp")),

      // test_url_format_valid.sql
      "url_format_valid" -> Checks.invariant(raw.news,
        col("url").like("http://%") || col("url").like("https://%")),

      // test_news_impact_returns_calculation.sql: |return - recomputed| <= 1e-4
      "news_impact_returns_calculation" -> Checks.invariant(
        impact.filter(col("v_t1").isNotNull),
        abs(col("return_1d") - (col("v_t1") - col("v_t0")) / col("v_t0")) <= 1e-4),

      // test_scd2_effective_dates.sql: from < to, current iff 9999-12-31
      "scd2_effective_dates" -> Checks.invariant(history,
        col("effective_from") < col("effective_to") &&
          (col("is_current") === (col("effective_to") === lit("9999-12-31 00:00:00").cast("timestamp")))),

      // test_customer_history_no_overlaps.sql: lead-based interval chain
      "customer_history_no_overlaps" -> Checks.invariant(
        history.withColumn("__next_from",
          lead(col("effective_from"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("customer_id")).orderBy(col("effective_from")))),
        col("__next_from").isNull || col("effective_to") <= col("__next_from")),

      // test_year_founded_reasonable.sql
      "year_founded_reasonable" -> Checks.invariant(raw.corporates,
        col("year_founded") >= 1800 && col("year_founded") <= 2026),

      // test_email_format_valid.sql:10-15 — over the current customer dim
      "email_format_valid" -> Checks.invariant(
        models.dimCustomer, emailFormatValid(col("email_addr"))),

      // test_week52_price_range_valid.sql — 52-week high >= low on the
      // latest stock snapshot per symbol (the dim_asset week-52 source)
      "week52_price_range_valid" -> Checks.invariant(
        graft.operators.Dedup.firstRows(stock, Seq("symbol"), Seq(col("date").desc)),
        col("week_52_high").isNull || col("week_52_low").isNull ||
          col("week_52_high") >= col("week_52_low")),

      // is_active_null.sql — despite the file name, the reference SQL
      // checks `customer_id is null` on dim_customer (tests/is_active_null
      // .sql:3-5); ported faithfully to what the test DOES
      "is_active_null" -> Checks.notNull(models.dimCustomer, Seq("customer_id")),

      // schema unique tests: hub/link grain
      "hub_transaction_unique" -> Checks.unique(models.hubTransaction, Seq("transaction_hk")),
      "link_customer_transaction_unique" ->
        Checks.unique(models.linkCustomerTransaction, Seq("customer_transaction_hk")),
      "link_company_transaction_unique" ->
        Checks.unique(models.linkCompanyTransaction, Seq("company_transaction_hk")),
      "hub_news_url_grain_unique" -> Checks.unique(models.hubNews, Seq("url")),
      // every corporate-link company resolves in hub_company
      "link_company_relationship" -> Checks.relationships(
        models.linkCompanyTransaction, "company_hk",
        models.hubCompany, "company_hk"),

      // relationships: every fact row resolves to a current customer
      "fct_customer_relationship" -> Checks.relationships(
        models.fctTransactions, "customer_id", raw.customers, "customer_id"))
  }
}
