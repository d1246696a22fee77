package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Materialize
import graft.vault.Models
import Q.{dec2, t}

/** Hard DuckDB oracles for the named model DAG (`vault.Models`) — the
  * engine's flagship path (reference `models/`, run end-to-end by
  * `scripts/flow/flow__batch_data_s3_snowflake.py:13-110`).
  *
  * The driver testdata tables are mapped into the reference's raw shapes
  * with ONLY exact, engine-portable expressions (integer modulo, string
  * concat, exact decimal sums — no doubles, no engine-local hashing), so
  * an independent DuckDB replay of raw-mapping + vault + marts produces
  * bit-identical rows. This upgrades the whole hub/link/sat/fct/semantic
  * chain from self-attested (spec-only) to hash-verified:
  *
  *   - q_dag_fct_transactions — the 5-way star (fct_transactions.sql)
  *   - q_dag_link_company_tx  — link_company_transaction.sql (md5-of-md5s)
  *   - q_dag_news_content     — ephemeral_news dedup → url-grain hub_news
  *                              → sat_news_content (+ categorize_news)
  *   - q_dag_asset_performance— price sats → fct_asset_prices →
  *                              semantic_asset_performance.sql
  *   - q_dag_customer_overview— semantic_customer_overview.sql over the fct
  *   - q_dag_price_comparison — fct_asset_price_comparison.sql pivot mart
  *   - q_dag_news_impact      — fct_asset_news_impact.sql event windows
  *
  * Identity model mirrors the reference generator
  * (`a1_1_raw_data_faker_generator.py:213-215`): corporate "customers" are
  * raw_customers rows keyed by a company_id, so corporate transactions
  * resolve through hub_customer AND hub_company.
  */
object DagQueries {

  private val loadTsLit = "2024-01-31 20:00:00"
  private val laterLoadTsLit = "2024-02-01 20:00:00"
  private def loadTs = lit(loadTsLit).cast("timestamp_ntz")

  private def tier3(c: org.apache.spark.sql.Column) =
    when(c === 0, "CONSERVATIVE").when(c === 1, "MODERATE").otherwise("AGGRESSIVE")

  /** Map the driver testdata into the reference's raw shapes (exact,
    * DuckDB-replayable derivations only). The raw-mapping frames it pins
    * (transactions, cryptoDaily) belong to the scope open at the call: the
    * vault memo entry's.
    *
    * Pinned via EAGER checkpoint, not a cache mark: every one of the ten
    * shared vault frames and the seven mart queries re-carries the full
    * raw-mapping subtree (crossJoin + generator-expression chains) in its
    * logical plan when the pin is a CacheManager cache, and each of their
    * actions re-pays Catalyst analysis plus per-cache-entry
    * canonicalization over that tree — driver stack samples during
    * q_dag_warm's ~5 s of zero-job gaps sat in RuleExecutor/CacheManager
    * (guide §7.3 "QueryExecution/CacheManager: query planning ...
    * materialise intermediates"). The checkpoint truncates the plan to a
    * LogicalRDD, so downstream plans are joins over two tiny leaves; rows
    * are bit-identical (same deterministic computation, stored).
    */
  private def referenceRaw(s: SparkSession, dir: String): Models.Raw = {
    val cust = t(s, dir, "customer")
    val supp = t(s, dir, "supplier")
    val ord = t(s, dir, "orders")
    val part = t(s, dir, "part")
    val li = t(s, dir, "lineitem")

    val personalCustomers = cust.select(
      concat(lit("CUST-"), lpad(col("c_custkey").cast("string"), 8, "0")).as("customer_id"),
      concat(lit("CUST-"), lpad(col("c_custkey").cast("string"), 8, "0"),
        lit("@example.com")).as("email_addr"),
      when(col("c_mktsegment") === "BUILDING", "BRONZE")
        .when(col("c_mktsegment") === "AUTOMOBILE", "SILVER")
        .when(col("c_mktsegment") === "MACHINERY", "GOLD")
        .when(col("c_mktsegment") === "HOUSEHOLD", "PLATINUM")
        .otherwise("BRONZE").as("customer_tier"),
      tier3(pmod(col("c_nationkey"), lit(3))).as("risk_tolerance"),
      concat(lit("AGE-"), pmod(col("c_custkey"), lit(5)).cast("string")).as("age_group"),
      lit("PERSONAL").as("customer_type"),
      lit(null).cast("string").as("company_id"),
      loadTs.as("load_timestamp"),
      lit("BATCH_DATA").as("source"))

    // every 4th customer got a tier upgrade in a later load: real version
    // history, so the SCD2 dim carries non-trivial intervals and the
    // current-profile join must actually pick the LATEST version
    val upgradedCustomers = cust
      .filter(pmod(col("c_custkey"), lit(4)) === 0)
      .select(
        concat(lit("CUST-"), lpad(col("c_custkey").cast("string"), 8, "0")).as("customer_id"),
        concat(lit("CUST-"), lpad(col("c_custkey").cast("string"), 8, "0"),
          lit("@example.com")).as("email_addr"),
        when(col("c_mktsegment") === "BUILDING", "SILVER")
          .when(col("c_mktsegment") === "AUTOMOBILE", "GOLD")
          .when(col("c_mktsegment") === "MACHINERY", "PLATINUM")
          .when(col("c_mktsegment") === "HOUSEHOLD", "PLATINUM")
          .otherwise("SILVER").as("customer_tier"),
        tier3(pmod(col("c_nationkey"), lit(3))).as("risk_tolerance"),
        concat(lit("AGE-"), pmod(col("c_custkey"), lit(5)).cast("string")).as("age_group"),
        lit("PERSONAL").as("customer_type"),
        lit(null).cast("string").as("company_id"),
        lit(laterLoadTsLit).cast("timestamp_ntz").as("load_timestamp"),
        lit("BATCH_DATA").as("source"))

    val companyId = concat(lit("COMP-"), lpad(col("s_suppkey").cast("string"), 6, "0"))
    val corporateCustomers = supp.select(
      companyId.as("customer_id"),
      concat(companyId, lit("@example.com")).as("email_addr"),
      when(pmod(col("s_suppkey"), lit(4)) === 0, "BRONZE")
        .when(pmod(col("s_suppkey"), lit(4)) === 1, "SILVER")
        .when(pmod(col("s_suppkey"), lit(4)) === 2, "GOLD")
        .otherwise("PLATINUM").as("customer_tier"),
      tier3(pmod(col("s_nationkey"), lit(3))).as("risk_tolerance"),
      lit("AGE-9").as("age_group"),
      lit("CORPORATE").as("customer_type"),
      companyId.as("company_id"),
      loadTs.as("load_timestamp"),
      lit("BATCH_DATA").as("source"))

    val corporates = supp.select(
      companyId.as("company_id"),
      col("s_name").as("company_name"),
      when(pmod(col("s_suppkey"), lit(3)) === 0, "LLC")
        .when(pmod(col("s_suppkey"), lit(3)) === 1, "PRIVATE")
        .otherwise("PUBLIC").as("company_type"),
      concat(lit("N"), col("s_nationkey").cast("string")).as("country"),
      (pmod(col("s_suppkey"), lit(71)) + 1950).cast("int").as("year_founded"),
      loadTs.as("load_timestamp"),
      lit("BATCH_DATA").as("source"))

    // transactions from orders; every 5th is corporate and references a
    // supplier-derived company. The modulus is nsupp + 3, NOT nsupp: the
    // three residues >= nsupp name companies that exist in no raw feed, so
    // the hub-resolution inner joins (link_company_transaction, the fct
    // star, customer KPIs) actually drop rows — without unresolvable
    // fixtures those joins are no-ops and the hash gate can't see whether
    // they exist at all
    val nSupp = broadcast(supp.agg(count(lit(1)).as("__nsupp")))
    val sym5 = pmod(col("o_orderkey"), lit(5))
    // pinned: six vault models (hubs, links, sats) each window/dedup
    // this frame — materialize the mapping once instead of re-reading orders
    // pin returns a NEW checkpointed frame (unlike a cache mark, which
    // applies to the plan in place) — downstream MUST read the returned
    // frame or the truncation does nothing
    val transactions = Materialize.pin(ord.crossJoin(nSupp).select(
      concat(lit("TXN-"), lpad(col("o_orderkey").cast("string"), 10, "0")).as("transaction_id"),
      when(sym5 === 0,
        concat(lit("COMP-"),
          lpad(pmod(col("o_custkey"), col("__nsupp") + lit(3)).cast("string"), 6, "0")))
        .otherwise(concat(lit("CUST-"), lpad(col("o_custkey").cast("string"), 8, "0")))
        .as("customer_id"),
      when(sym5.isin(1, 2, 3), "stock").otherwise("crypto").as("asset_type"),
      when(sym5 === 1, "AAPL").when(sym5 === 2, "MSFT").when(sym5 === 3, "NVDA")
        .when(sym5 === 4, "BTC-USD").otherwise("ETH-USD").as("asset_symbol"),
      when(col("o_orderstatus") === "F", "SELL").otherwise("BUY").as("transaction_type"),
      (pmod(col("o_orderkey"), lit(97)) + 1).cast(DecimalType(20, 8)).as("quantity"),
      dec2(col("o_totalprice")).cast(DecimalType(20, 8)).as("price_per_unit"),
      dec2(col("o_totalprice")).cast(DecimalType(20, 2)).as("transaction_amount"),
      pmod(col("o_orderkey"), lit(50)).cast(DecimalType(20, 2)).as("fee_amount"),
      col("o_orderdate").as("transaction_timestamp"),
      to_date(col("o_orderdate")).as("data_date"),
      when(col("o_orderpriority") === "1-URGENT", "PLATINUM")
        .when(col("o_orderpriority") === "2-HIGH", "GOLD")
        .when(col("o_orderpriority") === "3-MEDIUM", "SILVER")
        .otherwise("BRONZE").as("customer_tier"),
      tier3(pmod(col("o_custkey"), lit(3))).as("customer_risk_tolerance"),
      when(sym5 === 0, "CORPORATE").otherwise("PERSONAL").as("customer_type"),
      lit("BATCH_DATA").as("data_source"),
      loadTs.as("load_timestamp"),
      lit("BATCH_DATA").as("source")))

    // news from part, duplicated with a later load_timestamp so the
    // ephemeral_news earliest-wins dedup is exercised (and verified)
    val newsBase = part.select(
      when(pmod(col("p_partkey"), lit(2)) === 0, "BTC-USD").otherwise("ETH-USD").as("ticker"),
      lit("CRYPTO").as("asset_type"),
      concat(lit("https://news.example.com/p/"), col("p_partkey").cast("string")).as("url"),
      concat(col("p_name"),
        when(pmod(col("p_partkey"), lit(4)) === 0, " crypto surge")
          .when(pmod(col("p_partkey"), lit(4)) === 1, " stock dip")
          .when(pmod(col("p_partkey"), lit(4)) === 2, " market update")
          .otherwise(" general notes")).as("title"),
      col("p_type").as("description"),
      concat(lit("https://img.example.com/"), col("p_partkey").cast("string"), lit(".jpg")).as("image"),
      // news dates sit INSIDE the lineitem ship-date range so the
      // news-impact event windows (t0/t1/t3/t7) find real prices — a
      // 2024 fixture date against 1992-1998 prices would make
      // fct_asset_news_impact vacuously empty and its oracle meaningless
      date_add(lit("1995-06-01").cast("date"), pmod(col("p_partkey"), lit(20)).cast("int"))
        .cast("timestamp_ntz").as("date"),
      lit("NEWS_API").as("source"))
    val news = newsBase.withColumn("load_timestamp", loadTs)
      .unionByName(newsBase.withColumn("load_timestamp",
        lit("2024-01-31 21:00:00").cast("timestamp_ntz")))

    // crypto price feeds: per-(symbol, ship-day) exact decimal sums, one
    // feed per source with an exact decimal factor — value-identical in any
    // engine regardless of aggregation order. The daily aggregate is shared
    // (pinned): the three feeds differ only by their factor, so lineitem
    // is scanned and aggregated ONCE, not once per feed.
    val cryptoDaily = Materialize.pin(li.groupBy(
      when(pmod(col("l_partkey"), lit(2)) === 0, "BTC-USD").otherwise("ETH-USD").as("symbol"),
      to_date(col("l_shipdate")).as("__d"))
      .agg(
        sum(dec2(col("l_extendedprice"))).as("__sum"),
        sum(dec2(col("l_quantity"))).as("__vol")))
    def cryptoFeed(src: String, factor: String): DataFrame =
      cryptoDaily
        .select(
          col("symbol"),
          lower(split(col("symbol"), "-").getItem(0)).as("base_currency"),
          lit("USD").as("quote_currency"),
          (col("__sum") * lit(BigDecimal(factor))).cast(DecimalType(20, 8)).as("price"),
          col("__vol").cast(DecimalType(28, 8)).as("volume"),
          lit(src).as("source"),
          col("__d").cast("timestamp_ntz").as("observed_at"),
          loadTs.as("load_timestamp"))

    val sym3 = pmod(col("l_partkey"), lit(3))
    val stockPrices = li.groupBy(
      when(sym3 === 0, "AAPL").when(sym3 === 1, "MSFT").otherwise("NVDA").as("symbol"),
      to_date(col("l_shipdate")).as("date"))
      .agg(
        min(dec2(col("l_extendedprice"))).as("__lo"),
        max(dec2(col("l_extendedprice"))).as("__hi"),
        sum(dec2(col("l_quantity"))).as("__vol"))
      .select(
        col("symbol"), col("date"),
        col("__lo").cast(DecimalType(20, 8)).as("open_price"),
        col("__hi").cast(DecimalType(20, 8)).as("high_price"),
        col("__lo").cast(DecimalType(20, 8)).as("low_price"),
        col("__hi").cast(DecimalType(20, 8)).as("close_price"),
        col("__vol").cast(DecimalType(28, 8)).as("volume"),
        col("__hi").cast(DecimalType(20, 8)).as("week_52_high"),
        col("__lo").cast(DecimalType(20, 8)).as("week_52_low"),
        loadTs.as("load_timestamp"))

    Models.Raw(
      transactionPersonal = transactions.filter(col("customer_type") === "PERSONAL"),
      transactionCorporate = transactions.filter(col("customer_type") === "CORPORATE"),
      customers = personalCustomers.unionByName(upgradedCustomers)
        .unionByName(corporateCustomers),
      corporates = corporates,
      news = news,
      cryptoPrices = Map(
        "binance" -> cryptoFeed("binance", "1.00"),
        "coingecko" -> cryptoFeed("coingecko", "1.01"),
        "yfinance" -> cryptoFeed("yfinance", "0.99")),
      stockPrices = stockPrices)
  }

  /** The shared vault cache as a memoized family; every DAG query reads it.
    * One Models instance per (session, scale dir): the q_dag_* queries run
    * in the same process (Verify, Bench), and without the memo each
    * re-derived the whole raw mapping + vault chain from parquet — the DAG
    * run a real pipeline does ONCE. The fill (`q_dag_warm`) materializes
    * the shared cache, so the mart queries' numbers reflect their own work
    * rather than the first-query cache fill. The raw pins are eager, so
    * they are fully materialized before any shared fill can observe them —
    * concurrent fills cannot each compute the raw mapping. The memo entry
    * owns the pins and the shared cache, and frees both on release.
    */
  val vault: Shared.Memo[Models] = Shared.memo("q_dag_warm")(
    (s, dir) => Models(referenceRaw(s, dir)).persistShared())(fill = _.materializeShared())

  // ------------------------------------------------------------------ SQL

  /** Shared oracle prefix: the raw mapping + vault chain in DuckDB. */
  private val RawSql = s"""
    WITH nsupp AS (SELECT count(*) AS n FROM supplier),
    raw_customers AS (
      SELECT 'CUST-' || lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS customer_id,
             'CUST-' || lpad(CAST(c_custkey AS VARCHAR), 8, '0') || '@example.com' AS email_addr,
             CASE c_mktsegment WHEN 'BUILDING' THEN 'BRONZE' WHEN 'AUTOMOBILE' THEN 'SILVER'
                  WHEN 'MACHINERY' THEN 'GOLD' WHEN 'HOUSEHOLD' THEN 'PLATINUM'
                  ELSE 'BRONZE' END AS customer_tier,
             CASE c_nationkey % 3 WHEN 0 THEN 'CONSERVATIVE' WHEN 1 THEN 'MODERATE'
                  ELSE 'AGGRESSIVE' END AS risk_tolerance,
             TIMESTAMP '$loadTsLit' AS load_timestamp
      FROM customer
      UNION ALL
      SELECT 'CUST-' || lpad(CAST(c_custkey AS VARCHAR), 8, '0'),
             'CUST-' || lpad(CAST(c_custkey AS VARCHAR), 8, '0') || '@example.com',
             CASE c_mktsegment WHEN 'BUILDING' THEN 'SILVER' WHEN 'AUTOMOBILE' THEN 'GOLD'
                  WHEN 'MACHINERY' THEN 'PLATINUM' WHEN 'HOUSEHOLD' THEN 'PLATINUM'
                  ELSE 'SILVER' END,
             CASE c_nationkey % 3 WHEN 0 THEN 'CONSERVATIVE' WHEN 1 THEN 'MODERATE'
                  ELSE 'AGGRESSIVE' END,
             TIMESTAMP '$laterLoadTsLit'
      FROM customer WHERE c_custkey % 4 = 0
      UNION ALL
      SELECT 'COMP-' || lpad(CAST(s_suppkey AS VARCHAR), 6, '0'),
             'COMP-' || lpad(CAST(s_suppkey AS VARCHAR), 6, '0') || '@example.com',
             CASE s_suppkey % 4 WHEN 0 THEN 'BRONZE' WHEN 1 THEN 'SILVER'
                  WHEN 2 THEN 'GOLD' ELSE 'PLATINUM' END,
             CASE s_nationkey % 3 WHEN 0 THEN 'CONSERVATIVE' WHEN 1 THEN 'MODERATE'
                  ELSE 'AGGRESSIVE' END,
             TIMESTAMP '$loadTsLit'
      FROM supplier),
    raw_tx AS (
      SELECT 'TXN-' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS transaction_id,
             CASE WHEN o_orderkey % 5 = 0
                  THEN 'COMP-' || lpad(CAST(o_custkey % ((SELECT n FROM nsupp) + 3) AS VARCHAR), 6, '0')
                  ELSE 'CUST-' || lpad(CAST(o_custkey AS VARCHAR), 8, '0') END AS customer_id,
             CASE WHEN o_orderkey % 5 IN (1, 2, 3) THEN 'stock' ELSE 'crypto' END AS asset_type,
             CASE o_orderkey % 5 WHEN 1 THEN 'AAPL' WHEN 2 THEN 'MSFT' WHEN 3 THEN 'NVDA'
                  WHEN 4 THEN 'BTC-USD' ELSE 'ETH-USD' END AS asset_symbol,
             CASE WHEN o_orderstatus = 'F' THEN 'SELL' ELSE 'BUY' END AS transaction_type,
             CAST(o_orderkey % 97 + 1 AS DECIMAL(20,8)) AS quantity,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(20,8)) AS price_per_unit,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(20,2)) AS transaction_amount,
             CAST(o_orderkey % 50 AS DECIMAL(20,2)) AS fee_amount,
             o_orderdate AS transaction_timestamp,
             CAST(o_orderdate AS DATE) AS data_date,
             CASE o_orderpriority WHEN '1-URGENT' THEN 'PLATINUM' WHEN '2-HIGH' THEN 'GOLD'
                  WHEN '3-MEDIUM' THEN 'SILVER' ELSE 'BRONZE' END AS customer_tier,
             CASE o_custkey % 3 WHEN 0 THEN 'CONSERVATIVE' WHEN 1 THEN 'MODERATE'
                  ELSE 'AGGRESSIVE' END AS customer_risk_tolerance,
             CASE WHEN o_orderkey % 5 = 0 THEN 'CORPORATE' ELSE 'PERSONAL' END AS customer_type,
             'BATCH_DATA' AS data_source,
             TIMESTAMP '$loadTsLit' AS load_timestamp,
             'BATCH_DATA' AS source
      FROM orders),
    hub_customer AS (
      SELECT md5(customer_id) AS customer_hk, customer_id
      FROM (SELECT customer_id, row_number() OVER (PARTITION BY customer_id
              ORDER BY load_timestamp, customer_id) AS rn FROM raw_customers)
      WHERE rn = 1),
    sat_tx AS (
      SELECT md5(transaction_id) AS transaction_hk, transaction_id, customer_id,
             transaction_type, quantity, price_per_unit, transaction_amount, fee_amount,
             transaction_timestamp, data_date, data_source, load_timestamp,
             upper(asset_symbol) AS u_sym, upper(asset_type) AS u_type
      FROM raw_tx)"""

  /** RawSql with `raw_tx` pinned AS MATERIALIZED — for the oracles that
    * reference raw_tx more than once (fct/semantic transactions reach it
    * through BOTH sat_tx and a hub subquery): DuckDB re-inlines a plain
    * CTE per reference, so the 30M-row string-building orders scan ran
    * three times per replay at gate factor 50 (552s/519s walls, close to
    * the 600s watchdog). Kept as a separate prefix rather than changing
    * RawSql itself because DuckDB EVALUATES unreferenced MATERIALIZED
    * CTEs (measured) — single-reference consumers would pay for frames
    * they never read, and materialization also blocks filter pushdown
    * into the CTE for consumers that filter it. Optimizer hint only:
    * values identical.
    */
  private val RawSqlMatTx =
    RawSql.replace("raw_tx AS (", "raw_tx AS MATERIALIZED (")

  // ---------------------------------------------------------------- queries

  val all: Seq[Q] = Seq(

    /** fct_transactions.sql:10-43 — 5-way star, value-exact vs DuckDB. */
    Q("q_dag_fct_transactions",
      (s, dir) => vault(s, dir).fctTransactions.select(
        col("transaction_hk"), col("transaction_id"), col("customer_id"),
        col("customer_hk"), col("asset_hk"), col("transaction_type"),
        col("quantity").cast("double").as("quantity"),
        col("price_per_unit").cast("double").as("price_per_unit"),
        col("transaction_amount").cast("double").as("transaction_amount"),
        col("fee_amount").cast("double").as("fee_amount"),
        col("transaction_timestamp"),
        // DATE columns land as date objects vs the oracle's timestamps in
        // the driver compare — emit ntz on both sides
        col("data_date").cast("timestamp_ntz").as("data_date"),
        col("record_source"), col("load_timestamp")),
      Some(s"""$RawSqlMatTx
        SELECT t.transaction_hk, t.transaction_id, c.customer_id,
               c.customer_hk,
               md5(concat_ws('-', r.u_sym, r.u_type)) AS asset_hk,
               r.transaction_type,
               CAST(r.quantity AS DOUBLE) AS quantity,
               CAST(r.price_per_unit AS DOUBLE) AS price_per_unit,
               CAST(r.transaction_amount AS DOUBLE) AS transaction_amount,
               CAST(r.fee_amount AS DOUBLE) AS fee_amount,
               r.transaction_timestamp, CAST(r.data_date AS TIMESTAMP) AS data_date,
               r.data_source AS record_source, t.load_timestamp
        FROM (SELECT md5(transaction_id) AS transaction_hk, transaction_id,
                     customer_id, load_timestamp FROM raw_tx) t
        JOIN hub_customer c ON c.customer_id = t.customer_id
        JOIN sat_tx r ON r.transaction_hk = t.transaction_hk""")),

    /** link_company_transaction.sql:14-91 — md5-of-md5 link keys over
      * corporate transactions resolved via hub_company AND hub_transaction
      * (the reference's inner hub joins). The raw mapping deliberately
      * contains corporate transactions whose company does NOT resolve
      * (o_custkey residues >= nsupp) so the resolution filter is exercised
      * — an oracle without the joins would hash-mismatch.
      */
    Q("q_dag_link_company_tx",
      (s, dir) => vault(s, dir).linkCompanyTransaction,
      Some(s"""$RawSqlMatTx
        SELECT md5(concat_ws('-', md5(t.customer_id), md5(t.transaction_id))) AS company_transaction_hk,
               md5(t.customer_id) AS company_hk,
               md5(t.transaction_id) AS transaction_hk,
               t.load_timestamp,
               t.source AS record_source
        FROM raw_tx t
        JOIN (SELECT DISTINCT 'COMP-' || lpad(CAST(s_suppkey AS VARCHAR), 6, '0') AS company_id
              FROM supplier) hub_company
          ON hub_company.company_id = t.customer_id
        JOIN (SELECT DISTINCT transaction_id FROM raw_tx) hub_transaction
          ON hub_transaction.transaction_id = t.transaction_id
        WHERE t.customer_type = 'CORPORATE'""")),

    /** ephemeral_news.sql dedup → hub_news.sql url grain →
      * sat_news_content.sql hashdiff, + categorize_news macro — the raw
      * news arrives duplicated (second scrape 1h later) and must collapse.
      */
    Q("q_dag_news_content",
      (s, dir) => vault(s, dir).satNewsContent
        .withColumn("news_category", Models.categorizeNews(col("title"))),
      Some(s"""
        WITH raw_news AS (
          SELECT CASE WHEN p_partkey % 2 = 0 THEN 'BTC-USD' ELSE 'ETH-USD' END AS ticker,
                 'CRYPTO' AS asset_type,
                 'https://news.example.com/p/' || CAST(p_partkey AS VARCHAR) AS url,
                 p_name || CASE p_partkey % 4 WHEN 0 THEN ' crypto surge' WHEN 1 THEN ' stock dip'
                      WHEN 2 THEN ' market update' ELSE ' general notes' END AS title,
                 p_type AS description,
                 'https://img.example.com/' || CAST(p_partkey AS VARCHAR) || '.jpg' AS image,
                 CAST(DATE '1995-06-01' + CAST(p_partkey % 20 AS INTEGER) AS TIMESTAMP) AS date,
                 'NEWS_API' AS source,
                 ts.load_timestamp
          FROM part, (SELECT TIMESTAMP '$loadTsLit' AS load_timestamp
                      UNION ALL SELECT TIMESTAMP '2024-01-31 21:00:00') ts),
        deduped AS (
          SELECT *, row_number() OVER (PARTITION BY url, ticker, asset_type
                   ORDER BY load_timestamp, source) AS rn
          FROM raw_news)
        SELECT md5(url) AS news_hk, url, date AS published_date, title, description,
               image, source AS record_source, load_timestamp,
               md5(concat_ws('-', CAST(date AS VARCHAR), title, description, image)) AS hashdiff,
               CASE WHEN lower(title) LIKE '%crypto%' THEN 'Crypto'
                    WHEN lower(title) LIKE '%stock%' THEN 'Stock'
                    WHEN lower(title) LIKE '%market%' THEN 'Market'
                    ELSE 'General' END AS news_category
        FROM deduped WHERE rn = 1""")),

    /** fct_news_events.sql:9-29 — link_news_asset ⋈ hub_news ⋈ hub_asset ⋈
      * sat_news_content, over the deduped scrape stream: one row per
      * news-asset relationship with the content attributes attached.
      */
    Q("q_dag_fct_news_events",
      (s, dir) => vault(s, dir).fctNewsEvents,
      Some(s"""
        WITH raw_news AS (
          SELECT CASE WHEN p_partkey % 2 = 0 THEN 'BTC-USD' ELSE 'ETH-USD' END AS ticker,
                 'CRYPTO' AS asset_type,
                 'https://news.example.com/p/' || CAST(p_partkey AS VARCHAR) AS url,
                 p_name || CASE p_partkey % 4 WHEN 0 THEN ' crypto surge' WHEN 1 THEN ' stock dip'
                      WHEN 2 THEN ' market update' ELSE ' general notes' END AS title,
                 p_type AS description,
                 CAST(DATE '1995-06-01' + CAST(p_partkey % 20 AS INTEGER) AS TIMESTAMP) AS date,
                 'NEWS_API' AS source,
                 ts.load_timestamp
          FROM part, (SELECT TIMESTAMP '$loadTsLit' AS load_timestamp
                      UNION ALL SELECT TIMESTAMP '2024-01-31 21:00:00') ts),
        deduped AS (
          SELECT *, row_number() OVER (PARTITION BY url, ticker, asset_type
                   ORDER BY load_timestamp, source) AS rn
          FROM raw_news)
        SELECT md5(concat_ws('-', ticker, asset_type)) AS asset_hk,
               md5(url) AS news_hk,
               date AS published_date, title, description, url,
               source AS news_source,
               ticker AS asset_symbol, asset_type
        FROM deduped WHERE rn = 1""")),

    /** sat_asset_price_crypto/stock → fct_asset_prices.sql →
      * semantic_asset_performance.sql:10-22.
      */
    Q("q_dag_asset_performance",
      (s, dir) => vault(s, dir).semanticAssetPerformance.select(
        col("asset_symbol"), col("asset_type"), col("asset_class"),
        col("price_date").cast("timestamp_ntz").as("price_date"), col("price_source"),
        col("price").cast("double").as("price"),
        col("volume").cast("double").as("volume")),
      Some(s"""
        WITH crypto_daily AS (
          SELECT CASE WHEN l_partkey % 2 = 0 THEN 'BTC-USD' ELSE 'ETH-USD' END AS symbol,
                 CAST(l_shipdate AS DATE) AS d,
                 sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum,
                 sum(CAST(l_quantity AS DECIMAL(12,2))) AS vol
          FROM lineitem GROUP BY 1, 2),
        crypto_all AS (
          SELECT symbol, d,
                 CAST(price_sum * CAST(f.factor AS DECIMAL(3,2)) AS DECIMAL(20,8)) AS price,
                 CAST(vol AS DECIMAL(28,8)) AS volume,
                 f.src
          FROM crypto_daily,
               (SELECT 'binance' AS src, '1.00' AS factor
                UNION ALL SELECT 'coingecko', '1.01'
                UNION ALL SELECT 'yfinance', '0.99') f),
        stock_daily AS (
          SELECT CASE l_partkey % 3 WHEN 0 THEN 'AAPL' WHEN 1 THEN 'MSFT' ELSE 'NVDA' END AS symbol,
                 CAST(l_shipdate AS DATE) AS d,
                 max(CAST(l_extendedprice AS DECIMAL(12,2))) AS hi,
                 sum(CAST(l_quantity AS DECIMAL(12,2))) AS vol
          FROM lineitem GROUP BY 1, 2)
        SELECT symbol AS asset_symbol, 'CRYPTO' AS asset_type, 'crypto' AS asset_class,
               CAST(d AS TIMESTAMP) AS price_date, upper(src) AS price_source,
               CAST(price AS DOUBLE) AS price, CAST(volume AS DOUBLE) AS volume
        FROM crypto_all
        UNION ALL
        SELECT symbol, 'STOCK', 'stock', CAST(d AS TIMESTAMP), 'YFINANCE',
               CAST(CAST(hi AS DECIMAL(20,8)) AS DOUBLE),
               CAST(CAST(vol AS DECIMAL(28,8)) AS DOUBLE)
        FROM stock_daily""")),

    /** semantic_customer_overview.sql:9-46 over the 5-way fct — per-customer
      * KPIs with the SCD2-current profile attributes.
      */
    Q("q_dag_customer_overview",
      (s, dir) => vault(s, dir).semanticCustomerOverview.select(
        col("customer_hk"), col("customer_id"),
        col("total_transactions"),
        col("total_amount").cast("double").as("total_amount"),
        col("total_fees").cast("double").as("total_fees"),
        col("last_transaction_at"),
        col("customer_tier"), col("risk_tolerance")),
      Some(s"""$RawSql
        , kpis AS (
          SELECT c.customer_hk, c.customer_id,
                 count(*) AS total_transactions,
                 CAST(sum(r.transaction_amount) AS DOUBLE) AS total_amount,
                 CAST(sum(r.fee_amount) AS DOUBLE) AS total_fees,
                 max(r.transaction_timestamp) AS last_transaction_at
          FROM sat_tx r
          JOIN hub_customer c ON c.customer_id = r.customer_id
          GROUP BY c.customer_hk, c.customer_id)
        SELECT k.*, p.customer_tier, p.risk_tolerance
        FROM kpis k
        LEFT JOIN (SELECT customer_id, customer_tier, risk_tolerance,
                          row_number() OVER (PARTITION BY customer_id
                            ORDER BY load_timestamp DESC) AS rn
                   FROM raw_customers) p
          ON p.customer_id = k.customer_id AND p.rn = 1""")),

    /** dim_asset.sql:36-105 — hub + latest-wins price snapshot per asset
      * (W2 + U4 + J5), latest-day ties broken by record_source desc.
      */
    Q("q_dag_dim_asset",
      (s, dir) => vault(s, dir).dimAsset
        .select(col("asset_hk"), col("asset_symbol"), col("asset_type"),
          col("latest_price").cast("double").as("latest_price")),
      Some(s"""$RawSql,
        crypto_daily AS (
          SELECT CASE WHEN l_partkey % 2 = 0 THEN 'BTC-USD' ELSE 'ETH-USD' END AS symbol,
                 CAST(l_shipdate AS DATE) AS d,
                 sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum
          FROM lineitem GROUP BY 1, 2),
        crypto_all AS (
          SELECT symbol, d,
                 CAST(price_sum * CAST(f.factor AS DECIMAL(3,2)) AS DECIMAL(20,8)) AS price,
                 f.src
          FROM crypto_daily,
               (SELECT 'binance' AS src, '1.00' AS factor
                UNION ALL SELECT 'coingecko', '1.01'
                UNION ALL SELECT 'yfinance', '0.99') f),
        crypto_latest AS (
          SELECT symbol, price FROM (
            SELECT symbol, price,
                   row_number() OVER (PARTITION BY symbol ORDER BY d DESC, src DESC) AS rn
            FROM crypto_all) WHERE rn = 1),
        stock_daily AS (
          SELECT CASE l_partkey % 3 WHEN 0 THEN 'AAPL' WHEN 1 THEN 'MSFT' ELSE 'NVDA' END AS symbol,
                 CAST(l_shipdate AS DATE) AS d,
                 max(CAST(l_extendedprice AS DECIMAL(12,2))) AS hi
          FROM lineitem GROUP BY 1, 2),
        stock_latest AS (
          SELECT symbol, CAST(hi AS DECIMAL(20,8)) AS price FROM (
            SELECT symbol, hi,
                   row_number() OVER (PARTITION BY symbol ORDER BY d DESC) AS rn
            FROM stock_daily) WHERE rn = 1),
        assets AS (
          SELECT DISTINCT symbol AS asset_symbol, 'CRYPTO' AS asset_type FROM crypto_all
          UNION SELECT DISTINCT symbol, 'STOCK' FROM stock_daily
          UNION SELECT DISTINCT upper(asset_symbol), upper(asset_type) FROM raw_tx),
        latest AS (
          SELECT symbol, 'CRYPTO' AS t, price FROM crypto_latest
          UNION ALL SELECT symbol, 'STOCK', price FROM stock_latest)
        SELECT md5(concat_ws('-', a.asset_symbol, a.asset_type)) AS asset_hk,
               a.asset_symbol, a.asset_type,
               CAST(l.price AS DOUBLE) AS latest_price
        FROM assets a
        LEFT JOIN latest l ON l.symbol = a.asset_symbol AND l.t = a.asset_type""")),

    /** dim_company.sql:29-51 — latest-wins current snapshot over
      * sat_company_details, grain company_hk.
      */
    Q("q_dag_dim_company",
      (s, dir) => vault(s, dir).dimCompany,
      Some("""
        SELECT md5(company_id) AS company_hk, company_id, company_name,
               company_type, country, year_founded
        FROM (
          SELECT 'COMP-' || lpad(CAST(s_suppkey AS VARCHAR), 6, '0') AS company_id,
                 s_name AS company_name,
                 CASE s_suppkey % 3 WHEN 0 THEN 'LLC' WHEN 1 THEN 'PRIVATE'
                      ELSE 'PUBLIC' END AS company_type,
                 'N' || CAST(s_nationkey AS VARCHAR) AS country,
                 CAST(s_suppkey % 71 + 1950 AS INTEGER) AS year_founded
          FROM supplier)""")),

    /** semantic_transactions.sql:9-47 — analytics-flat transaction view:
      * the 5-way fct star left-joined to the asset dim. The hub join is
      * injective on asset_hk (hub = distinct (symbol, type) keyed by their
      * md5), so the oracle derives the joined attributes directly from the
      * sat's normalized symbol/type.
      */
    Q("q_dag_semantic_transactions",
      (s, dir) => vault(s, dir).semanticTransactions.select(
        col("transaction_hk"), col("transaction_id"), col("customer_id"),
        col("customer_hk"), col("asset_hk"),
        col("asset_symbol"), col("asset_type"),
        col("transaction_type"),
        col("quantity").cast("double").as("quantity"),
        col("price_per_unit").cast("double").as("price_per_unit"),
        col("transaction_amount").cast("double").as("transaction_amount"),
        col("fee_amount").cast("double").as("fee_amount"),
        col("transaction_timestamp"),
        col("data_date").cast("timestamp_ntz").as("data_date"),
        col("record_source"), col("load_timestamp")),
      Some(s"""$RawSqlMatTx
        SELECT t.transaction_hk, t.transaction_id, c.customer_id,
               c.customer_hk,
               md5(concat_ws('-', r.u_sym, r.u_type)) AS asset_hk,
               r.u_sym AS asset_symbol, r.u_type AS asset_type,
               r.transaction_type,
               CAST(r.quantity AS DOUBLE) AS quantity,
               CAST(r.price_per_unit AS DOUBLE) AS price_per_unit,
               CAST(r.transaction_amount AS DOUBLE) AS transaction_amount,
               CAST(r.fee_amount AS DOUBLE) AS fee_amount,
               r.transaction_timestamp, CAST(r.data_date AS TIMESTAMP) AS data_date,
               r.data_source AS record_source, t.load_timestamp
        FROM (SELECT md5(transaction_id) AS transaction_hk, transaction_id,
                     customer_id, load_timestamp FROM raw_tx) t
        JOIN hub_customer c ON c.customer_id = t.customer_id
        JOIN sat_tx r ON r.transaction_hk = t.transaction_hk""")),

    /** fct_asset_price_comparison.sql:9-38 — per-source daily price pivot
      * (grain asset_hk + price_date; BINANCE/COINGECKO/YFINANCE columns).
      * Each (asset, day, source) group is a single feed row, so the
      * reference's avg is value-exact and the oracle can select the feed
      * value directly.
      */
    Q("q_dag_price_comparison",
      (s, dir) => vault(s, dir).fctAssetPriceComparison.select(
        col("asset_hk"),
        col("price_date").cast("timestamp_ntz").as("price_date"),
        col("price_binance").cast("double").as("price_binance"),
        col("price_coingecko").cast("double").as("price_coingecko"),
        col("price_yfinance").cast("double").as("price_yfinance")),
      Some(s"""
        WITH crypto_daily AS (
          SELECT CASE WHEN l_partkey % 2 = 0 THEN 'BTC-USD' ELSE 'ETH-USD' END AS symbol,
                 CAST(l_shipdate AS DATE) AS d,
                 sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum
          FROM lineitem GROUP BY 1, 2),
        crypto_all AS (
          SELECT symbol, d, upper(f.src) AS src,
                 CAST(price_sum * CAST(f.factor AS DECIMAL(3,2)) AS DECIMAL(20,8)) AS daily_price
          FROM crypto_daily,
               (SELECT 'binance' AS src, '1.00' AS factor
                UNION ALL SELECT 'coingecko', '1.01'
                UNION ALL SELECT 'yfinance', '0.99') f),
        stock_daily AS (
          SELECT CASE l_partkey % 3 WHEN 0 THEN 'AAPL' WHEN 1 THEN 'MSFT' ELSE 'NVDA' END AS symbol,
                 CAST(l_shipdate AS DATE) AS d,
                 max(CAST(l_extendedprice AS DECIMAL(12,2))) AS hi
          FROM lineitem GROUP BY 1, 2),
        prices AS (
          SELECT md5(concat_ws('-', symbol, 'CRYPTO')) AS asset_hk, d, src, daily_price
          FROM crypto_all
          UNION ALL
          SELECT md5(concat_ws('-', symbol, 'STOCK')), d, 'YFINANCE',
                 CAST(hi AS DECIMAL(20,8))
          FROM stock_daily)
        SELECT asset_hk, CAST(d AS TIMESTAMP) AS price_date,
               CAST(max(CASE WHEN src = 'BINANCE' THEN daily_price END) AS DOUBLE) AS price_binance,
               CAST(max(CASE WHEN src = 'COINGECKO' THEN daily_price END) AS DOUBLE) AS price_coingecko,
               CAST(max(CASE WHEN src = 'YFINANCE' THEN daily_price END) AS DOUBLE) AS price_yfinance
        FROM prices GROUP BY 1, 2""")),

    /** fct_asset_news_impact.sql:9-88 — news × daily-price event windows
      * at t0/t1/t3/t7 with derived post-news returns, over the deduped
      * news scrape and both price sats. The crypto daily avg over the
      * three feeds (1.00x / 1.01x / 0.99x) is exactly the base price, so
      * the oracle uses the closed form; returns are IEEE-double with one
      * operation order on both sides.
      */
    Q("q_dag_news_impact",
      (s, dir) => vault(s, dir).fctAssetNewsImpact.select(
        col("news_hk"), col("asset_hk"),
        col("news_date").cast("timestamp_ntz").as("news_date"),
        col("v_t0").cast("double").as("price_t0"),
        col("v_t1").cast("double").as("price_t1"),
        col("v_t3").cast("double").as("price_t3"),
        col("v_t7").cast("double").as("price_t7"),
        col("return_1d"), col("return_3d"), col("return_7d")),
      Some(s"""
        WITH raw_news AS (
          SELECT CASE WHEN p_partkey % 2 = 0 THEN 'BTC-USD' ELSE 'ETH-USD' END AS ticker,
                 'CRYPTO' AS asset_type,
                 'https://news.example.com/p/' || CAST(p_partkey AS VARCHAR) AS url,
                 CAST(DATE '1995-06-01' + CAST(p_partkey % 20 AS INTEGER) AS TIMESTAMP) AS date,
                 ts.load_timestamp
          FROM part, (SELECT TIMESTAMP '$loadTsLit' AS load_timestamp
                      UNION ALL SELECT TIMESTAMP '2024-01-31 21:00:00') ts),
        news_assets AS (
          SELECT md5(url) AS news_hk,
                 md5(concat_ws('-', ticker, asset_type)) AS asset_hk,
                 CAST(date AS DATE) AS news_date
          FROM (SELECT *, row_number() OVER (PARTITION BY url, ticker, asset_type
                     ORDER BY load_timestamp) AS rn FROM raw_news)
          WHERE rn = 1),
        crypto_daily AS (
          SELECT CASE WHEN l_partkey % 2 = 0 THEN 'BTC-USD' ELSE 'ETH-USD' END AS symbol,
                 CAST(l_shipdate AS DATE) AS d,
                 sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum
          FROM lineitem GROUP BY 1, 2),
        stock_daily AS (
          SELECT CASE l_partkey % 3 WHEN 0 THEN 'AAPL' WHEN 1 THEN 'MSFT' ELSE 'NVDA' END AS symbol,
                 CAST(l_shipdate AS DATE) AS d,
                 max(CAST(l_extendedprice AS DECIMAL(12,2))) AS hi
          FROM lineitem GROUP BY 1, 2),
        daily AS (
          SELECT md5(concat_ws('-', symbol, 'CRYPTO')) AS asset_hk, d,
                 CAST(price_sum AS DECIMAL(20,8)) AS daily_price
          FROM crypto_daily
          UNION ALL
          SELECT md5(concat_ws('-', symbol, 'STOCK')), d, CAST(hi AS DECIMAL(20,8))
          FROM stock_daily)
        SELECT n.news_hk, n.asset_hk, CAST(n.news_date AS TIMESTAMP) AS news_date,
               CAST(p0.daily_price AS DOUBLE) AS price_t0,
               CAST(p1.daily_price AS DOUBLE) AS price_t1,
               CAST(p3.daily_price AS DOUBLE) AS price_t3,
               CAST(p7.daily_price AS DOUBLE) AS price_t7,
               (CAST(p1.daily_price AS DOUBLE) - CAST(p0.daily_price AS DOUBLE))
                 / nullif(CAST(p0.daily_price AS DOUBLE), 0) AS return_1d,
               (CAST(p3.daily_price AS DOUBLE) - CAST(p0.daily_price AS DOUBLE))
                 / nullif(CAST(p0.daily_price AS DOUBLE), 0) AS return_3d,
               (CAST(p7.daily_price AS DOUBLE) - CAST(p0.daily_price AS DOUBLE))
                 / nullif(CAST(p0.daily_price AS DOUBLE), 0) AS return_7d
        FROM news_assets n
        LEFT JOIN daily p0 ON p0.asset_hk = n.asset_hk AND p0.d = n.news_date
        LEFT JOIN daily p1 ON p1.asset_hk = n.asset_hk AND p1.d = n.news_date + 1
        LEFT JOIN daily p3 ON p3.asset_hk = n.asset_hk AND p3.d = n.news_date + 3
        LEFT JOIN daily p7 ON p7.asset_hk = n.asset_hk AND p7.d = n.news_date + 7
        WHERE p0.daily_price IS NOT NULL""")),

    /** sat_asset_price_crypto.sql:85-90 ⋈ hub_asset.sql:20-25 — the
      * reference's single-feed-per-asset sat, DETERMINIZED: the kept feed
      * is the highest-priority feed present for the asset
      * (BINANCE > COINGECKO > YFINANCE, `Models.feedPriority`) instead of
      * whichever feed's load landed first. The oracle replays the same
      * priority pick, so the choice is hash-verified reproducible.
      */
    Q("q_dag_sat_crypto_primary",
      (s, dir) => vault(s, dir).satAssetPriceCryptoPrimary.select(
        col("asset_hk"), col("symbol"), col("record_source"), col("observed_at"),
        col("price").cast("double").as("price"),
        col("volume").cast("double").as("volume")),
      Some(s"""
        WITH crypto_daily AS (
          SELECT CASE WHEN l_partkey % 2 = 0 THEN 'BTC-USD' ELSE 'ETH-USD' END AS symbol,
                 CAST(l_shipdate AS DATE) AS d,
                 sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum,
                 sum(CAST(l_quantity AS DECIMAL(12,2))) AS vol
          FROM lineitem GROUP BY 1, 2),
        crypto_all AS (
          SELECT symbol, d,
                 CAST(price_sum * CAST(f.factor AS DECIMAL(3,2)) AS DECIMAL(20,8)) AS price,
                 CAST(vol AS DECIMAL(28,8)) AS volume,
                 f.src
          FROM crypto_daily,
               (SELECT 'binance' AS src, '1.00' AS factor
                UNION ALL SELECT 'coingecko', '1.01'
                UNION ALL SELECT 'yfinance', '0.99') f),
        prim AS (
          SELECT symbol, src FROM (
            SELECT symbol, src,
                   row_number() OVER (PARTITION BY symbol ORDER BY
                     CASE lower(src) WHEN 'binance' THEN 1 WHEN 'coingecko' THEN 2
                          WHEN 'yfinance' THEN 3 ELSE 9 END, src) AS rn
            FROM (SELECT DISTINCT symbol, src FROM crypto_all))
          WHERE rn = 1)
        SELECT md5(concat_ws('-', upper(c.symbol), 'CRYPTO')) AS asset_hk,
               c.symbol, c.src AS record_source,
               CAST(c.d AS TIMESTAMP) AS observed_at,
               CAST(c.price AS DOUBLE) AS price,
               CAST(c.volume AS DOUBLE) AS volume
        FROM crypto_all c
        JOIN prim p ON c.symbol = p.symbol AND c.src = p.src""")),

    /** dim_customer_history.sql:28-77 — SCD2 version intervals over real
      * multi-load profile history (every 4th customer has a tier upgrade
      * in a later load), lead + 9999-12-31 sentinel, value-exact.
      */
    Q("q_dag_customer_history",
      (s, dir) => vault(s, dir).dimCustomerHistory,
      Some(s"""$RawSql
        SELECT md5(customer_id) AS customer_hk, customer_id, email_addr,
               customer_tier, risk_tolerance,
               load_timestamp AS effective_from,
               coalesce(lead(load_timestamp) OVER w,
                        TIMESTAMP '9999-12-31 00:00:00') AS effective_to,
               lead(load_timestamp) OVER w IS NULL AS is_current
        FROM raw_customers
        WINDOW w AS (PARTITION BY customer_id ORDER BY load_timestamp)"""))
  ).map(_.copy(shares = Some(vault)))
}
