package graft.queries

import org.apache.spark.sql.functions._

import graft.quality.Checks
import graft.sources.{CsvSource, Generator, JsonSource, KafkaJson}
import graft.vault.DataVault
import Q.{dec2, t}

/** Queries exercising the ad-hoc QueryService (reference chatbot tools
  * `scripts/chatbot/warehouse_tools.py:140-449`), the data-quality check
  * framework (reference `tests/` corpus), and the Data Vault pipeline
  * (reference `models/warehouse/`).
  */
object ServiceQueries {

  val all: Seq[Q] = Seq(

    // Tool 1/6: filtered lookup + ILIKE-style search + recency top-k
    Q("q_svc_search_orders",
      (s, dir) => QueryService.searchOrders(
        t(s, dir, "orders"), t(s, dir, "customer"),
        namePattern = "#00000012", status = Some("O"), limit = 20),
      Some("""
        SELECT o_orderkey, c_name, o_orderstatus, o_totalprice, o_orderdate
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE lower(c_name) LIKE '%#00000012%' AND o_orderstatus = 'O'
        ORDER BY o_orderdate DESC, o_orderkey LIMIT 20""")),

    // Tool 2/6: recent observations for one entity
    Q("q_svc_recent_events",
      (s, dir) => QueryService.recentEvents(
        t(s, dir, "events"), userId = "42", sinceDays = 7,
        asOf = lit("2024-01-31").cast("date"), limit = 50)
        .select(col("event_id"), col("ts"), col("event_type"), col("value")),
      Some("""
        SELECT event_id, ts, event_type, value
        FROM events
        WHERE user_id = '42'
          AND CAST(ts AS DATE) >= DATE '2024-01-31' - INTERVAL 7 DAY
        ORDER BY ts DESC, event_id LIMIT 50""")),

    // Tool 3/6: KPI summary over a caller-chosen group key
    Q("q_svc_kpi",
      (s, dir) => QueryService.kpiSummary(t(s, dir, "orders"), "o_orderpriority", 3),
      Some("""
        SELECT o_orderpriority, count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_amount
        FROM orders GROUP BY o_orderpriority
        ORDER BY total_amount DESC, o_orderpriority LIMIT 3""")),

    // Tool 4/6: lag-based trend with percent change for one entity
    Q("q_svc_trend",
      (s, dir) => QueryService.valueTrend(t(s, dir, "events"), userId = "42"),
      Some("""
        SELECT user_id, event_id, ts, value,
               lag(value) OVER w AS prev_value,
               (value - lag(value) OVER w) / nullif(lag(value) OVER w, 0.0) * 100.0 AS pct_change
        FROM events
        WHERE user_id = '42'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""")),

    // Tool 6/6: case-insensitive entity search (tool 5, the news-event
    // join, is q_event_impact)
    Q("q_svc_search_customers",
      (s, dir) => QueryService.searchCustomers(t(s, dir, "customer"), "#0000013", 10),
      Some("""
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        FROM customer WHERE lower(c_name) LIKE '%#0000013%'
        ORDER BY c_custkey LIMIT 10""")),

    // Tool 5b: recent asset prices (reference `query_asset_prices`,
    // warehouse_tools.py:216-266) — days-bounded recency scan over a
    // price-observation mart (unit price per part observation), symbol
    // filter pushed to the scan, newest-first top-k. The part dim
    // broadcasts; the date bound + brand filter prune the fact scan.
    Q("q_svc_recent_prices",
      (s, dir) => {
        val mart = t(s, dir, "lineitem")
          .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .select(
            col("p_brand").as("asset_symbol"), col("p_type").as("asset_type"),
            col("l_shipdate").as("observed_at"),
            (col("l_extendedprice") / col("l_quantity")).as("price"),
            col("l_quantity").as("volume"),
            col("l_orderkey"), col("l_linenumber"))
        QueryService.recentPrices(mart, symbol = Some("Brand#19"),
          assetType = None, sinceDays = 30,
          asOf = lit("2001-11-04").cast("date"), limit = 10,
          tiebreak = Seq(col("l_orderkey"), col("l_linenumber")))
      },
      Some("""
        SELECT p_brand AS asset_symbol, p_type AS asset_type,
               l_shipdate AS observed_at,
               (l_extendedprice / l_quantity) AS price,
               l_quantity AS volume
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#19'
          AND CAST(l_shipdate AS DATE) >= DATE '2001-11-04' - INTERVAL 30 DAY
        ORDER BY l_shipdate DESC, l_orderkey, l_linenumber LIMIT 10""")),

    // DQ summary: the dbt-test-corpus equivalent — generic + singular
    // checks, one row per check with its violation count. Row-predicate
    // checks sharing a table fuse into ONE conditional-count scan
    // (Checks.fusedInvariants): 10 checks over 4 tables = 4 scans + the 3
    // join-shaped checks, not 10 independent jobs.
    Q("q_dq_summary",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val orders = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        val events = t(s, dir, "events")
        Checks.summary(Seq(
          "customer_key_unique" -> Checks.unique(cust, Seq("c_custkey")),
          "orders_customer_fk" -> Checks.relationships(orders, "o_custkey", cust, "c_custkey"),
          "lineitem_grain_unique" -> Checks.unique(li, Seq("l_orderkey", "l_linenumber"))))
          .unionByName(Checks.fusedInvariants(cust, Seq(
            "customer_key_not_null" -> col("c_custkey").isNotNull)))
          .unionByName(Checks.fusedInvariants(orders, Seq(
            "order_date_not_future" ->
              (col("o_orderdate") <= lit("2025-01-01").cast("timestamp_ntz")))))
          .unionByName(Checks.fusedInvariants(li, Seq(
            "quantity_positive" -> (col("l_quantity") > 0),
            "discount_in_range" -> (col("l_discount") >= 0 && col("l_discount") <= 0.1),
            "tax_in_range" -> (col("l_tax") >= 0 && col("l_tax") <= 0.08))))
          .unionByName(Checks.fusedInvariants(events, Seq(
            "event_type_domain" -> (col("event_type").isNull ||
              col("event_type").isin("click", "error", "purchase", "signup", "view")),
            "props_valid_json" -> get_json_object(col("props"), "$.k").isNotNull)))
      },
      Some("""
        SELECT 'customer_key_not_null' AS check_name,
               (SELECT count(*) FROM customer WHERE c_custkey IS NULL) AS n_violations
        UNION ALL SELECT 'customer_key_unique',
               (SELECT count(*) FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1))
        UNION ALL SELECT 'orders_customer_fk',
               (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
                  AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        UNION ALL SELECT 'lineitem_grain_unique',
               (SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1))
        UNION ALL SELECT 'event_type_domain',
               (SELECT count(*) FROM events WHERE event_type IS NOT NULL
                  AND event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view'))
        UNION ALL SELECT 'quantity_positive',
               (SELECT count(*) FROM lineitem WHERE NOT coalesce(l_quantity > 0, FALSE))
        UNION ALL SELECT 'discount_in_range',
               (SELECT count(*) FROM lineitem WHERE NOT coalesce(l_discount >= 0 AND l_discount <= 0.1, FALSE))
        UNION ALL SELECT 'tax_in_range',
               (SELECT count(*) FROM lineitem WHERE NOT coalesce(l_tax >= 0 AND l_tax <= 0.08, FALSE))
        UNION ALL SELECT 'order_date_not_future',
               (SELECT count(*) FROM orders WHERE NOT coalesce(o_orderdate <= TIMESTAMP '2025-01-01', FALSE))
        UNION ALL SELECT 'props_valid_json',
               (SELECT count(*) FROM events WHERE NOT coalesce(json_extract_string(props, '$.k') IS NOT NULL, FALSE))""")),

    // Data Vault pipeline end-to-end: hub + link + satellite -> fact
    // rollup per customer hash key.
    Q("q_vault_fct_orders",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val order = Seq(col("o_orderdate"), col("o_orderkey"))
        val lnk = DataVault.link(orders,
          Seq("customer_hk" -> Seq("o_custkey"), "order_hk" -> Seq("o_orderkey")),
          "link_hk", "o_orderdate", lit("ORDERS"), order)
        val sat = DataVault.satellite(orders, Seq("o_orderkey"), "order_hk",
          Seq("o_orderstatus", "o_totalprice"), "o_orderdate")
        lnk.select("customer_hk", "order_hk")
          .join(sat.select(col("order_hk"), col("o_totalprice")), Seq("order_hk"))
          .groupBy(col("customer_hk"))
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total_amount"))
      },
      Some("""
        SELECT md5(concat_ws('-', CAST(o_custkey AS VARCHAR))) AS customer_hk,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_amount
        FROM orders GROUP BY 1""")),

    // U5 — union distinct of two compatible projections
    // (reference ephemeral_sat_transaction_full.sql:4-6)
    Q("q_union_distinct",
      (s, dir) => {
        // per-side distinct first: map-side partial dedup shrinks the union
        // shuffle to distinct keys (same result as distinct-after-union)
        val a = t(s, dir, "events").select(col("user_id").cast("string").as("entity_id")).distinct()
        val b = t(s, dir, "orders").select(col("o_custkey").cast("string").as("entity_id")).distinct()
        a.union(b).distinct()
      },
      Some("""
        SELECT CAST(user_id AS VARCHAR) AS entity_id FROM events
        UNION
        SELECT CAST(o_custkey AS VARCHAR) FROM orders""")),

    // S12/S8 — permissive CSV load with TRY_TO_* semantics: a dirty CSV
    // (unparseable ids every 10th row, junk money cells every 7th) is
    // written with the ordered-header contract, then read back against a
    // typed schema — bad CELLS become NULL, rows survive. The oracle reads
    // the very same files with DuckDB's read_csv + TRY_CAST, so the
    // cast-or-null semantics are verified value-exact.
    Q("q_csv_permissive",
      (s, dir) => {
        import org.apache.spark.sql.types._
        // scale-suffixed path: a bench run at another SF must not clobber
        // the fixture the sf0.01 oracle reads
        val path = s"/tmp/graft_csv_fixture_${new java.io.File(dir).getName}"
        val dirty = t(s, dir, "customer").select(
          when(pmod(col("c_custkey"), lit(10)) === 0,
            concat(lit("X"), col("c_custkey").cast("string")))
            .otherwise(col("c_custkey").cast("string")).as("ck"),
          when(pmod(col("c_custkey"), lit(7)) === 0, lit("bad"))
            .otherwise(dec2(col("c_acctbal")).cast("string")).as("bal"),
          col("c_mktsegment").as("seg"))
        CsvSource.writeOrdered(dirty, Seq("ck", "bal", "seg"), path)
        CsvSource.readPermissive(s, path, StructType(Seq(
          StructField("ck", LongType), StructField("bal", DoubleType),
          StructField("seg", StringType))))
      },
      // {SF} is substituted with the gate's scale-dir basename when Verify
      // dumps oracle_sql.json — the oracle always reads the fixture THIS
      // run wrote, never a stale one from another scale's earlier run
      Some("""
        SELECT TRY_CAST(ck AS BIGINT) AS ck, TRY_CAST(bal AS DOUBLE) AS bal, seg
        FROM read_csv('/tmp/graft_csv_fixture_{SF}/*.csv', header=true, all_varchar=true)""")),

    // JSONL permissive load (TRY_TO_* / ON_ERROR='CONTINUE' parity for
    // the reference's REST-payload JSON landing): every 7th line is
    // whole-line garbage -> a row of typed nulls; every 10th has a
    // type-mismatched numeric field -> null in THAT field only, rest of
    // the record intact. Spark PERMISSIVE and DuckDB read_json
    // ignore_errors agree on BOTH behaviors (spec'd in JsonSourceSpec).
    Q("q_jsonl_permissive",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val path = s"/tmp/graft_jsonl_fixture_${new java.io.File(dir).getName}"
        val line = when(pmod(col("c_custkey"), lit(7)) === 0,
          lit("oops not json at all"))
          .otherwise(concat(
            lit("{\"ck\": "),
            when(pmod(col("c_custkey"), lit(10)) === 0,
              concat(lit("\"X"), col("c_custkey").cast("string"), lit("\"")))
              .otherwise(col("c_custkey").cast("string")),
            lit(", \"bal\": "), dec2(col("c_acctbal")).cast("string"),
            lit(", \"seg\": \""), col("c_mktsegment"), lit("\"}")))
        t(s, dir, "customer").select(line.as("value"))
          .write.mode("overwrite").text(path)
        JsonSource.readPermissive(s, path, StructType(Seq(
          StructField("ck", LongType), StructField("bal", DoubleType),
          StructField("seg", StringType))))
      },
      Some("""
        SELECT ck, bal, seg
        FROM read_json('/tmp/graft_jsonl_fixture_{SF}/*.txt',
                       format='newline_delimited', ignore_errors=true,
                       columns={'ck': 'BIGINT', 'bal': 'DOUBLE', 'seg': 'VARCHAR'})""")),

    // S14/S15 — the Kafka wire round-trip in BATCH: encode every events row
    // into the producer's envelope (key, JSON-string value with isoformat
    // timestamps, broker ts), then decode through the consumer's shared
    // from_json path (KafkaJson.decodeValue — the same code the kafka and
    // file streams run). The oracle is a plain SELECT from events: a hash
    // match proves encode→decode is the identity, i.e. nothing is lost or
    // coerced crossing the wire (doubles shortest-round-trip, timestamps
    // as strings, embedded-JSON props escaped/unescaped).
    Q("q_kafka_wire_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val wireSchema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", StringType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        val wire = KafkaJson.encodeWire(Q.tSpread(s, dir, "events"), "event_id",
          lit("2024-01-31 20:00:00").cast("timestamp"))
          .select(col("key").as("message_key"), col("value"),
            col("timestamp").as("kafka_timestamp"))
        KafkaJson.decodeValue(wire, wireSchema)
          .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value, props FROM events")),

    // S14/S15 — the full consumer pipeline's BATCH-VISIBLE END STATE over
    // the file-wire transport: two producer drops (the second redelivers
    // every third≡1 record verbatim — at-least-once) → fileStream (decode
    // shared with the kafka source) → IncrementalIngest idempotent
    // partitioned sink → read the target table back. The oracle is a plain
    // SELECT from events: a hash match proves each record landed EXACTLY
    // once with every column byte-identical after the wire + sink chain.
    // Each invocation replays from scratch (fresh drops/checkpoint/target).
    Q("q_kafka_file_ingest",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val wireSchema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", StringType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        val base = s"/tmp/graft_kafka_ingest_${new java.io.File(dir).getName}"
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
        val (topicDir, targetDir, ckptDir) =
          (s"$base/topic", s"$base/target", s"$base/ckpt")
        val events = t(s, dir, "events")
        val third = pmod(col("event_id"), lit(3))
        val brokerTs = lit("2024-01-31 20:00:00").cast("timestamp")
        // coalesce(1): one wire file per drop, so maxFilesPerTrigger=1
        // makes each drop one micro-batch (the broker poll boundary)
        KafkaJson.writeFileDrop(
          events.filter(third < 2).coalesce(1), topicDir, "event_id", brokerTs)
        KafkaJson.writeFileDrop(
          events.filter(third >= 1).coalesce(1), topicDir, "event_id", brokerTs)
        val stream = graft.sources.KafkaJson.fileStream(s, topicDir, wireSchema)
          .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
        graft.streaming.IncrementalIngest.startIngest(
          stream, targetDir, ckptDir, keys = Seq("event_id"),
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
          tsCol = Some("ts"))
          .awaitTermination()
        s.read.parquet(targetDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value, props FROM events")),

    // S7 — deterministic distributed synthetic generator (faker parity;
    // no SQL oracle: hash-derived values -> driver rows-only check, with
    // distribution invariants enforced in GeneratorSpec)
    Q("q_generator_transactions",
      (s, _) => Generator.transactions(s, n = 5000, nCustomers = 500, seed = 42L),
      None),

    // The complete reference model DAG end-to-end (§3.1): generated
    // reference-shaped raw tables -> vault -> marts -> semantic overview.
    // Rows-only (reference-shaped inputs are generated, not testdata);
    // semantic contracts, determinism in the seed included, live in
    // ModelsSpec.
    Q("q_reference_dag",
      (s, _) => {
        import graft.vault.Models
        val loadTs = lit("2024-01-21 20:00:00").cast("timestamp")
        def stamp(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("load_timestamp", loadTs).withColumn("source", lit("BATCH_DATA"))
        val tx = stamp(Generator.transactions(s, 2000, nCustomers = 300))
        val syms = Seq("BTC-USD", "ETH-USD")
        val models = Models(Models.Raw(
          transactionPersonal = tx.filter(col("customer_type") === "PERSONAL"),
          transactionCorporate = tx.filter(col("customer_type") === "CORPORATE"),
          customers = stamp(Generator.customers(s, 300))
            .withColumn("company_id", lit(null).cast("string")),
          corporates = stamp(Generator.corporates(s, 40)),
          news = stamp(Generator.news(s, syms, perTicker = 10)),
          cryptoPrices = Seq("binance", "coingecko", "yfinance").map(src =>
            src -> Generator.cryptoPrices(s, syms, 21, src).withColumn("load_timestamp", loadTs)).toMap,
          stockPrices = Generator.stockPrices(s, Seq("AAPL", "MSFT", "NVDA"), 21)
            .withColumn("load_timestamp", loadTs)))
        models.semanticCustomerOverview
      },
      None)
  )
}
