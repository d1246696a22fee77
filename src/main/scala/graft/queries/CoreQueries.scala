package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Hashing
import graft.operators.{Dedup, EventWindows, Incremental, Scd2, Sessionize}
import Q.{avgExact, dec2, moneySum, t}

/** Core operator queries over the driver testdata — each reproduces one
  * operator family from SURVEY §2 (IDs cited per query) with a DuckDB
  * oracle.
  */
object CoreQueries {

  val all: Seq[Q] = Seq(

    // A1/A3 — multi-aggregate group-by with exact decimal math
    // (reference fct_asset_price_comparison.sql:9-21, semantic_customer_overview.sql:9-19)
    Q("q_pricing_summary",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(4, 2)) - dec2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          avgExact(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order")),
      Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
          count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    // J4 — star-join fact assembly with broadcast dims
    // (reference fct_transactions.sql:32-43)
    Q("q_star_join_revenue",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        li.filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(4, 2)) - dec2(col("l_discount"))))
              .cast("double").as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"))
      },
      Some("""
        SELECT r_name, n_name,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
          count(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY r_name, n_name""")),

    // W1 — earliest-wins dedup + dbt surrogate key (hub pattern)
    // (reference hub_customer.sql:16-32; md5 key recipe hub_customer.sql:26)
    Q("q_hub_dedup_first",
      (s, dir) => Dedup.firstRows(
          t(s, dir, "events"), Seq("user_id"), Seq(col("ts"), col("event_id")))
        .select(
          Hashing.surrogateKey(col("user_id")).as("user_hk"),
          col("user_id"),
          col("ts").as("first_ts"),
          col("event_type").as("first_event_type")),
      Some("""
        WITH ranked AS (
          SELECT user_id, ts, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events)
        SELECT md5(concat_ws('-', coalesce(CAST(user_id AS VARCHAR), '_dbt_utils_surrogate_key_null_'))) AS user_hk,
               user_id, ts AS first_ts, event_type AS first_event_type
        FROM ranked WHERE rn = 1""")),

    // W2 — latest-wins snapshot (reference dim_company.sql:29-51)
    Q("q_latest_snapshot",
      (s, dir) => Dedup.firstRows(
          t(s, dir, "events"), Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
        .select(
          col("user_id"),
          col("ts").as("last_seen"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value")),
      Some("""
        WITH ranked AS (
          SELECT user_id, ts, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, ts AS last_seen, event_type AS last_event_type, value AS last_value
        FROM ranked WHERE rn = 1""")),

    // W3 — SCD2 effective_from/effective_to via lead + 9999-12-31 sentinel
    // (reference dim_customer_history.sql:28-31,70-73)
    Q("q_scd2_intervals",
      (s, dir) => Scd2.intervals(
          t(s, dir, "events").filter(col("event_type") === "signup")
            .select(col("user_id"), col("ts"), col("value")),
          Seq("user_id"), "ts", Seq(col("ts")))
        .select(col("user_id"), col("value"), col("effective_from"),
          col("effective_to"), col("is_current")),
      Some(s"""
        SELECT user_id, value, ts AS effective_from,
               coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                        TIMESTAMP '9999-12-31 00:00:00') AS effective_to,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
        FROM events WHERE event_type = 'signup'""")),

    // W4 — lag-based deltas (reference warehouse_tools.py:337-339)
    Q("q_lag_delta",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("delta", (dec2(col("value")) - dec2(lag(col("value"), 1).over(w))).cast("double"))
      },
      Some("""
        SELECT user_id, event_id, ts, value,
               lag(value) OVER w AS prev_value,
               CAST(CAST(value AS DECIMAL(12,2)) - CAST(lag(value) OVER w AS DECIMAL(12,2)) AS DOUBLE) AS delta
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""")),

    // §2.2 — high-watermark incremental scan with 1900-01-01 floor
    // (reference raw_customers.sql:26-30)
    Q("q_watermark_scan",
      (s, dir) => {
        val events = t(s, dir, "events")
        val target = events.filter(col("ts") < lit("2024-01-20 00:00:00").cast("timestamp_ntz"))
        Incremental.aboveWatermark(events, target, "ts")
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      },
      Some("""
        SELECT event_id, ts, user_id, event_type
        FROM events
        WHERE ts > (SELECT coalesce(max(ts), TIMESTAMP '1900-01-01')
                    FROM events WHERE ts < TIMESTAMP '2024-01-20')""")),

    // J7 — new-key anti-join (hub incremental guard, hub_customer.sql:34-36)
    Q("q_hub_new_keys",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val cutoff = lit("1997-01-01").cast("timestamp_ntz")
        val existing = o.filter(col("o_orderdate") < cutoff).select(col("o_custkey"))
        val incoming = o.filter(col("o_orderdate") >= cutoff)
        Incremental.newKeys(incoming, existing, Seq("o_custkey"))
          .groupBy(col("o_custkey"))
          .agg(min(col("o_orderdate")).as("first_order"), count(lit(1)).as("n_orders"))
      },
      Some("""
        SELECT o_custkey, min(o_orderdate) AS first_order, count(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_custkey NOT IN (SELECT o_custkey FROM orders
                                WHERE o_orderdate < TIMESTAMP '1997-01-01')
        GROUP BY o_custkey""")),

    // J8 — hashdiff change detection anti-join on (hk, hashdiff)
    // (reference sat_customer_profile.sql:48-57,67-75)
    Q("q_hashdiff_changes",
      (s, dir) => {
        val events = t(s, dir, "events")
          .withColumn("user_hk", Hashing.surrogateKey(col("user_id")))
          .withColumn("hashdiff", Hashing.hashdiff(col("event_type"), col("props")))
        val cutoff = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
        val target = events.filter(col("ts") < cutoff)
        val incoming = events.filter(col("ts") >= cutoff)
        Incremental.changedRows(incoming, target, "user_hk", "hashdiff")
          .groupBy(col("user_hk"), col("hashdiff"))
          .agg(min(col("ts")).as("first_seen"), count(lit(1)).as("n_rows"))
      },
      Some("""
        WITH h AS (
          SELECT *, md5(concat_ws('-', coalesce(CAST(user_id AS VARCHAR), '_dbt_utils_surrogate_key_null_'))) AS user_hk,
                 md5(concat_ws('-', coalesce(event_type, '_dbt_utils_surrogate_key_null_'),
                                    coalesce(props, '_dbt_utils_surrogate_key_null_'))) AS hashdiff
          FROM events)
        SELECT user_hk, hashdiff, min(ts) AS first_seen, count(*) AS n_rows
        FROM h
        WHERE ts >= TIMESTAMP '2024-01-20'
          AND NOT EXISTS (SELECT 1 FROM h t
                          WHERE t.ts < TIMESTAMP '2024-01-20'
                            AND t.user_hk = h.user_hk AND t.hashdiff = h.hashdiff)
        GROUP BY user_hk, hashdiff""")),

    // A2 — fixed-value pivot (reference fct_asset_price_comparison.sql:23-32)
    Q("q_pivot_daily_max",
      (s, dir) => t(s, dir, "events")
        .groupBy(to_date(col("ts")).cast("timestamp_ntz").as("d"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(max(col("value"))),
      Some("""
        SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d,
               max(CASE WHEN event_type = 'click'    THEN value END) AS click,
               max(CASE WHEN event_type = 'error'    THEN value END) AS error,
               max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
               max(CASE WHEN event_type = 'signup'   THEN value END) AS signup,
               max(CASE WHEN event_type = 'view'     THEN value END) AS view
        FROM events GROUP BY CAST(ts AS DATE)""")),

    // J6 — event-window impact join at day offsets 0/1/3/7
    // (reference fct_asset_news_impact.sql:41-74,86-88)
    Q("q_event_impact",
      (s, dir) => {
        val events = Q.tSpread(s, dir, "events")
        val daily = events.filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("d"))
          .agg(avgExact(col("value")).as("purchase_avg"))
        val anchors = events.filter(col("event_type") === "error")
          .groupBy(to_date(col("ts")).as("anchor_date"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 75)
          .select(col("anchor_date"))
        val ret = (a: Column, b: Column) => (a - b) / nullif(b, lit(0.0))
        EventWindows.impactJoin(anchors, daily, Seq(), "anchor_date", "d", "purchase_avg", Seq(0, 1, 3, 7))
          .withColumn("ret_1", ret(col("v_t1"), col("v_t0")))
          .withColumn("ret_3", ret(col("v_t3"), col("v_t0")))
          .withColumn("ret_7", ret(col("v_t7"), col("v_t0")))
          .withColumn("anchor_date", col("anchor_date").cast("timestamp_ntz"))
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)/count(value) AS purchase_avg
          FROM events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)),
        anchors AS (
          SELECT CAST(ts AS DATE) AS anchor_date FROM events
          WHERE event_type = 'error' GROUP BY CAST(ts AS DATE) HAVING count(*) >= 75)
        SELECT CAST(a.anchor_date AS TIMESTAMP) AS anchor_date,
               p0.purchase_avg AS v_t0, p1.purchase_avg AS v_t1,
               p3.purchase_avg AS v_t3, p7.purchase_avg AS v_t7,
               (p1.purchase_avg - p0.purchase_avg) / nullif(p0.purchase_avg, 0) AS ret_1,
               (p3.purchase_avg - p0.purchase_avg) / nullif(p0.purchase_avg, 0) AS ret_3,
               (p7.purchase_avg - p0.purchase_avg) / nullif(p0.purchase_avg, 0) AS ret_7
        FROM anchors a
        LEFT JOIN daily p0 ON p0.d = a.anchor_date
        LEFT JOIN daily p1 ON p1.d = CAST(a.anchor_date + INTERVAL 1 DAY AS DATE)
        LEFT JOIN daily p3 ON p3.d = CAST(a.anchor_date + INTERVAL 3 DAY AS DATE)
        LEFT JOIN daily p7 ON p7.d = CAST(a.anchor_date + INTERVAL 7 DAY AS DATE)""")),

    // A3 + J5 + P7 — per-customer KPI rollup with left-joined dim context
    // (reference semantic_customer_overview.sql:9-46)
    Q("q_customer_kpis",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        o.groupBy(col("o_custkey"))
          .agg(
            count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("total_spent"),
            max(col("o_orderdate")).as("last_order"))
          .join(c, col("o_custkey") === col("c_custkey"), "left")
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
          .select(
            col("o_custkey").as("custkey"),
            concat(coalesce(trim(col("c_name")), lit("UNKNOWN")), lit(" / "),
              coalesce(col("n_name"), lit("??"))).as("display_name"),
            col("n_orders"), col("total_spent"), col("last_order"))
      },
      Some("""
        WITH k AS (
          SELECT o_custkey, count(*) AS n_orders,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent,
                 max(o_orderdate) AS last_order
          FROM orders GROUP BY o_custkey)
        SELECT k.o_custkey AS custkey,
               coalesce(trim(c_name), 'UNKNOWN') || ' / ' || coalesce(n_name, '??') AS display_name,
               n_orders, total_spent, last_order
        FROM k
        LEFT JOIN customer ON k.o_custkey = c_custkey
        LEFT JOIN nation   ON c_nationkey = n_nationkey""")),

    // A4 — count distinct + multi-agg by a dynamic group key
    // (reference warehouse_tools.py:289-305)
    Q("q_priority_summary",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"),
          moneySum(col("o_totalprice")).as("total_amount")),
      Some("""
        SELECT o_orderpriority, count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_amount
        FROM orders GROUP BY o_orderpriority""")),

    // A5 — HAVING-style freshness check (reference test_price_data_freshness.sql:5-12)
    Q("q_stale_users",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"))
        .filter(datediff(lit("2024-01-31").cast("date"), to_date(col("last_ts"))) > 1),
      Some("""
        SELECT user_id, max(ts) AS last_ts
        FROM events GROUP BY user_id
        HAVING date_diff('day', CAST(max(ts) AS DATE), DATE '2024-01-31') > 1""")),

    // A6 — distinct projection dedup (reference ephemeral_asset.sql:59-65)
    Q("q_distinct_pairs",
      (s, dir) => t(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct(),
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    // U4 — union with typed null placeholder harmonization
    // (reference fct_asset_prices.sql:12-35, dim_asset.sql:73-80)
    Q("q_union_harmonized",
      (s, dir) => {
        val e = t(s, dir, "events").select(
          col("event_id").as("record_id"),
          lit("EVENT").as("record_type"),
          col("ts"),
          col("value").as("amount"),
          col("event_type").as("status"),
          col("props"),
          lit(null).cast("string").as("priority"))
        val o = t(s, dir, "orders").select(
          col("o_orderkey").as("record_id"),
          lit("ORDER").as("record_type"),
          col("o_orderdate").as("ts"),
          col("o_totalprice").as("amount"),
          col("o_orderstatus").as("status"),
          lit(null).cast("string").as("props"),
          col("o_orderpriority").as("priority"))
        e.unionByName(o)
      },
      Some("""
        SELECT event_id AS record_id, 'EVENT' AS record_type, ts,
               value AS amount, event_type AS status, props,
               CAST(NULL AS VARCHAR) AS priority
        FROM events
        UNION ALL
        SELECT o_orderkey, 'ORDER', o_orderdate, o_totalprice, o_orderstatus,
               CAST(NULL AS VARCHAR), o_orderpriority
        FROM orders""")),

    // §2.7 — order-by + limit top-k (reference warehouse_tools.py:302-304)
    Q("q_top_orders",
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .limit(10),
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // J2 — equi-join with case normalization (reference link_transaction_asset.sql:47-54)
    Q("q_norm_join_brands",
      (s, dir) => {
        val p = t(s, dir, "part")
        val dim = p.select(lower(col("p_brand")).as("brand")).distinct()
        p.join(broadcast(dim), upper(col("p_brand")) === upper(col("brand")))
          .groupBy(col("brand"))
          .agg(count(lit(1)).as("n_parts"), avgExact(col("p_retailprice")).as("avg_retail"))
      },
      Some("""
        WITH dim AS (SELECT DISTINCT lower(p_brand) AS brand FROM part)
        SELECT brand, count(*) AS n_parts,
               CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)/count(p_retailprice) AS avg_retail
        FROM part JOIN dim ON upper(p_brand) = upper(brand)
        GROUP BY brand""")),

    // §2.9 — scalar function suite: string/conditional/null/math/hash
    Q("q_scalar_suite",
      (s, dir) => t(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        lower(col("c_mktsegment")).as("seg_lower"),
        length(trim(col("c_name"))).as("name_len"),
        col("c_name").substr(1, 10).as("name_prefix"),
        regexp_replace(col("c_name"), "[0-9]", "").as("name_nodigits"),
        concat_ws("-", col("c_custkey"), col("c_mktsegment")).as("biz_key"),
        Hashing.surrogateKey(col("c_custkey"), col("c_mktsegment")).as("customer_hk"),
        when(col("c_acctbal") < 0, lit("NEG"))
          .when(col("c_acctbal") === 0, lit("ZERO"))
          .otherwise(lit("POS")).as("bal_sign"),
        abs(dec2(col("c_acctbal"))).cast("double").as("abs_bal"),
        col("c_name").like("%1%").as("name_has_1"),
        col("c_name").ilike("CUSTOMER%").as("name_ci_prefix"),
        col("c_name").rlike("[0-9]{3}$").as("name_3digit_end"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_lower_vowels"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
        // convert_timezone('Asia/Bangkok', ...) parity (a1_4:291,399) —
        // ICT is a fixed +07:00 zone (no DST), so the oracle's interval
        // shift is value-identical to the tz-database conversion
        from_utc_timestamp(
          date_add(lit("1995-01-01").cast("date"), pmod(col("c_custkey"), lit(365)).cast("int"))
            .cast("timestamp"), "Asia/Bangkok")
          .cast("timestamp_ntz").as("ict_ts")),
      Some("""
        SELECT c_custkey,
               upper(c_name) AS name_upper,
               lower(c_mktsegment) AS seg_lower,
               length(trim(c_name)) AS name_len,
               substr(c_name, 1, 10) AS name_prefix,
               regexp_replace(c_name, '[0-9]', '', 'g') AS name_nodigits,
               concat_ws('-', CAST(c_custkey AS VARCHAR), c_mktsegment) AS biz_key,
               md5(concat_ws('-', coalesce(CAST(c_custkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
                                  coalesce(c_mktsegment, '_dbt_utils_surrogate_key_null_'))) AS customer_hk,
               CASE WHEN c_acctbal < 0 THEN 'NEG' WHEN c_acctbal = 0 THEN 'ZERO' ELSE 'POS' END AS bal_sign,
               CAST(abs(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS abs_bal,
               c_name LIKE '%1%' AS name_has_1,
               c_name ILIKE 'CUSTOMER%' AS name_ci_prefix,
               regexp_matches(c_name, '[0-9]{3}$') AS name_3digit_end,
               translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lower_vowels,
               nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
               CAST(DATE '1995-01-01' + CAST(c_custkey % 365 AS INTEGER) AS TIMESTAMP)
                 + INTERVAL 7 HOURS AS ict_ts
        FROM customer""")),

    // S4-analog — JSON field extraction from string payloads, including
    // the reference's candidate-path probing over unknown shapes
    // (a2_4_crypto_freecryptoapi.py:48-132 recursively probes price/volume
    // fields; here: coalesce over the candidate paths, first hit wins)
    Q("q_json_extract",
      (s, dir) => Q.tSpread(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
        coalesce(
          get_json_object(col("props"), "$.price"),
          get_json_object(col("props"), "$.data.price"),
          get_json_object(col("props"), "$.k")).cast("int").as("probed")),
      Some("""
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
               CAST(coalesce(json_extract_string(props, '$.price'),
                             json_extract_string(props, '$.data.price'),
                             json_extract_string(props, '$.k')) AS INT) AS probed
        FROM events""")),

    // Streaming-equivalent batch: hourly tumbling rollup (§2.10; the 5-min
    // refresh recomputes exactly this shape)
    Q("q_hourly_activity",
      (s, dir) => t(s, dir, "events")
        // date_trunc returns session-local TIMESTAMP; cast back to NTZ so
        // the output parquet schema matches the oracle's naive timestamp
        // (same pattern as q_pivot_daily_max's group key above)
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("value")).as("max_value")),
      Some("""
        SELECT date_trunc('hour', ts) AS hour_start, event_type,
               count(*) AS n, max(value) AS max_value
        FROM events GROUP BY date_trunc('hour', ts), event_type""")),

    // Hopping (sliding) windows — 1-hour windows every 15 minutes, the
    // overlapping-window semantics Structured Streaming's window() slide
    // argument provides; each event lands in exactly 4 windows. The oracle
    // replays the epoch-aligned window set as a 4-offset cross join on
    // 15-minute buckets (both engines align buckets to midnight).
    Q("q_hopping_activity",
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), Q.moneySum(col("value")).as("sum_value"))
        .select(
          col("window.start").cast("timestamp_ntz").as("win_start"),
          col("window.end").cast("timestamp_ntz").as("win_end"),
          col("event_type"), col("n"), col("sum_value")),
      Some("""
        SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) - to_minutes(15 * k) AS win_start,
               time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) - to_minutes(15 * k) + INTERVAL '1 hour' AS win_end,
               event_type, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k)
        GROUP BY 1, 2, 3""")),

    // Sessionization — gap-based lag + cumulative sum (training-data op)
    Q("q_sessions",
      (s, dir) => Sessionize.sessions(
        t(s, dir, "events"), "user_id", "ts", 21600L, Seq(col("ts"), col("event_id"))),
      Some("""
        WITH g AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 21600000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
          SELECT user_id, ts,
                 -- DuckDB sum(int) is HUGEINT (-> float in pandas); cast to
                 -- BIGINT so the hash matches Spark's int64 session_seq
                 CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM g)
        SELECT user_id, session_seq, min(ts) AS session_start,
               max(ts) AS session_end, count(*) AS n_events
        FROM s GROUP BY user_id, session_seq"""))
  )
}
