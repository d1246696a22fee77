package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Scd2, TextDedup}
import graft.streaming.{StreamingDedup, StreamingNearDup, StreamingScd2}
import Q.t

/** Oracle-backed BATCH twins of the streaming sinks — the exact merge /
  * match relations the `foreachBatch` sinks publish per micro-batch, run
  * as plain batch queries so the streaming family contributes hash-graded
  * rows to the gate, not only MemoryStream specs (round-3 verdict item 7).
  *
  * The streaming specs (`StreamingScd2Spec`, `StreamingNearDupSpec`) prove
  * sink mechanics: idempotent replay, out-of-order merges, versioned
  * publish. These queries pin the VALUE of the per-batch computation
  * itself against DuckDB, through the same public functions the sinks
  * call (`StreamingScd2.merge`, `StreamingNearDup.matchBatch`).
  */
object StreamingTwinQueries {

  private val loadTsLit = "2024-01-31 20:00:00"
  private val laterLoadTsLit = "2024-02-01 20:00:00"

  val all: Seq[Q] = Seq(

    // The key-scoped SCD2 merge (streaming/StreamingScd2.scala:41-67): a
    // published dimension built from the first customer load, merged with
    // a late batch of tier upgrades (every 4th customer). The merge
    // rebuilds ONLY the affected keys' chains and must equal a full-history
    // SCD2 recompute — which is exactly what the oracle replays.
    Q("q_stream_scd2_batch",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val custId =
          concat(lit("CUST-"), lpad(col("c_custkey").cast("string"), 8, "0"))
        val firstLoad = cust.select(
          custId.as("customer_id"),
          when(col("c_mktsegment") === "BUILDING", "BRONZE")
            .when(col("c_mktsegment") === "AUTOMOBILE", "SILVER")
            .when(col("c_mktsegment") === "MACHINERY", "GOLD")
            .when(col("c_mktsegment") === "HOUSEHOLD", "PLATINUM")
            .otherwise("BRONZE").as("customer_tier"),
          lit(loadTsLit).cast("timestamp_ntz").as("load_timestamp"))
        val lateBatch = cust.filter(pmod(col("c_custkey"), lit(4)) === 0).select(
          custId.as("customer_id"),
          when(col("c_mktsegment") === "BUILDING", "SILVER")
            .when(col("c_mktsegment") === "AUTOMOBILE", "GOLD")
            .when(col("c_mktsegment") === "MACHINERY", "PLATINUM")
            .when(col("c_mktsegment") === "HOUSEHOLD", "PLATINUM")
            .otherwise("SILVER").as("customer_tier"),
          lit(laterLoadTsLit).cast("timestamp_ntz").as("load_timestamp"))
        val published = Scd2.intervals(
          firstLoad, Seq("customer_id"), "load_timestamp", Seq(col("load_timestamp")))
        StreamingScd2.merge(
          Some(published), lateBatch, Seq("customer_id"), "load_timestamp")
      },
      Some(s"""
        WITH rc AS (
          SELECT 'CUST-' || lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS customer_id,
                 CASE c_mktsegment WHEN 'BUILDING' THEN 'BRONZE' WHEN 'AUTOMOBILE' THEN 'SILVER'
                      WHEN 'MACHINERY' THEN 'GOLD' WHEN 'HOUSEHOLD' THEN 'PLATINUM'
                      ELSE 'BRONZE' END AS customer_tier,
                 TIMESTAMP '$loadTsLit' AS load_timestamp
          FROM customer
          UNION ALL
          SELECT 'CUST-' || lpad(CAST(c_custkey AS VARCHAR), 8, '0'),
                 CASE c_mktsegment WHEN 'BUILDING' THEN 'SILVER' WHEN 'AUTOMOBILE' THEN 'GOLD'
                      WHEN 'MACHINERY' THEN 'PLATINUM' WHEN 'HOUSEHOLD' THEN 'PLATINUM'
                      ELSE 'SILVER' END,
                 TIMESTAMP '$laterLoadTsLit'
          FROM customer WHERE c_custkey % 4 = 0)
        SELECT customer_id, customer_tier, load_timestamp,
               load_timestamp AS effective_from,
               coalesce(lead(load_timestamp) OVER w,
                        TIMESTAMP '9999-12-31 00:00:00') AS effective_to,
               lead(load_timestamp) OVER w IS NULL AS is_current
        FROM rc
        WINDOW w AS (PARTITION BY customer_id ORDER BY load_timestamp)""")),

    // Streaming near-dup match of an incoming batch against a pre-indexed
    // corpus (streaming/StreamingNearDup.scala:66-86), md5 hash family so
    // the banding is SQL-replayable: corpus = 80% of documents, batch =
    // the top-10% md5 bucket; LSH candidates probe the index and are
    // exact-Jaccard verified — the oracle replays banding AND verify.
    //
    // SCALE CONTRACT (r14 adjudication, BUILDER_NOTES): on a replicated
    // corpus the pair OUTPUT is O(factor²) — each duplicate family of f
    // copies splits into ~0.1f batch × ~0.8f corpus members, so true
    // output pairs grow ~0.08·f² per family (same mechanism as the four
    // maxGateFactor-capped *_pairs queries, milder constant because only
    // the batch×corpus cross-product materializes, never C(f,2)). Expect
    // a ~4x wall response per 2x factor on exact-replica corpora; this is
    // the contractual output size, not a plan regression. NO cap: it
    // passes value-exact at factor 100 (369s isolated, r14), and real
    // streams don't replay 100 identical copies of every document — the
    // quadratic term is an artifact of the gate corpus's construction.
    Q("q_stream_neardup_batch",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pb = pmod(
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint"),
          lit(100L))
        val index = StreamingNearDup.buildIndex(
          docs.filter(pb < 80), "doc_id", "text",
          shingleWords = 2, bands = 4, rowsPerBand = 3, threshold = 0.5,
          family = TextDedup.HexMd5)
        // one batch, so the index dies with the line that runs the query
        StreamingNearDup.matchBatch(docs.filter(pb >= 90), "doc_id", "text", index)
      },
      // Family-grain replay (the r9 oracle-scale lesson): the minhash chain,
      // banding, and jaccard verify all depend only on TEXT, while the
      // corpus/batch split depends only on the doc_id md5 bucket — so the
      // chain runs once per distinct text and member expansion assigns
      // roles by bucket at the end (both (test-family, corpus-family)
      // orientations of each unordered family pair; same-family pairs are
      // the same exact-jaccard expression on identical sets). Diffed
      // bit-exact against the doc-grain replay at factor 10: 123s -> 8.8s.
      Some("""
        WITH pbv AS MATERIALIZED (
          SELECT doc_id, text,
                 CAST(list_reduce(list_transform(range(1, 9),
                     k -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), k, 1)) - 1) * 16^(8-k)),
                   (a, x) -> a + x) AS BIGINT) % 100 AS pb
          FROM documents),
        fam AS MATERIALIZED (SELECT text, min(doc_id) AS gid FROM pbv GROUP BY text),
        memb AS MATERIALIZED (
          SELECT fam.gid, pbv.doc_id, pbv.pb FROM pbv JOIN fam ON fam.text = pbv.text
          WHERE pbv.pb < 80 OR pbv.pb >= 90),
        shf AS MATERIALIZED (
          SELECT gid,
            CASE WHEN len(tk) >= 2
                 THEN list_distinct([array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))])
                 ELSE [] END AS s
          FROM (SELECT gid, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk FROM fam)),
        basesf AS (
          SELECT gid, list_transform(s, x ->
            CAST(list_reduce(list_transform(range(1, 8),
                k -> (strpos('0123456789abcdef', substr(md5(x), k, 1)) - 1) * 16^(7-k)),
              (a, b) -> a + b) AS BIGINT)) AS bs
          FROM shf WHERE len(s) > 0),
        sigf AS (
          SELECT gid, [list_min(list_transform(bs,
                   b -> (((1103515245 * (h+1)) % 2147483647) * b + 12345 * (h+1)) % 2147483647))
                 FOR h IN range(0, 12)] AS sg
          FROM basesf),
        bandedf AS MATERIALIZED (
          SELECT gid, bd,
                 md5(CAST(bd AS VARCHAR) || '|' || array_to_string(sg[bd*3+1:bd*3+3], '|')) AS bh
          FROM sigf, (SELECT unnest(range(0, 4)) AS bd)),
        famcand AS (
          SELECT DISTINCT a.gid AS ga, b.gid AS gb
          FROM bandedf a JOIN bandedf b ON a.bd = b.bd AND a.bh = b.bh AND a.gid <= b.gid),
        pass AS MATERIALIZED (
          SELECT fc.ga, fc.gb,
                 CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / CAST(nullif(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 0) AS DOUBLE) AS jaccard
          FROM famcand fc JOIN shf sa ON sa.gid = fc.ga JOIN shf sb ON sb.gid = fc.gb
          WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(nullif(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 0) AS DOUBLE) >= 0.5)
        SELECT t.doc_id, c.doc_id AS corpus_id, p.jaccard
        FROM pass p JOIN memb t ON t.gid = p.ga AND t.pb >= 90
                    JOIN memb c ON c.gid = p.gb AND c.pb < 80
        UNION ALL
        SELECT t.doc_id, c.doc_id AS corpus_id, p.jaccard
        FROM pass p JOIN memb t ON t.gid = p.gb AND t.pb >= 90
                    JOIN memb c ON c.gid = p.ga AND c.pb < 80
        WHERE p.ga <> p.gb""")),

    // The (keys, event-time)-scoped suppression relation of the streaming
    // dedup sink (streaming/StreamingDedup.scala): a published target of
    // pre-Jan-20 earliest-wins events, then a micro-batch spanning
    // Jan 15-25 — five days of REDELIVERED rows (same key, same event
    // time: suppressed) plus five days of new arrivals (appended; only
    // the earliest per key, the within-batch dedup). The oracle replays
    // both window ranks and the anti-join exactly — no doubles in the
    // relation's keys, so the hash is exact.
    Q("q_stream_dedup_batch",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        val published = graft.operators.Dedup.firstRows(
          ev.filter(col("ts") < lit("2024-01-20 00:00:00").cast("timestamp_ntz")),
          Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
        val batch = ev.filter(
          col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp_ntz") &&
            col("ts") < lit("2024-01-25 00:00:00").cast("timestamp_ntz"))
        StreamingDedup.suppressBatch(
          published, batch, Seq("user_id", "event_type"), "ts", Seq(col("event_id")))
      },
      Some("""
        WITH ev AS (SELECT event_id, ts, user_id, event_type, value FROM events),
        pub AS (
          SELECT user_id, event_type, ts FROM (
            SELECT user_id, event_type, ts,
                   row_number() OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS rn
            FROM ev WHERE ts < TIMESTAMP '2024-01-20 00:00:00')
          WHERE rn = 1),
        ded AS (
          SELECT event_id, ts, user_id, event_type, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS rn
            FROM ev
            WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
              AND ts < TIMESTAMP '2024-01-25 00:00:00')
          WHERE rn = 1)
        SELECT d.event_id, d.ts, d.user_id, d.event_type, d.value
        FROM ded d LEFT JOIN pub p
          ON d.user_id = p.user_id AND d.event_type = p.event_type AND d.ts = p.ts
        WHERE p.ts IS NULL"""))
  )
}
