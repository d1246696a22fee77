package perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.quality.{Checks, ReferenceTests}
import graft.queries.QueryService
import graft.sources.KafkaJson
import graft.streaming.{IncrementalIngest, Pointer, Refresh}
import graft.vault.Models

/** `live_refresh`: the 5-minute Kafka path compressed in time, with ad-hoc
  * reads beside the writes.
  *   - producer (open loop, own thread): writes drop g of the staged
  *     schedule to every topic at its due time with
  *     `KafkaJson.writeFileDrop`;
  *   - refresher (this thread): per cycle, for every topic with new drops,
  *     `KafkaJson.fileStream` -> `IncrementalIngest.startIngest`
  *     (AvailableNow, date-partitioned on the topic's timestamp; the
  *     topics' queries run concurrently); then the ingested raw and the CSV
  *     feeds are loaded, `Models` builds the transaction/customer marts,
  *     `Refresh.tick` republishes them, the DQ tests run and the caches are
  *     released;
  *   - reader (closed loop, own thread): the six `QueryService` tools with
  *     seeded parameters; `recentEvents` and `valueTrend` read the live
  *     ingest target, the others the published marts.
  * A drop's refresh lag runs from its due time to the end of the tick that
  * first publishes it.
  */
object LiveRefresh extends Workload {
  val name = "live_refresh"

  /** Drops staged after the bootstrap; a window uses `seconds / IntervalS`. */
  val StagedDrops = 12
  /** The reference's 5-minute refresh cadence, compressed 100-fold. */
  val IntervalS = 3.0
  val Marts = Seq("fct_transactions", "dim_customer", "semantic_customer_overview")
  /** The price/news feeds: a small CSV lake with planted malformed cells. */
  val Feeds = BatchDag.Small.copy(priceDays = 20)
  /** The ported DQ tests run after each tick: one row predicate, one grain
    * test and one relationship test over what a refresh changes (new
    * transactions and the fact's customer join). The full suite runs on
    * batch_dag.
    */
  val RefreshChecks = Set("transaction_fee_reasonable", "hub_transaction_unique",
    "fct_customer_relationship")

  private final class State(val dir: String, val staged: String, val static: String) {
    val topics = s"$dir/topics"
    val targets = s"$dir/targets"
    val ckpt = s"$dir/ckpt"
    val pub = s"$dir/pub"
    @volatile var models: Models = _
    val feeds = s"$static/lake"
    var refresh: Refresh = _
    var nextDrop = 1
    /** Highest drop id written, per topic (producer side). */
    val written = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    /** Highest drop id ingested, per topic (refresher side). */
    val ingested = scala.collection.mutable.Map.empty[String, Int]
  }
  @volatile private var state: State = _
  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    Drops.write(spark, s"$dir/staged", StagedDrops, seed)
    Lake.write(spark, s"$dir/static/lake", Feeds, seed, BatchDag.BadEvery, Lake.staticFeeds, counted = false)
  }

  def inputFacts(dir: String): Map[String, String] = Map(
    "staged_drops" -> StagedDrops.toString, "interval_s" -> IntervalS.toString,
    "customers" -> Drops.Customers.toString,
    "records" -> Drops.Topics.map(t => s"${t.name}:${t.bootstrap}+${t.perDrop}/drop").mkString(","),
    "redelivered_share" -> s"1/${Drops.RedeliverEvery}", "out_of_order_share" -> s"1/${Drops.OutOfOrderEvery}",
    "feeds" -> Feeds.toString)

  private def staged(spark: SparkSession, st: State, topic: String): DataFrame =
    spark.read.parquet(s"${st.staged}/$topic")

  private def recordCols(spark: SparkSession, st: State, topic: String): Seq[String] =
    Drops.recordColumns(staged(spark, st, topic))

  /** Drop g of every topic, one file per topic. The refresher sees the
    * drop only once every topic's file is written.
    */
  private def writeDrop(spark: SparkSession, st: State, g: Int): Unit = {
    Drops.Topics.foreach { topic =>
      val recs = staged(spark, st, topic.name).filter(col("drop_id") === g)
        .select(recordCols(spark, st, topic.name).map(col): _*).coalesce(1)
      KafkaJson.writeFileDrop(recs, s"${st.topics}/${topic.name}", topic.keys.head, current_timestamp())
    }
    Drops.Topics.foreach(t => st.written.merge(t.name, Integer.valueOf(g),
      (a: Integer, b: Integer) => Integer.valueOf(math.max(a.intValue, b.intValue))))
  }

  /** Ingest every new drop of `topics` into their date-partitioned
    * targets, one AvailableNow query per topic, all running at once.
    */
  private def ingest(spark: SparkSession, st: State, topics: Seq[Drops.Topic], tracer: Tracer): Unit =
    tracer.span("streaming.ingest") {
      topics.map { topic =>
        val stagedDf = staged(spark, st, topic.name)
        val cols = recordCols(spark, st, topic.name)
        val types = StructType(cols.map(c => stagedDf.schema(c)))
        val decoded = KafkaJson.fileStream(spark, s"${st.topics}/${topic.name}", Drops.wireSchema(types))
          .select(cols.map(c => col(c).cast(types(c).dataType).as(c)): _*)
        IncrementalIngest.startIngest(decoded, s"${st.targets}/${topic.name}",
          s"${st.ckpt}/${topic.name}", topic.keys, Trigger.AvailableNow(), Some(topic.tsCol))
      }.map(q => scala.util.Try(q.awaitTermination())).foreach(_.get)
    }

  private def target(spark: SparkSession, st: State, topic: String): DataFrame =
    spark.read.parquet(s"${st.targets}/$topic").drop("load_date")

  private def feeds(spark: SparkSession, st: State): Seq[DataFrame] =
    Lake.staticFeeds.map(Lake.read(spark, st.feeds, _))

  /** The vault input: transactions, customers and corporates, then the
    * CSV feeds in `Lake.staticFeeds` order.
    */
  private def raw(inputs: Seq[DataFrame]): Models.Raw = {
    val Seq(tx, customers, corporates, crypto, stock, news) = inputs
    Models.Raw(
      transactionPersonal = tx.filter(col("customer_type") === "PERSONAL"),
      transactionCorporate = tx.filter(col("customer_type") === "CORPORATE"),
      customers = customers, corporates = corporates, news = news,
      cryptoPrices = Map("binance" -> crypto), stockPrices = stock)
  }

  private def mart(m: Models, name: String): DataFrame = name match {
    case "fct_transactions" => m.fctTransactions
    case "dim_customer" => m.dimCustomer
    case "semantic_customer_overview" => m.semanticCustomerOverview
  }

  /** One refresh: ingest the topics with new drops, load the vault input,
    * build the marts, republish them, run the DQ tests over them and
    * release the caches. Loads and builds are cached and counted inside
    * their spans, so each layer's Spark work is charged to it rather than
    * to the first job that needs it. The marts are built straight from
    * `Models`, as `Refresh` builds them; the vault's shared cache
    * (`persistShared`) pays off only when many marts share hubs, as in
    * batch_dag.
    */
  private def cycle(spark: SparkSession, st: State, tracer: Tracer, ops: Ops): Boolean = {
    val todo = Drops.Topics.filter(t =>
      Option(st.written.get(t.name)).exists(w => w > st.ingested.getOrElse(t.name, -1)))
    if (todo.isEmpty) return false
    val upTo = todo.map(t => t.name -> st.written.get(t.name).intValue)
    ops.attempt(s"ingest ${todo.map(_.name).mkString(", ")}")(ingest(spark, st, todo, tracer))
    upTo.foreach { case (t, g) => st.ingested(t) = g }
    val inputs = tracer.span("sources.load_raw") {
      val in = (Drops.Topics.map(t => target(spark, st, t.name)) ++ feeds(spark, st)).map(_.persist())
      ops.attempt("load raw")(tracer.rows(in.map(_.count()).sum))
      in
    }
    val m = Models(raw(inputs))
    st.models = m
    val marts = Marts.map(mart(m, _).persist())
    tracer.span("vault.marts")(ops.attempt("vault marts")(tracer.rows(marts.map(_.count()).sum)))
    ops.attempt("tick")(tracer.span("streaming.refresh")(st.refresh.tick()))
    tracer.span("quality.dq") {
      ops.attempt("dq summary") {
        val rows = Checks.summary(ReferenceTests.all(m).filter(c => RefreshChecks(c._1))).collect()
        tracer.rows(rows.length)
        rows
      }.foreach(rows => ops.check(
        s"dq summary all zero (${rows.filter(_.getLong(1) != 0).mkString(", ")})",
        rows.length == RefreshChecks.size && rows.forall(_.getLong(1) == 0L)))
    }
    tracer.span("vault.release")((marts ++ inputs).foreach(_.unpersist(blocking = true)))
    true
  }

  private def newState(spark: SparkSession, dir: String): State = {
    val st = new State(s"$dir/live", s"$dir/staged", s"$dir/static")
    st.refresh = new Refresh(spark, Marts.map(n => n -> ((_: SparkSession) => mart(st.models, n))).toMap,
      st.pub)
    st
  }

  /** Bootstrap: drop 0 of every topic, one refresh cycle, one read of each
    * tool.
    */
  def warm(spark: SparkSession, dir: String, seed: Long, ops: Ops): Unit = {
    val st = newState(spark, dir)
    val off = new Tracer(spark.sparkContext, false)
    writeDrop(spark, st, 0)
    cycle(spark, st, off, ops)
    val rnd = new scala.util.Random(seed)
    Tools.indices.foreach(i => read(spark, st, i, rnd, off, ops))
    state = st
  }

  val Tools = Seq("searchOrders", "recentEvents", "kpiSummary", "valueTrend", "searchCustomers",
    "recentPrices")

  /** The currently published version of a mart; fails the read if the
    * version it points at is incomplete.
    */
  private def published(spark: SparkSession, st: State, name: String): DataFrame = {
    val path = Pointer.read(spark, s"${st.pub}/$name/_current")
      .getOrElse(sys.error(s"no published version of $name"))
    val success = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    if (!success.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(success))
      sys.error(s"read a half-published version of $name: $path")
    spark.read.parquet(path)
  }

  /** One ad-hoc read; returns its latency in ms, or None if it failed. */
  private def read(spark: SparkSession, st: State, tool: Int, rnd: scala.util.Random,
      tracer: Tracer, ops: Ops): Option[Double] = {
    val cust = f"CUST-${rnd.nextInt(Drops.Customers.toInt)}%08d"
    val pattern = f"cust-${rnd.nextInt(100)}%02d"
    val t0 = System.nanoTime()
    tracer.span("queries.adhoc") {
      ops.attempt(s"read ${Tools(tool)}") {
        lazy val orders = published(spark, st, "fct_transactions").select(
          col("transaction_id").as("o_orderkey"), col("customer_id").as("o_custkey"),
          col("transaction_type").as("o_orderstatus"), col("transaction_amount").as("o_totalprice"),
          col("transaction_timestamp").as("o_orderdate"))
        lazy val customers = published(spark, st, "semantic_customer_overview").select(
          col("customer_id").as("c_custkey"), lower(col("customer_id")).as("c_name"),
          col("customer_tier").as("c_mktsegment"), col("total_amount").as("c_acctbal"))
        lazy val events = target(spark, st, "transactions").select(
          col("customer_id").as("user_id"), col("transaction_timestamp").as("ts"),
          col("transaction_id").as("event_id"), col("transaction_amount").cast("double").as("value"))
        val asOf = lit("2024-01-20 00:00:00").cast("timestamp")
        val df = Tools(tool) match {
          case "searchOrders" => QueryService.searchOrders(orders, customers, pattern,
            if (rnd.nextBoolean()) Some("BUY") else None, 20)
          case "recentEvents" => QueryService.recentEvents(events, cust, 30, asOf, 20)
          case "kpiSummary" => QueryService.kpiSummary(orders, "o_orderstatus", 10)
          case "valueTrend" => QueryService.valueTrend(events, cust)
          case "searchCustomers" => QueryService.searchCustomers(customers, pattern, 20)
          case "recentPrices" => QueryService.recentPrices(
            Lake.read(spark, st.feeds, "raw_cryptoprices_binance").select(
              upper(col("symbol")).as("asset_symbol"), lit("CRYPTO").as("asset_type"),
              col("observed_at"), col("price"), col("volume")),
            Some(Lake.CryptoSymbols(rnd.nextInt(Lake.CryptoSymbols.size))), Some("CRYPTO"), 7, asOf, 20,
            Seq(col("volume")))
        }
        val rows = df.collect()
        tracer.rows(rows.length)
        checkRead(Tools(tool), cust, rows)
      }
    }.flatMap(ok => if (ok) Some((System.nanoTime() - t0) / 1e6) else None)
  }

  /** Cheap per-read sanity checks on the rows a tool returned. */
  private def checkRead(tool: String, cust: String, rows: Array[Row]): Boolean = tool match {
    case "recentEvents" | "valueTrend" => rows.forall(_.getAs[String]("user_id") == cust)
    case "kpiSummary" => rows.nonEmpty
    case _ => rows.length <= 20
  }

  def measure(spark: SparkSession, dir: String, seed: Long, seconds: Double,
      tracer: Tracer, heap: HeapPeak, ops: Ops): Measured = {
    val st = state
    val startNs = System.nanoTime()
    val first = st.nextDrop
    val nDrops = math.max(1, (seconds / IntervalS).toInt)
    require(first + nDrops - 1 <= StagedDrops, "drop schedule exhausted; raise StagedDrops")
    val dueNs = (0 until nDrops).map(i => startNs + (i * IntervalS * 1e9).toLong)
    val writtenNs = new java.util.concurrent.atomic.AtomicLongArray(nDrops)
    val publishedNs = Array.fill(nDrops)(Long.MaxValue)
    val producerDone = new AtomicBoolean(false)
    val refresherDone = new AtomicBoolean(false)

    val producer = new Thread(() => {
      try {
        for (i <- 0 until nDrops) {
          val wait = dueNs(i) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          val g = first + i
          ops.attempt(s"produce drop $g")(writeDrop(spark, st, g))
          writtenNs.set(i, System.nanoTime())
        }
      } finally producerDone.set(true)
    }, "perfbench-producer")

    val latencies = ArrayBuffer.empty[Double]
    val reader = new Thread(() => {
      val rnd = new scala.util.Random(seed * 31 + first)
      while (!refresherDone.get()) {
        read(spark, st, rnd.nextInt(Tools.size), rnd, tracer, ops).foreach(ms => latencies.synchronized(latencies += ms))
      }
    }, "perfbench-reader")

    producer.start()
    reader.start()
    var backlogMax = 0
    var cycles = 0
    while (!(producerDone.get() && Drops.Topics.forall(t =>
        Option(st.written.get(t.name)).forall(w => st.ingested.getOrElse(t.name, -1) >= w)))) {
      // drops fully written before this cycle starts are published by it
      val covered = (0 until nDrops).filter(i => writtenNs.get(i) != 0 && publishedNs(i) == Long.MaxValue)
      backlogMax = math.max(backlogMax, covered.size)
      if (cycle(spark, st, tracer, ops)) {
        val c1 = System.nanoTime()
        cycles += 1
        covered.foreach(i => publishedNs(i) = c1)
      } else Thread.sleep(5)
    }
    // drops written during the last cycle but ingested by it count as
    // published at its end
    val end = System.nanoTime()
    (0 until nDrops).foreach(i => if (publishedNs(i) == Long.MaxValue) publishedNs(i) = end)
    refresherDone.set(true)
    producer.join()
    reader.join()
    st.nextDrop = first + nDrops
    heap.sample()

    val lags = (0 until nDrops).map(i => (publishedNs(i) - dueNs(i)) / 1e9)
    val late = (0 until nDrops).map(i => (writtenNs.get(i) - dueNs(i)) / 1e9)
    val reads = latencies.synchronized(latencies.toSeq)
    val tail = Stats.supportedTail(reads)
    System.err.println(f"[perfbench] live_refresh window + drain ${(end - startNs) / 1e9}%.2f s, $cycles cycles")
    val (dupRatio, checks) = checkOutputs(spark, st, ops)
    Measured(
      endToEnd = Map("freshness_p50_s" -> Stats.median(lags)),
      layer = Map(
        "streaming.ingest.dup_drop_ratio" -> dupRatio,
        "streaming.generator_late_s" -> late.max,
        "streaming.backlog_max" -> backlogMax.toDouble,
        "queries.adhoc.p50_ms" -> Stats.median(reads),
        "queries.adhoc.tail_ms" -> tail.map(_._2).getOrElse(reads.max),
        "queries.adhoc.tail_pct" -> tail.map(_._1).getOrElse(100.0),
        "queries.adhoc.samples" -> reads.size.toDouble),
      fingerprints = Map.empty,
      info = Map("drops" -> nDrops.toString, "cycles" -> cycles.toString, "reads" -> reads.size.toString,
        "adhoc_tail" -> tail.map(t => s"p${t._1}=${t._2}ms of ${t._3}").getOrElse(s"max of ${reads.size}"),
        "refresh_lag_p50_s" -> Stats.median(lags).toString) ++ checks)
  }

  /** Exactly-once per topic, and the published marts equal a batch
    * recompute over every drop written so far. Returns the dup-drop ratio.
    */
  private def checkOutputs(spark: SparkSession, st: State, ops: Ops): (Double, Map[String, String]) = {
    val last = st.nextDrop - 1
    def sentOf(t: Drops.Topic) = staged(spark, st, t.name).filter(col("drop_id") <= last)
    def wanted(t: Drops.Topic) =
      sentOf(t).filter(!col("redelivered")).select(recordCols(spark, st, t.name).map(col): _*)
    // per topic: (redelivered records sent, redelivered records kept)
    val dups = Drops.Topics.map { t =>
      val got = target(spark, st, t.name).select(recordCols(spark, st, t.name).map(col): _*)
      ops.check(s"${t.name}: target equals the distinct generated records exactly once",
        Fingerprint.sameRows(wanted(t), got))
      val n = sentOf(t).agg(sum(when(col("redelivered"), 1L).otherwise(0L)),
        sum(when(col("redelivered"), 0L).otherwise(1L))).head()
      (n.getLong(0), got.count() - n.getLong(1))
    }
    val batch = Models(raw(Drops.Topics.map(wanted) ++ feeds(spark, st)))
    val infos = Marts.map { n =>
      val same = Fingerprint.sameRows(published(spark, st, n), mart(batch, n))
      ops.check(s"published $n equals a batch recompute over all drops", same)
      s"mart_$n" -> (if (same) "equal" else "DIFFERENT")
    }.toMap
    val sentDup = dups.map(_._1).sum
    val suppressed = sentDup - math.max(0L, dups.map(_._2).sum)
    (if (sentDup == 0) 1.0 else suppressed.toDouble / sentDup, infos)
  }
}
