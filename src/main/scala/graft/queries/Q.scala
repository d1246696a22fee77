package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Graft, Materialize}

/** One registered engine query: the Spark implementation plus (when
  * SQL-expressible) an equivalent ANSI SQL oracle the driver runs in DuckDB
  * over the same parquet tables.
  *
  * `gate` is the query's SCALE-GATE POLICY, carried in code so the
  * replicated-corpus gates read it from the registry instead of from tooling
  * invocation notes: `Some(Gate(f, reason))` means the query is value-gated
  * up to replication factor f and policy-skipped above it, for `reason`
  * (the standing adjudications: a pair query whose OUTPUT is
  * C(factor,2)-quadratic per copy-family on replicated corpora cannot be
  * replayed at unbounded factors — its linear GROUPS twin carries the dedup
  * contract and is gated instead). `None` (the default) = gate at every
  * factor.
  *
  * `shares` names the memoized family the query reads, if any; the
  * [[graft.Runner]] fills that family before the run's first query and
  * releases it right after its last consumer.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    gate: Option[Gate] = None,
    shares: Option[Shared] = None)

/** A scale-gate policy: value-gated up to replication `maxFactor`, skipped
  * above it, for `reason`.
  */
final case class Gate(maxFactor: Int, reason: String)

/** A memoized family several registered queries read: one materialization
  * per (session, dir), built by `fill` and freed by `release`. `line` names
  * the fill's own timed line, so the one-time fill is not charged to
  * whichever consumer happens to run first.
  */
class Shared(
    val line: String,
    val fill: (SparkSession, String) => Unit,
    val release: (SparkSession, String) => Unit)

object Shared {

  /** A family whose value is built at most once per (session, dir) and
    * kept until released; consumers read it with `apply`.
    */
  final class Memo[A] private[Shared] (
      line: String,
      get: (SparkSession, String) => A,
      fill: (SparkSession, String) => Unit,
      release: (SparkSession, String) => Unit)
      extends Shared(line, fill, release) {
    def apply(s: SparkSession, dir: String): A = get(s, dir)
  }

  /** The one owner of a family's `(session, dir)` memo: `build` makes the
    * value on first use and `fill` materializes it for the fill line, both
    * inside the entry's own scope (`Materialize.owner`), which `release`
    * closes. What the value stores, including members it builds later
    * inside whichever line first reads them, belongs to that scope and not
    * to the line. The memo holds its sessions strongly, so a long-lived
    * session must release each dir it is done with.
    */
  def memo[A](line: String)(build: (SparkSession, String) => A)(fill: A => Unit): Memo[A] = {
    val memo = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (Materialize.Owner, A)]
    def entry(s: SparkSession, dir: String) = memo.getOrElseUpdate((s, dir), {
      val owner = Materialize.owner()
      try owner -> owner(build(s, dir))
      catch { case e: Throwable => owner.close(blocking = true); throw e }
    })
    new Memo[A](line, entry(_, _)._2,
      (s, dir) => { val (owner, a) = entry(s, dir); owner(fill(a)) },
      (s, dir) => memo.remove((s, dir)).foreach(_._1.close(blocking = true)))
  }
}

object Q {

  // Memoized PLANS, not data: `spark.read.parquet` re-lists the directory
  // and re-infers the footer schema (a driver-side job —
  // SchemaMergeUtils.mergeSchemasInParallel showed up in stack samples) on
  // EVERY table reference, and the suite makes hundreds of them per run.
  // Reusing the analyzed frame skips that metadata work (guide §6: avoid
  // repeated listings); every action over it still scans the parquet files,
  // so nothing about query results or their computation is cached.
  private val tableMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Load a testdata table with timestamps normalized to TIMESTAMP_NTZ so
    * engine output parquet carries naive timestamps — the same calendar
    * values DuckDB's oracle produces (the reference likewise stores naive
    * wall-clock timestamps; SURVEY §7.4.1).
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    tableMemo.getOrElseUpdate((s, dir, name), tUncached(s, dir, name))

  private def tUncached(s: SparkSession, dir: String, name: String): DataFrame = {
    // Historically events.ts was TIMESTAMP(NANOS) parquet, which Spark only
    // reads as long (`Graft.session` sets nanosAsLong); current generations
    // store TIMESTAMP_MICROS (NTZ). Adapt to whichever type actually arrives
    // rather than assuming one.
    val df = Graft.table(s, dir, name)
    val ntz = df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case TimestampType => d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        // a DATE-typed generation would otherwise surface date objects where
        // every oracle (and every registered query) expects naive midnight
        // timestamps — same adaptation posture as the events.ts branch below
        case DateType => d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        case _        => d
      }
    }
    if (name == "events")
      ntz.schema("ts").dataType match {
        // nanos-as-long → micros (truncating, same as DuckDB) → naive timestamp
        case LongType =>
          ntz.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        // TIMESTAMP_MICROS parquet: already a timestamp; normalize to NTZ
        case TimestampNTZType => ntz
        case TimestampType    => ntz.withColumn("ts", col("ts").cast("timestamp_ntz"))
        case other            => sys.error(s"unexpected events.ts type: $other")
      }
    else ntz
  }

  // Total on-disk bytes of a testdata table, cached per (dir, name): a
  // plain Hadoop FS stat, NOT a `.rdd.getNumPartitions` probe — forcing
  // physical planning of the scan on every table reference cost driver
  // time on all 168 query paths (ADVICE r18).
  private val tableBytesCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]
  private def tableBytes(s: SparkSession, dir: String, name: String): Long =
    tableBytesCache.getOrElseUpdate((dir, name), {
      try {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(p, true)
        var total = 0L
        while (it.hasNext) total += it.next().getLen
        total
      } catch {
        // unknown size: no spread, but say why instead of hiding it
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[q] size of $dir/$name.parquet unknown, not spreading its scan: $e")
          Long.MaxValue
      }
    })

  /** The session's scan split size, `spark.sql.files.maxPartitionBytes`,
    * parsed as Spark parses it ("64m", "128MB", "134217728b", plain bytes).
    */
  private[graft] def maxSplitBytes(s: SparkSession): Long =
    org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes"))

  /** OPT-IN scan spread for CPU-heavy map fronts (guide §2.5 "input skew —
    * one huge unsplittable file ... repartition immediately after the
    * read"): a compacted table smaller than one scan split arrives as ONE
    * partition, so an expression-heavy map front (token explodes, md5
    * chains, substring dedup) runs on a single core while the rest idle. A
    * deterministic round-robin repartition to the scheduler's slot count
    * fixes that parallelism floor.
    *
    * Opt-in per call site, NOT the shared loader default: round 18 applied
    * this spread to every table reference and the driver measured ~30
    * queries regress up to 11x — per-partition aggregation state (Bloom
    * bitmaps, term maps, approx sketches) is built once per slot and
    * merged, and slot-many concurrent decode buffers divide one fixed-size
    * JVM's execution memory (guide §5), so a blanket spread makes those
    * query classes' cost grow WITH the slot count (the r18 bench ran
    * faster on 8 cores than on 32). Only the map fronts that measurably
    * benefit call this (each A/B'd in OPTIMIZATION_r19.md).
    *
    * Scale-adaptive by a bytes probe, not `.rdd` planning: the spread
    * fires only when the WHOLE table is smaller than one scan split
    * (`spark.sql.files.maxPartitionBytes`), i.e. exactly the
    * single-split-regardless-of-ranging case; a 100 TB table scans as
    * thousands of splits and the loader emits no exchange at all. Row
    * placement does not affect results: every registered query is
    * partitioning-insensitive by design (decimal sums / ordered folds,
    * hash-gate-proven across replicated corpora with different layouts).
    */
  def tSpread(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(s, dir, name)
    val target = s.sparkContext.defaultParallelism
    if (target > 1 && tableBytes(s, dir, name) < maxSplitBytes(s)) df.repartition(target)
    else df
  }

  /** Exact 2-dp decimal view of a money-like double column. All testdata
    * numeric doubles are 2-decimal values, so this cast is lossless and
    * makes sums order-independent (hash-stable vs the oracle).
    */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Order-independent exact sum of a 2-dp double column, emitted as double. */
  def moneySum(c: Column): Column = sum(dec2(c)).cast("double")

  /** Exact average of a 2-dp double column (decimal sum, double division). */
  def avgExact(c: Column): Column = moneySum(c) / count(c)
}
