package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the graft engine.
  *
  * Design notes (100 TB posture):
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  *     and dynamic broadcast conversion replace hand-tuned partition counts.
  *   - `spark.sql.shuffle.partitions` is a *starting* value sized from the
  *     session's own `defaultParallelism` (the slot count locally, total
  *     executor cores on a cluster); AQE coalesces down from there.
  *   - Session timezone pinned to UTC: the reference stores naive wall-clock
  *     timestamps (reference `scripts/kafka/kafka_consumer.py:210-245`), so all
  *     timestamp arithmetic must be timezone-stable for oracle parity.
  */
object Graft {

  /** The engine's one session: every main (Bench, Verify, TimeOne, PlanDump,
    * ScaleGen), the benchmark harness and the test suite build through
    * here, so their configs cannot drift apart. Idempotent: a second call returns the
    * running session with the same settings applied.
    */
  def session(master: String = "local[*]", app: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(app)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Post-shuffle partition counts derive from SHUFFLE BYTES (the AQE
      // advisory size), not from the slot count: the default
      // parallelismFirst=true floors every coalesce at defaultParallelism,
      // so each tiny stage pays slot-count-many tasks of scheduling
      // overhead (measured: the 32-core full bench ran 162.5s with the
      // floor vs 147.3s without, while an 8-core run beat both — the
      // mild anti-scaling class). At production scale any real shuffle
      // exceeds slots x advisory bytes and the setting is a no-op; on
      // small inputs it keeps fixed costs independent of cluster width
      // (guide §2.2 "fewer, larger reduce partitions").
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // some testdata generations store events.ts as TIMESTAMP(NANOS),
      // which Spark reads only as a long; `Q.t` converts it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Slot count of the local mains: `SPARK_GRAFT_CPUS`, else every core. */
  def localCpus: Int =
    envPositiveInt("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors())

  /** `raw`, the value of setting `key`, as an integer of at least 1.
    *
    * @throws IllegalArgumentException naming `key` when `raw` is not an
    *         integer or is below 1 (a slot count, factor or file count of 0
    *         would otherwise fail far from its cause, or silently act as 1)
    */
  def positiveInt(key: String, raw: String): Int =
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$key must be a positive integer, got '$raw'"))

  /** Environment variable `key` through [[positiveInt]], else `default`. */
  def envPositiveInt(key: String, default: => Int): Int =
    sys.env.get(key).map(positiveInt(key, _)).getOrElse(default)

  /** Load one of the driver-provided testdata tables (TESTDATA.md).
    * Explicit parquet scan; Catalyst handles column pruning + filter pushdown.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
