package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operation accounting behind `attempted` / `failed`: an operation is a
  * mart publish, a tick, a read, a corpus stage, or an output check.
  */
final class Ops {
  private var attempted = 0L
  private var failed = 0L

  def attempt[T](what: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Record one output check. */
  def check(what: String, ok: => Boolean): Unit =
    attempt(what)(ok).foreach(good => if (!good) fail(s"check failed: $what"))

  private def fail(msg: String): Unit = synchronized {
    failed += 1
    System.err.println(s"[perfbench] $msg")
  }

  def counts: (Long, Long) = synchronized((attempted, failed))
}

/** Peak driver heap occupancy, sampled after explicit full collections at
  * the points where a workload holds the most state (caches filled, a
  * stream's state live). The listener bus is drained first, so events still
  * queued for Spark's status store do not count. Sampling is excluded from
  * timed intervals.
  */
final class HeapPeak(sc: org.apache.spark.SparkContext) {
  @volatile private var peak = 0L
  private val mem = ManagementFactory.getMemoryMXBean

  /** Sample now; returns the nanoseconds the sample took. One collection
    * is not enough: objects that reference-processing threads release
    * after it (Spark's ContextCleaner, finalizers) can hold 100 MB, so the
    * sample takes the lowest occupancy over a few collections spaced apart.
    */
  def sample(): Long = {
    val t0 = System.nanoTime()
    org.apache.spark.ListenerDrain(sc)
    val used = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed
    }.min
    peak = math.max(peak, used)
    System.nanoTime() - t0
  }

  def mb: Double = peak / (1024.0 * 1024.0)
}

object Fingerprint {

  /** Order-independent fingerprint of a frame: row count plus a sum and an
    * xor of per-row 64-bit hashes over every column. Equal frames (as
    * multisets of rows) give equal fingerprints.
    */
  def of(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(1L << 31))), bit_xor(h)).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}:${Option(r.get(2)).getOrElse(0L)}"
  }

  def rows(fp: String): Long = fp.takeWhile(_ != ':').toLong

  /** Exact multiset equality of two frames with the same columns, in one
    * job: every distinct row must occur equally often on both sides.
    */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    a.select(cols.map(col) :+ lit(1L).as("__side"): _*)
      .unionByName(b.select(cols.map(col) :+ lit(-1L).as("__side"): _*))
      .groupBy(cols.map(col): _*).agg(sum("__side").as("__n"))
      .filter(col("__n") =!= 0).isEmpty
  }
}

object Session {

  /** The engine's own session factory, sized to this host. Benchmark-only
    * settings (scratch directories inside the checkout, bounded status
    * retention so a long run's heap does not grow with its job count)
    * arrive as `spark.*` system properties from the launcher.
    */
  def start(cores: Int): SparkSession = {
    val spark = graft.core.Graft.session(master = s"local[$cores]", app = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def storageRetainedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
}

/** Minimal JSON rendering for the result line and the run report. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

}
