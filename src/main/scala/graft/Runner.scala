package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Q, Shared}

/** The one memo-aware runner behind Bench, Verify and TimeOne: it owns the
  * lifecycle of the memoized families the queries declare (`Q.shares`).
  *
  *   - `warmUp` runs every query once at a warm-up dir (JIT and codegen
  *     excluded from what follows), then releases that dir's memos so their
  *     partitions do not sit in executor storage through the run.
  *   - `fill` fills each family the run reads, in fill order, before the
  *     first query; the harness wraps each fill as its own line.
  *   - `map` runs the queries in order and releases each family right after
  *     its last consumer. At factor 100 the accumulated memos OOM'd the
  *     default heap (BUILDER_NOTES incident 2); they refill on demand, so
  *     releasing after the final consumer costs nothing.
  *
  * A failed release or warm-up query is reported through `log`, never
  * dropped: a silently kept cache holds executor storage for the rest of
  * the run.
  */
final class Runner(
    spark: SparkSession,
    dir: String,
    queries: Seq[Q],
    log: String => Unit = Runner.stderr,
    fillOrder: Seq[Shared] = SparkEntry.shared) {

  require(queries.flatMap(_.shares).forall(fillOrder.contains),
    "every family a query shares must appear in the fill order")

  /** The families this run reads, in fill order. */
  val families: Seq[Shared] =
    fillOrder.filter(f => queries.exists(_.shares.contains(f)))

  private val releaseAfter: Map[Int, Seq[Shared]] =
    families.groupBy(f => queries.lastIndexWhere(_.shares.contains(f)))

  def warmUp(warmDir: String): Unit = {
    queries.foreach { q =>
      try Runner.noop(q.fn(spark, warmDir))
      catch { case e: Throwable => log(s"warm-up ${q.name} failed: ${Runner.message(e)}") }
    }
    families.foreach(release(_, warmDir))
  }

  /** Fill every family this run reads; `line(name, work)` runs one fill. */
  def fill[A](line: (String, () => Unit) => A): Seq[A] =
    families.map(f => line(f.line, () => f.fill(spark, dir)))

  /** Run `body` over each query in order, releasing each family right after
    * its last consumer, whether or not that consumer failed.
    */
  def map[A](body: Q => A): Seq[A] =
    queries.zipWithIndex.map { case (q, i) =>
      try body(q)
      finally releaseAfter.getOrElse(i, Nil).foreach(release(_, dir))
    }

  def release(f: Shared, at: String = dir): Unit =
    try f.release(spark, at)
    catch { case e: Throwable => log(s"release of ${f.line} at $at failed: ${Runner.message(e)}") }
}

object Runner {

  /** Materialize every column through the noop sink: `count()` would let
    * Catalyst prune unreferenced projections, so map-only queries would
    * measure a row count instead of their expression work.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)

  private def stderr(line: String): Unit = System.err.println(s"[runner] $line")
}
