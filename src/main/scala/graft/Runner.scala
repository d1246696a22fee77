package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

import graft.queries.{Q, Shared}

/** The one memo-aware runner behind Bench, Verify and TimeOne: it owns the
  * lifecycle of the memoized families the queries declare (`Q.shares`) and
  * records what each line did.
  *
  *   - `warmUp` runs every query once at a warm-up dir (JIT and codegen
  *     excluded from what follows), then releases that dir's memos so their
  *     partitions do not sit in executor storage through the run.
  *   - `fill` fills each family the run reads, in fill order, before the
  *     first query, each fill as its own line.
  *   - `map` runs the queries in order, each as one line, and releases each
  *     family right after its last consumer. At factor 100 the accumulated
  *     memos OOM'd the default heap (BUILDER_NOTES incident 2); they refill
  *     on demand, so releasing after the final consumer costs nothing.
  *   - `line` runs one unit of work and returns its [[Runner.Line]] record.
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

  /** `System.nanoTime` at the start of this run's first line. */
  private var origin: Option[Long] = None

  def warmUp(warmDir: String): Unit = {
    queries.distinct.foreach { q =>
      try Runner.noop(q.fn(spark, warmDir))
      catch { case e: Throwable => log(s"warm-up ${q.name} failed: ${Runner.message(e)}") }
    }
    families.foreach(release(_, warmDir))
  }

  /** Fill every family this run reads, one line per fill. */
  def fill(): Seq[Runner.Line] = families.map(f => line(f.line)(f.fill(spark, dir)))

  /** Run `body` over each query in order as one line named after it, and
    * hand each record to `report` as soon as the line ends. Each family is
    * released right after its last consumer, whether or not it failed.
    */
  def map[A](body: Q => Unit)(report: Runner.Line => A): Seq[A] =
    queries.zipWithIndex.map { case (q, i) =>
      try report(line(q.name)(body(q)))
      finally releaseAfter.getOrElse(i, Nil).foreach(release(_, dir))
    }

  /** Run `work` as one line: its wall time, its error if it throws, and the
    * Spark work it caused, counted by a listener registered for the line
    * alone and read after the listener bus has drained. Lines must not run
    * concurrently: every job started while the listener is registered is
    * charged to this line. Tasks of jobs started before the line (a failed
    * line's siblings still running) are not.
    */
  def line(name: String)(work: => Unit): Runner.Line = {
    val sc = spark.sparkContext
    Bridge.drainListeners(sc)
    val rec = new Runner.Recorder
    sc.addSparkListener(rec)
    try {
      val t0 = System.nanoTime()
      val start = (t0 - origin.getOrElse { origin = Some(t0); t0 }) / 1e9
      val wall0 = System.currentTimeMillis()
      val error = try { work; None } catch { case e: Throwable => Some(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      val wall1 = System.currentTimeMillis()
      Bridge.drainListeners(sc)
      rec.line(name, start, sec, error, wall0, wall1)
    } finally sc.removeSparkListener(rec)
  }

  def release(f: Shared, at: String = dir): Unit =
    try f.release(spark, at)
    catch { case e: Throwable => log(s"release of ${f.line} at $at failed: ${Runner.message(e)}") }
}

object Runner {

  /** What one line did. `start` is seconds from the run's first line;
    * `sec` its wall time; `error` what it threw. The counters cover the
    * jobs the line started: stages and tasks completed, shuffle read and
    * write, disk spill, task CPU, run and GC time, and `gapS`, the wall
    * time no job of the line was running (driver-side planning, listing,
    * collection and scheduling gaps). `taskCpuS / taskRunS` drops on a line
    * whose tasks waited for a CPU or I/O co-tenant.
    */
  final case class Line(
      name: String,
      start: Double,
      sec: Double,
      error: Option[Throwable],
      jobs: Seq[Job],
      stages: Long,
      tasks: Long,
      shuffleReadMb: Double,
      shuffleWriteMb: Double,
      spillMb: Double,
      taskCpuS: Double,
      taskRunS: Double,
      gcS: Double,
      gapS: Double) {

    /** The counters under their artifact names, formatted, in a fixed order. */
    def counters: Seq[(String, String)] = {
      def f(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      Seq("jobs" -> jobs.size.toString, "stages" -> stages.toString, "tasks" -> tasks.toString,
        "shuffle_read_mb" -> f(shuffleReadMb), "shuffle_write_mb" -> f(shuffleWriteMb),
        "spill_mb" -> f(spillMb), "task_cpu_s" -> f(taskCpuS), "task_run_s" -> f(taskRunS),
        "gc_s" -> f(gcS), "gap_s" -> f(gapS))
    }
  }

  /** One job of a line: listener-bus times in epoch ms (`end` is the
    * line's end for a job still running then).
    */
  final case class Job(id: Int, start: Long, end: Long, description: String)

  /** Materialize every column through the noop sink: `count()` would let
    * Catalyst prune unreferenced projections, so map-only queries would
    * measure a row count instead of their expression work.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)

  private def stderr(line: String): Unit = System.err.println(s"[runner] $line")

  private val MB = 1024.0 * 1024.0

  /** Milliseconds of [t0, t1] that none of `spans` covers. */
  private[graft] def uncovered(t0: Long, t1: Long, spans: Seq[(Long, Long)]): Long = {
    var reach = t0
    var covered = 0L
    spans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => s < e }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (t1 - t0) - covered
  }

  private final class Recorder extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val stages, tasks, shuffleRead, shuffleWrite, spill, cpuNs, runMs, gcMs = new LongAdder

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(stageIds.add)
      val description = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, description))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
      ()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(e.stageInfo.stageId)) stages.increment()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageIds.contains(e.stageId)) {
        tasks.increment()
        Option(e.taskMetrics).foreach { m =>
          shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          spill.add(m.diskBytesSpilled)
          cpuNs.add(m.executorCpuTime)
          runMs.add(m.executorRunTime)
          gcMs.add(m.jvmGCTime)
        }
      }

    def line(name: String, start: Double, sec: Double, error: Option[Throwable],
        wall0: Long, wall1: Long): Line = {
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
        .map(j => if (j.end < 0) j.copy(end = wall1) else j)
      Line(name, start, sec, error, js, stages.sum, tasks.sum,
        shuffleRead.sum / MB, shuffleWrite.sum / MB, spill.sum / MB,
        cpuNs.sum / 1e9, runMs.sum / 1e3, gcMs.sum / 1e3,
        uncovered(wall0, wall1, js.map(j => (j.start, j.end))) / 1e3)
    }
  }
}
