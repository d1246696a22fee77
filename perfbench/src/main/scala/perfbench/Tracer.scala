package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in tracer: spans opened by the benchmark around calls into
  * graft's public functions, plus a SparkListener that charges every job,
  * stage and task to the span that was open on the submitting thread when
  * the job started (carried as a job-local property, which Spark copies to
  * threads the span's code starts, such as concurrent fills and streaming
  * query threads). Spans and counters stay in memory; `summary` is read
  * once at the end of a run.
  *
  * When disabled, `span` only runs its body: no listener is registered and
  * no job property is set, so the untraced run pays nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val counters = new ConcurrentHashMap[Long, Counters]()
  @volatile private var windowStart = Double.NaN

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toLong)
      sid.foreach { s =>
        jobs.put(e.jobId, new JobRec(s, e.time.toDouble))
        e.stageIds.foreach(stageSpan.put(_, s))
        counterOf(s).jobs.increment()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = counterOf(s)
        c.tasks.increment()
        Option(e.taskMetrics).foreach { m =>
          c.taskMs.add(m.executorRunTime)
          c.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.add(m.diskBytesSpilled)
          c.inputBytes.add(m.inputMetrics.bytesRead)
          c.rowsOut.add(m.outputMetrics.recordsWritten)
          c.rowsRead.add(m.inputMetrics.recordsRead)
        }
      }
  }

  if (enabled) sc.addSparkListener(listener)

  private def counterOf(s: Long): Counters = counters.computeIfAbsent(s, _ => new Counters)

  /** Marks the start of the traced window (for slot utilisation). */
  def startWindow(): Unit = windowStart = nowMs()

  /** Run `body` inside a span named `name` ("layer.span"). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = Option(sc.getLocalProperty(Key))
      val sp = new Span(nextId.incrementAndGet(), name, parent.map(_.toLong), nowMs())
      spans.put(sp.id, sp)
      sc.setLocalProperty(Key, sp.id.toString)
      try body
      finally {
        sp.end = nowMs()
        sc.setLocalProperty(Key, parent.orNull)
      }
    }

  /** Add result rows the benchmark counted itself (e.g. rows collected by
    * a read) to the innermost open span on this thread.
    */
  def rows(n: Long): Unit =
    if (enabled) Option(sc.getLocalProperty(Key)).foreach(s => counterOf(s.toLong).rowsOut.add(n))

  /** Per span name: the mean over its instances of each counter, plus the
    * instance count. Call once, after the traced work has finished.
    */
  def summary(cores: Int): (Map[String, Map[String, Double]], Double) = {
    org.apache.spark.ListenerDrain(sc)
    val all = spans.values.asScala.toSeq.filter(!_.end.isNaN)
    val children = all.groupBy(_.parent)
    val jobsBySpan = jobs.values.asScala.toSeq.filter(!_.end.isNaN).groupBy(_.span)
    val perInstance = all.map { sp =>
      val kids = children.getOrElse(Some(sp.id), Nil).map(k => (k.start, k.end))
      val own = jobsBySpan.getOrElse(sp.id, Nil).map(j => (j.start, j.end))
      val c = Option(counters.get(sp.id)).getOrElse(new Counters)
      sp.name -> Map(
        "wall_s" -> Stats.selfTime(sp.start, sp.end, kids) / 1000.0,
        "gap_s" -> Stats.gapTime(sp.start, sp.end, kids ++ own) / 1000.0,
        "jobs" -> c.jobs.sum.toDouble,
        "tasks" -> c.tasks.sum.toDouble,
        "shuffle_mb" -> c.shuffleBytes.sum / MB,
        "spill_mb" -> c.spillBytes.sum / MB,
        "input_mb" -> c.inputBytes.sum / MB,
        // rows written or returned; a span that does neither (a scan or
        // an audit) reports the rows its jobs read
        "rows_out" -> (if (c.rowsOut.sum > 0) c.rowsOut.sum else c.rowsRead.sum).toDouble)
    }
    val byName = perInstance.groupBy(_._1).map { case (name, xs) =>
      val n = xs.size.toDouble
      name -> (xs.head._2.keys.map(k => k -> xs.map(_._2(k)).sum / n).toMap + ("instances" -> n))
    }
    val taskMs = counters.values.asScala.map(_.taskMs.sum).sum.toDouble
    val window = nowMs() - windowStart
    val slotUtil = if (window > 0) taskMs / (window * cores) else 0.0
    (byName, slotUtil)
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  private val Key = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  private def nowMs(): Double = System.nanoTime() / 1e6 - clockOffsetMs

  // Span times use the monotonic clock shifted onto the epoch-millisecond
  // scale the listener's job times use, so both can be compared directly.
  private val clockOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble

  final class Span(val id: Long, val name: String, val parent: Option[Long], val start: Double) {
    @volatile var end: Double = Double.NaN
  }

  final class JobRec(val span: Long, val start: Double) {
    @volatile var end: Double = Double.NaN
  }

  final class Counters {
    val jobs, tasks, taskMs, shuffleBytes, spillBytes, inputBytes, rowsOut, rowsRead = new LongAdder
  }
}
