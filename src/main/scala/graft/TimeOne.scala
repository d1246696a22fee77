package graft

import graft.Runner.noop
import graft.core.Graft
import graft.queries.Q

/** Per-query timing harness for optimization work:
  * `runMain graft.TimeOne <name>[,<name>...] [reps] [--jobs]` times the
  * named registered queries in isolation with EXACTLY Bench's methodology
  * (same session, the [[Runner]]'s sf0.001 warm-up pass and shared fills,
  * noop sink) so a single query can be measured before/after a change
  * without paying the full 172-line surface. Not part of the driver
  * contract — measurement tooling only (guide §1.1: isolate the expensive
  * query, then optimize that one thing).
  *
  * A memoized family the named queries read is filled first, on its own
  * `(fill)` line, so their lines measure the query, not the shared fill;
  * pass a fill line's name (`q_dag_warm`, `q_groups_warm`) to time the fill
  * itself — each rep then releases and refills it.
  */
object TimeOne {

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = args.drop(1).find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session(s"local[${Graft.localCpus}]", "graft-timeone")
    spark.sparkContext.setLogLevel("ERROR")

    // per-rep structural metrics (jobs/stages/tasks + shuffle and scan
    // bytes): the quantitative evidence for shuffle-removal claims —
    // sf0.1 wall-clock alone is fixed-cost- and host-noise-dominated
    val nJobs = new java.util.concurrent.atomic.AtomicLong
    val nStages = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val inBytes = new java.util.concurrent.atomic.AtomicLong
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]
    val jobStartTs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        nJobs.incrementAndGet()
        jobStartTs.put(e.jobId, (e.time,
          Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).getOrElse("")))
        ()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobStartTs.remove(e.jobId)).foreach { case (t0, desc) =>
          jobLog.add((e.jobId, t0, e.time, desc)); ()
        }
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        nStages.incrementAndGet(); ()
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        nTasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          inBytes.addAndGet(m.inputMetrics.bytesRead)
          ()
        }
      }
    })
    def metricsSnapshot(): Map[String, Long] = {
      // listener events are async; a short settle keeps rep-boundary reads
      // honest (the bus drains in ms at these event volumes)
      Thread.sleep(300)
      Map("jobs" -> nJobs.get, "stages" -> nStages.get, "tasks" -> nTasks.get,
        "shuffle_read" -> shufRead.get, "shuffle_write" -> shufWrite.get,
        "input_bytes" -> inBytes.get)
    }

    // a fill line's name times that family's fill: a pseudo-query that
    // consumes the family, so the runner warms and releases it like any other
    val fillLines = SparkEntry.shared.map(f => f.line ->
      Q(f.line, (s, d) => { f.fill(s, d); s.emptyDataFrame }, None, shares = Some(f))).toMap
    val registry = SparkEntry.registered.map(q => q.name -> q).toMap ++ fillLines
    val runner = new Runner(spark, sfDir, names.map(registry),
      line => System.err.println(s"[timeone] $line"))
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) runner.warmUp(warmDir)
    runner.fill { (name, work) =>
      val t0 = System.nanoTime()
      work()
      println(f"[timeone] ${"(fill) " + name}%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    runner.map { q =>
      val name = q.name
      val secs = (1 to reps).map { i =>
        // a fill is one-shot per (session, dir): re-time it per rep
        fillLines.get(name).foreach(_.shares.foreach(runner.release(_)))
        val before = metricsSnapshot()
        val t0 = System.nanoTime()
        noop(q.fn(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        if (i == reps) {
          val after = metricsSnapshot()
          val d = after.map { case (k, v) => k -> (v - before(k)) }
          println(f"[timeone] $name%-28s metrics jobs=${d("jobs")} " +
            f"stages=${d("stages")} tasks=${d("tasks")} " +
            f"shuffle_read=${d("shuffle_read")} shuffle_write=${d("shuffle_write")} " +
            f"input_bytes=${d("input_bytes")}")
          if (args.contains("--jobs")) {
            import scala.jdk.CollectionConverters._
            val js = jobLog.asScala.toSeq.sortBy(_._2)
            val base = js.headOption.map(_._2).getOrElse(0L)
            js.foreach { case (id, t0, t1, desc) =>
              println(f"[timeone]   job $id%4d +${(t0 - base) / 1000.0}%7.2fs " +
                f"${(t1 - t0) / 1000.0}%6.2fs  $desc")
            }
          }
        }
        jobLog.clear()
        dt
      }
      println(f"[timeone] $name%-28s " +
        secs.map(s => f"$s%7.3f").mkString(" ") +
        f"  min=${secs.min}%7.3f med=${secs.sorted.apply(secs.size / 2)}%7.3f")
    }
    spark.stop()
  }
}
