package graft

import graft.Runner.noop

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line. A warmup pass at sf0.001 (when present) runs each
  * query once first so JIT/codegen compilation is excluded from the timed
  * numbers — the measurements then reflect steady-state executor work, the
  * quantity that actually scales with data volume.
  *
  * Queries are materialized through the `noop` sink (`Runner.noop`), and
  * the memo lifecycle (warm-up release, shared fills, release after the
  * last consumer) and the per-line record are the [[Runner]]'s; Bench only
  * formats the records.
  */
object Bench {

  private def log(line: String): Unit = System.err.println(s"[bench] $line")

  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)

  /** The driver records a 2000-char stdout tail; the JSON line must fit. */
  private val MaxLine = 1900

  /** The one stdout JSON line: `value` is the sum of the successful lines'
    * seconds; `queries` maps each line to its seconds, a failed line to its
    * seconds negated. When the full map would overflow `MaxLine`, the
    * fastest successes fold into one `q_other` sum until it fits. Failed
    * lines fold last: a failing query stays visible by name, never a
    * fake-fast timing.
    */
  private[graft] def stdoutLine(results: Seq[(String, Double)], sfName: String, errors: Int): String = {
    val total = results.map(_._2).filter(_ > 0).sum
    val errSuffix = if (errors == 0) "" else s""","errors":$errors"""
    // failures first, then successes slowest first: a prefix is kept
    val keepOrder = results.sortBy { case (n, v) => (v > 0, -v, n) }
    def line(kept: Int): String = {
      val other = keepOrder.drop(kept).map(_._2).filter(_ > 0).sum
      val entries = keepOrder.take(kept).sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + f2(v) } ++
        (if (other > 0) Seq("\"q_other\":" + f2(other)) else Nil)
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${
        entries.mkString("{", ",", "}")},"sf":"$sfName"$errSuffix}"""
    }
    (results.size to 1 by -1).iterator.map(line).find(_.length <= MaxLine).getOrElse(line(0))
  }

  /** The first number in a /proc file (`/proc/loadavg`: load1,
    * `/proc/uptime`: seconds up), or -1 when it cannot be read; the failure
    * goes to `log`.
    */
  private def procFirst(path: String, log: String => Unit): Double =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case e: Throwable =>
      log(s"$path unreadable: ${Runner.message(e)}")
      -1.0
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.Graft.localCpus
    val spark = graft.core.Graft.session(s"local[$cpus]", "graft-bench")
    // ERROR, not WARN: the child's stderr is passed through unprefixed (see
    // build.sbt outputStrategy) and the driver captures a merged tail — WARN
    // chatter would push the JSON line out of its window.
    spark.sparkContext.setLogLevel("ERROR")

    // background load BEFORE the bench's own threads contribute: the
    // end-of-run load1 always reads high (~cpus after a saturating run),
    // so contamination is only visible in the start value
    val load1Start = procFirst("/proc/loadavg", log)

    // Replicated-corpus bench factor: same registry policy the Verify gate
    // reads — queries whose quadratic pair OUTPUT is policy-capped below
    // this factor are skipped, so a factor-50 bench doesn't spend its wall
    // on adjudicated-out lines. Default 1 = no skips (the driver's sf0.1
    // run and same-factor comparisons are unchanged).
    val gateFactor = SparkEntry.gateFactor
    val skips = SparkEntry.policySkips(gateFactor)

    // sorted: Map iteration order is hash-based, which made per-query time
    // attribution nondeterministic across rounds for queries that share
    // cached upstream state (whichever q_dag_* ran first paid the cache)
    val ordered = SparkEntry.registered.sortBy(_.name)
      .filterNot(q => skips.contains(q.name))

    val runner = new Runner(spark, sfDir, ordered, log)
    // the warm-up's wall time goes to BENCH_DETAIL (`warmup_sec`, -1 when
    // there is no warm dir): it is not a timed line, but it can take longer
    // than the timed pass it prepares
    val warmDir = "/root/testdata/sf0.001"
    val warm0 = System.nanoTime()
    val warmupSec = if (!new java.io.File(warmDir).isDirectory) -1.0
      else { runner.warmUp(warmDir); (System.nanoTime() - warm0) / 1e9 }

    // each one-time shared fill (vault cache, then dedup groups) is timed
    // as its own line instead of landing on whichever consumer runs first
    // alphabetically — per-query numbers then measure the queries, not
    // cache attribution. A fill crash must not read as a fast success.
    // Each memoized family is released right AFTER its last consumer's
    // line (the runner's release, outside the line), so no query's number
    // changes: the fill lines still carry the fills.
    val records = runner.fill() ++ runner.map(q => noop(q.fn(spark, sfDir)))(identity)
    // a failed line's time is a NEGATIVE sentinel and its error lands in
    // BENCH_DETAIL's "errors" map, so a regression can't masquerade as a
    // speedup
    val results = records.map(r => r.name -> (if (r.error.isEmpty) r.sec else -r.sec))
    val total = results.map(_._2).filter(_ > 0).sum
    val sfName = new java.io.File(sfDir).getName
    val errors = records.flatMap(r => r.error.map(r.name -> _))
    // full 3-decimal per-line detail goes to BENCH_DETAIL.json
    try {
      def obj(kvs: Seq[(String, String)]): String =
        kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val detail = obj(results.map { case (k, v) => k -> f3(v) })
      // machine load: bench totals are load-sensitive (+0.5 s/query uniform
      // drift observed under background load), so the number is only
      // interpretable next to load1_start (pre-run background load; the
      // end-of-run load1 includes the bench's own saturating threads)
      val load1 = procFirst("/proc/loadavg", log)
      val uptimeSec = procFirst("/proc/uptime", log)
      // strip quote/backslash AND every control char (RFC 8259 requires all
      // of U+0000–U+001F escaped — a \b or \f in an exception message must
      // not invalidate BENCH_DETAIL.json exactly when a query fails)
      val errJson = obj(errors.map { case (k, e) =>
        k -> ("\"" + Runner.message(e).replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200) + "\"")
      })
      // self-describing line-count: which queries the registry scale policy
      // removed at this factor (empty at the default factor 1)
      val skipJson = obj(skips.toSeq.sorted.map { case (k, max) => k -> max.toString })
      // where each line's time went, and when it ran (seconds from the
      // first line): a line a co-tenant slowed is placed by its t_start
      // window and reads a low task_cpu_s/task_run_s
      val tStartJson = obj(records.map(r => r.name -> f2(r.start)))
      val countersJson = obj(records.map(r => r.name -> obj(r.counters)))
      val howToRead = "A line whose tasks waited for a CPU or I/O co-tenant reads a low " +
        "task_cpu_s/task_run_s in counters at its t_start window."
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_DETAIL", "/root/repo/BENCH_DETAIL.json")),
        s"""{"total_sec":${f3(total)},"sf":"$sfName","cpus":$cpus,"load1_start":${f2(load1Start)},"load1":${f2(load1)},"uptime_sec":${f3(uptimeSec)},"warmup_sec":${f3(warmupSec)},"gate_factor":$gateFactor,"policy_skips":$skipJson,"how_to_read":"$howToRead","t_start":$tStartJson,"counters":$countersJson,"errors":$errJson,"queries":$detail}""" + "\n")
    } catch { case e: Throwable =>
      log(s"BENCH_DETAIL write failed: ${Runner.message(e)}")
    }
    // stop() BEFORE println so no shutdown log line can land after the
    // JSON — it must be the last line on stdout
    spark.stop()
    println(stdoutLine(results, sfName, errors.size))
  }
}
