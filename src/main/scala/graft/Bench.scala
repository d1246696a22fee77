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

  /** Spark-free single-thread md5-chain throughput (M ops/s, ~3s): isolates
    * raw core + memory-path speed from scheduler/stage-dispatch effects.
    * This is the probe regime HOST_PROBE_r17.json calibrated (JVM-side
    * quiet gate ~8.9 M/s on the current host generation per
    * CALIB_PROBE_r16.json; 2.0 M/s on the r14 generation). A
    * memory-bandwidth co-tenant (the r17 attempt-3 class) depresses this
    * figure while task counters and guest loadavg still read idle: stalled
    * cycles count as task CPU time. -1 when the probe fails.
    */
  private def md5SingleMps(): Double =
    try {
      val md = java.security.MessageDigest.getInstance("MD5")
      var h = Array[Byte]('x')
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 3e9.toLong) {
        var i = 0
        while (i < 10000) { h = md.digest(h); i += 1 }
        n += 10000
      }
      n / ((System.nanoTime() - t0) / 1e9) / 1e6
    } catch { case e: Throwable =>
      log(s"md5 host probe failed: ${Runner.message(e)}")
      -1.0
    }

  /** The first number in a /proc file (`/proc/loadavg`: load1,
    * `/proc/uptime`: seconds up), or -1 when it cannot be read; the failure
    * goes to `log`.
    */
  def procFirst(path: String, log: String => Unit): Double =
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

    // Denominator-side host probe, leading read (r17 verdict #1): the
    // r17 attempt-3 incident proved a memory-bandwidth co-tenant can
    // inflate every query line uniformly ~1.23x while guest loadavg reads
    // idle, and no task counter sees it. Runs BEFORE any Spark job and
    // outside every timed line. Compare against host_md5_quiet_mps (below):
    // both lead and trail near the gate = quiet host; a uniform shortfall
    // (e.g. ~7.2 vs 8.9 in HOST_PROBE_r17's calib reading) = bandwidth
    // co-tenancy.
    val hostMd5Lead = md5SingleMps()
    // Quiet-gate reference for the md5 probe on THIS host generation:
    // 8.93 M/s from CALIB_PROBE_r16.json (true idle). Host-class constant:
    // override on any other host class or the comparison misreads.
    val hostMd5QuietMps = sys.env.get("SPARK_GRAFT_MD5_QUIET_MPS")
      .map(_.toDouble).getOrElse(8.93)

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
    val fills = runner.fill()

    // Fixed-work calibration: a deterministic CPU-bound pass over constant
    // in-memory data — no I/O, no testdata dependency, identical work every
    // round. Its time measures HOST speed only, so a round-over-round bench
    // comparison can divide raw per-query deltas by the ratio of the two
    // runs' q_calibration seconds to cancel uniform machine drift (three
    // rounds running, the first read of BENCH_rN vs rN-1 was dominated by
    // 10-15% uniform host drift that had to be reconstructed from medians
    // of untouched queries). Warmed once like every other line so JIT is
    // excluded.
    def calibCpuFrame = {
      import org.apache.spark.sql.functions._
      spark.range(0L, 4000000L, 1L, 64)
        .select((1 to 8).foldLeft(col("id").cast("string"))((c, _) => md5(c)).as("h"))
        // decimal sum: 4M xxhash64 longs overflow a BIGINT sum under ANSI
        .agg(sum(xxhash64(col("h")).cast("decimal(38,0)")).as("s"))
    }
    val calibration = {
      try noop(calibCpuFrame)
      catch { case e: Throwable => log(s"calibration warm-up failed: ${Runner.message(e)}") }
      runner.line("q_calibration")(noop(calibCpuFrame))
    }
    // I/O-bound calibration twin (verdict r11 task #2): the CPU line above
    // cannot see disk/page-cache drift — r11's idle-to-idle wall rose ~10%
    // uniformly across untouched parquet-scan-heavy queries while
    // q_calibration said the CPU was flat-to-faster. This line scans a
    // CONSTANT uncompressed parquet directory at a fixed path (created
    // deterministically if absent, so content is identical across rounds;
    // it persists across rounds on the same host, so its page-cache state
    // drifts exactly the way the testdata's does). Deliberately NOT
    // warmed: a warmup pass would push it fully cache-hot and hide the
    // very state this line exists to measure. Plain-encoded fixed-width
    // columns keep decode cheap relative to the byte volume, so the time
    // tracks the I/O path, not expression work.
    val ioDir = sys.env.getOrElse("SPARK_GRAFT_CALIB_IO_DIR", "/tmp/graft_calib_io")
    val calibrationIo = {
      import org.apache.spark.sql.functions._
      val setupError = try {
        if (!new java.io.File(ioDir, "_SUCCESS").isFile)
          spark.range(0L, 8000000L, 1L, 32)
            .select(col("id"), xxhash64(col("id")).as("h"),
              md5(col("id").cast("string")).as("s"))
            .write.option("compression", "none").mode("overwrite").parquet(ioDir)
        None
      } catch { case e: Throwable => Some(e) }
      runner.line("q_calibration_io") {
        setupError.foreach(e => throw e)
        noop(spark.read.parquet(ioDir))
      }
    }
    // Each memoized family is released right AFTER its last consumer's
    // line (the runner's release, outside the line), so no query's number
    // changes: the fill lines still carry the fills.
    val lines = runner.map(q => noop(q.fn(spark, sfDir)))(identity)
    val records = calibration +: calibrationIo +: (fills ++ lines)
    // Denominator-side host probe, trailing read: same measurement as the
    // lead, taken after the last timed line so the pair brackets the run.
    // Session alive but idle; the post-run JVM carries a populated heap, so
    // residual background GC can shave this reading slightly at a
    // genuinely quiet host — read lead and trail together.
    val hostMd5Trail = md5SingleMps()
    // A failing query must be visible, never a fake-fast timing: its time is
    // emitted as a NEGATIVE sentinel and its error lands in BENCH_DETAIL's
    // "errors" map, so a regression can't masquerade as a speedup.
    val results = records.map(r => r.name -> (if (r.error.isEmpty) r.sec else -r.sec))
    // The driver records a 2000-char stdout tail, so the JSON line must fit
    // by construction: if the full per-query map would overflow, the
    // smallest timings fold into one "q_other" aggregate until it fits
    // (headline queries always stay visible). Full 3-decimal per-query
    // detail goes to BENCH_DETAIL.json for the judge. stop() BEFORE println
    // so no shutdown log line can land after the JSON — it must be the last
    // line on stdout.
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // total counts successful queries only; failures are reported separately
    val total = results.map(_._2).filter(_ > 0).sum
    val sfName = new java.io.File(sfDir).getName
    val errors = records.flatMap(r => r.error.map(r.name -> _))
    val errSuffix =
      if (errors.isEmpty) "" else s""","errors":${errors.size}"""
    def line(kept: Seq[(String, Double)], otherSum: Double): String = {
      val entries = kept.map { case (k, v) => "\"" + k + "\":" + f2(v) } ++
        (if (otherSum > 0) Seq("\"q_other\":" + f2(otherSum)) else Nil)
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":${
        entries.mkString("{", ",", "}")},"sf":"$sfName"$errSuffix}"""
    }
    val byTimeDesc = results.sortBy { case (n, v) => (-v, n) }
    val fits = (0 to results.size).iterator
      .map(n => line(byTimeDesc.take(n).sortBy(_._1),
        byTimeDesc.drop(n).map(_._2).filter(_ > 0).sum))
      .zipWithIndex.toSeq.reverse
      .collectFirst { case (l, _) if l.length <= 1900 => l }
    try {
      def obj(kvs: Seq[(String, String)]): String =
        kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val detail = obj(results.map { case (k, v) => k -> f(v) })
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
        "task_cpu_s/task_run_s in counters at its t_start window, while a memory-bandwidth " +
        "co-tenant slows every line with normal counters and shows as host_md5_mps_lead/_trail " +
        "below host_md5_quiet_mps."
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_DETAIL", "/root/repo/BENCH_DETAIL.json")),
        s"""{"total_sec":${f(total)},"sf":"$sfName","cpus":$cpus,"load1_start":${f2(load1Start)},"load1":${f2(load1)},"uptime_sec":${f(uptimeSec)},"host_md5_mps_lead":${f(hostMd5Lead)},"host_md5_mps_trail":${f(hostMd5Trail)},"host_md5_quiet_mps":${f(hostMd5QuietMps)},"warmup_sec":${f(warmupSec)},"gate_factor":$gateFactor,"policy_skips":$skipJson,"how_to_read":"$howToRead","t_start":$tStartJson,"counters":$countersJson,"errors":$errJson,"queries":$detail}""" + "\n")
    } catch { case e: Throwable =>
      log(s"BENCH_DETAIL write failed: ${Runner.message(e)}")
    }
    spark.stop()
    println(fits.getOrElse(line(Seq.empty, total)))
  }
}
