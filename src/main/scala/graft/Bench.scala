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
  * last consumer) is the [[Runner]]'s.
  */
object Bench {

  /** Spark-free single-thread md5-chain throughput (M ops/s, ~3s): isolates
    * raw core + memory-path speed from scheduler/stage-dispatch effects.
    * This is the probe regime HOST_PROBE_r17.json calibrated (JVM-side
    * quiet gate ~8.9 M/s on the current host generation per
    * CALIB_PROBE_r16.json; 2.0 M/s on the r14 generation). A
    * memory-bandwidth co-tenant (the r17 attempt-3 class) depresses this
    * figure while CPU-bound Spark calibration ticks and guest loadavg still
    * read idle.
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
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.Graft.localCpus
    val spark = graft.core.Graft.session(s"local[$cpus]", "graft-bench")
    // ERROR, not WARN: the child's stderr is passed through unprefixed (see
    // build.sbt outputStrategy) and the driver captures a merged tail — WARN
    // chatter would push the JSON line out of its window.
    spark.sparkContext.setLogLevel("ERROR")

    def load1Now(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // background load BEFORE the bench's own threads contribute: the
    // end-of-run load1 always reads high (~cpus after a saturating run),
    // so contamination is only visible in the start value
    val load1Start = load1Now()

    // Denominator-side host probe, leading read (r17 verdict #1): a
    // Spark-free single-thread md5-chain throughput figure — the
    // md5SingleMps regime HOST_PROBE_r17.json calibrated. The
    // r17 attempt-3 incident proved a memory-bandwidth co-tenant can
    // inflate every query line uniformly ~1.23x while all five CPU-bound
    // calibration ticks AND guest loadavg read idle; this probe is the
    // only in-artifact signal for that class (it reads the memory path the
    // ticks' 32-way Spark work hides). Runs BEFORE any Spark job — session
    // built, zero work dispatched, the calibrated probe point — and
    // outside every timed line, so `total`, the per-query map, t_start
    // offsets, and the committed TICK_BASELINE positions are unperturbed.
    // ~3s. Compare against host_md5_quiet_mps (below): both lead and trail
    // near the gate = quiet host; a uniform shortfall (e.g. ~7.2 vs 8.9 in
    // HOST_PROBE_r17's calib reading) = bandwidth co-tenancy even when
    // every tick is in-band.
    val hostMd5Lead = md5SingleMps()
    // Quiet-gate reference for the md5 probe on THIS host generation:
    // 8.93 M/s from CALIB_PROBE_r16.json (true idle). Host-class constant,
    // same contract as the calibration idle pins — override on any other
    // host class or the comparison misreads.
    val hostMd5QuietMps = sys.env.get("SPARK_GRAFT_MD5_QUIET_MPS")
      .map(_.toDouble).getOrElse(8.93)

    // Replicated-corpus bench factor: same registry policy the Verify gate
    // reads — queries whose quadratic pair OUTPUT is policy-capped below
    // this factor are skipped, so a factor-50 bench doesn't spend its wall
    // on adjudicated-out lines. Default 1 = no skips (the driver's sf0.1
    // run and same-factor comparisons are unchanged).
    val gateFactor = sys.env.get("SPARK_GRAFT_GATE_FACTOR").map(_.toInt).getOrElse(1)
    // mid-run calibration tick cadence (queries between ticks); ~5 ticks on
    // the 172-line surface at the default. Measured overhead at idle:
    // ~1.6-1.7s per tick while the memoized family caches are held (the
    // GC-coupled ~3x state), ~0.6s after release — ~8-10s total over the
    // 5 ticks (TICK_BASELINE.json pins the positional levels)
    val tickEvery = sys.env.get("SPARK_GRAFT_TICK_EVERY")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(30)
    val policy = SparkEntry.scalePolicy
    def policySkip(name: String): Boolean =
      policy.get(name).exists(_._1 < gateFactor)

    // sorted: Map iteration order is hash-based, which made per-query time
    // attribution nondeterministic across rounds for queries that share
    // cached upstream state (whichever q_dag_* ran first paid the cache)
    val ordered = SparkEntry.registered.sortBy(_.name)
      .filterNot(q => policySkip(q.name))

    // Fingerprint of the timed surface (r15 verdict #3): positional tick
    // comparison across runs — and the committed TICK_BASELINE.json — is
    // valid only for the same query sequence at the same tick_every; the
    // sha makes a surface change invalidate the baseline loudly instead of
    // silently shifting every tick's position.
    // KNOWN LIMITATION (ADVICE r16, documented in TICK_BASELINE.json's
    // valid_iff rather than fixed in code): the sha covers the ordered
    // query NAMES only, so an implementation change to a same-named query
    // shifts per-query durations — and therefore each tick's wall position
    // — while the sha stays "valid". Deliberate trade-off: folding a build
    // fingerprint in would invalidate the committed baseline on every
    // tooling-only recompile; instead, any round that changes QUERY code
    // must re-pin TICK_BASELINE from fresh idle runs (the baseline file
    // says so).
    val surfaceSha = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(ordered.map(_.name).mkString("\n").getBytes("UTF-8"))
      md.digest().take(8).map("%02x".format(_)).mkString
    }

    val runner = new Runner(spark, sfDir, ordered,
      line => System.err.println(s"[bench] $line"))
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) runner.warmUp(warmDir)

    // A failing query must be visible, never a fake-fast timing: its time is
    // emitted as a NEGATIVE sentinel and its error lands in BENCH_DETAIL's
    // "errors" map, so a regression can't masquerade as a speedup.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Burst localization (r14 verdict #1): the leading/trailing calibration
    // pair can BRACKET a host-contention burst but not place it — with
    // medians-only adjudication any individual inflated line stayed
    // ambiguous. Two additions make bursts mappable to specific lines:
    // (a) every timed line records its START offset from the first timed
    // line (t_start map in BENCH_DETAIL) so a line can be placed inside or
    // outside a burst window post-hoc; (b) a cheap fixed-work CPU
    // calibration tick runs every TICK_EVERY queries (<2s each, <10s total
    // overhead), timestamped the same way. MEASURED TICK SEMANTICS (two
    // back-to-back r15 sf0.1 runs): ticks read a reproducible ~3.0x the
    // JVM-fresh idle pin while the memoized family caches are held, and
    // drop to ~1.0 after the last memo release — the allocation-heavy md5
    // chain is GC/storage-pressure-coupled, so a tick's level reflects the
    // run's CACHE STATE as much as the host. Read ticks positionally:
    // tick i of run A vs tick i of run B (same tick_every, same surface)
    // shares cache state by construction — a burst is a tick >> its
    // cross-run level at the same position, NOT simply >1 vs the pin.
    // Neither ticks nor offsets are part of `total` or the per-query map.
    val tStart = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val ticks = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    val runT0 = System.nanoTime()
    def offsNow(): Double = (System.nanoTime() - runT0) / 1e9
    def markStart(name: String): Unit = tStart(name) = offsNow()
    // strip quote/backslash AND every control char (RFC 8259 requires all of
    // U+0000–U+001F escaped — a \b or \f in an exception message must not
    // invalidate BENCH_DETAIL.json exactly when a query fails)
    def sanitize(e: Throwable): String =
      Runner.message(e).replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)
    // one timed line: a failure records its error and a negative time
    def timed(name: String)(work: => Unit): (String, Double) = {
      markStart(name)
      val t0 = System.nanoTime()
      val ok = try { work; true } catch {
        case e: Throwable => errors(name) = sanitize(e); false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      name -> (if (ok) dt else -dt)
    }

    // each one-time shared fill (vault cache, then dedup groups) is timed
    // as its own line instead of landing on whichever consumer runs first
    // alphabetically — per-query numbers then measure the queries, not
    // cache attribution. A fill crash must not read as a fast success.
    val fills = runner.fill((name, work) => timed(name)(work()))

    // Fixed-work calibration: a deterministic CPU-bound pass over constant
    // in-memory data — no I/O, no testdata dependency, identical work every
    // round. Its time measures HOST speed only, so a round-over-round bench
    // comparison can divide raw per-query deltas by the q_calibration ratio
    // to cancel uniform machine drift (three rounds running, the first read
    // of BENCH_rN vs rN-1 was dominated by 10-15% uniform host drift that
    // had to be reconstructed from medians of untouched queries). Warmed
    // once like every other line so JIT is excluded.
    def calibCpuFrame = {
      import org.apache.spark.sql.functions._
      spark.range(0L, 4000000L, 1L, 64)
        .select((1 to 8).foldLeft(col("id").cast("string"))((c, _) => md5(c)).as("h"))
        // decimal sum: 4M xxhash64 longs overflow a BIGINT sum under ANSI
        .agg(sum(xxhash64(col("h")).cast("decimal(38,0)")).as("s"))
    }
    val calibration = {
      try noop(calibCpuFrame) catch { case _: Throwable => () }
      timed("q_calibration")(noop(calibCpuFrame))
    }
    // Idle-host reference for q_calibration on THIS host class, recorded
    // from the r10 final-HEAD idle bench (BENCH_IDLE_r10.json). The emitted
    // calibration_ratio_vs_idle = this run's q_calibration / this constant
    // reads contamination directly: ~1.0 = idle-equivalent host, >> 1 =
    // divide raw per-query deltas by the ratio before comparing rounds.
    // Host-class constant — override with SPARK_GRAFT_CALIB_IDLE_SEC on any
    // other host class, or the ratio misreads (ADVICE r11).
    val calibrationIdleRefSec = sys.env.get("SPARK_GRAFT_CALIB_IDLE_SEC")
      .map(_.toDouble).getOrElse(0.599)

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
      timed("q_calibration_io") {
        setupError.foreach(e => throw e)
        noop(spark.read.parquet(ioDir))
      }
    }
    // Idle-host reference for q_calibration_io, same contract as the CPU
    // constant: 0.382s recorded from this host class's r12 idle bench
    // (BENCH_IDLE_r12.json, load1_start 0.86, calibration 0.937, the
    // calibration file page-cache-resident — the steady state it has on an
    // idle host). Override with SPARK_GRAFT_CALIB_IO_IDLE_SEC on any other
    // host class; a ratio >> 1 means the I/O path (page cache / disk) is
    // under pressure even if the CPU line reads ~1.0.
    val calibrationIoIdleRefSec = sys.env.get("SPARK_GRAFT_CALIB_IO_IDLE_SEC")
      .map(_.toDouble).getOrElse(0.382)

    // Each memoized family is released right AFTER its last consumer's
    // timed line (the runner's release, outside the timer), so no query's
    // number changes: the fill lines still carry the fills.
    var i = 0
    val lines = runner.map { q =>
      // mid-run calibration tick: fixed CPU work every TICK_EVERY queries —
      // a tick's sec vs the idle pin timestamps host contention in-run
      if (i > 0 && i % tickEvery == 0) {
        val tickOff = offsNow()
        val tk0 = System.nanoTime()
        try noop(calibCpuFrame) catch { case _: Throwable => () }
        ticks += ((i, tickOff, (System.nanoTime() - tk0) / 1e9))
      }
      i += 1
      timed(q.name)(noop(q.fn(spark, sfDir)))
    }
    val results = calibration +: calibrationIo +: (fills ++ lines)
    // Trailing calibration pair (r13 verdict "what's wrong" #1): the leading
    // pair runs FIRST in the sequence, so a contamination burst arriving
    // MID-run is invisible to the leading ratios — BENCH_r13 read clean
    // leading ratios (1.38/1.54) while ~10 queries sat 3-10x their idle-twin
    // values. Re-running both constant-work lines at the END makes any burst
    // self-describing: leading≈1/trailing>>1 = burst arrived during the run
    // (late lines suspect), leading>>1/trailing≈1 = burst ended early (early
    // lines suspect), both>>1 = whole run contaminated. The trailing times
    // are NOT part of `total` or the per-query map — they are contamination
    // instrumentation, recorded only as the *_end ratio fields in
    // BENCH_DETAIL beside the leading ones.
    val calibrationEndSec = timed("q_calibration_end")(noop(calibCpuFrame))._2
    val calibrationIoEndSec = timed("q_calibration_io_end")(noop(spark.read.parquet(ioDir)))._2
    // Denominator-side host probe, trailing read: same measurement as the
    // lead (see its comment), taken after the last timed line so the pair
    // brackets the run like the calibration pairs do. Session alive but
    // idle; the post-run JVM carries a populated heap, so residual
    // background GC can shave this reading slightly at a genuinely quiet
    // host — adjudicate lead/trail vs the quiet gate together with the
    // body-median corroboration, not trail alone.
    val hostMd5Trail = md5SingleMps()
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
      val detail = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      // machine load: bench totals are load-sensitive (+0.5 s/query uniform
      // drift observed under background load), so the number is only
      // interpretable next to load1_start (pre-run background load; the
      // end-of-run load1 includes the bench's own saturating threads)
      val load1 = load1Now()
      val uptimeSec =
        try scala.io.Source.fromFile("/proc/uptime").mkString.split("\\s+")(0).toDouble
        catch { case _: Throwable => -1.0 }
      val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}")
      // self-describing line-count: which queries the registry scale policy
      // removed at this factor (empty at the default factor 1)
      val skipJson = SparkEntry.scalePolicy.toSeq.sortBy(_._1)
        .collect { case (k, (f, _)) if f < gateFactor => "\"" + k + "\":" + f }
        .mkString("{", ",", "}")
      // per-line start offsets + mid-run ticks (burst localization — see the
      // comment at tStart's declaration). t_start keys mirror the queries
      // map plus the two trailing *_end lines; calib_ticks entries carry the
      // tick's ratio vs the CPU idle pin so a burst window reads directly.
      val tStartJson = tStart.map { case (k, v) => "\"" + k + "\":" + f2(v) }
        .mkString("{", ",", "}")
      // ratio guarded like the calibration_io divisions: a zero/negative
      // SPARK_GRAFT_CALIB_IDLE_SEC must emit -1, not Infinity (which is not
      // valid JSON and would invalidate the whole detail line)
      val ticksJson = ticks.map { case (i, t, sec) =>
        s"""{"after_n":$i,"t":${f2(t)},"sec":${f(sec)},"ratio_vs_idle":${
          if (calibrationIdleRefSec > 0) f(sec / calibrationIdleRefSec) else "-1"}}"""
      }.mkString("[", ",", "]")
      val howToRead = "A line is burst-suspect iff its [t_start, t_start+sec] window " +
        "overlaps a span where bracketing calibration reads show contamination. " +
        "Leading/trailing pairs compare to the JVM-fresh idle pin directly. Mid-run " +
        "calib_ticks are cache-state-coupled (measured ~3.0x the pin while memo " +
        "caches are held, ~1.0 after release, reproducibly at idle) — compare tick i " +
        "against tick i of another run at the same tick_every, not against 1.0; a " +
        "burst is a tick >> its cross-run positional level. The committed idle " +
        "positional levels are pinned in TICK_BASELINE.json — valid iff this " +
        "artifact's surface_sha and tick_every match the baseline's. The baseline " +
        "levels are IDLE-only: under co-load a tick can read BELOW its positional " +
        "band (early memo eviction/GC under memory pressure — r16 driver run read " +
        "1.02/1.12 at positions 4-5 vs the idle band ~2.7-3.0); below-level is NOT " +
        "a burst (bursts only elevate) — adjudicate a co-loaded run via the " +
        "leading/trailing pairs and tail-query medians, not positions 4-5. Leading~1 + " +
        "trailing>>1 = burst arrived mid-run (ticks localize it); leading>>1 + " +
        "trailing~1 = burst died early; both>>1 = whole run contaminated, use an " +
        "idle twin. CONVERSE (r17 attempt 3): in-band ticks canNOT rule out a " +
        "memory-bandwidth co-tenant that inflates every line uniformly while " +
        "CPU-bound ticks read idle — host_md5_mps_lead/_trail are the " +
        "denominator-side probe for that class (Spark-free single-thread md5, " +
        "Bench.md5SingleMps regime): both near host_md5_quiet_mps = quiet " +
        "host; a uniform shortfall with in-band ticks = bandwidth co-tenancy, " +
        "corroborate with body medians vs the prior idle twin."
      // Self-adjudicating load gate (r15 verdict #2): an idle twin recorded
      // at load1_start >= 1 must carry its justification IN the artifact
      // (why the run is still trusted — or that it isn't), not only in
      // BUILDER_NOTES. Operator supplies the reason via
      // SPARK_GRAFT_LOAD1_NOTE; the default directs the reader to the
      // in-artifact calibration evidence. Sanitized like error messages so
      // a quote/control char can't invalidate the JSON line.
      val load1Note =
        if (load1Start < 1.0) ""
        else {
          val note = sys.env.getOrElse("SPARK_GRAFT_LOAD1_NOTE",
            "load gate waived by the runner without a note: adjudicate via " +
              "the leading/trailing calibration pairs and positional calib_ticks " +
              "in this artifact before trusting any line")
            .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(400)
          s""","load1_note":"$note""""
        }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_DETAIL", "/root/repo/BENCH_DETAIL.json")),
        s"""{"total_sec":${f(total)},"sf":"$sfName","cpus":$cpus,"surface_sha":"$surfaceSha","load1_start":${f2(load1Start)}$load1Note,"load1":${f2(load1)},"uptime_sec":${f(uptimeSec)},"host_md5_mps_lead":${f(hostMd5Lead)},"host_md5_mps_trail":${f(hostMd5Trail)},"host_md5_quiet_mps":${f(hostMd5QuietMps)},"calibration_ratio_vs_idle":${
          // denominator guarded like the io and tick divisions (ADVICE r16):
          // an env override of 0 must emit -1, not Infinity (invalid JSON)
          if (calibration._2 > 0 && calibrationIdleRefSec > 0)
            f(calibration._2 / calibrationIdleRefSec) else "-1"
        },"calibration_io_ratio_vs_idle":${
          if (calibrationIo._2 > 0 && calibrationIoIdleRefSec > 0)
            f(calibrationIo._2 / calibrationIoIdleRefSec) else "-1"
        },"calibration_ratio_vs_idle_end":${
          if (calibrationEndSec > 0 && calibrationIdleRefSec > 0)
            f(calibrationEndSec / calibrationIdleRefSec) else "-1"
        },"calibration_io_ratio_vs_idle_end":${
          if (calibrationIoEndSec > 0 && calibrationIoIdleRefSec > 0)
            f(calibrationIoEndSec / calibrationIoIdleRefSec) else "-1"
        },"gate_factor":$gateFactor,"policy_skips":$skipJson,"tick_every":$tickEvery,"calib_ticks":$ticksJson,"how_to_read":"$howToRead","t_start":$tStartJson,"errors":$errJson,"queries":$detail}""" + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_DETAIL write failed: ${Runner.message(e)}")
    }
    spark.stop()
    println(fits.getOrElse(line(Seq.empty, total)))
  }
}
