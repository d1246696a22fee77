package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload's measuring window returns. `endToEnd` holds the
  * workload's value of the shared end-to-end metric freshness_p50_s;
  * `layer` holds layer metrics only the workload can compute (ratios,
  * backlog); `fingerprints` are per-output fingerprints that must agree
  * between runs of one seed, traced or not.
  */
final case class Measured(
    endToEnd: Map[String, Double],
    layer: Map[String, Double],
    fingerprints: Map[String, String],
    info: Map[String, String])

trait Workload {
  def name: String
  /** Inputs for the measured phase and the warm pass; not part of set-up. */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  /** The warm pass: the measured path once over a small input. */
  def warm(spark: SparkSession, dir: String, seed: Long, ops: Ops): Unit
  def measure(spark: SparkSession, dir: String, seed: Long, seconds: Double,
      tracer: Tracer, heap: HeapPeak, ops: Ops): Measured
  /** Facts about the generated input, recorded in the run report. */
  def inputFacts(dir: String): Map[String, String]
}

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * The last stdout line is the result object; a run report with host
  * facts, every metric and (traced) every span goes to `<work>/../results`.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "heap_peak_mb" -> "MB", "freshness_p50_s" -> "s")

  /** Spans reported on the result line of a traced run, with their
    * counters. `input_mb` appears only in the run report: the listener's
    * scan byte count disagrees with the files (README, "Input bytes
    * cross-check"), so it is no metric.
    */
  val Spans: Seq[(String, Seq[String])] = {
    val all = Seq("wall_s", "gap_s", "jobs", "tasks", "shuffle_mb", "spill_mb", "rows_out")
    Seq(
      "sources.load_raw" -> all,
      "vault.marts" -> all,
      "vault.release" -> all,
      "quality.dq" -> all,
      "streaming.ingest" -> all,
      "streaming.refresh" -> all,
      "queries.adhoc" -> all,
      "operators.features" -> all,
      "operators.candidates" -> all,
      "operators.verify" -> all,
      "operators.groups" -> all,
      "operators.select" -> all)
  }

  /** Layer metrics computed by the workloads or the run itself. */
  val Extras: Seq[(String, String)] = Seq(
    "streaming.ingest.dup_drop_ratio" -> "ratio",
    "operators.verify.useful_ratio" -> "ratio",
    "operators.groups.near_dup_recall" -> "ratio",
    "streaming.generator_late_s" -> "s",
    "streaming.backlog_max" -> "count",
    "queries.adhoc.p50_ms" -> "ms",
    "queries.adhoc.tail_ms" -> "ms",
    "queries.adhoc.tail_pct" -> "%",
    "queries.adhoc.samples" -> "count",
    "core.slot_util" -> "ratio",
    "core.storage_retained_mb" -> "MB")

  def unitOf(counter: String): String = counter match {
    case "wall_s" | "gap_s" => "s"
    case "shuffle_mb" | "spill_mb" | "input_mb" => "MB"
    case _ => "count"
  }

  val workloads: Map[String, Workload] =
    Seq(BatchDag, LiveRefresh, CorpusDedup).map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = workloads.getOrElse(opts.getOrElse("workload", ""),
      throw new IllegalArgumentException(s"--workload must be one of ${workloads.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val load1 = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    Files.createDirectories(Paths.get(work))

    // set-up = session start + warm pass, once per run: on the reference
    // host a run's budget leaves no room for repeats (README, "Set-up and
    // run budget"); input generation in between is not part of it
    val ops = new Ops
    val t0 = System.nanoTime()
    val spark = Session.start(cores)
    val started = System.nanoTime()
    wl.generate(spark, work, seed)
    val t1 = System.nanoTime()
    System.err.println(f"[perfbench] ${wl.name} inputs generated in ${(t1 - started) / 1e9}%.2f s")
    wl.warm(spark, work, seed, ops)
    val setupS = ((started - t0) + (System.nanoTime() - t1)) / 1e9
    System.err.println(f"[perfbench] ${wl.name} set-up: $setupS%.2f s")

    val measured = System.nanoTime()
    val heap = new HeapPeak(spark.sparkContext)
    // a traced run measures the same window as an untraced one; both write
    // their end-to-end values to the run report, where spread.py compares
    // them per seed as the tracing overhead
    val tracer = new Tracer(spark.sparkContext, trace)
    tracer.startWindow()
    val m = wl.measure(spark, work, seed, seconds, tracer, heap, ops)
    checkFingerprints(work, wl.name, seed, m.fingerprints, ops)
    val endToEnd = m.endToEnd ++ Map("setup_s" -> setupS, "heap_peak_mb" -> heap.mb)
    val result: Map[String, Double] =
      if (!trace) {
        report(work, wl, seed, trace, cores, load1, endToEnd, m, Map.empty, ops)
        endToEnd
      } else {
        val (spans, slotUtil) = tracer.summary(cores)
        tracer.close()
        report(work, wl, seed, trace, cores, load1, endToEnd, m, spans, ops)
        Spans.flatMap { case (span, counters) =>
          counters.map(c => s"$span.$c" -> spans.get(span).flatMap(_.get(c)).getOrElse(0.0))
        }.toMap ++ Extras.map { case (k, _) => k -> m.layer.getOrElse(k, 0.0) } ++ Map(
          "core.slot_util" -> slotUtil,
          "core.storage_retained_mb" -> Session.storageRetainedMb(spark))
      }
    System.err.println(f"[perfbench] ${wl.name} measured and checked in ${(System.nanoTime() - measured) / 1e9}%.2f s")
    spark.stop()

    val (attempted, failed) = ops.counts
    val units: Map[String, String] =
      if (!trace) EndToEnd.toMap
      else Spans.flatMap { case (s, cs) => cs.map(c => s"$s.$c" -> unitOf(c)) }.toMap ++ Extras.toMap
    val metrics = units.keys.toSeq.sorted.map { k =>
      k -> Json.obj(Seq("value" -> Json.num(result(k)), "unit" -> Json.str(units(k))))
    }
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics))))
  }

  /** Outputs of one seed must fingerprint the same in every run of the
    * same build, traced or not (the launcher keys the store by a source
    * hash).
    */
  private def checkFingerprints(work: String, wl: String, seed: Long,
      fps: Map[String, String], ops: Ops): Unit = if (fps.nonEmpty) {
    val store = Paths.get(work).getParent.resolve("fingerprints")
    Files.createDirectories(store)
    val file = store.resolve(s"$wl-$seed-${sys.props.getOrElse("perfbench.build", "dev")}.txt")
    val mine = fps.toSeq.sorted.map { case (k, v) => s"$k $v" }.mkString("\n")
    if (Files.exists(file)) ops.check(s"$wl outputs equal a previous run of seed $seed",
      Files.readString(file) == mine)
    else Files.writeString(file, mine)
  }

  private def report(work: String, wl: Workload, seed: Long, trace: Boolean, cores: Int,
      load1: Double, endToEnd: Map[String, Double], m: Measured,
      spans: Map[String, Map[String, Double]], ops: Ops): Unit = {
    val dir = Paths.get(work).getParent.resolve("results")
    Files.createDirectories(dir)
    val host = Seq(
      "nproc" -> Json.num(cores),
      "load1_start" -> Json.num(load1),
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "git_sha" -> Json.str(sys.props.getOrElse("perfbench.gitsha", "unknown")),
      "source_hash" -> Json.str(sys.props.getOrElse("perfbench.build", "dev")))
    val (attempted, failed) = ops.counts
    val body = Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> Json.num(seed.toDouble),
      "trace" -> trace.toString, "host" -> Json.obj(host),
      "input" -> Json.obj(wl.inputFacts(work).toSeq.map { case (k, v) => k -> Json.str(v) }),
      "end_to_end" -> Json.obj(endToEnd.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(m.layer.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "info" -> Json.obj(m.info.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
      "spans" -> Json.obj(spans.toSeq.sortBy(_._1).map { case (s, cs) =>
        s -> Json.obj(cs.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }) }),
      "attempted" -> Json.num(attempted.toDouble), "failed" -> Json.num(failed.toDouble)))
    Files.writeString(dir.resolve(s"${wl.name}-seed$seed-trace${if (trace) 1 else 0}.json"), body + "\n")
  }
}
