package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local fast iteration;
    // the driver always calls with 2 args = full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // Replicated-corpus gate factor (SPARK_GRAFT_GATE_FACTOR, default 1 =
    // the driver's unreplicated run): queries whose registry scale policy
    // caps below it are skipped ENGINE-side too (their quadratic pair
    // OUTPUT is the thing being policy-skipped), and the policy is dumped
    // beside oracle_sql.json for check_timed.py to record. The dump only
    // happens for factor > 1 so the driver's own outDir layout is unchanged.
    val gateFactor = sys.env.get("SPARK_GRAFT_GATE_FACTOR").map(_.toInt).getOrElse(1)
    val policy = SparkEntry.scalePolicy
    def policySkip(name: String): Boolean =
      policy.get(name).exists(_._1 < gateFactor)
    // an explicitly-named query is never policy-skipped: `--only` is a
    // builder deliberately running THAT query at THIS factor (local
    // iteration / adjudicated one-offs) — the registry cap governs only
    // the unattended full-surface gate, where nobody is around to notice
    // a silently-dropped row
    def keep(name: String) = only match {
      case Some(names) => names.contains(name)
      case None        => !policySkip(name)
    }
    val spark = graft.core.Graft.session(s"local[${graft.core.Graft.localCpus}]", "graft-verify")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The oracle-SQL and scale-policy dumps happen BEFORE the query loop:
    // they depend only on the registry, and a crash (or an interrupted
    // SparkContext) partway through a multi-hour gate run must not cost the
    // compare metadata for the outputs already on disk.
    // {SF} in an oracle refers to this run's scale-dir basename (fixture
    // paths written by the query functions are scale-suffixed the same way)
    val sfName = new java.io.File(sfDir).getName
    only match {
      case Some(_) =>
        // --only rescue/iteration runs MERGE into an existing
        // oracle_sql.json instead of clobbering it: the documented
        // incident-2 workflow reuses a gate outdir, and overwriting the
        // full-surface oracle with the partial set would destroy the
        // compare metadata for every already-finished output (Jackson is
        // on Spark's classpath; the hand-rolled writer below stays the
        // full-run path so the driver-facing artifact is byte-unchanged)
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val p = Paths.get(s"$outDir/oracle_sql.json")
        val merged: java.util.LinkedHashMap[String, Object] =
          if (Files.exists(p))
            mapper.readValue(p.toFile, classOf[java.util.LinkedHashMap[String, Object]])
          else new java.util.LinkedHashMap[String, Object]()
        SparkEntry.oracleSql.filter(kv => keep(kv._1)).foreach { case (k, v) =>
          merged.put(k, v.replace("{SF}", sfName))
        }
        mapper.writeValue(p.toFile, merged)
        // EVERY --only run (any factor — gateFactor 1 included) marks the
        // outdir's scale_policy.json with "only": true: the outdir now
        // holds a partial, policy-bypassed surface, and check_timed.py
        // must refuse to read it as a full-surface gate. An existing full
        // policy map is PRESERVED under the marker (re-running full Verify
        // rewrites the file clean), so CHECK_ALLOW_ONLY=1 compares still
        // see the real policy.
        val sp = Paths.get(s"$outDir/scale_policy.json")
        val doc: java.util.LinkedHashMap[String, Object] =
          if (Files.exists(sp))
            mapper.readValue(sp.toFile, classOf[java.util.LinkedHashMap[String, Object]])
          else {
            val d = new java.util.LinkedHashMap[String, Object]()
            d.put("gate_factor", Integer.valueOf(gateFactor))
            d.put("policy", new java.util.LinkedHashMap[String, Object]())
            d
          }
        doc.put("only", java.lang.Boolean.TRUE)
        mapper.writeValue(sp.toFile, doc)
      case None =>
        val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
          .map { case (k, v) => s"${q(k)}: ${q(v.replace("{SF}", sfName))}" }
          .mkString("{", ",", "}")
        Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
        if (gateFactor > 1) {
          SparkEntry.scalePolicy.foreach { case (name, (f, _)) =>
            if (f < gateFactor)
              System.err.println(s"[verify] $name policy-skip at factor $gateFactor (max $f)")
          }
          val pj = SparkEntry.scalePolicy.toSeq.sortBy(_._1).map { case (k, (f, r)) =>
            s"${q(k)}: {${q("max_gate_factor")}: $f, ${q("reason")}: ${q(r)}}"
          }.mkString("{", ",", "}")
          Files.writeString(Paths.get(s"$outDir/scale_policy.json"),
            s"""{"gate_factor": $gateFactor, "policy": $pj}""")
        } else {
          // a full factor-1 run into a reused outdir must not leave a
          // stale gate policy behind — check_timed would fabricate
          // policy_skip rows from it
          Files.deleteIfExists(Paths.get(s"$outDir/scale_policy.json"))
        }
    }
    // Sorted, not Map hash order: deterministic run order (matches
    // check_timed's print order), and the runner frees each memo family
    // right after its last consumer. Since the serialized checkpoint change
    // (Materialize.Ser) the single-query f100 repro of the heap incident
    // passes value-exact ON the default heap (319.5s, r14), so
    // SPARK_DRIVER_MEM on large-factor gates is insurance for the
    // full-surface run, no longer a requirement for any one query.
    def log(line: String): Unit = System.err.println(s"[verify] $line")
    val runner = new Runner(spark, sfDir,
      SparkEntry.registered.filter(q => keep(q.name)).sortBy(_.name), log)
    runner.fill { (name, work) =>
      try work() catch { case e: Throwable => log(s"$name failed: ${e.getMessage}") }
    }
    runner.map { q =>
      val t0 = System.nanoTime()
      try {
        // repartition(1), NOT coalesce(1): coalesce collapses everything
        // since the last shuffle into the single write task — a fused
        // broadcast-join query (e.g. the salted IVF verify at factor 100)
        // then runs its whole quadratic candidate scan on ONE core (measured
        // >27 min single-task at factor 100 before being killed).
        // repartition inserts a shuffle boundary, so upstream stages keep
        // their full parallelism and only the filtered RESULT funnels into
        // the one-file write. Row order through the 1-reducer shuffle is not
        // deterministic, which is fine: the DuckDB compare sorts rows.
        q.fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        log(f"${q.name} ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch { case e: Throwable => log(s"${q.name} failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
