package graft

import graft.core.Graft

/** Plan-evidence dumper for the optimization rounds:
  * `runMain graft.PlanDump <name>[,<name>...] <outDir> <tag> [sfDir]`
  * writes `<outDir>/<name>_<tag>.txt` with the formatted physical plan of
  * each registered query (the `.explain("formatted")` text the judge checks
  * plan claims against), then runs the query and appends its FINAL
  * adaptive plan — exchange/stage reuse and AQE join/skew re-planning only
  * appear after stage materialization. Built on the engine's one session
  * so join strategies/partition counts match what the bench actually runs.
  * Measurement tooling only — not part of the driver contract.
  *
  * KNOWN LIMITATION (r18 ADVICE): a query whose build ends in an EAGER
  * localCheckpoint (PageRank / CC-backed queries, the staged pipelines)
  * executes its whole pipeline while the DataFrame is CONSTRUCTED, so the
  * dumped plan is a bare `Scan ExistingRDD` stub on both sides of any A/B —
  * it cannot carry plan-shape claims for exactly those operators. For
  * checkpointed queries, cite the line's `counters` in BENCH_DETAIL.json
  * (the [[Runner.Line]] record: jobs/stages/tasks, shuffle and spill MB) or
  * dump the inner pre-checkpoint sub-plans instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val outDir = args(1)
    val tag = args(2)
    val sfDir = if (args.length > 3) args(3) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session(s"local[${Graft.localCpus}]", "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // run THIS QueryExecution (df.write would plan a fresh one) so its
      // executedPlan is the final adaptive plan
      df.queryExecution.toRdd.foreach(_ => ())
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        formatted + "\n\n== Final adaptive plan ==\n" +
          df.queryExecution.executedPlan.toString + "\n")
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
