package graft

import graft.Runner.noop
import graft.core.Graft
import graft.queries.Q

/** Per-query timing harness for optimization work:
  * `runMain graft.TimeOne <name>[,<name>...] [reps] [--jobs]` times the
  * named registered queries in isolation with EXACTLY Bench's methodology
  * (same session, the [[Runner]]'s sf0.001 warm-up pass, shared fills and
  * per-line record, noop sink) so a single query can be measured
  * before/after a change without paying the full 172-line surface. Not
  * part of the driver contract — measurement tooling only (guide §1.1:
  * isolate the expensive query, then optimize that one thing).
  *
  * Each rep is one runner line. The last rep's counters (jobs, stages,
  * tasks, shuffle, spill, task CPU/run/GC time, driver gap) are printed:
  * the quantitative evidence for shuffle-removal claims — sf0.1 wall-clock
  * alone is fixed-cost- and host-noise-dominated. `--jobs` adds the last
  * rep's job timeline.
  *
  * A memoized family the named queries read is filled first, on its own
  * `(fill)` line, so their lines measure the query, not the shared fill;
  * pass a fill line's name (`q_dag_warm`, `q_groups_warm`) to time the fill
  * itself — each rep then drops the previous fill and fills again.
  */
object TimeOne {

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = args.drop(1).find(_.forall(_.isDigit)).map(Graft.positiveInt("reps", _)).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session(s"local[${Graft.localCpus}]", "graft-timeone")
    spark.sparkContext.setLogLevel("ERROR")

    // a fill line's name times that family's fill: a pseudo-query that
    // consumes the family, so the runner warms and releases it like any other
    val fillLines = SparkEntry.shared.map(f => f.line -> Q(f.line,
      (s, d) => { f.release(s, d); f.fill(s, d); s.emptyDataFrame }, None, shares = Some(f))).toMap
    val registry = SparkEntry.registered.map(q => q.name -> q).toMap ++ fillLines
    val runner = new Runner(spark, sfDir, names.flatMap(n => Seq.fill(reps)(registry(n))),
      line => System.err.println(s"[timeone] $line"))
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) runner.warmUp(warmDir)
    runner.fill().foreach(l => println(f"[timeone] ${"(fill) " + l.name}%-28s ${l.sec}%8.3f s"))
    val lines = runner.map(q => noop(q.fn(spark, sfDir)))(identity)
    lines.grouped(reps).foreach { ls =>
      val (name, last) = (ls.head.name, ls.last)
      last.error.foreach(e => println(s"[timeone] $name failed: ${Runner.message(e)}"))
      println(f"[timeone] $name%-28s metrics " +
        last.counters.map { case (k, v) => s"$k=$v" }.mkString(" "))
      if (args.contains("--jobs")) {
        val base = last.jobs.headOption.map(_.start).getOrElse(0L)
        last.jobs.foreach { j =>
          println(f"[timeone]   job ${j.id}%4d +${(j.start - base) / 1000.0}%7.2fs " +
            f"${(j.end - j.start) / 1000.0}%6.2fs  ${j.description}")
        }
      }
      val secs = ls.map(_.sec)
      println(f"[timeone] $name%-28s " +
        secs.map(s => f"$s%7.3f").mkString(" ") +
        f"  min=${secs.min}%7.3f med=${secs.sorted.apply(secs.size / 2)}%7.3f")
    }
    spark.stop()
  }
}
