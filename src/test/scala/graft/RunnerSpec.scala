package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.TestListeners
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Graft
import graft.queries.{Q, Shared}

/** The runner's memo lifecycle over fake shared families, so no data is
  * read: a family fills only when a consumer is in the run, is released
  * right after its last consumer and not before, and a failed release is
  * reported rather than dropped. Its per-line record charges each line
  * exactly its own Spark work and leaves no listener behind.
  */
class RunnerSpec extends AnyFunSuite {

  private class Fixture {
    val events = ArrayBuffer.empty[String]
    val logged = ArrayBuffer.empty[String]
    def family(line: String, failRelease: Boolean = false) = new Shared(line,
      (_, dir) => events += s"fill $line $dir",
      (_, dir) => {
        events += s"release $line $dir"
        if (failRelease) throw new IllegalStateException(s"$line is stuck")
      })
    def query(name: String, shares: Option[Shared] = None) =
      Q(name, (s, dir) => { events += s"warm $name $dir"; s.emptyDataFrame }, None, shares = shares)
    def runner(qs: Seq[Q], order: Seq[Shared]) =
      new Runner(TestSpark.spark, "dir", qs, logged += _, order)
    def run(r: Runner): Unit = {
      r.fill()
      r.map(q => events += s"run ${q.name}")(identity)
    }
  }

  test("a family fills only when a consumer is in the run, in fill order") {
    val f = new Fixture
    val (a, b) = (f.family("a_warm"), f.family("b_warm"))
    f.run(f.runner(Seq(f.query("q1", Some(b)), f.query("q2"), f.query("q3", Some(a))), Seq(a, b)))
    assert(f.events.take(2) === Seq("fill a_warm dir", "fill b_warm dir"))

    val g = new Fixture
    val r = g.runner(Seq(g.query("q2")), Seq(a, b))
    assert(r.families.isEmpty)
    g.run(r)
    assert(g.events === Seq("run q2"))
  }

  test("a family is released right after its last consumer, not before") {
    val f = new Fixture
    val a = f.family("a_warm")
    f.run(f.runner(
      Seq(f.query("q1", Some(a)), f.query("q2"), f.query("q3", Some(a)), f.query("q4")), Seq(a)))
    assert(f.events === Seq(
      "fill a_warm dir", "run q1", "run q2", "run q3", "release a_warm dir", "run q4"))
  }

  test("a failing last consumer still releases its family") {
    val f = new Fixture
    val a = f.family("a_warm")
    val r = f.runner(Seq(f.query("q1", Some(a)), f.query("q2")), Seq(a))
    val lines = r.map(q => if (q.name == "q1") sys.error("boom"))(identity)
    assert(lines.head.error.map(_.getMessage) === Some("boom"))
    assert(f.events === Seq("release a_warm dir"))
  }

  test("a release that throws is reported and the run goes on") {
    val f = new Fixture
    val a = f.family("a_warm", failRelease = true)
    f.run(f.runner(Seq(f.query("q1", Some(a)), f.query("q2")), Seq(a)))
    assert(f.events.last === "run q2")
    assert(f.logged.size === 1)
    assert(f.logged.head.contains("a_warm") && f.logged.head.contains("is stuck"))
  }

  test("warm-up runs every query at the warm dir, then releases that dir") {
    val f = new Fixture
    val a = f.family("a_warm", failRelease = true)
    val broken = Q("q0", (_, _) => sys.error("no such table"), None)
    f.runner(Seq(broken, f.query("q1", Some(a)), f.query("q2")), Seq(a)).warmUp("tiny")
    assert(f.events === Seq("warm q1 tiny", "warm q2 tiny", "release a_warm tiny"))
    assert(f.logged.size === 2)
    assert(f.logged.head.contains("q0") && f.logged.head.contains("no such table"))
    assert(f.logged(1).contains("a_warm"))
  }

  private def sc = TestSpark.spark.sparkContext
  private def runner(qs: Q*) = new Runner(TestSpark.spark, "dir", qs, _ => (), Nil)
  private def countJobs(n: Int): Unit = (1 to n).foreach(_ => sc.parallelize(1 to 10, 2).count())

  test("each line counts its own jobs, stages and tasks") {
    val lines = runner(Q("one", (s, _) => s.emptyDataFrame, None),
      Q("three", (s, _) => s.emptyDataFrame, None))
      .map(q => countJobs(if (q.name == "one") 1 else 3))(identity)
    assert(lines.map(l => (l.name, l.jobs.size, l.stages, l.tasks)) ===
      Seq(("one", 1, 1L, 2L), ("three", 3, 3L, 6L)))
    assert(lines.forall(l => l.error.isEmpty && l.taskRunS >= 0 && l.gapS >= 0 && l.gapS <= l.sec + 0.002))
    assert(lines(1).start >= lines(0).start + lines(0).sec)
    assert(lines.forall(l => l.shuffleReadBytes == 0 && l.shuffleWriteBytes == 0))
    val grouped = runner().line("grouped") {
      TestSpark.spark.range(0, 100, 1, 2).groupBy(col("id") % 3).count().collect()
    }
    assert(grouped.shuffleReadBytes > 0 && grouped.shuffleWriteBytes > 0, grouped)
  }

  test("a failing line keeps its error and counters; the next line does not inherit them") {
    val r = runner()
    val failed = r.line("bad") {
      // one task fails at once while its siblings keep running: their
      // task ends arrive after the line has returned
      sc.parallelize(1 to 4, 4).map { i =>
        if (i == 1) throw new IllegalStateException("bad row") else Thread.sleep(800); i
      }.count()
    }
    // long enough for the failed job's siblings to end inside it
    val next = r.line("next") { countJobs(1); Thread.sleep(1500) }
    assert(failed.error.exists(_.getMessage.contains("bad row")), failed.error)
    assert(failed.jobs.size === 1 && failed.tasks >= 1, failed)
    assert((next.jobs.size, next.stages, next.tasks) === (1, 1L, 2L))
    assert(next.error.isEmpty)
  }

  test("a run leaves the session's listener set as it found it") {
    val before = TestListeners.of(sc)
    val a = new Fixture().family("a_warm")
    val r = new Runner(TestSpark.spark, "dir",
      Seq(Q("q1", (s, _) => s.emptyDataFrame, None, shares = Some(a)), Q("q2", (s, _) => s.emptyDataFrame, None)),
      _ => (), Seq(a))
    r.fill()
    val lines = r.map(q => if (q.name == "q1") countJobs(1) else sys.error("boom"))(identity)
    assert(lines.map(_.jobs.size) === Seq(1, 0))
    assert(TestListeners.of(sc) === before)
  }

  test("the driver gap is the line's time outside every job interval") {
    assert(Runner.uncovered(0, 100, Nil) === 100)
    assert(Runner.uncovered(0, 100, Seq((10L, 30L), (20L, 50L), (70L, 80L))) === 50)
    assert(Runner.uncovered(10, 100, Seq((0L, 20L), (90L, 120L))) === 70)
  }

  test("SPARK_GRAFT_CPUS and SPARK_GRAFT_GATE_FACTOR reject a non-integer or a value below 1, by name") {
    for (key <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_GATE_FACTOR"); bad <- Seq("0", "-2", "four", "2.5")) {
      val e = intercept[IllegalArgumentException](Graft.positiveInt(key, bad))
      assert(e.getMessage.contains(key) && e.getMessage.contains(bad), e.getMessage)
    }
    assert(Graft.positiveInt("SPARK_GRAFT_CPUS", " 8 ") === 8)
    assert(SparkEntry.policySkips(1).isEmpty)
    assert(SparkEntry.policySkips(Int.MaxValue).keySet === SparkEntry.scalePolicy.keySet)
  }

  test("ScaleGen rejects a factor below 1 before it writes anything") {
    val parent = TestSpark.tempDir("graft_scalegen")
    val out = parent.resolve("out")
    try {
      val e = intercept[IllegalArgumentException](
        ScaleGen.main(Array(parent.resolve("sf").toString, "0", out.toString)))
      assert(e.getMessage.contains("factor") && e.getMessage.contains("'0'"), e.getMessage)
      assert(!Files.exists(out), s"$out was created")
    } finally Files.deleteIfExists(parent)
  }

  test("src/main registers Spark listeners and sleeps only in the runner") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val found = for {
      f <- files
      rel = root.relativize(f).toString
      if rel != "graft/Runner.scala"
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      call <- Seq("addSparkListener", "Thread.sleep")
      if line.contains(call)
    } yield s"  $rel:${n + 1} $call"
    assert(found.isEmpty, "count Spark work through graft.Runner.line:\n" + found.mkString("\n"))
  }
}
