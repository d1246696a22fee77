package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Q, Shared}

/** The runner's memo lifecycle over fake shared families, so no data is
  * read: a family fills only when a consumer is in the run, is released
  * right after its last consumer and not before, and a failed release is
  * reported rather than dropped.
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
      r.fill((_, work) => work())
      r.map(q => events += s"run ${q.name}")
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
    intercept[RuntimeException](r.map(q => if (q.name == "q1") sys.error("boom")))
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
}
