package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SetSimJoin

/** Exactness contract of the prefix-filtered set-similarity join: identical
  * output to the brute-force all-pairs Jaccard join (the filter must have
  * zero false negatives), plus boundary and degenerate-input behavior.
  */
class SetSimJoinSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private def bruteForce(docs: Seq[(Long, String)], thetaPct: Int): Set[(Long, Long, Int, Int)] = {
    val sets = docs.map { case (id, s) => id -> s.split(" ").filter(_.nonEmpty).toSet }
    (for {
      (ia, ta) <- sets; (ib, tb) <- sets if ia < ib
      inter = (ta & tb).size; uni = (ta | tb).size
      if inter * 100 >= thetaPct * uni
    } yield (ia, ib, inter, uni)).toSet
  }

  private def run(docs: Seq[(Long, String)], thetaPct: Int): Set[(Long, Long, Int, Int)] =
    SetSimJoin.jaccardJoin(docs.toDF("doc_id", "text"), "doc_id", "text", thetaPct)
      .as[(Long, Long, Int, Int)].collect().toSet

  test("matches brute force on a mixed fixture, including exact-threshold pairs") {
    val docs = Seq[(Long, String)](
      1L -> "a b c d e",
      2L -> "a b c d e",       // identical to 1 (J = 1.0)
      3L -> "a b c d f",       // J(1,3) = 4/6 = 0.667
      4L -> "a b c d e f",     // J(1,4) = 5/6; J(3,4) = 5/6
      5L -> "x y z",           // disjoint from the rest
      6L -> "x y z w",         // J(5,6) = 3/4 = 0.75 — exactly the threshold
      7L -> "q")
    val got = run(docs, 75)
    val want = bruteForce(docs, 75)
    assert(got == want, s"diff: +${got.diff(want)} -${want.diff(got)}")
    // the >= boundary keeps the exactly-at-threshold pair
    assert(got.exists(p => p._1 == 5L && p._2 == 6L))
  }

  test("matches brute force on the sf0.001 documents corpus at several thetas") {
    val corpus = queries.Q.t(TestSpark.spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    for (theta <- Seq(60, 80, 95)) {
      val got = run(corpus, theta)
      val want = bruteForce(corpus, theta)
      assert(got == want, s"theta=$theta: +${got.diff(want).take(5)} -${want.diff(got).take(5)}")
      assert(want.nonEmpty, s"theta=$theta should find pairs on this corpus")
    }
  }

  test("shuffled fallback (broadcast gate exceeded) is output-identical to the broadcast plan") {
    val corpus = queries.Q.t(TestSpark.spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    // broadcast thresholds of -1 force the large-corpus shuffled-join path
    val conf = TestSpark.spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    val got =
      try {
        keys.foreach(conf.set(_, "-1"))
        SetSimJoin.jaccardJoin(corpus.toDF("doc_id", "text"), "doc_id", "text", 80)
          .as[(Long, Long, Int, Int)].collect().toSet
      } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    assert(got == bruteForce(corpus, 80))
    assert(got.nonEmpty)
  }

  test("empty and single-token documents cannot pair spuriously") {
    val docs = Seq[(Long, String)](1L -> "", 2L -> "", 3L -> "a", 4L -> "a", 5L -> "b")
    val got = run(docs, 50)
    // empty sets have no prefix tokens -> never candidates; (3,4) is J=1.0
    assert(got == Set((3L, 4L, 1, 1)))
  }
}
