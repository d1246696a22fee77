package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{MinHashSignature, TextFns}
import graft.operators.TextDedup

/** Statistical contract of the MinHash-LSH pipeline against exact
  * all-pairs ground truth on the sf0.001 documents corpus.
  */
class LshRecallSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private lazy val docs = queries.Q.t(TestSpark.spark, "/root/testdata/sf0.001", "documents")
  private def sh = TextFns.wordShingles(TextFns.tokens(col("text")), 2)

  private lazy val truth = TextDedup.blockedJaccardPairs(
    docs.withColumn("__all", lit(1)), "doc_id", "__all",
    TextFns.tokens(col("text")), 2, threshold = 0.5)
    .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect()

  private def spark = TestSpark.spark

  private type Banded = (Option[Long], Int, Option[Long])

  /** Banded rows with partition p holding exactly `parts(p)`, in order. */
  private def laidOut(parts: Seq[Seq[Banded]]): DataFrame =
    spark.sparkContext.parallelize(parts, parts.size).flatMap(identity)
      .toDF("doc_id", "band", "band_hash")

  /** k partitions' worth of `rows`: row i in slice i mod k. */
  private def slices(rows: Seq[Banded], k: Int): Seq[Seq[Banded]] =
    (0 until k).map(p => rows.zipWithIndex.collect { case (r, i) if i % k == p => r })

  private def candidates(banded: DataFrame, cap: Int): Set[(Long, Long)] =
    TextDedup.candidatePairs(banded, "doc_id", cap).as[(Long, Long)].collect().toSet

  /** Plain-Scala reference: the distinct a < b pairs of every bucket with
    * a non-null key and at most `cap` rows.
    */
  private def pairsOf(rows: Seq[Banded], cap: Int): Set[(Long, Long)] =
    rows.filter(_._3.isDefined).groupBy(r => (r._2, r._3)).values
      .filter(_.size <= cap)
      .flatMap { b =>
        val ids = b.flatMap(_._1)
        for (a <- ids; c <- ids if a < c) yield (a, c)
      }.toSet

  private object PlanNodes extends AdaptiveSparkPlanHelper

  private lazy val lsh = TextDedup.minhashDupPairs(
    docs, "doc_id", "text", shingleWords = 2, bands = 4, rowsPerBand = 3,
    threshold = 0.5, family = TextDedup.Xx64)
    .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet

  test("precision is 1.0: every LSH pair is a true >=threshold pair") {
    val truthPairs = truth.map(t => (t._1, t._2)).toSet
    assert(lsh.subsetOf(truthPairs),
      s"false positives: ${lsh.diff(truthPairs).mkString(", ")}")
  }

  test("recall is 1.0 for near-identical pairs (jaccard >= 0.95)") {
    val certain = truth.filter(_._3 >= 0.95).map(t => (t._1, t._2)).toSet
    assert(certain.nonEmpty, "corpus should contain planted near-dups")
    assert(certain.subsetOf(lsh),
      s"missed near-identical pairs: ${certain.diff(lsh).mkString(", ")}")
  }

  test("hash families agree: md5 and xx64 pipelines find the same certain pairs") {
    val md5Pairs = TextDedup.minhashDupPairs(
      docs, "doc_id", "text", shingleWords = 2, bands = 4, rowsPerBand = 3,
      threshold = 0.5, family = TextDedup.HexMd5)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    // both families exact-Jaccard-verify, so precision is 1.0 for each;
    // on the near-identical tier recall is 1.0 for both -> sets agree
    val certain = truth.filter(_._3 >= 0.95).map(t => (t._1, t._2)).toSet
    assert(certain.subsetOf(md5Pairs))
    assert(md5Pairs.subsetOf(truth.map(t => (t._1, t._2)).toSet))
  }

  test("candidate stage has no Window node: bucket cap is aggregate + anti-join") {
    // a count window over (band, band_hash) funnels every row of a
    // degenerate bucket through ONE task; the cap must be map-side partial
    // aggregation. The banded frame (and its MinHash kernel) is computed
    // once: no census branch, no self-join
    val banded = TextDedup.bandedSignatures(
      docs, "doc_id", sh, bands = 4, rowsPerBand = 3, TextDedup.Xx64)
    val cands = TextDedup.candidatePairs(banded, "doc_id", bucketCap = 10)
    val plan = cands.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"Window node in candidate plan:\n$plan")
    cands.collect()
    val executed = cands.queryExecution.executedPlan
    val kernels = PlanNodes.flatMap(executed)(_.expressions.flatMap(_.collect {
      case m: MinHashSignature => m
    }))
    assert(kernels.size == 1, s"minhashsignature ${kernels.size}x in:\n$executed")
    assert(PlanNodes.collect(executed) { case j: BaseJoinExec => j }.isEmpty,
      s"join in candidate plan:\n$executed")
  }

  test("bucket cap drops exactly the over-cap buckets (window-formulation parity)") {
    val banded = TextDedup.bandedSignatures(
      docs, "doc_id", sh, bands = 4, rowsPerBand = 3, TextDedup.Xx64).cache()
    try {
      val cap = 3
      val counted = {
        import org.apache.spark.sql.expressions.Window
        banded.withColumn("__n", count(lit(1)).over(Window.partitionBy($"band", $"band_hash")))
      }
      val kept = counted.filter($"__n" <= cap)
      val expected = kept.select($"band", $"band_hash", $"doc_id".as("a_id"))
        .join(kept.select($"band", $"band_hash", $"doc_id".as("b_id")), Seq("band", "band_hash"))
        .filter($"a_id" < $"b_id")
        .select($"a_id", $"b_id").distinct()
        .as[(Long, Long)].collect().toSet
      val got = TextDedup.candidatePairs(banded, "doc_id", cap)
        .as[(Long, Long)].collect().toSet
      assert(got == expected)
      assert(expected.nonEmpty)
      assert(counted.filter($"__n" > cap).count() > 0,
        "fixture should exercise the cap (some bucket > cap)")
    } finally banded.unpersist()
  }

  test("candidate pairs do not depend on how the banded rows are partitioned") {
    val rows = TextDedup.bandedSignatures(
      docs, "doc_id", sh, bands = 4, rowsPerBand = 3, TextDedup.Xx64)
      .as[(Long, Int, Long)].collect().toSeq.map(r => (Option(r._1), r._2, Option(r._3)))
    val cap = 3
    val expected = pairsOf(rows, cap)
    assert(expected.nonEmpty)
    for (k <- Seq(1, 3, 8))
      assert(candidates(laidOut(slices(rows, k)), cap) === expected, s"$k partitions")
    // bucket (0, 1) holds 2 rows in each of 3 partitions: under the cap in
    // every partial aggregate, over it in total, so it must be dropped;
    // bucket (0, 2) is split across partitions and under the cap in total
    val x = (1L to 6L).map(i => (Option(i), 0, Option(1L)))
    val y = Seq(20L, 21L).map(i => (Option(i), 0, Option(2L)))
    val interleaved = Seq(x.take(2) :+ y(0), x.slice(2, 4) :+ y(1), x.drop(4))
    assert(candidates(laidOut(interleaved), cap) === Set((20L, 21L)))
  }

  test("a null id counts toward the cap but pairs with nothing") {
    val bucket = Seq((Option(1L), 0, Option(7L)), (Option(2L), 0, Option(7L)), (None, 0, Option(7L)))
    // a null bucket key pairs nothing, as an equi-join on the key would not
    val nullKey = Seq((Option(3L), 1, None), (Option(4L), 1, None))
    val df = laidOut(Seq(bucket ++ nullKey))
    assert(candidates(df, 3) === Set((1L, 2L)))
    assert(candidates(df, 2) === Set.empty[(Long, Long)])
  }

  test("int ids come back as int; a non-integral id fails with the column's name") {
    val banded = laidOut(Seq(Seq((Option(1L), 0, Option(7L)), (Option(2L), 0, Option(7L)))))
    val ints = TextDedup.candidatePairs(banded.withColumn("doc_id", $"doc_id".cast("int")), "doc_id")
    assert(ints.schema.map(_.dataType) === Seq(IntegerType, IntegerType))
    assert(ints.as[(Int, Int)].collect().toSeq === Seq((1, 2)))
    val e = intercept[IllegalArgumentException] {
      TextDedup.candidatePairs(banded.withColumn("doc_id", $"doc_id".cast("double")), "doc_id")
    }
    assert(e.getMessage.contains("`doc_id`"), e.getMessage)
  }

  test("crossCorpusDupPairs never emits self-pairs on overlapping id spaces") {
    // same frame on both sides: every doc is its own perfect duplicate in
    // the other "corpus" — the a_id =!= b_id guard must suppress all of them
    val pairs = TextDedup.crossCorpusDupPairs(
      docs, docs, "doc_id", "text", shingleWords = 2, bands = 4, rowsPerBand = 3,
      threshold = 0.5, family = TextDedup.Xx64)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.forall(p => p._1 != p._2), "self-pair leaked through cross-corpus join")
    // and it still finds the genuine cross-doc near-dups, in both orders
    val certain = truth.filter(_._3 >= 0.95).map(t => (t._1, t._2)).toSet
    val found = pairs.map(p => if (p._1 < p._2) (p._1, p._2) else (p._2, p._1)).toSet
    assert(certain.subsetOf(found))
  }
}
