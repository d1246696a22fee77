package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  // two triangles bridged by one edge + an isolated pair + a 5-chain
  private val edges = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L),        // triangle A
    (3L, 10L),                           // bridge
    (10L, 11L), (11L, 12L), (10L, 12L),  // triangle B
    (20L, 21L),                          // isolated pair
    (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L) // chain, diameter 4
  ).toDF("a", "b")

  // driver-side union-find reference (canonical label = component min)
  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      parent.getOrElseUpdate(x, x)
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private lazy val edgeList: Seq[(Long, Long)] = edges.as[(Long, Long)].collect().toSeq

  private def groundTruth: Map[Long, Long] = unionFind(edgeList)

  private def spark = TestSpark.spark

  /** The edges with partition p holding exactly `parts(p)`, in order. */
  private def laidOut(parts: Seq[Seq[(Long, Long)]]): DataFrame =
    spark.sparkContext.parallelize(parts, parts.size).flatMap(identity).toDF("a", "b")

  /** k partitions' worth of `es`: edge i in slice i mod k. */
  private def slices(es: Seq[(Long, Long)], k: Int): Seq[Seq[(Long, Long)]] =
    (0 until k).map(p => es.zipWithIndex.collect { case (e, i) if i % k == p => e })

  test("converges to the exact components (min id per component)") {
    val got = ConnectedComponents.minLabel(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === groundTruth)
    // canonical ids are the component minima
    assert(got.values.toSet === Set(1L, 20L, 30L))
  }

  test("a chain longer than any small fixed round budget still merges fully") {
    // 9-node path 100-101-...-108: diameter 8. The old fixed rounds=3 form
    // would have left 108 labeled 105 — convergence must reach 100.
    val chain = (100L until 108L).map(v => (v, v + 1)).toDF("a", "b")
    val got = ConnectedComponents.minLabel(chain, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got.size === 9)
    assert(got.values.toSet === Set(100L), s"under-merged: $got")
  }

  test("maxRounds below the diameter throws instead of under-merging silently") {
    // long enough that even 4 jumps/round (pointer depth ~2^4 per round,
    // compounding across rounds) cannot reach the fixpoint in 2 rounds.
    // Edge i sits in partition i mod 2, so no partition holds two adjacent
    // edges: the local contraction merges nothing beyond single edges and
    // the propagation loop still has the whole chain to walk
    val chain = laidOut(slices((100L until 700L).map(v => (v, v + 1)), 2))
    val e = intercept[IllegalStateException] {
      ConnectedComponents.minLabel(chain, "a", "b", maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("matches union-find on seeded random graphs across densities") {
    // sparse (many components, long paths), medium, and dense (few big
    // components, small diameter) regimes — same seed every run
    val rnd = new scala.util.Random(7)
    for (density <- Seq(0.01, 0.05, 0.25)) {
      val n = 60L
      val es = for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < density
      } yield (a, b)
      val got = ConnectedComponents.minLabel(es.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got === unionFind(es), s"density=$density, |E|=${es.size}")
    }
  }

  test("labels do not depend on how the edges are partitioned") {
    for (k <- Seq(1, 3, 8)) {
      val got = ConnectedComponents.minLabel(laidOut(slices(edgeList, k)), "a", "b")
      assert(got.as[(Long, Long)].collect().toMap === groundTruth, s"$k partitions")
      assert(got.schema.map(_.dataType) === Seq(LongType, LongType), s"$k partitions")
    }
    // every vertex spans both partitions (edge i in partition i mod 2, and
    // each vertex's self-loop in both), so the resolve step cannot exit and
    // the propagation loop runs; 99 appears in self-loops only
    val loops = (edgeList.flatMap { case (a, b) => Seq(a, b) } :+ 99L).distinct.map(v => (v, v))
    val got = ConnectedComponents.minLabel(laidOut(slices(edgeList, 2).map(loops ++ _)), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === unionFind(edgeList :+ (99L -> 99L)))
    assert(got(99L) === 99L)
  }

  test("int ids give int labels") {
    val ints = edges.select($"a".cast("int").as("a"), $"b".cast("int").as("b"))
    val got = ConnectedComponents.minLabel(ints, "a", "b")
    assert(got.schema.map(_.dataType) === Seq(IntegerType, IntegerType))
    assert(got.as[(Int, Int)].collect().map { case (v, l) => (v.toLong, l.toLong) }.toMap === groundTruth)
  }

  test("a non-integral or null id fails with the column's name") {
    val strings = Seq(("1", "2")).toDF("a", "b")
    val typed = intercept[IllegalArgumentException] {
      ConnectedComponents.minLabel(strings, "a", "b")
    }
    assert(typed.getMessage.contains("`a`"), typed.getMessage)
    val nulls = Seq((1L, Some(2L)), (2L, None)).toDF("a", "b")
    val missing = intercept[Exception](ConnectedComponents.minLabel(nulls, "a", "b"))
    assert(missing.getMessage.contains("null vertex id in column `b`"), missing.getMessage)
  }

  test("a one-partition graph resolves in one job, every call") {
    val runner = new Runner(spark, "dir", Nil, _ => (), Nil)
    def jobs(g: DataFrame): Int = runner.line("cc")(ConnectedComponents.minLabel(g, "a", "b")).jobs.size
    val one = laidOut(Seq(edgeList))
    assert(Seq(jobs(one), jobs(one)) === Seq(1, 1))
    // a vertex in two partitions takes the propagation loop instead
    assert(jobs(laidOut(slices(edgeList, 2))) > 1)
  }

  test("dedupGroups flags exactly one canonical member per group") {
    val groups = ConnectedComponents.dedupGroups(edges, "a", "b")
    val canon = groups.filter($"is_canonical").select("group_id")
      .as[Long].collect().toSeq
    assert(canon.sorted === Seq(1L, 20L, 30L))
    // every member's group is its component's canonical id
    assert(groups.filter($"group_id" =!= $"member_id")
      .filter($"is_canonical").count() === 0)
  }
}
