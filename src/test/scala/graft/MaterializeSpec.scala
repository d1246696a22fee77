package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DriverPool, Materialize}

/** The storage owner's contract: a scope frees what it stored when its
  * work throws, leaves a caller's cache alone, and `release` frees both
  * kinds of storage. A driver-pool task stores for its caller's scope, and
  * a failing one stops its siblings. The last case keeps every other
  * stored frame in `src/main` behind `Materialize`, and every scope in the
  * runner, the memo and PlanDump.
  */
class MaterializeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a scope whose body throws releases everything it stored") {
    val before = persistentIds
    val boom = intercept[IllegalStateException] {
      Materialize.scoped {
        val cached = Materialize.cache(spark.range(0, 1000).select((col("id") % 7).as("k")))
        cached.count()
        Materialize.pin(spark.range(0, 100).toDF("v"))
        throw new IllegalStateException("body failed")
      }
    }
    assert(boom.getMessage === "body failed")
    val leaked = persistentIds -- before
    assert(leaked.isEmpty, s"RDD ids still stored after the failed scope: ${leaked.toSeq.sorted}")
  }

  test("an input the caller already cached survives the scope") {
    val input = spark.range(0, 500).select((col("id") * 3).as("x")).persist()
    try {
      input.count()
      val n = Materialize.scoped(Materialize.cache(input).filter(col("x") % 2 === 0).count())
      assert(n === 250)
      assert(input.storageLevel !== StorageLevel.NONE, "the scope released a cache it did not make")
    } finally input.unpersist(blocking = true)
  }

  test("release frees a cache entry and a checkpoint") {
    val cached = Materialize.cache(spark.range(0, 300).select((col("id") + 1).as("y")))
    cached.count()
    assert(cached.storageLevel !== StorageLevel.NONE)
    Materialize.release(cached)
    assert(cached.storageLevel === StorageLevel.NONE)

    val before = persistentIds
    val pinned = Materialize.pin(spark.range(0, 300).select((col("id") * 2).as("z")))
    val stored = persistentIds -- before
    assert(stored.size === 1, s"pin must store exactly one RDD, stored $stored")
    // a projection of a pinned frame owns the same checkpoint
    Materialize.release(pinned.select(col("z") + 1))
    assert((persistentIds & stored).isEmpty, "release left the checkpoint blocks stored")
  }

  test("a pin stored by a pool task is freed when the caller's scope closes") {
    val before = persistentIds
    val stored = Materialize.scoped {
      DriverPool.all(spark)((1 to 3).map(i => () =>
        Materialize.pin(spark.range(0, 100 * i).toDF("v")).count()))
      persistentIds -- before
    }
    assert(stored.size === 3, s"each pool task must store one RDD, stored $stored")
    assert((persistentIds & stored).isEmpty, "the pool tasks' pins outlived the caller's scope")
  }

  test("a failing pool task interrupts its blocked siblings before the pool returns") {
    val sc = spark.sparkContext
    val blocked = new CountDownLatch(1)
    @volatile var interrupted = false
    val t0 = System.nanoTime()
    val boom = intercept[IllegalStateException] {
      DriverPool.all(spark)(Seq(
        // a driver thread waiting on something else
        () => try { blocked.countDown(); new CountDownLatch(1).await(60, TimeUnit.SECONDS); () }
          catch { case _: InterruptedException => interrupted = true },
        // a driver thread waiting on a Spark job whose tasks run for a minute
        () => try spark.range(0, 2, 1, 2).foreach(_ => Thread.sleep(60000))
          catch { case _: Throwable => () },
        () => {
          blocked.await()
          while (sc.statusTracker.getActiveStageIds().isEmpty) Thread.sleep(50)
          throw new IllegalStateException("fill failed")
        }))
    }
    assert(boom.getMessage === "fill failed")
    assert(interrupted, "the blocked sibling was not interrupted")
    assert((System.nanoTime() - t0) / 1e9 < 30, "the pool waited for its siblings to finish")
    // cancellation is asynchronous: give the scheduler a few seconds
    val deadline = System.nanoTime() + 10e9.toLong
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "the sibling's Spark job still runs")
  }

  test("src/main stores and frees data only through Materialize") {
    // a scope is opened by the runner (one per line), the memo (one per
    // entry) and PlanDump (one per dumped query), never by an operator
    val scopeOwners = Set("graft/Runner.scala", "graft/queries/Q.scala", "graft/PlanDump.scala")
    val root = Paths.get("src/main/scala")
    val calls = Seq("localCheckpoint(", ".persist(", ".cache()", "unpersist(")
    // JsonSource.corruptRecords' cache() is Spark's required workaround for
    // querying the corrupt-record column
    val exempt = Set("graft/core/Materialize.scala")
    val allowed = Map("graft/sources/JsonSource.scala" -> Seq(".cache()"))
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val found = for {
      f <- files
      rel = root.relativize(f).toString
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      call <- (if (exempt(rel)) Nil else calls) ++
        (if (scopeOwners(rel)) Nil else Seq("Materialize.scoped", "Materialize.owner("))
      if line.contains(call)
    } yield (rel, n + 1, call)
    val (ok, bad) = found.partition { case (rel, _, call) =>
      allowed.getOrElse(rel, Nil).contains(call) }
    assert(bad.isEmpty, "store or free data through graft.core.Materialize, and open a " +
      "scope only in the runner, the memo or PlanDump:\n" +
      bad.map { case (rel, n, call) => s"  $rel:$n $call" }.mkString("\n"))
    assert(ok.size === 1, s"JsonSource.corruptRecords' cache() is the one exception: $ok")
  }
}
