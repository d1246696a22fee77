package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pointer

/** The publish step of the refresh path: a reader polling the `_current`
  * marker while the writer re-points it must always see one of the
  * published targets — never "no published version", a checksum error, or
  * a torn value.
  */
class PointerSpec extends AnyFunSuite {

  test("Pointer.write is atomic for a concurrent reader") {
    val spark = TestSpark.spark
    val marker = TestSpark.tempDir("graft_pointer").resolve("_current").toString
    // targets of different lengths, so a torn read shows as a foreign value
    val targets = Seq("/pub/v1", "/pub/version-0002", "/pub/v3-with-a-much-longer-directory-name")
    Pointer.write(spark, marker, targets.head)

    val done = new AtomicBoolean(false)
    val reads = new AtomicLong(0)
    val bad = new ConcurrentLinkedQueue[String]()
    val reader = new Thread(() =>
      while (!done.get()) {
        try Pointer.read(spark, marker) match {
          case Some(t) if targets.contains(t) => ()
          case other => bad.add(s"read $other")
        } catch { case e: Throwable => bad.add(e.toString) }
        reads.incrementAndGet()
      })
    reader.start()
    try (1 to 3000).foreach(i => Pointer.write(spark, marker, targets(i % targets.size)))
    finally { done.set(true); reader.join() }

    assert(reads.get() > 0)
    assert(bad.size === 0, s"of ${reads.get()} reads, e.g. ${bad.asScala.take(3).mkString("; ")}")
    assert(Pointer.read(spark, marker).contains(targets(3000 % targets.size)))
  }
}
