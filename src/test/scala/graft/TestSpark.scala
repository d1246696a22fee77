package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (forked test JVM). */
object TestSpark {
  /** One root per test JVM for every directory the suite writes, deleted
    * with its contents when the JVM exits. The hook goes through Hadoop's
    * hook manager at priority 0 so it runs after Spark's own shutdown hook
    * (priority 40) has stopped the session and its streaming queries.
    */
  private lazy val root: Path = {
    val dir = Files.createTempDirectory("graft_test")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile), 0)
    dir
  }

  private val made = new java.util.concurrent.atomic.AtomicInteger()

  /** A fresh directory under the suite's temp root. A counter, not a random
    * suffix, keeps the path short: a scan node prints at most 100 chars of
    * its location, and specs find their scans by path.
    */
  def tempDir(prefix: String): Path =
    Files.createDirectory(root.resolve(prefix + made.incrementAndGet()))

  /** The engine's session (`Graft.session`) on 4 slots, so specs run on
    * the config every main runs on. The warehouse dir goes in as a
    * `spark.*` system property, which the session builder reads.
    */
  lazy val spark: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir", tempDir("graft_warehouse").toString)
    val s = graft.core.Graft.session("local[4]", "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
