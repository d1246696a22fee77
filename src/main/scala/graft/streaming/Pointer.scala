package graft.streaming

import org.apache.hadoop.fs.{FileContext, LocalFileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic current-version pointer for versioned parquet publishes: readers
  * follow a `_current` marker file that is repointed with an atomic rename,
  * so they never observe a partially-written version directory. Shared by
  * the mart `Refresh` runner and the streaming SCD2 sink.
  */
object Pointer {

  /** Atomically (re)point `markerPath` at `target`: a concurrent `read`
    * sees either the old target or the new one, never no marker.
    */
  def write(spark: SparkSession, markerPath: String, target: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = new Path(markerPath)
    val tmp = new Path(marker.getParent,
      s".${marker.getName}.${java.util.UUID.randomUUID()}.tmp")
    marker.getFileSystem(conf) match {
      case local: LocalFileSystem =>
        // The checksummed local FS renames with OVERWRITE by deleting the old
        // marker and its .crc first, so a reader in that window finds no
        // marker, or a checksum that no longer matches. Write the marker
        // without a checksum file and rename(2) it over the old one, which
        // POSIX makes atomic. A .crc left by an earlier writer goes first:
        // it would no longer match the new contents.
        val tmpFile = local.pathToFile(tmp).toPath
        java.nio.file.Files.createDirectories(tmpFile.getParent)
        java.nio.file.Files.write(tmpFile, target.getBytes("UTF-8"))
        java.nio.file.Files.deleteIfExists(local.pathToFile(local.getChecksumFile(marker)).toPath)
        java.nio.file.Files.move(tmpFile, local.pathToFile(marker).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      case fs =>
        val os = fs.create(tmp, true)
        try os.write(target.getBytes("UTF-8")) finally os.close()
        // plain FileSystem.rename refuses existing targets
        FileContext.getFileContext(marker.toUri, conf)
          .rename(tmp, marker, Options.Rename.OVERWRITE)
    }
  }

  /** The path `markerPath` currently points at, if the marker exists. */
  def read(spark: SparkSession, markerPath: String): Option[String] = {
    val marker = new Path(markerPath)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** Read the parquet version the marker points at. */
  def currentTable(spark: SparkSession, markerPath: String): Option[DataFrame] =
    read(spark, markerPath).map(spark.read.parquet(_))
}
