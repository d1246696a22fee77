package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-table persistence: date-partitioned parquet layout so incremental
  * watermark scans partition-prune.
  *
  * Mirrors the reference's TimescaleDB hypertable chunking on
  * `load_timestamp` (`a1_5_batch_s3_to_postgres.py:383-411`) — SURVEY §4:
  * a table partitioned by `load_date=date(load_timestamp)` turns the
  * watermark predicate `load_timestamp > wm` into a directory-level prune
  * (the scan's PartitionFilters), so a daily incremental run reads one or
  * two partitions of a years-deep table instead of all of it. The optional
  * sort-within-partitions mirrors the hypertable's
  * `segmentby/orderby` compression layout (`compress_hypertable.sql:15-19`)
  * for run-length-friendly parquet encoding.
  */
object TablePersist {

  /** Deterministic within-date write salt: clustering a partitioned write
    * by the partition value ALONE hash-routes every row of a date into one
    * task — a typical daily batch (one dominant date) then writes through
    * a single writer, a parallelism collapse and skew hotspot at scale
    * (r18 ADVICE). Salting by a row-content hash mod `filesPerDate` keeps
    * the file count per date bounded (≈ filesPerDate, instead of one file
    * per upstream task) while a dominant date still writes
    * filesPerDate-wide. Content-hash, not rand(): a retried task must
    * reproduce the same row→partition assignment (guide §2.5, SPARK-38388).
    */
  private[graft] def writeSalt(df: DataFrame): Column =
    pmod(xxhash64(struct(df.columns.map(col): _*)), lit(filesPerDate(df)))

  /** Files-per-date target, conf-overridable (`spark.graft.filesPerDate`):
    * 4 locally (tiny fixtures — file count stays bench-comparable); on a
    * real cluster set ≈ executor count so a single-date daily batch
    * saturates the writers with ~contracted file sizes (guide §6: aim for
    * 128 MB-1 GB output files — pick filesPerDate ≈ dailyBytes / 512 MB).
    *
    * @throws IllegalArgumentException if the setting is not a positive
    *         integer: 0 would reach `pmod` and fail deep inside the write
    *         job, so a bad value is rejected here, by name.
    */
  private[graft] def filesPerDate(df: DataFrame): Int = {
    val key = "spark.graft.filesPerDate"
    val raw = df.sparkSession.conf.get(key, "4")
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$key must be a positive integer, got '$raw'"))
  }

  /** Append `df` partitioned by the date of `tsCol`.
    *
    * Rows are CLUSTERED by (partition value, within-date salt) before the
    * write (guide §6: hash write distribution): a partitionBy writer opens
    * one file per date value per task, so an N-way-parallel upstream
    * otherwise writes up to N small files into every date directory — paid
    * again by every later scan (listing + per-file open). One shuffle at
    * write time keeps file count ≤ filesPerDate per date at any upstream
    * parallelism, without funneling a dominant date through one task.
    */
  def appendPartitioned(
      df: DataFrame,
      path: String,
      tsCol: String,
      sortCols: Seq[String] = Seq()): Unit = {
    val dated = df.withColumn("load_date", to_date(col(tsCol)))
    val withDate = dated.repartition(col("load_date"), writeSalt(dated))
    val arranged =
      if (sortCols.nonEmpty) withDate.sortWithinPartitions(sortCols.map(col): _*)
      else withDate
    arranged.write.mode("append").partitionBy("load_date").parquet(path)
  }

  /** Read a partitioned table; `load_date` predicates prune directories. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Incremental watermark scan over a partitioned table: adds the
    * date-level predicate derived from the watermark so pruning applies,
    * then the exact timestamp filter.
    */
  def aboveWatermarkPruned(
      source: DataFrame,
      wmCol: String,
      watermark: java.sql.Timestamp): DataFrame =
    source
      .filter(col("load_date") >= to_date(lit(watermark)))
      .filter(col(wmCol) > lit(watermark))
}
