package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.core.TablePersist

class TablePersistSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  test("watermark scan over a date-partitioned table partition-prunes") {
    val path = TestSpark.tempDir("graft_part").toString + "/t"
    val rows = (1 to 28).map(d =>
      (f"k$d", Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"), d.toLong))
      .toDF("k", "load_timestamp", "v")
    TablePersist.appendPartitioned(rows, path, "load_timestamp", sortCols = Seq("k"))

    val table = TestSpark.spark.read.parquet(path)
    val wm = Timestamp.valueOf("2024-01-25 12:00:00")
    val scan = TablePersist.aboveWatermarkPruned(table, "load_timestamp", wm)

    // correctness: strict > watermark
    assert(scan.select("k").as[String].collect().toSet === Set("k26", "k27", "k28"))

    // pruning: the physical scan must carry a partition filter on load_date
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("load_date"),
      s"expected load_date partition filter in:\n$plan")
    val scanned = scan.queryExecution.executedPlan.collectLeaves()
      .head.metrics.get("numFiles")
    scan.count() // materialize metrics
    assert(scanned.forall(_.value <= 4), s"expected <=4 files scanned, got ${scanned.map(_.value)}")
  }
}
