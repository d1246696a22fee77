package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JsonSource

class JsonSourceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("ck", LongType), StructField("bal", DoubleType),
    StructField("seg", StringType)))

  private def fixture(lines: Seq[String]): String = {
    val dir = TestSpark.tempDir("graft_jsonl").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part-00000.txt"), lines.mkString("\n"))
    dir
  }

  test("permissive read: clean rows parse, bad field nulls only itself, garbage nulls the row") {
    val path = fixture(Seq(
      """{"ck": 1, "bal": 10.25, "seg": "A"}""",
      """{"ck": "Xbad", "bal": 2.5, "seg": "B"}""", // ck mismatched
      "oops not json at all",                       // whole line garbage
      """{"ck": 4}"""))                             // missing fields -> nulls
    val got = JsonSource.readPermissive(spark, path, schema)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(got.contains((Some(1L), Some(10.25), Some("A"))))
    assert(got.contains((None, None, None))) // the garbage line survives as nulls
    assert(got.contains((Some(4L), None, None)))
    // record the actual Spark semantics for the mismatched-field line
    val badCk = got.filter(t => t._3.contains("B"))
    assert(badCk.size === 1, s"got=$got")
    assert(badCk.head._1.isEmpty && badCk.head._2.contains(2.5))
    assert(got.size === 4)
  }

  test("corruptRecords audit surfaces exactly the garbage and mismatched lines") {
    val path = fixture(Seq(
      """{"ck": 1, "bal": 1.0, "seg": "A"}""",
      """{"ck": "nope", "bal": 2.0, "seg": "B"}""",
      "garbage"))
    val audit = JsonSource.corruptRecords(spark, path, schema)
      .select("_corrupt_record").collect().map(_.getString(0)).toSet
    assert(audit.contains("garbage"))
    assert(audit.exists(_.contains("nope")))
    assert(audit.size === 2)
  }
}
