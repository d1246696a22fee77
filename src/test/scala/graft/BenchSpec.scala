package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout line, without Spark: it fits the 1900-char budget, sums
  * the successful lines, folds the fastest successes into `q_other`, and
  * never folds a failed line while a success is left to fold.
  */
class BenchSpec extends AnyFunSuite {

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  private def queries(json: JsonNode): Map[String, Double] =
    json.get("queries").properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap

  /** 170 lines with 24-char names and distinct times from 0.05 s up. */
  private val lines = (1 to 170).map(i => f"q_line_$i%017d" -> (0.05 + i * 0.137))

  test("170 lines fit in 1900 chars as JSON; value sums them and q_other sums the folded ones") {
    assert(lines.forall(_._1.length == 24))
    val line = Bench.stdoutLine(lines, "sf0.1", 0)
    assert(line.length <= 1900, line.length)
    val json = parse(line)
    assert(json.get("metric").asText === "total" && json.get("sf").asText === "sf0.1")
    assert(!json.has("errors"))
    assert(math.abs(json.get("value").asDouble - lines.map(_._2).sum) < 0.0005)
    val kept = queries(json)
    val folded = lines.filterNot { case (n, _) => kept.contains(n) }
    assert(folded.nonEmpty && kept.contains("q_other"))
    assert(math.abs(kept("q_other") - folded.map(_._2).sum) <= 0.005)
    assert(folded.map(_._2).max < lines.filter { case (n, _) => kept.contains(n) }.map(_._2).min,
      "a slower line was folded before a faster one")
  }

  test("a failed line with the smallest time keeps its name and negative value") {
    val line = Bench.stdoutLine(lines :+ ("q_failed" -> -0.02), "sf0.1", 1)
    assert(line.length <= 1900, line.length)
    val json = parse(line)
    assert(queries(json).get("q_failed") === Some(-0.02), line)
    assert(json.get("errors").asInt === 1)
    assert(math.abs(json.get("value").asDouble - lines.map(_._2).sum) < 0.0005)
  }

  test("a short result list is printed whole, without q_other") {
    val short = Seq("q_b" -> 1.234, "q_a" -> 0.5, "q_c" -> -2.0)
    val json = parse(Bench.stdoutLine(short, "sf0.01", 1))
    assert(queries(json) === Map("q_a" -> 0.5, "q_b" -> 1.23, "q_c" -> -2.0))
    assert(json.get("value").asDouble === 1.734)
  }
}
