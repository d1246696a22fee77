package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded document corpus in the `documents` shape (doc_id, text, lang,
  * source, n_chars) with planted duplicate families, and the truth about
  * them:
  *   - exact families: every member has the same text;
  *   - near families: a base text plus copies with about one token in 25
  *     replaced (at least one per copy), so copies stay above the verify
  *     threshold against the base;
  *   - unique documents drawn from a vocabulary large enough that two of
  *     them share almost no word bigrams.
  * Family members share a language; the mix is en/de/es/zh at 5:2:2:1.
  */
object Corpus {

  final case class Size(docs: Long, exactFamilies: Long, exactSize: Int,
      nearFamilies: Long, nearSize: Int)

  final case class Truth(docs: Long, exactFamilies: Long, nearFamilies: Long, nearMembers: Long)

  val Vocab = 5000L

  private def h(parts: Column*): Column = xxhash64(parts: _*)

  /** Docs with their truth columns (kind, family). */
  def frame(spark: SparkSession, size: Size, seed: Long): DataFrame = {
    val nExact = size.exactFamilies * size.exactSize
    val nNear = size.nearFamilies * size.nearSize
    val id = col("id")
    val kind = when(id < nExact, lit("exact")).when(id < nExact + nNear, lit("near")).otherwise(lit("unique"))
    val family = when(id < nExact, id / size.exactSize)
      .when(id < nExact + nNear, (id - nExact) / size.nearSize).otherwise(id).cast("long")
    val member = when(id < nExact, pmod(id, lit(size.exactSize.toLong)))
      .when(id < nExact + nNear, pmod(id - nExact, lit(size.nearSize.toLong))).otherwise(lit(0L))
    val base = spark.range(0, size.docs, 1, math.max(1, (size.docs / 20000).toInt))
      .select(id.as("doc_id"), kind.as("kind"), family.as("family"), member.as("member"))
    // the text's seed: shared by all members of a family
    val textKey = when(col("kind") === "unique", concat(lit("u"), col("family").cast("string")))
      .otherwise(concat(col("kind"), lit(":"), col("family").cast("string")))
    val len = (pmod(h(lit(seed), textKey, lit("len")), lit(120L)) + 60).cast("int")
    val word = (j: Column) => concat(lit("w"), pmod(h(lit(seed), textKey, j), lit(Vocab)).cast("string"))
    val edited = (j: Column) =>
      col("kind") === "near" && col("member") > 0 &&
        (pmod(h(lit(seed), textKey, col("member"), j, lit("edit")), lit(25L)) === 0 ||
          j === pmod(col("member") * 7, len))
    val token = (j: Column) => when(edited(j),
      concat(lit("e"), pmod(h(lit(seed), textKey, col("member"), j), lit(Vocab)).cast("string")))
      .otherwise(word(j))
    val lang = pmod(h(lit(seed), textKey, lit("lang")), lit(10L))
    base.select(
      col("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), len - 1), token)).as("text"),
      when(lang < 5, "en").when(lang < 7, "de").when(lang < 9, "es").otherwise("zh").as("lang"),
      concat(lit("src"), pmod(h(lit(seed), col("doc_id"), lit("src")), lit(4L)).cast("string")).as("source"),
      col("kind"), col("family"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Write `docs` (the program's input) and `truth` (for the checks). */
  def write(spark: SparkSession, dir: String, size: Size, seed: Long): Truth = {
    val f = frame(spark, size, seed).cache()
    f.select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(math.max(1, (size.docs / 10000).toInt), col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/docs")
    f.select("doc_id", "kind", "family").write.mode("overwrite").parquet(s"$dir/truth")
    f.unpersist()
    Truth(size.docs, size.exactFamilies, size.nearFamilies, size.nearFamilies * size.nearSize)
  }
}
