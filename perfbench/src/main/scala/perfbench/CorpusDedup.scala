package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{ConnectedComponents, Curation, Dedup, TextDedup}

/** `corpus_dedup`: training-data curation over a seeded corpus. One pass
  * runs five stages, each written to parquet so the next reads a
  * materialized input: text features -> LSH candidates -> exact-Jaccard
  * verify -> connected-component groups -> selection (exact dedup plus one
  * canonical document per group). Touches no vault or streaming code.
  */
object CorpusDedup extends Workload {
  val name = "corpus_dedup"

  val Full = Corpus.Size(docs = 1200, exactFamilies = 60, exactSize = 3,
    nearFamilies = 60, nearSize = 4)
  val Small = Corpus.Size(docs = 120, exactFamilies = 6, exactSize = 3,
    nearFamilies = 6, nearSize = 4)
  val Bands = 20
  val RowsPerBand = 5
  val ShingleWords = 2
  val Threshold = 0.7

  @volatile private var truth: Corpus.Truth = _

  private def corpus(dir: String, small: Boolean) = s"$dir/corpus${if (small) "_small" else ""}"

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    truth = Corpus.write(spark, corpus(dir, false), Full, seed)
    Corpus.write(spark, corpus(dir, true), Small, seed + 1)
  }

  def inputFacts(dir: String): Map[String, String] = Map(
    "docs" -> truth.docs.toString, "exact_families" -> truth.exactFamilies.toString,
    "near_families" -> truth.nearFamilies.toString, "size" -> Full.toString,
    "lsh" -> s"bands=$Bands rows=$RowsPerBand shingle=$ShingleWords threshold=$Threshold")

  val Stages = Seq("features", "candidates", "verify", "groups", "select")

  /** One curation pass over `in`/docs; returns per-stage milliseconds. */
  private def pass(spark: SparkSession, in: String, out: String, tracer: Tracer, ops: Ops,
      heap: Option[HeapPeak]): (Long, Seq[Double]) = {
    val t0 = System.nanoTime()
    var excluded = 0L
    val docs = spark.read.parquet(s"$in/docs")
    val tokens = TextFns.tokens(col("text"))
    def stage(name: String)(body: => DataFrame): Option[Double] = tracer.span(s"operators.$name") {
      val s0 = System.nanoTime()
      ops.attempt(s"corpus stage $name")(body.write.mode("overwrite").parquet(s"$out/$name"))
        .map(_ => (System.nanoTime() - s0) / 1e6)
    }
    def read(name: String) = spark.read.parquet(s"$out/$name")
    val ms = Seq(
      stage("features")(Curation.gopherSignals(docs, "doc_id", "text")
        .join(Curation.repetitionSignals(docs, "doc_id", "text").withColumnRenamed("keep", "rep_keep"),
          Seq("doc_id"))),
      stage("candidates")(TextDedup.candidatePairs(TextDedup.bandedSignatures(docs, "doc_id",
        TextFns.wordShingles(tokens, ShingleWords), Bands, RowsPerBand), "doc_id")),
      stage("verify")(TextDedup.verifiedPairs(read("candidates"), docs, "doc_id", tokens,
        ShingleWords, Threshold)),
      {
        var groups: DataFrame = null
        val r = stage("groups") {
          groups = ConnectedComponents.dedupGroups(read("verify").select("a_id", "b_id"), "a_id", "b_id")
          groups
        }
        heap.foreach(h => excluded += h.sample())
        if (groups != null) ConnectedComponents.releaseResult(groups)
        r
      },
      stage("select") {
        val exact = Dedup.exactDedupGroups(docs, md5(col("text")), col("doc_id"))
        val nonCanonical = read("groups").filter(!col("is_canonical")).select(col("member_id").as("doc_id"))
        docs.select(col("doc_id"), md5(col("text")).as("content_hash"))
          .join(exact.select(col("content_hash"), col("keep_id")), "content_hash")
          .filter(col("doc_id") === col("keep_id"))
          .join(nonCanonical, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("content_hash"))
      }).flatten
    (System.nanoTime() - t0 - excluded, ms)
  }

  def warm(spark: SparkSession, dir: String, seed: Long, ops: Ops): Unit =
    pass(spark, corpus(dir, true), s"$dir/curated_small", new Tracer(spark.sparkContext, false), ops, None)

  def measure(spark: SparkSession, dir: String, seed: Long, seconds: Double,
      tracer: Tracer, heap: HeapPeak, ops: Ops): Measured = {
    val in = corpus(dir, false)
    val out = s"$dir/curated"
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    val start = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds)
      passes += pass(spark, in, out, tracer, ops, if (passes.isEmpty) Some(heap) else None)

    val fps = Stages.map(s => s -> Fingerprint.of(spark.read.parquet(s"$out/$s"))).toMap
    val recall = checkTruth(spark, in, out, ops)
    val wallS = Stats.median(passes.map(_._1 / 1e9).toSeq)
    Measured(
      endToEnd = Map("freshness_p50_s" -> wallS),
      layer = Map(
        "operators.verify.useful_ratio" ->
          Fingerprint.rows(fps("verify")).toDouble / math.max(1L, Fingerprint.rows(fps("candidates"))),
        "operators.groups.near_dup_recall" -> recall),
      fingerprints = fps,
      info = Map("passes" -> passes.size.toString,
        "pass_s" -> passes.map(p => f"${p._1 / 1e9}%.3f").mkString(","),
        "stage_ms" -> passes.map(_._2.map(ms => f"$ms%.0f").mkString("/")).mkString(","),
        "near_dup_recall" -> recall.toString))
  }

  /** Output checks against the planted families; returns near-dup recall
    * (near-family members grouped with their family's first document).
    */
  private def checkTruth(spark: SparkSession, in: String, out: String, ops: Ops): Double = {
    val t = spark.read.parquet(s"$in/truth")
    val exactGroups = Dedup.exactDedupGroups(spark.read.parquet(s"$in/docs"), md5(col("text")), col("doc_id"))
      .filter(col("n_copies") > 1)
    val planted = t.filter(col("kind") === "exact").groupBy("family")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    ops.check("every planted exact family is recovered exactly",
      exactGroups.select("keep_id", "n_copies").exceptAll(planted.select("keep_id", "n_copies")).isEmpty &&
        planted.select("keep_id", "n_copies").exceptAll(exactGroups.select("keep_id", "n_copies")).isEmpty)
    val famKey = when(col("kind") === "unique", concat(lit("u"), col("doc_id").cast("string")))
      .otherwise(concat(col("kind"), lit(":"), col("family").cast("string")))
    val groups = spark.read.parquet(s"$out/groups")
      .join(t.withColumn("fam", famKey).withColumnRenamed("doc_id", "member_id"), "member_id")
    ops.check("no group merges planted-unrelated documents",
      groups.groupBy("group_id").agg(countDistinct("fam").as("n")).filter(col("n") > 1).isEmpty)
    val near = t.filter(col("kind") === "near")
    val firsts = near.groupBy("family").agg(min("doc_id").as("first"))
    val gid = spark.read.parquet(s"$out/groups").select("member_id", "group_id")
    val hit = near.join(firsts, "family")
      .join(gid.withColumnRenamed("member_id", "doc_id"), Seq("doc_id"), "left")
      .join(gid.select(col("member_id").as("first"), col("group_id").as("first_group")), Seq("first"), "left")
      .agg(sum(when(col("group_id").isNotNull && col("group_id") === col("first_group"), 1L).otherwise(0L)),
        count(lit(1))).head()
    val selected = spark.read.parquet(s"$out/select").count()
    ops.check(s"selection keeps $selected <= ${truth.docs} documents and drops every exact copy",
      selected <= truth.docs - truth.exactFamilies * (Full.exactSize - 1))
    hit.getLong(0).toDouble / hit.getLong(1)
  }
}
