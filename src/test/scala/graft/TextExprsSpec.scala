package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFns

class TextExprsSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  // the HOF formulation the codegen expression replaced — ground truth
  private def hofShingles(tokensCol: org.apache.spark.sql.Column, n: Int) =
    when(size(tokensCol) >= n,
      array_distinct(transform(
        sequence(lit(1), size(tokensCol) - lit(n - 1)),
        i => concat_ws(" ", slice(tokensCol, i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  test("codegen wordShingles is element-identical to the HOF form (random corpora)") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ffff")
    val rows = (0 until 200).map { _ =>
      Tuple1(Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))))
    }
    val df = rows.toDF("toks")
    for (n <- Seq(2, 3)) {
      val diff = df.select(
        TextFns.wordShingles($"toks", n).as("cg"),
        hofShingles($"toks", n).as("hof"))
        .filter($"cg" =!= $"hof")
      assert(diff.count() === 0, s"n=$n mismatch")
    }
  }

  test("short, empty, and null token arrays yield an empty shingle set") {
    val df = Seq(
      (1, Some(Seq("only"))),
      (2, Some(Seq.empty[String])),
      (3, Option.empty[Seq[String]])).toDF("id", "toks")
    val got = df.select($"id", size(TextFns.wordShingles($"toks", 2)).as("s"))
      .as[(Int, Int)].collect().toMap
    assert(got === Map(1 -> 0, 2 -> 0, 3 -> 0))
  }

  test("duplicate shingles keep first-occurrence order, once") {
    val got = Seq(Tuple1(Seq("x", "y", "x", "y"))).toDF("toks")
      .select(TextFns.wordShingles($"toks", 2))
      .as[Seq[String]].head()
    assert(got === Seq("x y", "y x"))
  }

  // the HOF positional (non-distinct) formulation — ShingleList ground truth
  private def hofShingleList(tokensCol: org.apache.spark.sql.Column, n: Int) =
    when(size(tokensCol) >= n,
      transform(
        sequence(lit(1), size(tokensCol) - lit(n - 1)),
        i => concat_ws(" ", slice(tokensCol, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  test("codegen shingleList is element-identical to the positional HOF form") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "bb", "ccc", "dd", "e")
    val rows = (0 until 200).map { _ =>
      Tuple1(Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))))
    }
    val df = rows.toDF("toks")
    for (n <- Seq(1, 2, 3)) {
      val diff = df.select(
        TextFns.shingleList($"toks", n).as("cg"),
        hofShingleList($"toks", n).as("hof"))
        .filter($"cg" =!= $"hof")
      assert(diff.count() === 0, s"n=$n mismatch")
    }
  }

  test("shingleList keeps duplicates with position order; short/null input is empty") {
    val got = Seq(Tuple1(Seq("x", "y", "x", "y"))).toDF("toks")
      .select(TextFns.shingleList($"toks", 2))
      .as[Seq[String]].head()
    assert(got === Seq("x y", "y x", "x y"))
    val empties = Seq(
      (1, Some(Seq("only"))),
      (2, Some(Seq.empty[String])),
      (3, Option.empty[Seq[String]])).toDF("id", "toks")
      .select($"id", size(TextFns.shingleList($"toks", 2)).as("s"))
      .as[(Int, Int)].collect().toMap
    assert(empties === Map(1 -> 0, 2 -> 0, 3 -> 0))
  }

  test("fused winnowSelect equals the composable HOF selection (random corpora)") {
    val rnd = new scala.util.Random(19)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ffff", "g")
    val rows = (0 until 300).map { _ =>
      // lengths 0..11 cover: shorter than k, shorter than one window, long
      Tuple1(Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))))
    }
    val df = rows.toDF("toks")
    for ((k, w) <- Seq((3, 4), (2, 5), (1, 1))) {
      val grams = TextFns.shingleList($"toks", k)
      val hashes = transform(grams, g => substring(md5(g), 1, 16))
      val m = size(hashes)
      val hof = when(m > 0,
        array_distinct(transform(
          sequence(lit(1), greatest(m - lit(w) + 1, lit(1))),
          j => array_min(slice(hashes, j, lit(w))))))
        .otherwise(array().cast("array<string>"))
      val diff = df.select(
        TextFns.winnowSelect($"toks", k, w).as("fused"), hof.as("hof"))
        .filter($"fused" =!= $"hof")
      assert(diff.count() === 0, s"k=$k w=$w mismatch")
    }
  }

  test("nfc composes decomposed sequences, is idempotent, and passes nulls through") {
    val decomposed = "cafe\u0301 A\u030Angstro\u0308m"
    val composed = "caf\u00e9 \u00c5ngstr\u00f6m"
    val df = Seq(
      (1, Some(decomposed)),
      (2, Some(composed)),
      (3, Some("plain ascii")),
      (4, Option.empty[String])).toDF("id", "s")
    val got = df.select($"id", TextFns.nfc($"s").as("n")).as[(Int, Option[String])]
      .collect().toMap
    assert(got(1) === Some(composed))
    assert(got(2) === Some(composed)) // already-NFC passthrough
    assert(got(3) === Some("plain ascii"))
    assert(got(4) === None)
    // idempotence: nfc(nfc(x)) == nfc(x)
    val twice = df.filter($"s".isNotNull)
      .select(TextFns.nfc(TextFns.nfc($"s")).as("a"), TextFns.nfc($"s").as("b"))
      .filter($"a" =!= $"b")
    assert(twice.count() === 0)
  }

  test("nfc matches java.text.Normalizer on random combining-mark strings") {
    val rnd = new scala.util.Random(17)
    val pieces = Vector("e", "a", "o", "\u0301", "\u0308", "\u030A", "x", " ")
    val rows = (0 until 200).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(10))(pieces(rnd.nextInt(pieces.size))).mkString))
    val got = rows.toDF("id", "s").select($"id", TextFns.nfc($"s").as("n"))
      .as[(Int, String)].collect().toMap
    rows.foreach { case (i, s) =>
      assert(got(i) ===
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC), s"id=$i")
    }
  }
}

class RepetitionStatsSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  // plain-Scala replay of the documented semantics — ground truth
  private def repRef(toks: Seq[String]): Seq[Double] = {
    val total = toks.map(_.length).sum
    (2 to 10).map { n =>
      if (toks.size < n || total == 0) 0.0
      else {
        val grams = toks.sliding(n).map(_.mkString(" ")).toVector
        val counts = grams.groupBy(identity).map { case (g, o) => (g, o.size) }
        if (n <= 4) {
          val (g, c) = counts.toSeq.sortBy { case (g, c) => (-c, g) }.head
          (c.toLong * (g.length - (n - 1))).toDouble / total.toDouble
        } else {
          val covered = Array.fill(toks.size)(false)
          grams.zipWithIndex.foreach { case (g, i) =>
            if (counts(g) > 1) (i until i + n).foreach(covered(_) = true)
          }
          covered.zipWithIndex.collect { case (true, i) => toks(i).length.toLong }
            .sum.toDouble / total.toDouble
        }
      }
    }
  }

  test("repetitionSignals: hand-computed fractions and keep verdict") {
    val docs = Seq((1L, "a b a b c"), (2L, "x y z x y z x y")).toDF("doc_id", "text")
    val got = graft.operators.Curation.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    // total=5; top2: "a b"x2 * 2ch = 0.8; top3 tie -> "a b a" 3ch = 0.6;
    // top4 tie -> "a b a b" 4ch = 0.8; n>=5: no duplicated gram / too short
    assert(r1.getDouble(1) === 0.8 && r1.getDouble(2) === 0.6 && r1.getDouble(3) === 0.8)
    (4 to 9).foreach(i => assert(r1.getDouble(i) === 0.0))
    assert(!r1.getBoolean(10))
    val r2 = got(2L)
    // total=8; top2 "x y"x3 = 0.75; top3 tie "x y z"x2 = 0.75; top4 tie
    // "x y z x"x2 = 1.0; dup5 "x y z x y" at 0 and 3 covers all 8 = 1.0
    assert(r2.getDouble(1) === 0.75 && r2.getDouble(2) === 0.75 && r2.getDouble(3) === 1.0)
    assert(r2.getDouble(4) === 1.0)
    (5 to 9).foreach(i => assert(r2.getDouble(i) === 0.0))
    assert(!r2.getBoolean(10))
  }

  test("repetitionSignals matches the plain-Scala replay on random corpora") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "bb", "ccc", "d", "ee")
    val rows = (0L until 200L).map { i =>
      (i, Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val docs = rows.toDF("doc_id", "text")
    val got = graft.operators.Curation.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (1 to 9).map(r.getDouble)).toMap
    rows.foreach { case (i, text) =>
      val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val exp = repRef(if (text.trim.isEmpty) Seq.empty else toks)
      assert(got(i) === exp, s"doc $i: '$text'")
    }
  }

  test("repetition_stats is SQL-registered") {
    graft.core.GraftExtensions.register(TestSpark.spark)
    val r = TestSpark.spark.sql(
      "SELECT repetition_stats(array('a','b','a','b')).top_2gram_frac AS f")
      .collect().head.getDouble(0)
    // "a b" x2 * 2 chars / 4 chars
    assert(r === 1.0)
  }
}

class HashedTermFreqsSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  // the relational form the fused expression replaced — ground truth
  private def relational(docs: org.apache.spark.sql.DataFrame, dims: Int) = {
    val toks = TextFns.tokens($"text")
    docs
      .select($"doc_id", size(toks).cast("long").as("n"), explode(toks).as("tk"))
      .withColumn("bucket",
        pmod(conv(substring(md5($"tk"), 1, 8), 16, 10).cast("long"), lit(dims.toLong)))
      .groupBy($"doc_id", $"bucket")
      .agg(count(lit(1)).as("tf"), max($"n").as("n"))
      .select($"doc_id", $"bucket", $"tf",
        ($"tf".cast("double") / $"n".cast("double")).as("weight"))
  }

  test("featureHashTf (fused) row-identical to the relational form on random docs") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector("spark", "query", "fast", "table", "röw", "值", "x")
    val rows = (0L until 150L).map { i =>
      (i, Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val docs = rows.toDF("doc_id", "text")
    for (dims <- Seq(8, 256)) {
      val fused = graft.operators.Curation.featureHashTf(docs, "doc_id", "text", dims)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val rel = relational(docs, dims)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(fused === rel, s"dims=$dims")
    }
  }

  test("hashed_term_freqs is SQL-registered and empty arrays yield empty maps") {
    graft.core.GraftExtensions.register(TestSpark.spark)
    val n = TestSpark.spark.sql(
      "SELECT size(hashed_term_freqs(array(), 64)) AS s").collect().head.getInt(0)
    assert(n === 0)
  }
}

/** The fused corpus front-end kernels (`MinHashSignature`, `NgramHashSet`,
  * `TokenStats`) against the relational forms they replaced, kept here as
  * ground truth (as `hofShingles` is for `WordShingles`).
  */
class CorpusKernelsSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.types.UTF8String
  import graft.operators.{Curation, TextDedup}
  import graft.operators.TextDedup.{HashFamily, HexMd5, Xx64}

  // explode(shingles) -> one hash column per i -> groupBy(id).agg(min) ->
  // band hashes -> explode
  private def relBanded(docs: DataFrame, idCol: String, shingles: Column,
      bands: Int, rowsPerBand: Int, family: HashFamily): DataFrame = {
    val numHashes = bands * rowsPerBand
    val M = 2147483647L
    val hashOf: Int => Column = family match {
      case HexMd5 => i => {
        val a = (1103515245L * (i + 1)) % M
        val b = 12345L * (i + 1)
        pmod(lit(a) * col("__base") + lit(b), lit(M))
      }
      case Xx64 => i => xxhash64(lit(i), col("__sh"))
    }
    val exploded = docs.select(col(idCol), explode(shingles).as("__sh"))
    val based = family match {
      case HexMd5 => exploded.withColumn("__base",
        conv(substring(md5(col("__sh")), 1, 7), 16, 10).cast("long"))
      case Xx64 => exploded
    }
    val sig = based
      .groupBy(col(idCol))
      .agg(min(hashOf(0)).as("__m0"), (1 until numHashes).map(i => min(hashOf(i)).as(s"__m$i")): _*)
    val bandHash = (b: Int) => {
      val members = (0 until rowsPerBand).map(r => col(s"__m${b * rowsPerBand + r}"))
      family match {
        case HexMd5 => md5(concat_ws("|", lit(b.toString) +: members: _*))
        case Xx64   => xxhash64(lit(b) +: members: _*)
      }
    }
    sig
      .select(col(idCol), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandHash(b).as("band_hash"))): _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"), col("__b.band_hash").as("band_hash"))
  }

  // posexplode -> lead window -> groupBy(collect_set)
  private def relNgramSets(docs: DataFrame, idCol: String, blockCols: Seq[String],
      tokensCol: Column, n: Int): DataFrame = {
    val keys = blockCols.map(col) :+ col(idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val leads = (1 until n).map(k => lead(col("__tk"), k).over(w).as(s"__tk$k"))
    val gramCols = col("__tk") +: (1 until n).map(k => col(s"__tk$k"))
    docs
      .select(keys :+ posexplode(tokensCol).as(Seq("__pos", "__tk")): _*)
      .select(keys ++ Seq(col("__pos"), col("__tk")) ++ leads: _*)
      .filter(gramCols.map(_.isNotNull).reduce(_ && _))
      .groupBy(keys: _*)
      .agg(sort_array(collect_set(xxhash64(gramCols: _*))).as("__set"))
      .withColumn("__n", size(col("__set")))
  }

  // explode -> groupBy(id, token) -> groupBy(id) -> left join
  private def relTokenStats(docs: DataFrame, idCol: String, toks: Column): DataFrame = {
    val perDoc = docs
      .select(col(idCol), explode(toks).as("__tk"))
      .groupBy(col(idCol), col("__tk"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(idCol))
      .agg(max(col("__cnt")).as("top_cnt"),
        sum(col("__cnt") * length(col("__tk"))).as("char_sum"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
  }

  private def relGopher(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val base = docs.select(
      col(idCol),
      size(toks).cast("long").as("n_words"),
      greatest(size(toks).cast("long") - 1L, lit(0L)).as("n_bigrams"),
      size(TextFns.wordShingles(toks, 2)).cast("long").as("n_bigrams_distinct"))
    val joined = base.join(relTokenStats(docs, idCol, toks)
      .withColumnRenamed("top_cnt", "__top_cnt").withColumnRenamed("char_sum", "__char_sum"),
      Seq(idCol), "left")
    val meanLen = col("__char_sum").cast("double") / col("n_words").cast("double")
    val topFrac = col("__top_cnt").cast("double") / col("n_words").cast("double")
    val dupBigram = when(col("n_bigrams") > 0,
      lit(1.0) - (col("n_bigrams_distinct").cast("double") / col("n_bigrams").cast("double")))
    joined.select(
      col(idCol), col("n_words"),
      meanLen.as("mean_word_len"),
      topFrac.as("top_word_frac"),
      dupBigram.as("dup_bigram_frac"),
      coalesce(
        col("n_words") >= 20 && col("n_words") <= 100000 &&
          meanLen >= 2.0 && meanLen <= 12.0 &&
          topFrac <= 0.2 && dupBigram <= 0.3,
        lit(false)).as("keep"))
  }

  /** Both frames hold the same rows with the same multiplicities. */
  private def assertSameRows(got: DataFrame, exp: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq === exp.columns.toSeq, what)
    val g = got.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toList
    val e = exp.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toList
    assert(g.size === e.size, s"$what: row counts")
    assert(g.groupBy(identity).map { case (k, v) => k -> v.size } ===
      e.groupBy(identity).map { case (k, v) => k -> v.size }, what)
  }

  /** `df` as a local relation (the optimizer folds projections over it, so
    * kernels run interpreted) and as a parquet scan (kernels run in
    * whole-stage codegen).
    */
  private def inputs(df: DataFrame): Seq[(String, DataFrame)] = {
    val dir = TestSpark.tempDir("graft_kernels").toString
    df.write.mode("overwrite").parquet(dir)
    Seq("local" -> df, "parquet" -> TestSpark.spark.read.parquet(dir))
  }

  // random corpus: short, empty, blank and null texts, repeated tokens,
  // multi-byte characters, two blocks
  private lazy val corpora: Seq[(String, DataFrame)] = inputs {
    val rnd = new scala.util.Random(41)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ffff", "röw", "值", "x")
    val rows = (0L until 240L).map { i =>
      val text = i % 40 match {
        case 0 => None
        case 1 => Some("")
        case 2 => Some("   ")
        case _ => Some(Seq.fill(rnd.nextInt(45))(vocab(rnd.nextInt(vocab.size)))
          .mkString(if (i % 7 == 0) "  " else " "))
      }
      (i, text, if (rnd.nextBoolean()) "en" else "de")
    }
    rows.toDF("doc_id", "text", "lang")
  }
  private def corpus: DataFrame = corpora.last._2
  private val toks = TextFns.tokens(col("text"))

  test("bandedSignatures equals the relational explode-min-band form (both families, n=2,3)") {
    for ((in, docs) <- corpora; family <- Seq(Xx64, HexMd5); n <- Seq(2, 3);
         (bands, rows) <- Seq((4, 3), (20, 5))) {
      val sh = TextFns.wordShingles(toks, n)
      assertSameRows(
        TextDedup.bandedSignatures(docs, "doc_id", sh, bands, rows, family),
        relBanded(docs, "doc_id", sh, bands, rows, family),
        s"$in $family n=$n bands=$bands x $rows")
    }
  }

  test("bandedSignatures handles null shingles as the relational form does") {
    val df = Seq(
      (1L, Some(Seq[String]("a b", null, "c d"))),
      (2L, Some(Seq[String](null, null))),
      (3L, Some(Seq.empty[String])),
      (4L, Option.empty[Seq[String]])).toDF("doc_id", "sh")
    for ((in, docs) <- inputs(df); family <- Seq(Xx64, HexMd5))
      assertSameRows(
        TextDedup.bandedSignatures(docs, "doc_id", col("sh"), 2, 2, family),
        relBanded(docs, "doc_id", col("sh"), 2, 2, family), s"$in $family")
  }

  test("kernel contract: Xx64 and HexMd5 hash definitions; no shingles, no band rows") {
    val s = "quick brown"
    val bytes = s.getBytes("UTF-8")
    val u = UTF8String.fromBytes(bytes)
    val df = Seq((1L, Seq(s)), (2L, Seq.empty[String])).toDF("doc_id", "sh")
    val xx = df.filter($"doc_id" === 1L)
      .select(TextDedup.minhashSignature($"sh", 6, Xx64)).as[Seq[Long]].head()
    assert(xx === (0 until 6).map(i =>
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, XXH64.hashInt(i, 42L))))
    val hex = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"${b & 0xFF}%02x").mkString
    val base = java.lang.Long.parseLong(hex.take(7), 16)
    val md = df.filter($"doc_id" === 1L)
      .select(TextDedup.minhashSignature($"sh", 6, HexMd5)).as[Seq[Long]].head()
    assert(md === (0 until 6).map(i =>
      ((1103515245L * (i + 1)) % 2147483647L * base + 12345L * (i + 1)) % 2147483647L))
    for (family <- Seq(Xx64, HexMd5)) {
      val banded = TextDedup.bandedSignatures(df, "doc_id", $"sh", 3, 2, family)
      assert(banded.filter($"doc_id" === 2L).count() === 0, s"$family")
      assert(banded.filter($"doc_id" === 1L).count() === 3, s"$family")
    }
  }

  test("banding minhashSignature gives bandedSignatures (one MinHash definition)") {
    val (bands, rows) = (5, 4)
    for ((in, docs) <- corpora; family <- Seq(Xx64, HexMd5)) {
      val sh = TextFns.wordShingles(toks, 2)
      val sig = docs.select($"doc_id",
        TextDedup.minhashSignature(sh, bands * rows, family).as("s")).filter($"s".isNotNull)
      val bandHash = (b: Int) => {
        val members = (0 until rows).map(r => $"s".getItem(b * rows + r))
        family match {
          case HexMd5 => md5(concat_ws("|", lit(b.toString) +: members: _*))
          case Xx64   => xxhash64(lit(b) +: members: _*)
        }
      }
      val banded = (0 until bands).map(b =>
        sig.select($"doc_id", lit(b).as("band"), bandHash(b).as("band_hash"))).reduce(_ union _)
      assertSameRows(TextDedup.bandedSignatures(docs, "doc_id", sh, bands, rows, family),
        banded, s"$in $family")
    }
  }

  test("hashedNgramSets equals the relational posexplode-lead-collect_set form") {
    for ((in, docs) <- corpora; n <- Seq(2, 3); blocks <- Seq(Seq.empty[String], Seq("lang"))) {
      val got = TextDedup.hashedNgramSets(docs, "doc_id", blocks, toks, n)
      assertSameRows(got, relNgramSets(docs, "doc_id", blocks, toks, n),
        s"$in n=$n blocks=$blocks")
      // docs whose set would be empty are dropped, not kept with size 0
      assert(got.filter($"__n" === 0).count() === 0)
    }
  }

  test("ngramHashSet skips grams with a null token; short and null input") {
    val df = Seq(
      (1L, Some(Seq[String]("a", null, "b", "c", "a", "b", "c"))),
      (2L, Some(Seq("only"))),
      (3L, Option.empty[Seq[String]])).toDF("doc_id", "tk")
    for ((in, docs) <- inputs(df))
      assertSameRows(TextDedup.hashedNgramSets(docs, "doc_id", Seq(), $"tk", 2),
        relNgramSets(docs, "doc_id", Seq(), $"tk", 2), s"$in null tokens")
    val sets = df.select($"doc_id", TextFns.ngramHashSet($"tk", 2).as("s"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    // (a,null) (null,b) skipped; "b c" "c a" "a b" "b c" -> 3 distinct
    assert(sets(1L).get.size === 3)
    assert(sets(2L) === Some(Seq.empty[Long]) && sets(3L) === None)
  }

  test("tokenStats equals the relational grouped form; empty and null give null") {
    val rnd = new scala.util.Random(43)
    val vocab = Vector[String]("a", "bb", "值", null)
    val rows = (0L until 200L).map { i =>
      (i, if (i % 25 == 0) None else Some(Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))))
    }
    val st = TextFns.tokenStats($"tk")
    for ((in, df) <- inputs(rows.toDF("doc_id", "tk")))
      assertSameRows(df.select($"doc_id", st.getField("top_cnt").as("top_cnt"),
        st.getField("char_sum").as("char_sum")), relTokenStats(df, "doc_id", $"tk"), in)
    val empties = Seq((1L, Some(Seq.empty[String])), (2L, Option.empty[Seq[String]]))
      .toDF("doc_id", "tk").select(TextFns.tokenStats($"tk").isNull).as[Boolean].collect()
    assert(empties.toSeq === Seq(true, true))
  }

  test("gopherSignals equals the relational explode-groupBy-join form") {
    for ((in, docs) <- corpora)
      assertSameRows(Curation.gopherSignals(docs, "doc_id", "text"),
        relGopher(docs, "doc_id", "text"), in)
  }

  test("the corpus front end is map-only: no Exchange in the executed plans") {
    val sh = TextFns.wordShingles(toks, 2)
    val frames = Seq(
      "bandedSignatures Xx64" -> TextDedup.bandedSignatures(corpus, "doc_id", sh, 4, 3, Xx64),
      "bandedSignatures HexMd5" -> TextDedup.bandedSignatures(corpus, "doc_id", sh, 4, 3, HexMd5),
      "hashedNgramSets" -> TextDedup.hashedNgramSets(corpus, "doc_id", Seq("lang"), toks, 2),
      "gopherSignals" -> Curation.gopherSignals(corpus, "doc_id", "text"))
    for ((what, df) <- frames) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$what must be map-only:\n$plan")
      // each kernel is evaluated once per row, not re-evaluated by a
      // pushed-down filter or an inlined projection
      for (k <- Seq("minhashsignature(", "ngramhashset(", "tokenstats("))
        assert(plan.sliding(k.length).count(_ == k) <= 1, s"$what evaluates $k twice:\n$plan")
    }
  }
}
