package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFns
import graft.operators.{ConnectedComponents, Multimodal, Similarity, TextDedup}

class TextDedupSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over a sleepy dog"), // near dup of 1
    (4L, "completely different text about spark engines here"),
    (5L, "short")
  ).toDF("doc_id", "text")

  test("minhash signature is deterministic and permutation-sensitive only to content") {
    val sig = TextDedup.minhashSignature(
      TextFns.wordShingles(TextFns.tokens($"text"), 2), 12)
    val a = docs.select(sig).collect()
    val b = docs.select(sig).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    // identical docs share the full signature
    val sigs = docs.select($"doc_id", sig.as("s")).as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(4L))
  }

  test("too-short docs (no shingles) get a null signature, not a crash") {
    val sig = TextDedup.minhashSignature(TextFns.wordShingles(TextFns.tokens($"text"), 2), 12)
    val nulls = docs.filter($"doc_id" === 5L).select(sig.isNull).as[Boolean].head()
    assert(nulls)
  }

  test("end-to-end minhashDupPairs finds exact and near dups, skips unrelated") {
    val pairs = TextDedup.minhashDupPairs(docs, "doc_id", "text",
      shingleWords = 2, bands = 6, rowsPerBand = 2, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("crossCorpusDupPairs equals the self-join pairs restricted across the split") {
    val train = docs.filter($"doc_id" <= 2L)          // 1, 2
    val eval_ = docs.filter($"doc_id" > 2L)           // 3, 4, 5
    val cross = TextDedup.crossCorpusDupPairs(train, eval_, "doc_id", "text",
      shingleWords = 2, bands = 6, rowsPerBand = 2, threshold = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val self = TextDedup.minhashDupPairs(docs, "doc_id", "text",
      shingleWords = 2, bands = 6, rowsPerBand = 2, threshold = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      .filter(p => p._1 <= 2L && p._2 > 2L)
    assert(cross === self)
    assert(cross.contains((1L, 3L)))                  // near dup across the split
    assert(!cross.exists { case (a, b) => a > 2L })   // a_id always from train
  }

  test("crossCorpusDupPairs expands a mega-family without a per-family buffer") {
    // one boilerplate text repeated 300x on the training side (the
    // unbounded-membership regime that made the r18 collect_list expansion
    // a single-task memory risk) — the id-only md5(text)-keyed re-join
    // must reproduce the full doc-pair expansion
    val boiler = "exactly the same boilerplate text repeated everywhere verbatim"
    val train = (1L to 300L).map(i => (i, boiler)).toDF("doc_id", "text")
    val eval_ = Seq(
      (1001L, boiler), (1002L, boiler),
      (1003L, "entirely unrelated evaluation document content here")
    ).toDF("doc_id", "text")
    val cross = TextDedup.crossCorpusDupPairs(train, eval_, "doc_id", "text",
      shingleWords = 2, bands = 6, rowsPerBand = 2, threshold = 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(cross.length === 300 * 2)                  // full family expansion
    assert(cross.toSet.size === 300 * 2)              // no duplicate pairs
    assert(cross.forall { case (a, b) => a <= 300L && b >= 1001L && b <= 1002L })
  }

  test("simhash: identical token multisets collide, hamming to others is > 0") {
    val fp = docs.select($"doc_id", TextDedup.simhash32(TextFns.tokens($"text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) >= 0L && fp(1L) <= 0xffffffffL) // 32-bit range
    val d = Seq((fp(1L), fp(4L))).toDF("a", "b")
      .select(TextDedup.hammingDistance($"a", $"b")).as[Long].head()
    assert(d > 0)
  }

  test("simhashFingerprints (explode+agg) equals simhash32 (per-row fold)") {
    val viaAgg = TextDedup.simhashFingerprints(docs, "doc_id", Seq(), TextFns.tokens($"text"))
      .as[(Long, Long)].collect().toMap
    val viaFold = docs.select($"doc_id", TextDedup.simhash32(TextFns.tokens($"text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(viaAgg === viaFold.filter { case (id, _) => viaAgg.contains(id) })
    assert(viaAgg.size === docs.count()) // all docs here have tokens
  }

  test("blockedJaccardPairs respects the block boundary") {
    val blocked = Seq(
      (1L, "g1", "a b c d"), (2L, "g1", "a b c d"), (3L, "g2", "a b c d")
    ).toDF("doc_id", "blk", "text")
    val got = TextDedup.blockedJaccardPairs(
      blocked, "doc_id", "blk", TextFns.tokens($"text"), 2, 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L))) // 3 matches content but is in another block
  }

  test("blockedJaccardPairs duplicate-collapse equals naive all-pairs, bit-exact") {
    // copy families (the exact-duplicate collapse path), near-dups across
    // families (the representative-loop path), a cross-block twin, and
    // shingle-less one-token docs (empty sets — excluded like union=0)
    val texts = Seq(
      0L -> ("en", "the quick brown fox jumps over the lazy dog"),
      1L -> ("en", "the quick brown fox jumps over the lazy dog"),
      2L -> ("en", "the quick brown fox jumps over the lazy dog"),
      3L -> ("en", "the quick brown fox jumps over a lazy dog"),
      4L -> ("en", "the quick brown fox jumps over a lazy dog"),
      5L -> ("en", "something else entirely different here now"),
      6L -> ("de", "the quick brown fox jumps over the lazy dog"),
      7L -> ("en", "solo"),
      8L -> ("en", "solo"))
    val df = texts.map { case (id, (b, t)) => (id, b, t) }.toDF("doc_id", "blk", "text")
    val theta = 0.3
    val got = TextDedup.blockedJaccardPairs(
        df, "doc_id", "blk", TextFns.tokens($"text"), 2, theta)
      .as[(Long, Long, Double)].collect().toSet
    // naive reference: per-doc distinct 2-gram sets, every in-block pair
    val sets = texts.map { case (id, (b, t)) =>
      val tk = t.trim.split("\\s+").filter(_.nonEmpty)
      (id, b, tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet)
    }
    val want = (for {
      (a, ba, sa) <- sets; (b, bb, sb) <- sets
      if a < b && ba == bb
      inter = (sa & sb).size
      union = sa.size + sb.size - inter
      if union > 0
      j = inter.toDouble / union.toDouble
      if j >= theta
    } yield (a, b, j)).toSet
    assert(want.exists(_._3 < 1.0) && want.exists(_._3 == 1.0)) // both paths hit
    assert(got === want)
  }
}

class SimilaritySpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f), 0),
    (1L, Seq(0.9f, 0.1f, 0.0f), 0),
    (2L, Seq(0.0f, 1.0f, 0.0f), 1),
    (3L, Seq(0.0f, 0.0f, 1.0f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("bruteForceTopK ranks the query vector itself first") {
    val got = Similarity.bruteForceTopK(
      vecs, vecs.filter($"vec_id" === 0L), "vec_id", "embedding", 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === Seq(0L, 1L))
  }

  test("ivfAssign maps each vector to its nearest centroid") {
    val centroids = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("centroid_id"), $"embedding")
    val got = Similarity.ivfAssign(vecs, centroids, "vec_id", "embedding", "centroid_id")
      .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(got(0L) === 0L && got(1L) === 1L && got(2L) === 2L)
    assert(got(3L) === 1L) // non-centroid vector -> nearest centroid
  }

  test("empty centroid table: null cluster_id, zero pairs — never an all-pairs -1 cluster") {
    val noCentroids = vecs.filter($"vec_id" < 0)
      .select($"vec_id".as("centroid_id"), $"embedding")
    val assigned = Similarity.ivfAssign(vecs, noCentroids, "vec_id", "embedding", "centroid_id")
    assert(assigned.count() === 4)
    assert(assigned.filter($"cluster_id".isNull).count() === 4)
    // null keys never match the within-cluster equi-join -> zero candidate
    // pairs, not a single giant "-1" cluster verified all-pairs
    val pairs = Similarity.ivfNearDupPairs(
      vecs, noCentroids, "vec_id", "embedding", "centroid_id", threshold = 0.0)
    assert(pairs.count() === 0)
  }

  test("quantizeInt8: endpoints hit 0/255, constant dims -> 0, dequant error bounded") {
    val data = Seq(
      (0L, Seq(0.0f, 5.0f, 1.0f)),
      (1L, Seq(10.0f, 5.0f, 2.0f)),
      (2L, Seq(5.0f, 5.0f, 3.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(data, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(q((0L, 1L)) === 0 && q((1L, 1L)) === 255) // dim 1 endpoints
    assert(q((2L, 1L)) === 128) // mid-range rounds to 128 (127.5 half-up)
    assert(q((0L, 2L)) === 0 && q((1L, 2L)) === 0) // constant dim -> 0
    assert(q((0L, 3L)) === 0 && q((2L, 3L)) === 255)
    // dequantization error is bounded by half a quantization step
    val step = 10.0 / 255.0
    val deq = 0.0 + q((2L, 1L)) / 255.0 * 10.0
    assert(math.abs(deq - 5.0) <= step / 2 + 1e-12)
  }

  test("randomProject: one-hot vectors read the sign matrix back; projection is linear") {
    def mdSign(j: Int, i: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${j}_$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) % 2 == 0) 1.0 else -1.0
    }
    val d = 5
    // one-hot e_i -> out[j] must equal s(j, i) exactly
    val oneHots = (0 until d).map(i =>
      (i.toLong, Seq.tabulate(d)(x => if (x == i) 1.0f else 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(oneHots, "vec_id", "embedding", inDims = d, outDims = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (i <- 0 until d; j <- 0 until 3)
      assert(got((i.toLong, j)) === mdSign(j, i), s"sign($j,$i)")
    // integer-valued input: projection of (2,3,0,0,0) = 2*s(j,0) + 3*s(j,1)
    val v = Seq((9L, Seq(2.0f, 3.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val gv = Similarity.randomProject(v, "vec_id", "embedding", d, 3)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    for (j <- 0 until 3)
      assert(gv(j) === 2.0 * mdSign(j, 0) + 3.0 * mdSign(j, 1), s"lin j=$j")
  }

  test("kmeansFit recovers separated clusters and reduces inertia") {
    // three tight clusters around the axes
    val data = (0 until 30).map { i =>
      val axis = i % 3
      val base = Array(0.0f, 0.0f, 0.0f)
      base(axis) = 1.0f
      base((axis + 1) % 3) = (i / 3) * 0.01f
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
    val init = data.orderBy("vec_id").limit(3)
      .select(org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window.orderBy($"vec_id"))
        .cast("long").as("centroid_id"), $"embedding")
    val before = Similarity.inertia(data, init, "vec_id", "embedding")
    val trained = Similarity.kmeansFit(data, "vec_id", "embedding", k = 3, iters = 5)
    val after = Similarity.inertia(data, trained, "vec_id", "embedding")
    assert(after <= before)
    // assignments separate the three axes perfectly
    val assigned = Similarity.ivfAssign(data, trained, "vec_id", "embedding", "centroid_id")
      .select($"vec_id", $"cluster_id").as[(Long, Long)].collect()
    val byAxis = assigned.groupBy(_._1 % 3).values.map(_.map(_._2).toSet)
    assert(byAxis.forall(_.size === 1)) // each axis maps to one cluster
    assert(byAxis.flatten.toSet.size === 3) // and the clusters are distinct
  }

  test("kmeansFit: lineage is checkpointed, so deep iteration stays flat") {
    val data = (0 until 30).map { i =>
      val axis = i % 3
      val base = Array(0.0f, 0.0f, 0.0f)
      base(axis) = 1.0f
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val trained = Similarity.kmeansFit(data, "vec_id", "embedding", k = 3, iters = 15)
    assert(trained.count() === 3)
    // the returned plan must not carry 15 iterations of joins: the
    // checkpoint truncates lineage to a materialized leaf
    val planLines = trained.queryExecution.optimizedPlan.toString.linesIterator.size
    assert(planLines <= 5, s"expected a truncated plan, got $planLines lines")
    assert((System.nanoTime() - t0) / 1e9 < 120.0)
  }

  test("ivfNearDupPairs: exact cosine within clusters, full recall on clustered data") {
    import graft.functions.VectorFns
    // three axis-aligned clusters of four near-identical vectors each
    val data = (0 until 12).map { i =>
      val axis = i % 3
      val base = Array(0.0f, 0.0f, 0.0f)
      base(axis) = 1.0f
      base((axis + 1) % 3) = (i / 3) * 0.02f
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f))).toDF("centroid_id", "embedding")
    val pairs = Similarity.ivfNearDupPairs(
      data, centroids, "vec_id", "embedding", "centroid_id", threshold = 0.99)
    // all-pairs baseline (the quadratic form this operator replaces)
    val a = data.select($"vec_id".as("a_id"), $"embedding".as("ea"))
    val b = data.select($"vec_id".as("b_id"), $"embedding".as("eb"))
    val allPairs = a.crossJoin(b).filter($"a_id" < $"b_id")
      .withColumn("cos", VectorFns.cosine(
        VectorFns.toDouble($"ea"), VectorFns.toDouble($"eb")))
      .filter($"cos" >= 0.99)
    // near-dups co-cluster here, so IVF blocking loses nothing (recall 1.0)
    assert(pairs.count() === allPairs.count())
    assert(pairs.count() === 3L * 6L) // C(4,2) per axis cluster
    assert(pairs.filter($"cosine" < 0.99).count() === 0)
  }

  test("ivfNearDupPairs: salted and unsalted plans emit identical pairs") {
    // 40 random-ish vectors, one deliberately duplicated family
    val data = (0 until 40).map { i =>
      val fam = i % 8
      (i.toLong, Seq(
        math.cos(fam).toFloat, math.sin(fam).toFloat, (fam * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val centroids = data.filter($"vec_id" < 4)
      .select($"vec_id".as("centroid_id"), $"embedding")
    def rows(saltBuckets: Int) = Similarity.ivfNearDupPairs(
      data, centroids, "vec_id", "embedding", "centroid_id",
      threshold = 0.9, saltBuckets = saltBuckets)
      .select("cluster_id", "a_id", "b_id", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    // bit-identical output (same cosine doubles) at 1, 4, and 32 buckets
    assert(rows(1) === rows(32))
    assert(rows(4) === rows(32))
    assert(rows(32).nonEmpty)
  }

  test("ivfNearDupPairs: verify-stage width decoupled from salt count") {
    // salt count is a SKEW knob (how many ways one hot cluster splits);
    // stage width is a CLUSTER knob. The explicit probe-side repartition
    // must size the verify stage to max(saltBuckets, defaultParallelism) —
    // pinning it to the salt count would cap a 1000-core cluster's
    // quadratic verify at 32 tasks (r13 verdict "what's wrong" #2).
    val data = (0 until 12).map { i =>
      (i.toLong, Seq(math.cos(i % 3).toFloat, math.sin(i % 3).toFloat))
    }.toDF("vec_id", "embedding")
    val centroids = data.filter($"vec_id" < 3)
      .select($"vec_id".as("centroid_id"), $"embedding")
    def repartitionCounts(saltBuckets: Int): Seq[Int] = {
      val plan = Similarity.ivfNearDupPairs(
        data, centroids, "vec_id", "embedding", "centroid_id",
        threshold = 0.9, saltBuckets = saltBuckets)
        .queryExecution.executedPlan.toString
      """hashpartitioning\(cluster_id[^)]*__salt[^)]*,\s*(\d+)\), REPARTITION_BY_NUM""".r
        .findAllMatchIn(plan).map(_.group(1).toInt).toSeq
    }
    val dp = TestSpark.spark.sparkContext.defaultParallelism // 4 under local[4]
    // salt below cluster width -> stage widens to the cluster
    assert(repartitionCounts(2).contains(math.max(2, dp)))
    // salt above cluster width -> the skew split governs
    assert(repartitionCounts(4 * dp).contains(4 * dp))
  }

  test("hardNegatives: banded per-anchor top-k, anchors and near-dups excluded") {
    // axis anchor + graded neighbors: cos = 1 (self/copy), ~0.995, ~0.7, ~0.3, 0
    val data = Seq(
      (0L, Seq(1.0f, 0.0f)),        // anchor
      (1L, Seq(1.0f, 0.0f)),        // exact copy: cos 1 -> excluded by hi
      (2L, Seq(1.0f, 0.1f)),        // cos ~.995 -> excluded by hi
      (3L, Seq(1.0f, 1.0f)),        // cos ~.707 -> in band
      (4L, Seq(1.0f, 3.0f)),        // cos ~.316 -> below lo
      (5L, Seq(0.0f, 1.0f)),        // cos 0     -> below lo
      (6L, Seq(1.0f, 1.2f))         // cos ~.64  -> in band
    ).toDF("vec_id", "embedding")
    val anchors = data.filter($"vec_id" === 0L)
      .withColumnRenamed("vec_id", "anchor_id")
    val got = Similarity.hardNegatives(
      data, anchors, "vec_id", "embedding", "anchor_id",
      lo = 0.5, hi = 0.95, k = 10)
      .select("anchor_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSeq
    // rank order = cosine desc: 3 (.707) then 6 (.64)
    assert(got === Seq((0L, 3L, 1), (0L, 6L, 2)))
    // k truncates: with k = 1 only the hardest negative survives
    val top1 = Similarity.hardNegatives(
      data, anchors, "vec_id", "embedding", "anchor_id", 0.5, 0.95, 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(top1 === Seq(3L))
  }

  test("signLshBucket is stable and within [0, 2^nBits)") {
    val b1 = vecs.select(Similarity.signLshBucket($"embedding", 3, 4).as("b")).as[Long].collect()
    val b2 = vecs.select(Similarity.signLshBucket($"embedding", 3, 4).as("b")).as[Long].collect()
    assert(b1.toSeq === b2.toSeq)
    assert(b1.forall(b => b >= 0 && b < 16))
  }
}

class MultimodalSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  test("extractFeatures keeps the row grain and produces the declared schema") {
    val docs = Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text")
    val got = Multimodal.extractFeatures(Multimodal.asBinaryMedia(docs, "doc_id", "text"))
    assert(got.schema === Multimodal.featureSchema)
    val rows = got.orderBy("doc_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Long]("n_bytes") === 5L)
    assert(rows(0).getAs[Double]("feature_0") === ('h'.toInt / 255.0))
    assert(rows(1).isNullAt(rows(1).fieldIndex("feature_0"))) // empty payload
  }

  test("decodePnm really parses netpbm: P6, P5, comments, truncation, junk") {
    // 2x2 P6 with a header comment: pixels r=(10,20,30,40) g=+1 b=+2
    val p6 = ("P6\n# a comment\n2 2\n255\n".getBytes("US-ASCII") ++
      Array(10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42).map(_.toByte))
    val Some((w, h, ch, means)) = Multimodal.decodePnm(p6)
    assert((w, h, ch) === (2, 2, 3))
    assert(means(0) === 25.0 && means(1) === 26.0 && means(2) === 27.0)
    // P5 grayscale
    val p5 = "P5\n3 1\n255\n".getBytes("US-ASCII") ++ Array(0, 100, 200).map(_.toByte)
    val Some((w5, h5, ch5, m5)) = Multimodal.decodePnm(p5)
    assert((w5, h5, ch5) === (3, 1, 1) && m5(0) === 100.0)
    // truncated body and junk must both be rejected, not mis-parsed
    assert(Multimodal.decodePnm(p6.dropRight(1)).isEmpty)
    assert(Multimodal.decodePnm("not an image".getBytes).isEmpty)
    assert(Multimodal.decodePnm(Array[Byte]()).isEmpty)
  }

  test("decodeWav really parses RIFF/PCM16: chunk walk, sign extension, rejection") {
    def wav(samples: Seq[Int], extraChunk: Boolean = false): Array[Byte] = {
      val dataSize = samples.size * 2
      val junk = if (extraChunk) 6 + 8 else 0 // odd-sized chunk + padding
      val buf = java.nio.ByteBuffer.allocate(44 + junk + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + junk + dataSize).put("WAVE".getBytes)
      buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
      if (extraChunk) { buf.put("LIST".getBytes).putInt(5).put(Array[Byte](1, 2, 3, 4, 5, 0)) }
      buf.put("data".getBytes).putInt(dataSize)
      samples.foreach(s => buf.putShort(s.toShort))
      buf.array()
    }
    val Some((ch, rate, bits, n, mean, rms)) = Multimodal.decodeWav(wav(Seq(-100, 100, 300)))
    assert((ch, rate, bits, n) === (1, 8000, 16, 3L))
    assert(mean === 100.0 && rms === math.sqrt((10000.0 + 10000.0 + 90000.0) / 3))
    // an unknown odd-sized chunk between fmt and data is skipped word-aligned
    assert(Multimodal.decodeWav(wav(Seq(1, -1), extraChunk = true)).map(_._4) === Some(2L))
    assert(Multimodal.decodeWav(wav(Seq(5)).dropRight(1)).isEmpty) // truncated
    assert(Multimodal.decodeWav("RIFFxxxx".getBytes).isEmpty)
    assert(Multimodal.decodeWav(Array[Byte]()).isEmpty)
    // hostile u32 chunk sizes >= 2^31 must be rejected, not wrapped negative
    // (a wrapped -8 once left the cursor unmoved => infinite chunk-walk loop)
    def hostile(size: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36).put("WAVE".getBytes)
      buf.put("LIST".getBytes).putInt(size) // u32 reads as 4294967288 etc.
      buf.put(new Array[Byte](20))
      buf.array()
    }
    assert(Multimodal.decodeWav(hostile(0xFFFFFFF8)).isEmpty) // even negative-as-int
    assert(Multimodal.decodeWav(hostile(0x80000000)).isEmpty) // exactly 2^31
    assert(Multimodal.decodeWav(hostile(0xFFFFFFFF)).isEmpty) // odd max
  }

  test("resizePnm really resamples: downsample picks mapped pixels, upsample keeps means") {
    // 2x2 P6: pixels (r,g,b) = (10,11,12) (20,21,22) / (30,31,32) (40,41,42)
    val p6 = ("P6\n2 2\n255\n".getBytes("US-ASCII") ++
      Array(10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42).map(_.toByte))
    // 1x1 target: sx = 0*2/1 = 0, sy = 0 -> exactly the top-left pixel
    val Some((_, _, _, one)) = Multimodal.resizePnm(p6, 1, 1)
    assert(one.toSeq === Seq(10.0, 11.0, 12.0))
    // 4x4 upsample: every source pixel duplicated 2x2 -> means unchanged
    val Some((_, _, _, up)) = Multimodal.resizePnm(p6, 4, 4)
    assert(up.toSeq === Seq(25.0, 26.0, 27.0))
    // identity-size resize reproduces the decode means
    val Some((_, _, _, same)) = Multimodal.resizePnm(p6, 2, 2)
    assert(same.toSeq === Seq(25.0, 26.0, 27.0))
    // malformed input is rejected through the shared header parser
    assert(Multimodal.resizePnm(p6.dropRight(1), 1, 1).isEmpty)
    assert(Multimodal.resizePnm("junk".getBytes, 1, 1).isEmpty)
  }

  test("decodePng: all five filter types via the fixture, closed-form means, multi-IDAT") {
    // fixture id=3: 7x6 RGB — scanlines filtered 0,1,2,3,4,0 (full filter
    // coverage) and the zlib stream split across two IDAT chunks
    val bytes = Multimodal.pngFixture(Seq(3L).toDF("doc_id"), "doc_id")
      .collect()(0).getAs[Array[Byte]]("content")
    val Some((w, h, ch, means)) = Multimodal.decodeImageIO(bytes)
    assert((w, h, ch) === ((7, 6, 3)))
    val n = w * h
    def mean(c: Int): Double =
      (0 until n).map(p => ((3L * 13 + 5 * (3 * p + c)) % 256).toDouble).sum / n
    assert(means.toSeq === Seq(mean(0), mean(1), mean(2)))
  }

  test("decodePng: grayscale + RGBA paths, malformed-input rejection") {
    def deflate(data: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(); d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](256)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    def png(w: Int, h: Int, colorType: Int, filtered: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      def chunk(t: String, data: Array[Byte]): Unit = {
        def be(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
        out.write(be(data.length)); val tb = t.getBytes("US-ASCII")
        out.write(tb); out.write(data)
        val c = new java.util.zip.CRC32(); c.update(tb); c.update(data)
        out.write(be(c.getValue))
      }
      val ihdr = new Array[Byte](13)
      ihdr(3) = w.toByte; ihdr(7) = h.toByte; ihdr(8) = 8; ihdr(9) = colorType.toByte
      chunk("IHDR", ihdr); chunk("IDAT", deflate(filtered)); chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
    // 2x2 grayscale, unfiltered rows: pixels 10 20 / 30 40 -> mean 25
    val g = png(2, 2, 0, Array[Byte](0, 10, 20, 0, 30, 40))
    val Some((gw, gh, gch, gm)) = Multimodal.decodeImageIO(g)
    assert((gw, gh, gch) === ((2, 2, 1)) && gm.toSeq === Seq(25.0))
    // 1x1 RGBA: one mean per component, alpha last
    val Some((_, _, ach, am)) = Multimodal.decodeImageIO(png(1, 1, 6, Array[Byte](0, 1, 2, 3, 4)))
    assert(ach === 4 && am.toSeq === Seq(1.0, 2.0, 3.0, 4.0))
    // a missing IEND CRC byte loses no pixel: the image still reads
    val Some((tw, th, tch, tm)) = Multimodal.decodeImageIO(g.dropRight(1))
    assert((tw, th, tch) === ((2, 2, 1)) && tm.toSeq === Seq(25.0))
    // Adam7-interlaced and 16-bit PNGs (written by the JDK's PNG writer)
    // decode to the written samples; a 16-bit sample reads its top 8 bits
    def written(img: java.awt.image.BufferedImage, interlace: Boolean): Array[Byte] = {
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val param = writer.getDefaultWriteParam
      if (interlace) param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      } finally { ios.close(); writer.dispose() }
      bos.toByteArray
    }
    val gray = new java.awt.image.BufferedImage(9, 7, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 7; x <- 0 until 9) gray.getRaster.setSample(x, y, 0, (7 * x + 3 * y) % 256)
    val adam7 = written(gray, interlace = true)
    assert(adam7(28) === 1, "IHDR interlace method must be Adam7")
    val Some((iw, ih, ich, im)) = Multimodal.decodeImageIO(adam7)
    assert((iw, ih, ich) === ((9, 7, 1)))
    assert(im.toSeq === Seq((for (y <- 0 until 7; x <- 0 until 9) yield 7 * x + 3 * y).sum / 63.0))
    val deep = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 2; x <- 0 until 3) deep.getRaster.setSample(x, y, 0, 0x1234 + 0x100 * (3 * y + x))
    val sixteen = written(deep, interlace = false)
    assert(sixteen(24) === 16, "IHDR bit depth must be 16")
    val Some((dw, dh, dch, dm)) = Multimodal.decodeImageIO(sixteen)
    assert((dw, dh, dch) === ((3, 2, 1)))
    assert(dm.toSeq === Seq((0 until 6).map(0x12 + _).sum / 6.0))
    // rejection: unknown filter, bad magic, corrupt zlib header, a raster
    // shorter than the declared size, palette type with no PLTE, junk
    assert(Multimodal.decodeImageIO(png(2, 2, 0, Array[Byte](7, 10, 20, 0, 30, 40))).isEmpty)
    val badMagic = g.clone(); badMagic(0) = 0x00
    assert(Multimodal.decodeImageIO(badMagic).isEmpty)
    val corrupt = g.clone(); corrupt(41) = 0xff.toByte // zlib CMF byte
    assert(Multimodal.decodeImageIO(corrupt).isEmpty)
    assert(Multimodal.decodeImageIO(png(3, 2, 0, Array[Byte](0, 10, 20, 0, 30, 40))).isEmpty)
    assert(Multimodal.decodeImageIO(png(2, 2, 3, Array[Byte](0, 10, 20, 0, 30, 40))).isEmpty)
    assert(Multimodal.decodeImageIO("junk".getBytes).isEmpty)
  }

  test("decodeImageIO: JPEG flat-gray round-trip is EXACT for all 256 grays incl. edge blocks") {
    // the property the q_jpeg_decode oracle rests on: a flat-gray baseline
    // JPEG (all-AC-zero blocks) decodes to exactly the encoded gray, at
    // every gray level and with partial (non-multiple-of-8) edge blocks
    for (g <- 0 until 256) {
      val w = 8 + g % 9
      val h = 6 + g % 7
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      val Some((dw, dh, ch, means)) = Multimodal.decodeImageIO(bos.toByteArray)
      assert((dw, dh, ch) === ((w, h, 3)), s"gray $g")
      assert(means.toSeq === Seq(g.toDouble, g.toDouble, g.toDouble), s"gray $g")
    }
  }

  test("decodeImageIO: a gray PNG and a gray JPEG read their own gray level") {
    // a linear-gray raster read through getRGB comes back sRGB-converted
    // (sample 10 reads 56); the means must be the samples themselves
    for (format <- Seq("png", "jpg")) {
      val img = new java.awt.image.BufferedImage(
        9, 7, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 7; x <- 0 until 9) img.getRaster.setSample(x, y, 0, 10)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, format, bos), format)
      val Some((w, h, ch, means)) = Multimodal.decodeImageIO(bos.toByteArray)
      assert((w, h, ch) === ((9, 7, 1)), format)
      assert(means(0) === 10.0, format)
    }
  }

  test("decodeImageIO: rejects junk, decodes our own PNG fixture bytes too") {
    assert(Multimodal.decodeImageIO("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImageIO(Array.emptyByteArray).isEmpty)
    // decompression bomb: header declares a 100k x 100k raster (10^10 px)
    // in a few hundred bytes — must be rejected from the HEADER, before
    // any pixel allocation
    val bomb = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      val ihdr = new java.io.ByteArrayOutputStream()
      ihdr.write("IHDR".getBytes("US-ASCII"))
      val dim = 100000
      for (v <- Seq(dim, dim)) { ihdr.write(v >> 24); ihdr.write((v >> 16) & 0xff); ihdr.write((v >> 8) & 0xff); ihdr.write(v & 0xff) }
      ihdr.write(8); ihdr.write(2); ihdr.write(0); ihdr.write(0); ihdr.write(0)
      val body = ihdr.toByteArray
      val len = body.length - 4
      out.write(len >> 24); out.write((len >> 16) & 0xff); out.write((len >> 8) & 0xff); out.write(len & 0xff)
      out.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(body)
      val c = crc.getValue
      out.write(((c >> 24) & 0xff).toInt); out.write(((c >> 16) & 0xff).toInt)
      out.write(((c >> 8) & 0xff).toInt); out.write((c & 0xff).toInt)
      out.toByteArray
    }
    assert(Multimodal.decodeImageIO(bomb).isEmpty)
    // the hand-written PNG fixture writer's output is a valid PNG for the
    // JDK codec: fixture id=5 is 4x4 RGB with closed-form means
    val fixture = Multimodal.pngFixture(Seq(5L).toDF("doc_id"), "doc_id")
      .collect().head.getAs[Array[Byte]]("content")
    val Some((w, h, ch, means)) = Multimodal.decodeImageIO(fixture)
    assert((w, h, ch) === ((4, 4, 3)))
    def mean(c: Int): Double =
      (0 until w * h).map(p => ((5L * 13 + 5 * (3 * p + c)) % 256).toDouble).sum / (w * h)
    assert(means.toSeq === Seq(mean(0), mean(1), mean(2)))
  }

  test("decodeImageIO: GIF pattern round-trip is lossless (exact per-pixel)") {
    import TestSpark.spark.implicits._
    val fixture = Multimodal.gifFixture(Seq(3L, 7L, 11L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("content")).toMap
    for ((id, bytes) <- fixture) {
      val w = (5 + id % 6).toInt
      val h = (6 + id % 5).toInt
      val n = w * h
      val ones = (0 until n).count(p => (id * 7 + 3 * p) % 2 != 0)
      val expMean = (40.0 * (n - ones) + 200.0 * ones) / n
      val Some((dw, dh, ch, means)) = Multimodal.decodeImageIO(bytes)
      assert((dw, dh, ch) === ((w, h, 3)), s"id $id")
      assert(means.toSeq === Seq(expMean, expMean, expMean), s"id $id")
    }
  }

  test("decodeY4m: fixture round-trip matches closed-form luma sums; frame walk is positional") {
    import TestSpark.spark.implicits._
    val fixture = Multimodal.y4mFixture(Seq(0L, 5L, 11L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("content")).toMap
    for ((id, bytes) <- fixture) {
      val w = (4 + 2 * (id % 4)).toInt
      val h = (2 + 2 * (id % 3)).toInt
      val nf = (2 + id % 4).toInt
      val Some((dw, dh, sums)) = Multimodal.decodeY4m(bytes)
      assert((dw, dh, sums.length) === ((w, h, nf)), s"id $id")
      val exp = (0 until nf).map(f =>
        (0 until w * h).map(p => (id * 3 + 7 * f + 5 * p) % 256).sum.toLong)
      assert(sums.toSeq === exp, s"id $id")
    }
  }

  test("decodeY4m: colorspace geometry, frame parameters, malformed/hostile rejection") {
    def y4m(header: String, frames: Array[Byte]*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write((header + "\n").getBytes("US-ASCII"))
      frames.foreach(out.write)
      out.toByteArray
    }
    def frame(marker: String, data: Array[Byte]): Array[Byte] =
      (marker + "\n").getBytes("US-ASCII") ++ data
    // mono 2x2: luma only, two frames; the second FRAME carries a
    // parameter (spec-legal) and must still parse
    val mono = y4m("YUV4MPEG2 W2 H2 F25:1 Cmono",
      frame("FRAME", Array[Byte](1, 2, 3, 4)),
      frame("FRAME Xtag", Array[Byte](10, 20, 30, 40)))
    assert(Multimodal.decodeY4m(mono).map(t => (t._1, t._2, t._3.toSeq))
      === Some((2, 2, Seq(10L, 100L))))
    // C444: chroma planes are full-size; C422: half-width. The luma sums
    // must be identical across colorspaces — only the skip stride differs.
    val y = Array[Byte](1, 2, 3, 4)
    val c444 = y4m("YUV4MPEG2 W2 H2 C444", frame("FRAME", y ++ new Array[Byte](8)))
    val c422 = y4m("YUV4MPEG2 W2 H2 C422", frame("FRAME", y ++ new Array[Byte](4)))
    val c420 = y4m("YUV4MPEG2 W2 H2 C420jpeg", frame("FRAME", y ++ new Array[Byte](2)))
    for (b <- Seq(c444, c422, c420))
      assert(Multimodal.decodeY4m(b).map(_._3.toSeq) === Some(Seq(10L)))
    // default colorspace when C is absent is 420
    assert(Multimodal.decodeY4m(y4m("YUV4MPEG2 W2 H2", frame("FRAME", y ++ new Array[Byte](2))))
      .map(_._3.toSeq) === Some(Seq(10L)))
    // rejection: bad magic, no frames, truncated frame payload, garbage
    // between frames, odd dims under 420, hostile header dims (rejected
    // BEFORE any walk), missing header newline, non-numeric W
    assert(Multimodal.decodeY4m("JUNK W2 H2\n".getBytes).isEmpty)
    assert(Multimodal.decodeY4m(y4m("YUV4MPEG2 W2 H2 Cmono")).isEmpty)
    assert(Multimodal.decodeY4m(
      y4m("YUV4MPEG2 W2 H2 Cmono", frame("FRAME", Array[Byte](1, 2, 3)))).isEmpty)
    assert(Multimodal.decodeY4m(
      y4m("YUV4MPEG2 W2 H2 Cmono", frame("FRAME", Array[Byte](1, 2, 3, 4)) ++ "XX".getBytes)).isEmpty)
    assert(Multimodal.decodeY4m(
      y4m("YUV4MPEG2 W3 H2 C420jpeg", frame("FRAME", new Array[Byte](9)))).isEmpty)
    assert(Multimodal.decodeY4m(
      y4m("YUV4MPEG2 W1048576 H1048576 Cmono", frame("FRAME", new Array[Byte](16)))).isEmpty)
    assert(Multimodal.decodeY4m("YUV4MPEG2 W2 H2 Cmono".getBytes).isEmpty)
    assert(Multimodal.decodeY4m(y4m("YUV4MPEG2 Wx H2 Cmono",
      frame("FRAME", Array[Byte](1, 2, 3, 4)))).isEmpty)
  }

  test("frameSampleY4m: stride-2 sampling emits exactly the even frames, map-only") {
    import TestSpark.spark.implicits._
    // id=3: 5 frames (2 + 3%4) -> frames 0, 2, 4
    val media = Multimodal.y4mFixture(Seq(3L).toDF("doc_id"), "doc_id")
    val rows = Multimodal.frameSampleY4m(media, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._2)
    val w = 10; val h = 2 // id=3: w = 4+2*3, h = 2+2*0
    def mean(f: Int): Double =
      (0 until w * h).map(p => (3 * 3 + 7 * f + 5 * p) % 256).sum.toDouble / (w * h)
    assert(rows.toSeq === Seq((3L, 0, mean(0)), (3L, 2, mean(2)), (3L, 4, mean(4))))
    // no shuffle in the plan: a pure map-side generator
    val plan = Multimodal.frameSampleY4m(media, 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"frame sampling must not shuffle:\n$plan")
  }

  test("dHash: bits match a plain-Scala grid replay; banded pairs equal brute force") {
    import TestSpark.spark.implicits._
    val ids = ((0L until 60L) ++ (250L until 310L)).toSeq // planted near-dup pairs
    val media = Multimodal.dhashFixture(ids.toDF("doc_id"), "doc_id")
    val hashes = Multimodal.dHashFeatures(media)
    val got = hashes.collect().map(r =>
      r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    for (id <- ids) {
      val b = id % 250
      val pert = (id / 250) % 3
      val w = (4 + b % 5).toInt
      val h = (3 + b % 4).toInt
      def pix(k: Int): Int =
        ((b * 7 + k.toLong * (2 + b % 16) + k.toLong * k * (b % 9) + pert) % 256).toInt
      def lum(y: Int, x: Int): Int = {
        val base = ((y * h / 8) * w + (x * w / 9)) * 3
        pix(base) + pix(base + 1) + pix(base + 2)
      }
      var hi = 0L
      var lo = 0L
      for (bit <- 0 until 64)
        if (lum(bit / 8, bit % 8 + 1) > lum(bit / 8, bit % 8)) {
          if (bit < 32) lo |= 1L << bit else hi |= 1L << (bit - 32)
        }
      assert(got(id) === ((w, h, hi, lo)), s"id $id")
    }
    // banded join == brute force at the pigeonhole-exact threshold
    val banded = Multimodal.imageNearDupPairs(hashes, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (a, (_, _, ahi, alo)) <- got.toSeq
      (c, (_, _, chi, clo)) <- got.toSeq
      if a < c
      hd = java.lang.Long.bitCount(ahi ^ chi) + java.lang.Long.bitCount(alo ^ clo)
      if hd <= 3
    } yield (a, c, hd)).toSet
    assert(banded === brute)
    assert(brute.nonEmpty, "planted near-dups must actually pair")
    // junk bytes hash to nulls; threshold above banding exactness rejected
    val junk = Seq((1L, "P9junk".getBytes)).toDF("doc_id", "content")
    assert(Multimodal.dHashFeatures(junk).collect().head.isNullAt(3))
    intercept[IllegalArgumentException](Multimodal.imageNearDupPairs(hashes, 4))
  }

  test("audioEnergy: frame/hop windows match a plain-Scala replay; tail frame partial") {
    import TestSpark.spark.implicits._
    val media = Multimodal.wavFixture(Seq(2L, 9L).toDF("doc_id"), "doc_id")
    val got = Multimodal.audioEnergy(media, frameSamples = 8, hop = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getInt(3), r.getDouble(4), r.getDouble(5)))).toMap
    for (id <- Seq(2L, 9L)) {
      val n = (16 + id % 17).toInt
      val samples = (0 until n).map(k => (((id * 13 + k * 5) % 4096) - 2048).toInt)
      val nFrames = (n + 3) / 4
      assert(got.keys.count(_._1 == id) === nFrames, s"id $id")
      for (f <- 0 until nFrames) {
        val fr = samples.slice(f * 4, math.min(f * 4 + 8, n))
        val s1 = fr.map(_.toLong).sum
        val s2 = fr.map(v => v.toLong * v).sum
        assert(got((id, f)) === ((f * 4L, fr.size,
          s1.toDouble / fr.size, math.sqrt(s2.toDouble / fr.size))), s"id $id frame $f")
      }
      // tail frame of the hop grid is shorter than a full frame
      assert(got((id, nFrames - 1))._2 < 8)
    }
    // junk and empty-signal payloads yield no rows; map-only plan
    val junk = Seq((1L, "RIFFnope".getBytes)).toDF("doc_id", "content")
    assert(Multimodal.audioEnergy(junk, 8, 4).count() === 0L)
    val plan = Multimodal.audioEnergy(media, 8, 4).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"audioEnergy must be map-only:\n$plan")
  }

  test("audioFingerprint: bands match a plain-Scala replay; verified pairs equal brute force") {
    import TestSpark.spark.implicits._
    val ids = ((0L until 40L) ++ (250L until 290L)).toSeq // planted near-dup pairs
    val media = Multimodal.wavDupFixture(ids.toDF("doc_id"), "doc_id")
    val audio = Multimodal.pcmFrameLevels(frameSamples = 8, hop = 4, qStep = 32768L)
    val fps = Multimodal.contourBands(media, audio, bandFrames = 2)
    val levels = Multimodal.contourLevels(media, audio)
    val got = fps.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    def replayLevels(id: Long): Seq[Long] = {
      val b = id % 250
      val pert = ((id / 250) % 3).toInt
      val n = (16 + b % 17).toInt
      val samples = (0 until n).map { k =>
        val raw = ((b * 13 + k * 5) % 4096).toInt
        val amp = ((b * 7 + k / 4) % 5 + 1).toInt
        raw * amp / 5 - 2048 + pert
      }
      (0 until n by 4).map { s0 =>
        val fr = samples.slice(s0, math.min(s0 + 8, n))
        (fr.map(v => v.toLong * v).sum / fr.size) / 32768L
      }
    }
    def replayBands(id: Long): Seq[(Int, String)] =
      replayLevels(id).grouped(2).zipWithIndex.map { case (band, bi) =>
        (bi, band.mkString("-"))
      }.toSeq
    val expect =
      ids.flatMap(id => replayBands(id).map { case (bi, sig) => (id, bi) -> sig }).toMap
    assert(got === expect)
    // verified pairs == brute force: >=2 shared bands AND identical frame
    // grid AND every level within +-1
    val pairs = Multimodal.contourNearDupPairs(fps, levels, minBands = 2, maxLevelDiff = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSet
    val brute = (for {
      a <- ids; c <- ids
      if a < c
      shared = (replayBands(a).toSet intersect replayBands(c).toSet).size
      if shared >= 2
      (va, vc) = (replayLevels(a), replayLevels(c))
      if va.size == vc.size
      maxDiff = va.zip(vc).map { case (x, y) => math.abs(x - y) }.max
      if maxDiff <= 1
    } yield (a, c, shared, va.size, maxDiff)).toSet
    assert(pairs === brute)
    assert(brute.nonEmpty, "planted near-dups must actually pair")
    // the verify stage is load-bearing: candidates alone over-report
    val cands = (for {
      a <- ids; c <- ids
      if a < c && (replayBands(a).toSet intersect replayBands(c).toSet).size >= 2
    } yield (a, c)).toSet
    assert(brute.map(p => (p._1, p._2)).subsetOf(cands))
    // junk payloads yield no rows; the fingerprint pass is map-only
    val junk = Seq((1L, "RIFFnope".getBytes)).toDF("doc_id", "content")
    assert(Multimodal.contourBands(junk, audio, 2).count() === 0L)
    assert(Multimodal.contourLevels(junk, audio).count() === 0L)
    val plan = Multimodal.contourBands(media, audio, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"contourBands (audio) must be map-only:\n$plan")
    intercept[IllegalArgumentException](
      Multimodal.contourNearDupPairs(fps, levels, 0, 1L))
  }

  test("videoFingerprint: bands match a plain-Scala replay; verified pairs equal brute force") {
    import TestSpark.spark.implicits._
    val ids = ((0L until 40L) ++ (250L until 290L)).toSeq // planted twin clips
    val media = Multimodal.y4mDupFixture(ids.toDF("doc_id"), "doc_id")
    val video = Multimodal.y4mLumaLevels(qStep = 4L)
    val fps = Multimodal.contourBands(media, video, bandFrames = 2)
    val levels = Multimodal.contourLevels(media, video)
    def replayLevels(id: Long): Seq[Long] = {
      val b = id % 250
      val pert = ((id / 250) % 3).toInt
      val w = (4 + 2 * (b % 4)).toInt
      val h = (2 + 2 * (b % 3)).toInt
      val nf = (2 + b % 4).toInt
      val ySize = w * h
      (0 until nf).map { f =>
        val sum = (0 until ySize).map(p => ((b * 3 + 7 * f + 5 * p) % 253 + pert).toLong).sum
        (sum / ySize) / 4L
      }
    }
    def replayBands(id: Long): Seq[(Int, String)] =
      replayLevels(id).grouped(2).zipWithIndex.map { case (band, bi) =>
        (bi, band.mkString("-"))
      }.toSeq
    val got = fps.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    val expect =
      ids.flatMap(id => replayBands(id).map { case (bi, sig) => (id, bi) -> sig }).toMap
    assert(got === expect)
    val gotLv = levels.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gotLv ===
      ids.flatMap(id => replayLevels(id).zipWithIndex.map { case (lv, f) => (id, f) -> lv }).toMap)
    // verified pairs == brute force: >=2 shared bands AND identical frame
    // grid AND every level within +-1
    val pairs = Multimodal.contourNearDupPairs(fps, levels, minBands = 2, maxLevelDiff = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSet
    val brute = (for {
      a <- ids; c <- ids
      if a < c
      shared = (replayBands(a).toSet intersect replayBands(c).toSet).size
      if shared >= 2
      (va, vc) = (replayLevels(a), replayLevels(c))
      if va.size == vc.size
      maxDiff = va.zip(vc).map { case (x, y) => math.abs(x - y) }.max
      if maxDiff <= 1
    } yield (a, c, shared, va.size, maxDiff)).toSet
    assert(pairs === brute)
    assert(brute.nonEmpty, "planted twin clips must actually pair")
    // junk payloads yield no rows; both passes are map-only
    val junk = Seq((1L, "notY4M".getBytes)).toDF("doc_id", "content")
    assert(Multimodal.contourBands(junk, video, 2).count() === 0L)
    assert(Multimodal.contourLevels(junk, video).count() === 0L)
    val plan = Multimodal.contourBands(media, video, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"contourBands (video) must be map-only:\n$plan")
  }

  test("media near-dup GROUPS: family collapse equals doc-grain pairs -> CC, all modalities") {
    import TestSpark.spark.implicits._
    // replication-heavy id set: 3 copies of each planted content key, so
    // copy-families have size >= 2 and the family collapse actually engages
    val ids = ((0L until 40L) ++ (250L until 290L) ++ (500L until 540L)).toSeq
    def docGrain(pairs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
      ConnectedComponents.dedupGroups(pairs, "a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    def groupsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

    // image: doc-grain pair graph -> CC must equal the family-collapsed form
    val hashes = Multimodal.dHashFeatures(
      Multimodal.dhashFixture(ids.toDF("doc_id"), "doc_id"))
    val gotImage = groupsOf(Multimodal.imageNearDupGroups(hashes, maxHamming = 3))
    val wantImage = docGrain(Multimodal.imageNearDupPairs(hashes, maxHamming = 3))
    assert(gotImage === wantImage)
    assert(gotImage.nonEmpty, "planted image dups must form groups")
    // exact copies collapse: groups output is one row per doc in the graph
    assert(gotImage.size === gotImage.map(_._1).size)

    // audio
    val wav = Multimodal.wavDupFixture(ids.toDF("doc_id"), "doc_id")
    val audio = Multimodal.pcmFrameLevels(8, 4, 32768L)
    val afps = Multimodal.contourBands(wav, audio, 2)
    val alv = Multimodal.contourLevels(wav, audio)
    val gotAudio = groupsOf(Multimodal.contourNearDupGroups(afps, alv, 2, 1L))
    val wantAudio = docGrain(Multimodal.contourNearDupPairs(afps, alv, 2, 1L))
    assert(gotAudio === wantAudio)
    assert(gotAudio.nonEmpty, "planted audio dups must form groups")

    // video
    val y4m = Multimodal.y4mDupFixture(ids.toDF("doc_id"), "doc_id")
    val video = Multimodal.y4mLumaLevels(4L)
    val vfps = Multimodal.contourBands(y4m, video, 2)
    val vlv = Multimodal.contourLevels(y4m, video)
    val gotVideo = groupsOf(Multimodal.contourNearDupGroups(vfps, vlv, 2, 1L))
    val wantVideo = docGrain(Multimodal.contourNearDupPairs(vfps, vlv, 2, 1L))
    assert(gotVideo === wantVideo)
    assert(gotVideo.nonEmpty, "planted video dups must form groups")

    // each group's canonical member is its minimum id, exactly once
    for (g <- Seq(gotImage, gotAudio, gotVideo); (gid, members) <- g.groupBy(_._2)) {
      assert(members.map(_._1).min === gid)
      assert(members.count(_._3) === 1 && members.find(_._3).get._1 === gid)
    }
  }

  test("resizePnm: hostile tall source must not overflow Int indexing (advice r4)") {
    // header-valid but degenerate: 1 x 10M grayscale. y*sh at y>=215 exceeds
    // Int.MaxValue — Int arithmetic would index negatively and throw instead
    // of honoring the None-on-malformed / Some-on-valid contract.
    val h = 10000000
    val header = s"P5\n1 $h\n255\n".getBytes("US-ASCII")
    val body = new Array[Byte](h) // zero-filled pixels
    body(h - 1) = 100.toByte
    val Some((sw, sh, ch, means)) = Multimodal.resizePnm(header ++ body, 1, 1000)
    assert((sw, sh, ch) === ((1, h, 1)))
    // 1000 sampled rows, all zero except none hit the last pixel exactly
    assert(means(0) === 0.0)
  }

  test("decodeBmp really parses BMP: padding, bottom-up vs top-down, rejection") {
    // 2x2 24-bit BMP, stride 8 (2 pad bytes per row). Logical pixels
    // (top-down, BGR): (0,0)=(1,2,3) (1,0)=(4,5,6) (0,1)=(7,8,9) (1,1)=(10,11,12)
    def bmp(topDown: Boolean): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(54 + 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(70).putInt(0).putInt(54)
      b.putInt(40).putInt(2).putInt(if (topDown) -2 else 2)
        .putShort(1).putShort(24).putInt(0).putInt(16)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      val row0 = Array[Byte](1, 2, 3, 4, 5, 6, 0, 0)    // logical top row + pad
      val row1 = Array[Byte](7, 8, 9, 10, 11, 12, 0, 0) // logical bottom row + pad
      if (topDown) { b.put(row0).put(row1) } else { b.put(row1).put(row0) }
      b.array()
    }
    val bpp32 = bmp(false); bpp32(28) = 32
    val rle = bmp(false); rle(30) = 1
    val hostileOff = bmp(false)
    hostileOff(10) = -1; hostileOff(11) = -1; hostileOff(12) = -1; hostileOff(13) = 0x7f
    val payloads = Seq(
      bmp(false), bmp(true),
      bmp(false).dropRight(1), // only the last stored row's padding is missing
      bpp32, rle,
      bmp(false).dropRight(3), // pixel bytes are missing
      "XM".getBytes ++ bmp(false).drop(2),
      hostileOff, // u32 offset near 2^31
      Array[Byte]())
    val got = Multimodal.decodeBmpFeatures(payloads.zipWithIndex.map { case (b, i) =>
      (i.toLong, b) }.toDF("doc_id", "content"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val means = Seq((1.0 + 4 + 7 + 10) / 4, (2.0 + 5 + 8 + 11) / 4, (3.0 + 6 + 9 + 12) / 4)
    // corner = LOGICAL (0,0) in both storage orders — row order is real.
    // The reader needs no trailing padding, and it reads a 24-bit header's
    // compression field 1 as uncompressed rows.
    for (i <- Seq(0L, 1L, 2L, 4L)) assert(got(i) === Seq(2, 2) ++ means ++ Seq(1, 2, 3), s"payload $i")
    // the same 16 bytes as 32-bit BGRX pixels: B 7,11,1,5  G 8,12,2,6  R 9,0,3,0
    assert(got(3L) === Seq(2, 2, 6.0, 7.0, 3.0, 1, 2, 3))
    // rejection: truncated pixels, magic, hostile offset, empty
    for (i <- 5L to 8L) assert(got(i).forall(_ == null), s"payload $i: ${got(i)}")
  }

  test("bmpFixture payloads round-trip through the real BMP decoder") {
    val ids = Seq(0L, 1L, 7L).toDF("doc_id")
    val got = Multimodal.decodeBmpFeatures(Multimodal.bmpFixture(ids, "doc_id"))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(0L, 1L, 7L)) {
      val w = (4 + id % 5).toInt; val h = (3 + id % 4).toInt
      assert(got(id).getInt(1) === w && got(id).getInt(2) === h)
      val n = w * h
      for (c <- 0 until 3) {
        val expMean = (0 until n).map(p => ((id * 11 + 5 * p + c) % 256).toDouble).sum / n
        assert(got(id).getDouble(3 + c) === expMean, s"mean $c id=$id")
        assert(got(id).getInt(6 + c) === ((id * 11 + c) % 256).toInt, s"corner $c id=$id")
      }
    }
  }

  test("decimateWav keeps every factor-th sample; factor must divide the rate") {
    def wav(samples: Seq[Int]): Array[Byte] = {
      val dataSize = samples.size * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
      buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
      buf.put("data".getBytes).putInt(dataSize)
      samples.foreach(s => buf.putShort(s.toShort))
      buf.array()
    }
    // factor 2 over 5 samples keeps indices 0,2,4
    val Some((rateOut, rateIn, m, mean, rms)) =
      Multimodal.decimateWav(wav(Seq(100, -999, 200, -999, 300)), 2)
    assert((rateOut, rateIn, m) === (4000, 8000, 3L))
    assert(mean === 200.0)
    assert(rms === math.sqrt((10000.0 + 40000.0 + 90000.0) / 3))
    // factor 1 degenerates to the plain decode stats
    val Some((r1, _, m1, mean1, _)) = Multimodal.decimateWav(wav(Seq(1, 2, 3)), 1)
    assert(r1 === 8000 && m1 === 3L && mean1 === 2.0)
    // a factor that does not divide the rate is rejected, as is junk
    assert(Multimodal.decimateWav(wav(Seq(1, 2)), 3).isEmpty)
    assert(Multimodal.decimateWav("junk".getBytes, 2).isEmpty)
  }

  test("pnmFixture payloads round-trip through the real decoder") {
    val ids = Seq(0L, 1L, 7L, 123L).toDF("doc_id")
    val got = Multimodal
      .decodeImageFeatures(Multimodal.pnmFixture(ids, "doc_id"), Multimodal.decodePnm)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 0: w=4 h=3, pixel byte k = k%256 -> channel sums have closed form
    val r0 = got(0L)
    assert(r0.getInt(1) === 4 && r0.getInt(2) === 3 && r0.getInt(3) === 3)
    val n = 4 * 3
    val expMeanR = (0 until n).map(p => (3 * p) % 256).sum.toDouble / n
    assert(r0.getDouble(4) === expMeanR)
    assert(got(123L).getInt(1) === (4 + 123 % 5) && got(123L).getInt(2) === (3 + 123 % 4))
  }

  test("media stages: 1->1 stages null an empty or junk payload's features, 1->many stages drop it") {
    type Fixture = (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame
    val bad = Seq((1L, Array.emptyByteArray), (2L, "junk bytes".getBytes)).toDF("doc_id", "content")
    // one valid fixture row (doc 3) beside the two bad payloads
    def feed(fixture: Fixture) = fixture(Seq(3L).toDF("doc_id"), "doc_id").union(bad)
    val pnm = feed(Multimodal.pnmFixture)
    val wav = feed(Multimodal.wavFixture)
    val y4m = feed(Multimodal.y4mFixture)
    val oneToOne = Seq(
      "pnm" -> Multimodal.decodeImageFeatures(pnm, Multimodal.decodePnm),
      "png" -> Multimodal.decodeImageFeatures(feed(Multimodal.pngFixture), Multimodal.decodeImageIO),
      "jpeg" ->
        Multimodal.decodeImageFeatures(feed(Multimodal.jpegFixture), Multimodal.decodeImageIO),
      "bmp" -> Multimodal.decodeBmpFeatures(feed(Multimodal.bmpFixture)),
      "resize" -> Multimodal.resizePnmFeatures(pnm, 3, 2),
      "dhash" -> Multimodal.dHashFeatures(pnm),
      "wav" -> Multimodal.decodeWavFeatures(wav),
      "decimate" -> Multimodal.decimateWavFeatures(wav, 2),
      "y4m" -> Multimodal.decodeY4mFeatures(y4m))
    for ((name, df) <- oneToOne) {
      // the features are the nullable columns (resize keeps its target size)
      val features = df.schema.fields.indices.filter(df.schema(_).nullable)
      val rows = df.collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L), name)
      for (r <- rows) {
        val decoded = r.getLong(0) == 3L
        assert(features.forall(r.isNullAt(_) != decoded), s"$name doc ${r.getLong(0)}: $r")
      }
    }
    val audio = Multimodal.pcmFrameLevels(8, 4, 32768L)
    val video = Multimodal.y4mLumaLevels(4L)
    val oneToMany = Seq(
      "energy" -> Multimodal.audioEnergy(wav, 8, 4),
      "audio levels" -> Multimodal.contourLevels(wav, audio),
      "audio bands" -> Multimodal.contourBands(wav, audio, 2),
      "video levels" -> Multimodal.contourLevels(y4m, video),
      "video bands" -> Multimodal.contourBands(y4m, video, 2),
      "frame sampling" -> Multimodal.frameSampleY4m(y4m, 2))
    for ((name, df) <- oneToMany) {
      val docs = df.collect().map(_.getLong(0))
      assert(docs.nonEmpty && docs.forall(_ == 3L), s"$name: ${docs.toSeq}")
    }
  }

  test("src/main reads images through one ImageIO helper and inflates no zlib by hand") {
    // a second image decode path (a hand-written inflate, or another ImageIO
    // reader lookup) would be a second decoder for the same bytes
    val root = Paths.get("src/main/scala")
    val helperFile = "graft/operators/Multimodal.scala"
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    // the helper's lines: its def up to the next member at class indent
    val helperSrc = Files.readAllLines(root.resolve(helperFile)).asScala
    val start = helperSrc.indexWhere(_.contains("private def readImage("))
    assert(start >= 0, s"no readImage helper in $helperFile")
    val end = helperSrc.indexWhere(_.matches("  \\S.*"), start + 1)
    val found = for {
      f <- files
      rel = root.relativize(f).toString
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      call <- Seq("Inflater", "ImageIO.getImageReader", "ImageIO.read(")
      if line.contains(call)
      if call == "Inflater" || rel != helperFile || n <= start || n >= end
    } yield s"  $rel:${n + 1} $call"
    assert(found.isEmpty, "decode images through Multimodal.readImage:\n" + found.mkString("\n"))
  }
}
