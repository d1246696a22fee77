package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Bucketing
import graft.operators.SkewJoin

class PlanShapeSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  test("ivfAssign never shuffles the data: argmin is a broadcast array fold") {
    val vecs = (0L until 100L).map(i => (i, Seq.fill(8)((i % 7).toFloat))).toDF("vec_id", "embedding")
    val centroids = vecs.filter($"vec_id" < 4).withColumnRenamed("vec_id", "centroid_id")
    val assigned = graft.operators.Similarity.ivfAssign(
      vecs, centroids, "vec_id", "embedding", "centroid_id")
    val plan = assigned.queryExecution.executedPlan.toString
    // the data side must not be hash-repartitioned (the old window-argmin
    // form shuffled everything on vec_id); only the k-row centroid
    // collapse + its broadcast may exchange
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"embeddings were shuffled for the argmin:\n$plan")
    assert(!plan.contains("Window"), s"window in the assign path:\n$plan")
  }

  test("deterministic hash sampling is map-only (zero exchanges)") {
    val docs = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("__hs_docs")
    val bucket = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10).cast("bigint")
    val sampled = docs.select($"doc_id", pmod(bucket, lit(100L)).as("pct_bucket"))
    val plan = sampled.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling should not shuffle:\n$plan")
  }

  test("mixSchedule: prefix composition tracks target shares; corpus side map-only") {
    val docs = ((0L until 1000L).map(i => (i, "a")) ++
      (1000L until 1600L).map(i => (i, "b")) ++
      (1600L until 2000L).map(i => (i, "c"))).toDF("doc_id", "lang")
    val shares = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
    val sched = graft.operators.Curation.mixSchedule(docs, "doc_id", "lang", shares)
    // the corpus pass joins only the broadcast share dim — the one allowed
    // exchange is the tiny per-source count aggregate
    val plan = sched.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"share dim should broadcast:\n$plan")
    // reading the first 400 of 2000 in key order: composition ~ alpha for
    // EVERY source (binomial noise around t*alpha, not native-size shares —
    // native would be 0.5/0.3/0.2 ONLY by coincidence here, so check the
    // smallest source, whose native share 0.2 equals alpha but whose
    // native-prefix count would drift with n_s; tolerance 0.06 absolute)
    val prefix = sched.orderBy("schedule_key").limit(400)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    shares.foreach { case (src, alpha) =>
      val got = prefix.getOrElse(src, 0L).toDouble / 400.0
      assert(math.abs(got - alpha) < 0.06, s"$src: got $got want ~$alpha")
    }
    // exhaustion bound: source c runs out at key n_c / alpha_c = 2000
    val maxC = sched.filter($"source" === "c")
      .agg(max($"schedule_key")).as[Double].head()
    assert(maxC <= 400.0 / 0.2)
  }

  test("stratifiedSample: the corpus side never shuffles (broadcast rate dim)") {
    val docs = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val sampled = graft.operators.Curation.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 100), defaultPermille = 300)
    val plan = sampled.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"rate dim should broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus side should stay map-only:\n$plan")
  }

  test("chunkTokens is shuffle-free (pure per-row explode)") {
    val docs = (0L until 50L).map(i => (i, ("tok " * 100).trim)).toDF("doc_id", "text")
    val chunks = graft.operators.Curation.chunkTokens(docs, "doc_id", "text", 64, 48)
    val plan = chunks.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking should not shuffle:\n$plan")
  }

  test("tfidfTopTerms: doc frequency is an aggregate, never a term-partitioned window") {
    val docs = (0L until 50L).map(i => (i, s"the quick tok$i")).toDF("doc_id", "text")
    val scored = graft.operators.Curation.tfidfTopTerms(docs, "doc_id", "text", 3)
    val plan = scored.queryExecution.executedPlan.toString
    // windows may partition only by the doc id (bounded: one doc's vocab);
    // a term-partitioned window would funnel a mega-common term's every
    // row through one partition at corpus scale
    assert(!plan.contains("windowspecdefinition(term"),
      s"term-partitioned window in the tfidf path:\n$plan")
  }

  test("featureHashTf: ZERO exchanges — fused per-doc map, no shuffle at all") {
    val docs = (0L until 50L).map(i => (i, s"tok a b tok$i")).toDF("doc_id", "text")
    val tf = graft.operators.Curation.featureHashTf(docs, "doc_id", "text", 64)
    val plan = tf.queryExecution.executedPlan.toString
    // round 5: the fused HashedTermFreqs expression aggregates per doc
    // inside the row, so the (doc,bucket) exchange of the relational form
    // is gone entirely — the vectorizer is map-only
    assert(!plan.contains("Exchange"), s"expected a shuffle-free plan:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"vectorizer should be generate+project only:\n$plan")
  }

  test("duplicateSpans: one inverted-index aggregate, nothing pairwise") {
    val docs = (0L until 50L).map(i => (i, s"one two three four five tok$i")).toDF("doc_id", "text")
    val spans = graft.operators.Curation.duplicateSpans(docs, "doc_id", "text", 3, 2)
    val plan = spans.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"span detection must not join documents pairwise:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"expected a map-side-combined aggregate:\n$plan")
  }

  test("boilerplateRatio: no cartesian anywhere; hit counting is a semi-join") {
    val docs = (0L until 50L).map(i => (i, s"one two three four five tok$i")).toDF("doc_id", "text")
    val br = graft.operators.Curation.boilerplateRatio(docs, "doc_id", "text", 3, 2)
    val plan = br.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"boilerplate scoring must stay inverted-index shaped:\n$plan")
    assert(plan.contains("LeftSemi"), s"expected a semi-join on the span key:\n$plan")
  }

  /** The executed plan of `df` with auto-broadcast off, so only a hint can
    * broadcast (tiny test frames would otherwise auto-broadcast anyway).
    */
  private def planWithoutAutoBroadcast(df: => org.apache.spark.sql.DataFrame): String = {
    val conf = TestSpark.spark.conf
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = conf.getOption(key)
    conf.set(key, "-1")
    try df.queryExecution.executedPlan.toString
    finally prev.fold(conf.unset(key))(conf.set(key, _))
  }

  test("imageNearDupPairs build side: both modes pair identically; plans differ as declared") {
    import graft.operators.Multimodal
    val ids = ((0L until 30L) ++ (250L until 280L)).toSeq
    val media = Multimodal.dhashFixture(ids.toDF("doc_id"), "doc_id")
    val hashes = Multimodal.dHashFeatures(media)
    graft.core.Materialize.scoped {
      // the probe side is broadcast by the operator's hint
      val plan = planWithoutAutoBroadcast(Multimodal.imageNearDupPairs(hashes, 3))
      assert(plan.contains("BroadcastHashJoin"), s"the band join must broadcast:\n$plan")
      val got = Multimodal.imageNearDupPairs(hashes, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // all-pairs reference: every pair within hamming 3 of the 64-bit dHash
      val hs = hashes.filter($"dhash_hi".isNotNull)
        .select($"doc_id", $"dhash_hi", $"dhash_lo").as[(Long, Long, Long)].collect()
      val want = (for {
        (a, ahi, alo) <- hs; (b, bhi, blo) <- hs if a < b
        ham = java.lang.Long.bitCount(ahi ^ bhi) + java.lang.Long.bitCount(alo ^ blo)
        if ham <= 3
      } yield (a, b, ham)).toSet
      assert(want.nonEmpty, "fixture must plant near-dup pairs")
      assert(got === want)
    }
  }

  test("audioNearDupPairs build side: both modes pair identically; shuffle stays hint-free") {
    import graft.operators.Multimodal
    val ids = ((0L until 30L) ++ (250L until 280L)).toSeq
    val media = Multimodal.wavDupFixture(ids.toDF("doc_id"), "doc_id")
    val audio = Multimodal.pcmFrameLevels(8, 4, 32768L)
    val fps = Multimodal.contourBands(media, audio, 2)
    val levels = Multimodal.contourLevels(media, audio)
    graft.core.Materialize.scoped {
      val plan = planWithoutAutoBroadcast(Multimodal.contourNearDupPairs(fps, levels, 2, 1L))
      assert(plan.contains("BroadcastHashJoin"), s"the band join must broadcast:\n$plan")
      val got = Multimodal.contourNearDupPairs(fps, levels, 2, 1L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
      // all-pairs reference: at least 2 equal bands, the same frame grid and
      // every frame's level within 1
      def byDoc(df: org.apache.spark.sql.DataFrame, k: String, v: String) =
        df.collect().groupBy(_.getAs[Long]("doc_id")).map { case (d, rs) =>
          d -> rs.map(r => r.getAs[Number](k).longValue -> r.getAs[Any](v)).toMap }
      val bands = byDoc(fps, "band_idx", "band_sig")
      val contour = byDoc(levels, "frame_idx", "level")
        .map { case (d, m) => d -> m.map { case (f, l) => f -> l.asInstanceOf[Number].longValue } }
      val docs = bands.keySet.toSeq.sorted
      val want = (for {
        a <- docs; b <- docs if a < b
        nBands = bands(a).count { case (i, sig) => bands(b).get(i).contains(sig) }
        if nBands >= 2
        la <- contour.get(a); lb <- contour.get(b) if la.keySet == lb.keySet
        maxDiff = la.map { case (f, l) => math.abs(l - lb(f)) }.max
        if maxDiff <= 1L
      } yield (a, b, nBands, la.size, maxDiff)).toSet
      assert(want.nonEmpty, "fixture must plant near-dup pairs")
      assert(got === want)
    }
  }
}

class BucketingSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  test("bucketed-to-bucketed join plans with no shuffle exchange") {
    TestSpark.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = (1 to 1000).map(i => (i % 50, s"f$i")).toDF("k", "payload")
      val dims = (0 until 50).map(i => (i, s"dim$i")).toDF("k", "name")
      Bucketing.writeBucketed(facts, "b_facts", "k", 8)
      Bucketing.writeBucketed(dims, "b_dims", "k", 8)

      val joined = Bucketing.bucketJoin(TestSpark.spark, "b_facts", "b_dims", "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucket join, got:\n$plan")
      assert(joined.count() === 1000)
    } finally {
      TestSpark.spark.sql("DROP TABLE IF EXISTS b_facts")
      TestSpark.spark.sql("DROP TABLE IF EXISTS b_dims")
      TestSpark.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }
}

class SkewJoinSpec extends AnyFunSuite {
  import TestSpark.spark.implicits._

  // one hot key (90% of rows) plus a uniform tail
  private def skewed = (1 to 2000).map(i => (if (i <= 1800) 1 else i % 20, i.toLong))
    .toDF("k", "v")
  private def dim = (0 until 20).map(i => (i, s"d$i")).toDF("k", "name")

  test("saltedJoin matches the plain join result") {
    val expected = skewed.join(dim, Seq("k")).agg(count(lit(1)), sum($"v")).first()
    val got = SkewJoin.saltedJoin(skewed, dim, Seq("k"), factor = 8)
      .agg(count(lit(1)), sum($"v")).first()
    assert(got === expected)
  }

  test("saltedSumCount matches a direct aggregation") {
    val direct = skewed.groupBy("k").agg(sum($"v").as("total"), count(lit(1)).as("n"))
    val salted = SkewJoin.saltedSumCount(skewed, Seq("k"), $"v", factor = 8)
    assert(salted.except(direct).count() === 0 && direct.except(salted).count() === 0)
  }
}

class GraftExtensionsSpec extends AnyFunSuite {

  test("intersect_card_sorted is callable from SQL once registered") {
    graft.core.GraftExtensions.register(TestSpark.spark)
    val n = TestSpark.spark
      .sql("SELECT intersect_card_sorted(array(1L, 3L, 7L), array(3L, 5L, 7L)) AS n")
      .collect().head.getInt(0)
    assert(n === 2)
  }

  test("nfc_normalize / shingle_list / word_shingles are callable from SQL") {
    graft.core.GraftExtensions.register(TestSpark.spark)
    val row = TestSpark.spark.sql(
      """SELECT nfc_normalize('cafe\u0301') AS nfc,
               shingle_list(array('x', 'y', 'x', 'y'), 2) AS sl,
               word_shingles(array('x', 'y', 'x', 'y'), 2) AS ws""")
      .collect().head
    assert(row.getString(0) === "caf\u00e9")
    assert(row.getSeq[String](1) === Seq("x y", "y x", "x y"))
    assert(row.getSeq[String](2) === Seq("x y", "y x"))
  }
}
