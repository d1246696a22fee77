package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.functions.TextFns
import graft.operators.{ConnectedComponents, Curation, Dedup, SetSimJoin, Similarity, TextDedup}
import graft.queries.Q

/** Scale-pressure probe for the dedup/ANN family: replicate the sf0.1
  * corpus `factor`x (exact copies — the worst case for LSH buckets, since
  * every copy family shares every band hash) and measure per-stage ROW
  * COUNTS alongside wall times. The counts are the evidence behind the
  * 100 TB design claims: candidate pairs must grow with near-dup family
  * size (bounded by banding/bucket caps), never with corpus², and the
  * within-cluster ANN verify must stay O(n * cluster_size).
  *
  * Usage: `sbt "runMain graft.ScaleProbe [sfDir] [factor]"` — writes one
  * JSON object to /root/repo/SCALE_PROBE.json and prints it.
  */
object ScaleProbe {

  private def readLoad1(): Double =
    Bench.procFirst("/proc/loadavg", line => System.err.println(s"[probe] $line"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outPath = args.lift(2).getOrElse("/root/repo/SCALE_PROBE.json")
    val cpus = Graft.localCpus
    // host-idleness evidence: load1 at START is the contamination signal;
    // load1 at END is self-inflicted by the probe's own 32-thread saturation
    // and must not be read as a loaded host
    val load1Start = readLoad1()
    val spark = Graft.session(s"local[$cpus]", "graft-scaleprobe")
    spark.sparkContext.setLogLevel("ERROR")

    val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
    // a stage that dies (OOM on a deliberately brutal output) records
    // rows=-1 instead of losing the whole probe's measurements
    def stage(name: String)(df: => DataFrame): Long = {
      val t0 = System.nanoTime()
      val n = try df.count() catch { case e: Throwable =>
        System.err.println(s"[probe] $name failed: ${e.getClass.getSimpleName}"); -1L }
      val sec = (System.nanoTime() - t0) / 1e9
      stages += ((name, n, sec))
      System.err.println(f"[probe] $name rows=$n ${sec}%.1fs")
      n
    }

    // repartition AFTER the explode: the sf parquet is one small file (one
    // input split), so without it the replicated corpus would stay a single
    // partition and every map-side stage would run on one core — on a real
    // cluster the corpus arrives in thousands of splits, and the probe must
    // measure that shape, not a single-split artifact
    val docs = Q.t(spark, sfDir, "documents")
      .withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("doc_id") * factor + col("__k")).as("doc_id"),
        col("lang"), col("text"))
      .repartition(cpus * 4)
      .persist()
    stage("corpus_docs")(docs)

    // exact dedup: fingerprint groupBy with map-side combine
    stage("exact_dedup_groups")(Dedup.exactDedupGroups(
      docs, md5(array_join(array_sort(array_distinct(TextFns.tokens(col("text")))), " ")),
      col("doc_id")))

    // MinHash/LSH ladder, xx64 scale family
    val sh = TextFns.wordShingles(TextFns.tokens(col("text")), 2)
    val banded = TextDedup.bandedSignatures(docs, "doc_id", sh, 4, 3).persist()
    stage("lsh_banded_signature_rows")(banded)
    stage("lsh_candidate_pairs")(TextDedup.candidatePairs(banded, "doc_id"))
    val pairs = TextDedup.minhashDupPairs(
      docs, "doc_id", "text", shingleWords = 2, bands = 4, rowsPerBand = 3,
      threshold = 0.5).persist()
    stage("minhash_verified_pairs")(pairs)
    stage("dedup_group_members")(
      ConnectedComponents.dedupGroups(pairs.select(col("a_id"), col("b_id")), "a_id", "b_id"))
    // rounds-to-convergence is the 100 TB quantity: pointer jumping keeps
    // it O(log diameter), so it must stay flat as the corpus replicates
    val ccRounds = ConnectedComponents.lastRounds

    // boilerplate + vectorizer (inverted-index aggregates, never pairwise)
    stage("dup_spans_5tok_min3")(Curation.duplicateSpans(docs, "doc_id", "text", 5, 3))
    stage("boilerplate_ratio_rows")(Curation.boilerplateRatio(docs, "doc_id", "text", 5, 3))
    stage("feature_hash_tf_rows")(Curation.featureHashTf(docs, "doc_id", "text", 256))

    // winnowing: per-row fused selection, fingerprint-grain index; with
    // `factor` exact copies every fingerprint's df multiplies by factor,
    // so the df cap (here 4*factor to keep the probe meaningful) bounds
    // each bucket's self-join exactly as banding bounds LSH
    stage("winnow_fingerprint_rows")(
      Curation.winnowFingerprints(docs, "doc_id", "text", 3, 4))
    stage("winnow_match_pairs")(
      Curation.winnowMatches(docs, "doc_id", "text", 3, 4,
        minShared = 3, maxDocFreq = 4 * factor))

    // bigram LM: two bigram-grain aggregates + bounded per-doc fold
    stage("lm_score_rows")(Curation.lmScore(docs, "doc_id", "text"))

    // Gopher repetition suite: one fused per-row pass, rows == corpus
    stage("repetition_rows")(Curation.repetitionSignals(docs, "doc_id", "text"))

    // ExactSubstr variable-length spans on the 10x-copy corpus — the
    // worst case: every document's ENTIRE text is a 10-fold repeat, so
    // maximal extents cover the whole corpus; span rows must stay at doc
    // grain (merged extents), never token- or pair-grain
    stage("exact_substr_spans")(
      Curation.exactSubstrSpans(docs, "doc_id", "text", minTokens = 5, minCount = 2))

    // CCNet paragraph dedup: 10 copies of every paragraph + a corpus-wide
    // footer -> first-occurrence survivors only; hash-grain aggregate must
    // carry (para, count) partials, never fan out
    val ptoks = TextFns.tokens(col("text"))
    val pchunks = transform(
      sequence(lit(0), ((size(ptoks) - lit(1)) / 10).cast("int")),
      i => array_join(slice(ptoks, i * 10 + 1, lit(10)), " "))
    val pdocs = docs.select(col("doc_id"),
      concat(array_join(pchunks, "\n"), lit("\n"),
        concat(lit("shared footer "), col("lang"))).as("ptext"))
    stage("paragraph_dedup_rows")(
      Curation.paragraphDedup(pdocs, "doc_id", "ptext"))

    // DSIR selection: bigram models are <=dims-row broadcasts regardless
    // of corpus size; the probe point is the corpus-grain pass stays flat
    stage("dsir_selected")(Curation.dsirSelect(
      docs, docs.filter(col("lang") === "en"), "doc_id", "text",
      dims = 1024, k = 100))

    // temperature resampling: strata counts grow factor-x but the rate
    // RATIOS (cnt_min/cnt) are replication-invariant, so the kept fraction
    // should match the sf0.1 run exactly — map-only over the 10x corpus
    stage("temperature_sample_kept")(
      Curation.temperatureSample(docs.select("doc_id", "lang"), "doc_id", "lang"))

    // PageRank over factor disjoint copies of the customer->supplier
    // graph (ids offset per copy): nodes and edges scale factor-x, the
    // per-iteration join+aggregate shuffles must scale linearly with them
    val baseEdges = Q.t(spark, sfDir, "orders")
      .join(Q.t(spark, sfDir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      .distinct().persist()
    val offset = lit(10000000L)
    val bigEdges = baseEdges
      .withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("src") + col("__k") * offset).as("src"),
        (col("dst") + col("__k") * offset).as("dst"))
    stage("pagerank_nodes")(
      graft.operators.PageRank.run(bigEdges, "src", "dst", iterations = 3))

    // exact set-similarity join (prefix-filtered AllPairs). theta=0.9:
    // with `factor` exact copies per doc the pair OUTPUT — not the
    // candidate work — is inherently quadratic in family size: every
    // copy-family clique must emit all C(factor,2) of its pairs, so a
    // duplicate-saturated corpus emits ~|corpus|·(factor-1)/2 rows no
    // matter how good the prefix filter is (factor 10 measured 96.7M pairs
    // / 176 s; theta=0.8 measured 297M). At factor > 20 the probe skips
    // the stage (rows = -2 sentinel): the operator's contract for such
    // corpora is emit dedup GROUPS (minhash -> CC), not all pairs — the
    // all-pairs join is for theta-similarity ANALYSIS on corpora with
    // bounded family sizes.
    if (factor <= 20)
      stage("setsim_pairs_theta90")(SetSimJoin.jaccardJoin(docs, "doc_id", "text", 90))
    else stages += (("setsim_pairs_theta90_skipped_quadratic_output", -2L, 0.0))

    // ANN: k-means -> IVF assign -> cluster-blocked near-dup verify
    val emb = Q.t(spark, sfDir, "embeddings")
      .withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("vec_id") * factor + col("__k")).as("vec_id"), col("embedding"))
      .repartition(cpus * 4)
      .persist()
    stage("embeddings")(emb)
    val k = 64
    val centroids = Similarity.kmeansFit(emb, "vec_id", "embedding", k, iters = 3).persist()
    stage("ivf_centroids")(centroids)
    val assigned = Similarity.ivfAssign(emb, centroids, "vec_id", "embedding", "centroid_id")
      .persist()
    stage("ivf_assigned")(assigned)
    val maxCluster = assigned.groupBy(col("cluster_id")).count()
      .agg(max(col("count"))).head.getLong(0)
    stage("ivf_near_dup_pairs")(Similarity.ivfNearDupPairs(
      emb, centroids, "vec_id", "embedding", "centroid_id", threshold = 0.9))

    // SemDeDup on the 10x-copy embeddings: every vector has 9 exact twins,
    // so duplicate groups have >= factor members and ~(factor-1)/factor of
    // the corpus must be dropped — group formation stays cluster-blocked
    val sem = Similarity.semDeDup(
      emb, centroids, "vec_id", "embedding", "centroid_id",
      threshold = 0.999).persist()
    stage("semdedup_rows")(sem)
    stage("semdedup_kept")(sem.filter(col("is_kept")))

    // Video/contour near-dup family (round-6 ladder). Fingerprinting is the
    // true scale path — banding happens inside the decode flatMap, map-only
    // — so it runs at the FULL factor. The pair stage runs at a bounded
    // replication (<=10): the y4m fixture derives content from id%250 and
    // (id/250)%3, so dense replication makes every (base, pert) class an
    // exact-copy family and pair OUTPUT goes quadratic exactly like setsim
    // above — groups, not pairs, is the contract there too.
    import graft.operators.Multimodal
    val vids = Multimodal.y4mDupFixture(docs.select("doc_id"), "doc_id")
    stage("video_fingerprint_bands")(
      Multimodal.videoFingerprint(vids, bandFrames = 2, qStep = 4L))
    val vFactor = math.min(factor, 10)
    val vDocs = Q.t(spark, sfDir, "documents")
      .withColumn("__k", explode(sequence(lit(0), lit(vFactor - 1))))
      .select((col("doc_id") * vFactor + col("__k")).as("doc_id"))
      .repartition(cpus * 4)
    val vMedia = Multimodal.y4mDupFixture(vDocs, "doc_id").persist()
    stage(s"video_neardup_pairs_f$vFactor")(Multimodal.contourNearDupPairs(
      Multimodal.videoFingerprint(vMedia, bandFrames = 2, qStep = 4L),
      Multimodal.videoLevels(vMedia, qStep = 4L),
      minBands = 2, maxLevelDiff = 1L))
    // The GROUPS contract at FULL factor — the scale-safe alternative the
    // pair stage cannot offer: family collapse on the level contour bounds
    // the banded join and the connected components by distinct-content
    // count, and the output is one row per doc in the near-dup graph
    // (LINEAR in corpus size) where pairs would be C(family,2)-quadratic.
    stage("video_neardup_group_rows")(Multimodal.contourNearDupGroups(
      Multimodal.videoFingerprint(vids, bandFrames = 2, qStep = 4L),
      Multimodal.videoLevels(vids, qStep = 4L),
      minBands = 2, maxLevelDiff = 1L))

    // Round-7 operators: mixing schedule must stay map-only-flat at any
    // factor; hard negatives is anchors x corpus with the band filter
    // pruning before the shuffle; cross-corpus decontamination treats the
    // UNREPLICATED base corpus as the eval suite — every eval doc has
    // ~factor near-copies in the replicated "train" side, so pair output
    // tracks true cross-dup mass while candidates stay band-bounded.
    stage("mix_schedule_rows")(Curation.mixSchedule(
      docs.select(col("doc_id"), col("lang")), "doc_id", "lang",
      Map("en" -> 0.4, "zh" -> 0.1, "es" -> 0.15, "de" -> 0.15, "fr" -> 0.2)))
    stage("hard_negative_rows")(Similarity.hardNegatives(
      emb, emb.filter(col("vec_id") < 16).withColumnRenamed("vec_id", "anchor_id"),
      "vec_id", "embedding", "anchor_id", lo = 0.2, hi = 0.35, k = 100))
    stage("cross_neardup_pairs")(TextDedup.crossCorpusDupPairs(
      docs, Q.t(spark, sfDir, "documents"), "doc_id", "text",
      shingleWords = 2, bands = 4, rowsPerBand = 3, threshold = 0.5))

    // Five-stage training cascade (q_training_pipeline's flow) at factor
    // scale: quality gate (map-only) -> exact dedup (keyed min) -> fuzzy
    // dedup (LSH -> CC -> anti-join) -> cross-corpus decontamination
    // (band join vs the UNREPLICATED eval split, ids offset into a
    // disjoint space so the operator's a_id =!= b_id self-pair guard can
    // never falsely drop a true cross-dup) -> mix schedule (broadcast
    // dim). With `factor` exact copies the exact-dedup stage collapses
    // each copy family to one survivor, so downstream stages run at
    // ~sf0.1 volume — the probe quantity is that the EARLY stages (gate +
    // fingerprint aggregate) stay linear and the cascade total is
    // dominated by them, not by the post-collapse fuzzy stages. Each
    // cascade step's survivor count lands as its own stages entry
    // (sec=0.0 annotation rows); the wall clock for the whole cascade is
    // the `training_cascade_total` entry.
    {
      val t0 = System.nanoTime()
      val perStage: Seq[(String, Long)] = try {
        val s1 = docs.join(
          Curation.gopherSignals(docs, "doc_id", "text")
            .filter(col("keep")).select("doc_id"), Seq("doc_id"))
        val fpc = md5(array_join(array_sort(array_distinct(TextFns.tokens(col("text")))), " "))
        val keep2 = s1.select(col("doc_id"), fpc.as("__fp"))
          .groupBy(col("__fp")).agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val s2 = s1.join(keep2, Seq("doc_id")).persist()
        val tpairs = TextDedup.minhashDupPairs(s2, "doc_id", "text",
          shingleWords = 2, bands = 4, rowsPerBand = 3, threshold = 0.5)
        val dupDrop = ConnectedComponents
          .dedupGroups(tpairs.select(col("a_id"), col("b_id")), "a_id", "b_id")
          .filter(!col("is_canonical"))
          .select(col("member_id").as("doc_id"))
        val s3 = s2.join(dupDrop, Seq("doc_id"), "left_anti")
        // the +1e8 eval-id offset below only yields a disjoint id space
        // while the replicated train ids stay under it
        require(400L * factor < 100000000L,
          s"factor $factor would collide replicated ids with the +1e8 eval offset")
        val evalCut = lit(400L * factor)
        val train = s3.filter(col("doc_id") < evalCut)
        val evalDocs = Q.t(spark, sfDir, "documents")
          .filter(col("doc_id") >= 400)
          .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("text"))
        val flagged = TextDedup.crossCorpusDupPairs(
          train, evalDocs, "doc_id", "text",
          shingleWords = 2, bands = 4, rowsPerBand = 3, threshold = 0.5)
          .select(col("a_id").as("doc_id")).distinct()
        val s4 = train.join(flagged, Seq("doc_id"), "left_anti")
        val s5 = Curation.mixSchedule(
            s4.select(col("doc_id"), col("lang")), "doc_id", "lang",
            Map("en" -> 0.4, "zh" -> 0.1, "es" -> 0.15, "de" -> 0.15, "fr" -> 0.2))
          .filter(col("schedule_key") <= 40.0)
        def cnt(df: DataFrame, n: String) =
          df.agg(count(lit(1)).as("n")).select(lit(n).as("stage"), col("n"))
        val out = cnt(s1, "quality_gate").unionByName(cnt(s2, "exact_dedup"))
          .unionByName(cnt(s3, "fuzzy_dedup")).unionByName(cnt(s4, "decontaminate"))
          .unionByName(cnt(s5, "mix_epoch_prefix"))
          .collect().toIndexedSeq.map(r => (r.getString(0), r.getLong(1)))
        s2.unpersist()
        out
      } catch { case e: Throwable =>
        System.err.println(s"[probe] training_cascade failed: ${e.getClass.getSimpleName}")
        Seq(("failed", -1L))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      perStage.foreach { case (n, c) =>
        stages += ((s"training_cascade_$n", c, 0.0))
        System.err.println(s"[probe] training_cascade_$n rows=$c")
      }
      stages += (("training_cascade_total", perStage.lastOption.map(_._2).getOrElse(-1L), sec))
      System.err.println(f"[probe] training_cascade_total ${sec}%.1fs")
    }

    val load1End = readLoad1()
    def f(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val body = stages.map { case (n, c, s) =>
      s"""\"$n\":{\"rows\":$c,\"sec\":${f(s)}}""" }.mkString(",")
    val json =
      s"""{"sf_dir":"$sfDir","factor":$factor,"cpus":$cpus,""" +
        s""""load1_start":${f(load1Start)},"load1_end":${f(load1End)},""" +
        s""""cc_rounds":$ccRounds,"ivf_max_cluster":$maxCluster,"stages":{$body}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), json + "\n")
    spark.stop()
    println(json)
  }
}
