package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CorpusQueries, DagQueries, Q}

/** The release half of the memoization contract: the `groups`/`vault`
  * fills store frames per (session, dir) so one process computes each
  * shared materialization once; `release` must return that storage — in a
  * long-lived QueryService session the memo would otherwise be a storage
  * leak, and Bench frees the warmup dir's memos before its timed run.
  */
class MemoReleaseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def cachedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** Identity-level census: the persistent-RDD id set. Counts can lie twice
    * over (a cross-suite frame collecting mid-test offsets a leak
    * numerically); ids cannot — a warm-added id still present after release
    * is a leak regardless of what unrelated frames did in between.
    */
  private def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** GC-settle the persistent-RDD census to its floor: earlier suites may
    * have dropped checkpoint-backed result frames that the ContextCleaner
    * has not collected yet — a baseline read before they clear would be
    * stale and make strict equality assertions flaky.
    */
  private def settledFloor(): Int = {
    var floor = cachedRdds
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(200)
      if (cachedRdds < floor) { floor = cachedRdds; stable = 0 } else stable += 1
    }
    floor
  }

  /** Post-release leak assert robust to the shared-session floor race: an
    * earlier suite's dropped checkpoint frame can be ContextCleaner-collected
    * MID-test, pushing the census BELOW a floor read at test start (observed
    * once in an r17 full-suite run; green in isolation and on rerun — the
    * strict == asserts this replaces were the flake). A leak is storage that
    * stays ABOVE baseline after settling; a census below baseline is
    * cross-suite garbage clearing late, not a release bug.
    *
    * SCOPE (ADVICE r17): this settles, so it only proves eventual
    * collectability — it would pass a release that merely dropped the
    * memo-map reference and let GC do the work. The EAGER-unpersist half of
    * the contract is asserted separately via assertEagerlyReleased, which
    * reads the id census immediately, no GC loop.
    */
  private def assertSettlesTo(baseline: Int, msg: String): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (cachedRdds > baseline && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(200)
    }
    assert(cachedRdds <= baseline, msg)
  }

  /** The eager half of the release contract (ADVICE r17): every warm-added
    * persistent-RDD id must be gone IMMEDIATELY after release returns —
    * unpersist unregisters the RDD synchronously, so no GC loop, no settle.
    * Id-set based, so a cross-suite frame collecting below baseline mid-test
    * can neither mask a leaked id nor fail a clean release.
    */
  private def assertEagerlyReleased(added: Set[Int], msg: String): Unit = {
    val leaked = cachedIds & added
    assert(leaked.isEmpty, s"$msg — warm-added RDD ids still pinned " +
      s"immediately after release: ${leaked.toSeq.sorted.mkString(",")}")
  }

  test("CorpusQueries.releaseMemos returns the group-fill storage to baseline") {
    CorpusQueries.groups.release(spark, dir) // reset in case another suite warmed
    val baseline = settledFloor()
    val idsBefore = cachedIds
    CorpusQueries.groups.fill(spark, dir)
    val added = cachedIds -- idsBefore
    assert(added.nonEmpty,
      "the groups fill must store frames (fingerprints, pairs, groups)")
    CorpusQueries.groups.release(spark, dir)
    // eager: the stored ids are unregistered before release returns
    assertEagerlyReleased(added,
      "release must free every frame the groups fill stored")
    // and the census floor is restored once cross-suite garbage settles
    assertSettlesTo(baseline,
      "post-release census must settle back to the pre-warm floor")
    // idempotent: releasing an already-released dir is a no-op
    CorpusQueries.groups.release(spark, dir)
    assertSettlesTo(baseline, "repeated release must stay at baseline")
  }

  test("warmGroups after release rebuilds the memo (release is not a poison)") {
    CorpusQueries.groups.release(spark, dir)
    CorpusQueries.groups.fill(spark, dir)
    val warmedIds = cachedIds
    assert(warmedIds.nonEmpty)
    // a second warm is a cache hit, not a second pin. Id-set based (ADVICE
    // r17): a census-count <= could mask a double-pin if a stale cross-suite
    // frame collected between the two reads and numerically offset the extra
    // pin — NO new id may appear, regardless of what old frames collect.
    CorpusQueries.groups.fill(spark, dir)
    val doubled = cachedIds -- warmedIds
    assert(doubled.isEmpty, "a second groups fill must be a cache hit, but it " +
      s"pinned new RDD ids: ${doubled.toSeq.sorted.mkString(",")}")
    CorpusQueries.groups.release(spark, dir)
  }

  test("long-lived service soak: query cycles across two corpus dirs return storage to baseline") {
    // A long-lived QueryService session serves many corpora over days; each
    // (session, dir) memo family must be releasable so storage does not
    // ratchet up cycle over cycle. Compose both memo families (vault DAG +
    // corpus groups) with real consumer queries per cycle and assert the
    // persistent-RDD census returns to baseline after every cycle's release.
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val consumers =
      Seq("q_dag_fct_transactions", "q_dag_dim_asset", "q_dedup_groups",
        "q_canonical_selection", "q_svc_kpi")
    val qs = SparkEntry.queries
    dirs.foreach { d =>
      CorpusQueries.groups.release(spark, d); DagQueries.vault.release(spark, d)
    }
    val baseline = settledFloor()
    for (cycle <- 1 to 3; d <- dirs) {
      consumers.foreach(q =>
        qs(q)(spark, d).write.format("noop").mode("overwrite").save())
      assert(cachedRdds > baseline,
        s"cycle $cycle $d: consumer queries must have pinned memo frames")
      CorpusQueries.groups.release(spark, d)
      DagQueries.vault.release(spark, d)
      assertSettlesTo(baseline,
        s"cycle $cycle $d: release must return the persistent-RDD census " +
          s"to baseline ($baseline), not ratchet upward")
    }
  }

  /** The queries whose line left checkpoints stored while operators owned
    * their storage (a census of every registered query at sf0.001 through
    * `Runner.line`): pinned operator results, nested CC labels, the
    * streaming index, BPE vocabularies and k-means/PQ codebooks.
    */
  private val leaving = Seq(
    "q_audio_neardup_groups", "q_audio_neardup_pairs", "q_bpe_encode", "q_bpe_merges",
    "q_bpe_token_ids", "q_cross_neardup", "q_domain_rank", "q_image_phash_groups",
    "q_image_phash_pairs", "q_ivf_trained", "q_ngram_dup_pairs", "q_pagerank",
    "q_pq_codes", "q_semdedup", "q_setsim_pairs", "q_stream_neardup_batch",
    "q_training_pipeline", "q_video_neardup_groups", "q_video_neardup_pairs",
    "q_web_pipeline", "q_winnow_matches")

  private def line(runner: Runner, q: Q): Unit =
    runner.line(q.name)(Runner.noop(q.fn(spark, dir))).error
      .foreach(e => fail(s"${q.name} failed", e))

  test("every line leaves the persistent-RDD id set as it found it") {
    val qs = SparkEntry.registered.filter(q => leaving.contains(q.name)).sortBy(_.name)
    assert(qs.map(_.name) === leaving.sorted)
    val runner = new Runner(spark, dir, qs)
    // what a family stores is the memo's, filled before the first line;
    // earlier suites' dropped frames are collected before the census
    runner.fill().foreach(l => assert(l.error.isEmpty, s"${l.name} failed"))
    settledFloor()
    try qs.foreach { q =>
      val before = cachedIds
      line(runner, q)
      val after = cachedIds
      assert(after === before, s"${q.name}: left ${(after -- before).toSeq.sorted} stored, " +
        s"freed ${(before -- after).toSeq.sorted}")
    } finally runner.families.foreach(runner.release(_))
  }

  test("groups first built inside a consumer line outlive it") {
    CorpusQueries.groups.release(spark, dir)
    val q = SparkEntry.registered.find(_.name == "q_dedup_groups").get
    val runner = new Runner(spark, dir, Seq(q))
    val before = cachedIds
    line(runner, q)
    val kept = cachedIds -- before
    assert(kept.nonEmpty, "building the groups must store the memo's frames")
    // a second read runs on the stored labels: freed by the first line's
    // scope, it would fail on missing checkpoint blocks
    line(runner, q)
    assert(cachedIds -- before === kept, "a second read must store nothing new")
    CorpusQueries.groups.release(spark, dir)
    assertEagerlyReleased(kept, "release must free the groups built inside a consumer line")
  }

  test("pair and rank queries build lazily, with their whole plan") {
    val names = Seq("q_image_phash_pairs", "q_audio_neardup_pairs", "q_video_neardup_pairs",
      "q_setsim_pairs", "q_winnow_matches", "q_pagerank", "q_domain_rank",
      "q_ngram_dup_pairs", "q_cross_neardup")
    val qs = SparkEntry.registered.filter(q => names.contains(q.name))
    assert(qs.size === names.size)
    val runner = new Runner(spark, dir, qs)
    qs.foreach { q =>
      var df: org.apache.spark.sql.DataFrame = null
      val built = runner.line(q.name) { df = q.fn(spark, dir) }
      assert(built.error.isEmpty && built.jobs.isEmpty,
        s"${q.name} ran ${built.jobs.size} jobs while built")
      val stubs = df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.nodeName }
      assert(stubs.isEmpty, s"${q.name}'s plan reads a stored RDD: $stubs")
    }
  }

  test("DagQueries.releaseMemos returns the shared vault cache to baseline") {
    DagQueries.vault.release(spark, dir)
    val baseline = settledFloor()
    val idsBefore = cachedIds
    DagQueries.vault.fill(spark, dir)
    val added = cachedIds -- idsBefore
    assert(added.nonEmpty,
      "the vault fill must store the shared hub/sat frames")
    DagQueries.vault.release(spark, dir)
    assertEagerlyReleased(added,
      "release must free the whole shared vault cache")
    assertSettlesTo(baseline,
      "post-release census must settle back to the pre-warm floor")
  }
}
