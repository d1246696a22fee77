package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CorpusQueries, DagQueries}

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
  private def assertSettlesTo(baseline: Int, msg: String, deadlineSec: Int = 30): Unit = {
    val deadline = System.nanoTime() + deadlineSec.toLong * 1000 * 1000 * 1000
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

  test("media-GROUPS soak: per-call caches release eagerly, checkpoint results are collectable") {
    // One census over every query that opens a `Materialize` scope
    // (the media near-dup GROUPS operators, the set-similarity join, the
    // streaming index probe, both staged pipelines, PageRank): each caches
    // intermediates or adopts nested results inside the call and hands back
    // ONE pinned result. Two release disciplines must hold across repeated
    // cycles: (a) everything else a call stored — caches, the nested CC
    // labels, a nested operator's pinned pairs, the streaming index — is
    // freed before the call returns; a leak there ratchets the census by
    // several frames per cycle; (b) the returned checkpoint frames hold no
    // hidden engine-side reference, so once the caller drops them the
    // ContextCleaner returns storage to baseline.
    val names = Seq("q_image_phash_groups", "q_audio_neardup_groups",
      "q_video_neardup_groups", "q_setsim_pairs", "q_stream_neardup_batch",
      "q_training_pipeline", "q_web_pipeline", "q_pagerank")
    val qs = SparkEntry.queries
    val baseline = settledFloor()
    for (cycle <- 1 to 3) {
      names.foreach { q =>
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        qs(q)(spark, dir).write.format("noop").mode("overwrite").save()
        // eager-release check per query, by id: what the call left stored
        // is its one result checkpoint — never a cache, never a second frame
        val kept = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
        assert(kept.size <= 1 && kept.values.forall(_.isCheckpointed),
          s"cycle $cycle $q: left ${kept.size} frames stored " +
            s"(checkpoints: ${kept.values.count(_.isCheckpointed)}) — " +
            "an intermediate leaked past return")
      }
      // immediately after the cycle, only the not-yet-collected RESULT
      // checkpoints may remain pinned
      assert(cachedRdds <= baseline + names.size,
        s"cycle $cycle: ${cachedRdds - baseline} frames pinned after " +
          s"${names.size} scoped calls — a per-call cache leaked past return")
      // checkpoint collection is ContextCleaner-paced, not eager — allow the
      // soak a longer settle than the default eager-release suites use
      assertSettlesTo(baseline,
        s"cycle $cycle: dropped results must be collectable back " +
          s"to baseline ($baseline) — a hidden reference pins the checkpoint",
        deadlineSec = 60)
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
