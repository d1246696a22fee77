package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{DriverPool, Materialize}
import graft.functions.VectorFns._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Three tiers:
  *   - `bruteForceTopK` — exact cosine top-k against a (broadcast) query
  *     vector; the correctness baseline. Map-only scan + TakeOrderedAndProject;
  *     at 100 TB this is one full pass, no shuffle.
  *   - `ivfAssign`/`ivfPqTopK` — IVF-style inverted file: vectors are
  *     assigned to their nearest centroid (broadcast centroid table,
  *     map-only), and a query probes only its `nprobe` nearest clusters —
  *     the scan shrinks by ~n_clusters/nprobe.
  *     Assignments can be persisted as a partition column so cluster probing
  *     becomes parquet partition pruning.
  *   - `signLsh` — random-hyperplane sign buckets (deterministic md5-derived
  *     hyperplanes) for cosine LSH; bucket equality join replaces the scan.
  */
object Similarity {

  /** Exact cosine top-k of `embeddings` (idCol, vecCol) vs the single-row
    * `query` (vecCol). Cross-join with the broadcast 1-row query keeps the
    * whole thing one lazy distributed plan.
    */
  def bruteForceTopK(embeddings: DataFrame, query: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(query.select(toDouble(col(vecCol)).as("__q")))
    embeddings
      .crossJoin(q)
      .withColumn("cosine", cosine(toDouble(col(vecCol)), col("__q")))
      .orderBy(col("cosine").desc, col(idCol))
      .select(col(idCol), col("cosine"))
      .limit(k)
  }

  /** Contrastive hard-negative mining: for every anchor vector, the top-k
    * corpus vectors whose cosine lies in `[lo, hi)` — similar enough to be
    * hard, below the near-duplicate band, the standard negative-selection
    * step when building contrastive / retrieval training pairs. `hi` < 1
    * keeps the anchor itself (cosine 1) and its near-dups out.
    *
    * Scale shape: the anchor set is a training batch (small by contract) —
    * it collapses to ONE sorted broadcast array row, so scoring is a
    * map-only pass over the corpus; the band filter prunes BEFORE the
    * shuffle (at the corpus's ambient-cosine levels this drops almost
    * everything); the per-anchor top-k is a row_number window that Spark
    * plans with WindowGroupLimit on both sides of the exchange, so each map
    * task forwards at most k rows per anchor. Every number is the
    * index-order fold — an independent SQL engine replays it bit-for-bit.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, anchorIdCol: String, lo: Double, hi: Double,
      k: Int): DataFrame = {
    val aArr = broadcast(anchors
      .select(struct(col(anchorIdCol).cast("long").as("aid"),
        toDouble(col(vecCol)).as("av")).as("__a"))
      .agg(array_sort(collect_list(col("__a"))).as("__as")))
    val scored = corpus
      .crossJoin(aArr)
      .withColumn("__v", toDouble(col(vecCol)))
      .select(col(idCol), col("__v"), explode(col("__as")).as("__a"))
      .withColumn("anchor_id", col("__a").getField("aid"))
      .filter(col(idCol) =!= col("anchor_id"))
      .withColumn("cosine", cosine(col("__v"), col("__a").getField("av")))
      .filter(col("cosine") >= lo && col("cosine") < hi)
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col(idCol), col("cosine"), col("rank"))
  }

  /** Attach `__best` = struct(d = squared distance, cid) of the nearest
    * centroid to every row — TRULY map-only: the centroid table collapses
    * to ONE sorted array row (k tiny rows → 1), broadcast, and the argmin
    * is a sequential fold over that array per input row. No per-row
    * shuffle, no window (the previous crossJoin + row_number form
    * re-shuffled the full dataset on the row id just to pick a minimum).
    * Ties break to the smallest centroid id: the array is sorted by cid
    * and the fold keeps the incumbent unless strictly closer.
    *
    * An EMPTY centroid table yields `__best` = null (not the fold's -1
    * sentinel): a -1 "cluster" would look like a real assignment and turn
    * `ivfNearDupPairs`'s within-cluster self-join into the all-pairs
    * blowup the operator exists to avoid — whereas a null cluster_id never
    * matches an equi-join, so downstream consumers degrade to zero pairs.
    */
  private def withNearest(embeddings: DataFrame, centroids: DataFrame,
      vecCol: String, centroidIdCol: String): DataFrame = {
    val cArr = broadcast(centroids
      .select(struct(col(centroidIdCol).cast("long").as("cid"),
        toDouble(col(vecCol)).as("cv")).as("__c"))
      .agg(array_sort(collect_list(col("__c"))).as("__cs")))
    val best = aggregate(
      col("__cs"),
      struct(lit(Double.MaxValue).as("d"), lit(-1L).as("cid")),
      (acc, c) => {
        val d = graft.functions.VectorExprs.distSq(col("__vd"), c.getField("cv"))
        when(d < acc.getField("d"), struct(d.as("d"), c.getField("cid").as("cid")))
          .otherwise(acc)
      })
    embeddings
      .crossJoin(cArr)
      .withColumn("__vd", toDouble(col(vecCol)))
      .withColumn("__best", when(size(col("__cs")) > 0, best))
      .drop("__cs", "__vd")
  }

  /** Assign each vector to its nearest centroid (argmin squared distance,
    * ties → smallest centroid id). Map-only at any scale: broadcast
    * centroid array + per-row fold (see `withNearest`).
    */
  def ivfAssign(embeddings: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      centroidIdCol: String): DataFrame =
    withNearest(embeddings, centroids, vecCol, centroidIdCol)
      .select(embeddings.columns.map(col) :+ col("__best.cid").as("cluster_id"): _*)

  /** Lloyd's k-means over an embedding column — trains the IVF centroid
    * table. Deterministic: initialized from the k lowest-id DISTINCT
    * vectors, and every iteration is a fixed dataflow (assign via broadcast
    * argmin, new centroid = per-dimension mean computed by posexplode +
    * avg, so the shuffle carries (cluster, dim) partial sums — k*dims tiny
    * rows). Empty clusters keep their previous centroid. The per-iteration
    * job is one pass over the data; centroids stay a k-row DataFrame
    * (broadcast side) throughout.
    *
    * Init dedupes by vector VALUE before taking the k lowest ids: on a
    * duplicate-heavy corpus (the normal case for a dedup pipeline) the k
    * lowest ids can all be copies of one vector, which seeds k identical
    * centroids and collapses the whole clustering into one mega-cluster —
    * the factor-100 scale probe measured 199,900 of 200,000 vectors in a
    * single cluster, turning the downstream within-cluster verify into the
    * all-pairs join IVF exists to avoid. The dedupe is one keyed pass with
    * map-side partial min, so exact copies collapse before the shuffle.
    */
  def kmeansFit(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val firstPerVec = embeddings
      .select(col(idCol).cast("long").as("__id"), toDouble(col(vecCol)).as(vecCol))
      .groupBy(col(vecCol)).agg(min(col("__id")).as("__id"))
    // constant partition key: the frame is k rows by construction (limit k),
    // so the single-partition window is bounded — the partitionBy silences
    // the global-window plan warning without changing the execution
    var centroids = firstPerVec
      .orderBy(col("__id")).limit(k)
      .select(row_number().over(Window.partitionBy(lit(0)).orderBy(col("__id")))
        .cast("long").as("centroid_id"),
        col(vecCol))
    for (i <- 0 until iters) {
      val assigned = ivfAssign(embeddings, centroids, idCol, vecCol, "centroid_id")
      val means = assigned
        .select(col("cluster_id"), posexplode(toDouble(col(vecCol))).as(Seq("__dim", "__x")))
        .groupBy(col("cluster_id"), col("__dim"))
        .agg(avg(col("__x")).as("__m"))
        .groupBy(col("cluster_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("__dim"), col("__m")))),
          s => s.getField("__m")).as("__new"))
      // truncate the lineage each iteration: the frame is k tiny rows,
      // but without this the plan compounds per iteration and dominates
      // at iters >> 3 (planning cost, not data cost). The previous
      // iteration's pin is dead once this one has materialized; the
      // initial frame is lazy and stores nothing.
      val prev = centroids
      centroids = Materialize.pin(centroids
        .join(means, col("centroid_id") === col("cluster_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("__new"), col(vecCol)).as(vecCol)))
      if (i > 0) Materialize.release(prev, blocking = false)
    }
    centroids
  }

  /** IVF-blocked near-duplicate pairs: vectors are assigned to their
    * nearest centroid (broadcast argmin, map-only), then ONLY within-cluster
    * pairs are cosine-verified — the all-pairs O(n²) never materializes;
    * the one shuffle is on cluster_id and each cluster's work is
    * (cluster_size)². At scale, k grows with n (k ≈ n / target_cluster_size)
    * so total work is O(n · cluster_size), and recall is controlled by the
    * clustering quality (measured against all-pairs in SimilaritySpec).
    * Ties and arithmetic are deterministic, so an independent SQL engine
    * replays the result bit-for-bit.
    */
  def ivfNearDupPairs(embeddings: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, centroidIdCol: String, threshold: Double,
      saltBuckets: Int = 32): DataFrame = {
    val assigned = ivfAssign(embeddings, centroids, idCol, vecCol, centroidIdCol)
      .select(col("cluster_id"), col(idCol).as("__id"), toDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    // The within-cluster self-join keys the shuffle on cluster_id alone, so
    // one reducer owns each cluster's |c|^2 verify work — the probe measured
    // the largest factor-100 cluster pinning a single core for >20 min while
    // 31 idled. Salting splits each cluster's probe side `saltBuckets` ways
    // and replicates the build side per salt: identical output, per-task
    // work |c|^2/S, shuffle volume S x build side — the standard trade for
    // self-join skew (AQE's skew split does not apply: it cannot split one
    // join key, and verify partitions sit below its size thresholds).
    val a = assigned.select(col("cluster_id"), col("__id").as("a_id"),
      col("__v").as("__va"), col("__n").as("__na"))
      .withColumn("__salt", pmod(xxhash64(col("a_id")), lit(saltBuckets.toLong)))
      // The salting above only spreads the work if the join actually
      // SHUFFLES on (cluster_id, __salt). When the build side's estimated
      // size is small (replicated copies compress a 200k-vector parquet to
      // ~3MB), Catalyst broadcasts it and the join inherits the probe
      // side's scan partitioning — a single-file corpus is ONE split, so
      // the whole |c|^2 verify ran on one core (measured >27 min at factor
      // 100). An explicit key repartition with a FIXED partition count
      // guarantees probe-side parallelism under every join strategy; the
      // explicit count also stops AQE coalescing it back down (the shuffle
      // BYTES are tiny, the join WORK is quadratic — byte-based advisory
      // sizing cannot see that). The count is max(saltBuckets, cluster
      // parallelism), NOT saltBuckets alone: salt count is a skew knob
      // (how many ways one hot cluster splits), stage width is a cluster
      // knob — pinning the stage to the salt count would cap the verify
      // at 32 tasks on a 1000-core cluster. (cluster_id, __salt) has
      // ~k·saltBuckets distinct keys, far above either count, so the
      // extra partitions stay populated.
      .repartition(
        math.max(saltBuckets, embeddings.sparkSession.sparkContext.defaultParallelism),
        col("cluster_id"), col("__salt"))
    val b = assigned.select(col("cluster_id"), col("__id").as("b_id"),
      col("__v").as("__vb"), col("__n").as("__nb"))
      .withColumn("__salt", explode(sequence(lit(0L), lit(saltBuckets.toLong - 1))))
    a.join(b, Seq("cluster_id", "__salt"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine",
        dot(col("__va"), col("__vb")) / nullif(col("__na") * col("__nb"), lit(0.0)))
      .filter(col("cosine") >= threshold)
      .select(col("cluster_id"), col("a_id"), col("b_id"), col("cosine"))
  }

  /** SemDeDup (Abbas et al. 2303.09540, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster embeddings,
    * find within-cluster semantic-duplicate GROUPS (connected components
    * of the cosine >= `threshold` graph — [[ivfNearDupPairs]] is the
    * candidate generator, so all-pairs never materializes), and keep ONE
    * representative per group. Representative rule: the member with the
    * LOWEST cosine to its cluster centroid (the paper's low-centroid-
    * similarity choice — keeps the least prototypical exemplar, dropping
    * redundancy near the cluster core), ties broken by id. Singletons are
    * their own group and always kept.
    *
    * Shape at scale: clustering + pair generation inherit the IVF
    * discipline (broadcast argmin, cluster-blocked verify, k grows with n
    * so cluster_size stays bounded); group labels come from
    * [[ConnectedComponents.minLabel]]; representative
    * selection is one aggregate + join at group grain. Every number is the
    * deterministic in-index-order fold, so an independent SQL engine
    * replays the verdict bit-for-bit.
    *
    * @return (idCol, cluster_id, group_id, centroid_cos, is_kept)
    */
  def semDeDup(
      embeddings: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      centroidIdCol: String,
      threshold: Double,
      maxRounds: Int = 50): DataFrame = {
    // the broadcast-argmin assignment is evaluated twice (once inside the
    // pair generator — which ConnectedComponents runs once, eagerly — and
    // once for the labeled output frame): a deliberate recompute-over-cache
    // choice, since the assignment is a stateless map-only pass and caching
    // the vector-heavy frame would pin corpus-sized blocks in executor
    // storage for the output's whole lifetime
    val assigned = ivfAssign(embeddings, centroids, idCol, vecCol, centroidIdCol)
      .select(col(idCol), toDouble(col(vecCol)).as("__v"), col("cluster_id"))
    val cvecs = centroids.select(
      col(centroidIdCol).as("cluster_id"), toDouble(col(vecCol)).as("__cv"))
    // Family collapse (the engine-side twin of the oracle's r9 rewrite):
    // identical vectors share an assignment, a pairwise cosine of 1.0, and
    // a centroid cosine, so the CC edge set is built at distinct-VECTOR
    // grain — cross-family pairs are verified once per family pair, and a
    // nonzero-norm multi-member family enters the closure as a self-loop
    // (at doc grain it is internally a clique for any threshold <= 1;
    // zero-norm families have every pairwise cosine NULL, so their members
    // stay singletons). Family gid = min member id, so the family-grain
    // min-label closure expands to exactly the doc-grain labels. Without
    // this the within-cluster verify and the edge list are C(f,2)-quadratic
    // in copy-family size f on duplicate-saturated corpora: the factor-50
    // spot gate measured the doc-grain engine wall at 164.6s vs 31.7s at
    // factor 20 — superlinear purely from replicated-vector pair inflation.
    val fam = embeddings
      .select(col(idCol).as("__mid"), toDouble(col(vecCol)).as("__fv"))
      .groupBy(col("__fv"))
      .agg(min(col("__mid")).as("__fid"), count(lit(1)).as("__m"))
    val famReps = fam.select(col("__fid").as(idCol), col("__fv").as(vecCol))
    val crossEdges = ivfNearDupPairs(
      famReps, centroids, idCol, vecCol, centroidIdCol, threshold)
      .select(col("a_id"), col("b_id"))
    // the self-loop is gated on the COMPUTED self-cosine — the exact IEEE
    // expression the doc-grain verify would run for an identical pair
    // (dot(v,v)/(sqrt(S)*sqrt(S)) can round a hair below 1.0, so a
    // norm>0 gate would over-group at threshold = 1.0); zero-norm vectors
    // give a NULL cosine and stay singletons, as at doc grain
    val selfLoops = fam
      .filter(col("__m") >= 2 &&
        dot(col("__fv"), col("__fv")) /
          nullif(norm(col("__fv")) * norm(col("__fv")), lit(0.0)) >= threshold)
      .select(col("__fid").as("a_id"), col("__fid").as("b_id"))
    val groups = graft.operators.ConnectedComponents
      .minLabel(crossEdges.unionByName(selfLoops), "a_id", "b_id", maxRounds)
    val labeled = assigned
      // LEFT: a NULL vector argmins to the cluster_id -1 sentinel (and an
      // empty centroid table to null), which matches no centroid row — an
      // inner join would silently drop such rows instead of carrying them
      // through as null-cosine singletons
      .join(broadcast(cvecs), Seq("cluster_id"), "left")
      .withColumn("centroid_cos",
        dot(col("__v"), col("__cv")) /
          nullif(norm(col("__v")) * norm(col("__cv")), lit(0.0)))
      // LEFT: a NULL embedding vector never equi-joins (null keys don't
      // match), so an inner join would silently drop such rows — they fall
      // through both joins here and land as singletons (group_id = own id,
      // null centroid_cos, kept), the same contract zero-norm vectors get
      .join(fam.select(col("__fv").as("__v"), col("__fid")), Seq("__v"), "left")
      .join(groups.select(col("v").as("__fid"), col("label")), Seq("__fid"), "left")
      .withColumn("group_id", coalesce(col("label"), col(idCol)))
    // coalesce before the min-struct: a zero-norm vector's cosine is null,
    // and null-ordering differs across engines (Spark NULLS FIRST, most
    // SQL engines NULLS LAST) — pinning undefined to -2.0 (below any real
    // cosine) keeps the representative choice engine-portable and makes
    // degenerate vectors win representative only deterministically
    val rep = labeled
      .groupBy(col("group_id"))
      .agg(min(struct(
        coalesce(col("centroid_cos"), lit(-2.0)).as("c"),
        col(idCol).as("i"))).as("__rep"))
    labeled
      .join(rep, Seq("group_id"))
      .select(col(idCol), col("cluster_id"), col("group_id"),
        col("centroid_cos"), (col("__rep.i") === col(idCol)).as("is_kept"))
  }

  /** Sparse sign random projection (Achlioptas 2003, "Database-friendly
    * random projections"; the Johnson-Lindenstrauss workhorse): out[j] =
    * Σ_i v[i]·s(i,j) with s(i,j) ∈ {+1,−1} drawn from md5 parity — the
    * dimensionality-reduction step a pipeline runs BEFORE the ANN tier
    * when raw embeddings are wide. md5-derived signs (not a seeded RNG)
    * make the matrix engine-portable and reproducible years later, the
    * same determinism recipe as `stratifiedSample`.
    *
    * Shape at scale: the sign matrix is built ONCE as a 1-row broadcast
    * frame (outDims×inDims md5 calls total, not per row); each vector
    * then does an O(inDims·outDims) in-row fold — map-only, no shuffle.
    * Output is the long form (id, dim, value); ascending-i sequential
    * folds keep every double bit-portable.
    */
  def randomProject(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      inDims: Int,
      outDims: Int): DataFrame = {
    val spark = vecs.sparkSession
    val sign = (j: Column, i: Column) =>
      when(conv(substring(md5(concat_ws("_",
            j.cast("string"), i.cast("string"))), 1, 1), 16, 10).cast("int") % 2 === 0,
        lit(1.0)).otherwise(lit(-1.0))
    val signs = broadcast(spark.range(1).select(
      transform(sequence(lit(0), lit(outDims - 1)), j =>
        transform(sequence(lit(0), lit(inDims - 1)), i => sign(j, i))).as("__m")))
    vecs
      .crossJoin(signs)
      .select(col(idCol),
        posexplode(transform(col("__m"), mj =>
          aggregate(
            zip_with(col(vecCol), mj, (v, s) => v.cast("double") * s),
            lit(0.0), (a, x) => a + x))).as(Seq("__j", "value")))
      .select(col(idCol), col("__j").cast("int").as("dim"), col("value"))
  }

  /** Per-dimension int8 scalar quantization — the 4x storage/bandwidth
    * reduction step before an embedding table ships to an ANN index.
    * Emits (id, dim, q) rows: q = round((x - min_d) / (max_d - min_d) * 255)
    * in [0, 255], with constant dimensions mapped to 0. Dequantization is
    * min_d + q/255*(max_d - min_d); both directions are rational IEEE
    * arithmetic, so an independent engine replays them bit-for-bit.
    *
    * Shape at scale: one pass computes per-dim min/max (posexplode →
    * groupBy(dim) with map-side combine — the shuffle carries dims-many
    * partials per map partition, not vectors), the tiny stats table
    * broadcasts back, and quantization is map-only.
    */
  def quantizeInt8(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dims = embeddings.select(col(idCol),
      posexplode(toDouble(col(vecCol))).as(Seq("__d0", "__x")))
      .withColumn("dim", col("__d0") + 1) // 1-based, matches SQL indexing
    val stats = broadcast(dims.groupBy(col("dim"))
      .agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx")))
    dims.join(stats, Seq("dim"))
      .select(
        col(idCol), col("dim").cast("long").as("dim"),
        when(col("__mx") > col("__mn"),
          round((col("__x") - col("__mn")) / (col("__mx") - col("__mn")) * 255.0))
          .otherwise(0.0).cast("int").as("q"))
  }

  /** Sum of squared distances to the assigned centroid — the k-means
    * objective, for convergence checks (deliberate driver-side scalar).
    */
  def inertia(embeddings: DataFrame, centroids: DataFrame, idCol: String, vecCol: String): Double =
    withNearest(embeddings, centroids, vecCol, "centroid_id")
      .agg(sum(col("__best.d"))).head().getDouble(0)

  /** Sign-LSH bucket id: `nBits` hyperplanes with deterministic pseudo-random
    * components derived from md5(plane || "|" || dim), mapped to [-0.5, 0.5).
    * Bucket = sum over planes of bit * 2^plane where bit = (dot >= 0).
    * Vectors in the same bucket are cosine-close candidates.
    *
    * The plane matrix is tiny (nBits x dims) and constant, so it is computed
    * once on the driver and embedded as literals — the per-row work is pure
    * codegen'd double math (no per-row md5), while an oracle can still
    * re-derive the exact same components from md5 in SQL.
    */
  def signLshBucket(vecCol: Column, dims: Int, nBits: Int): Column = {
    val bitOf = (p: Int) => {
      val plane = typedLit((0 until dims).map(i => planeComponent(p, i)))
      // codegen'd sequential fold — same accumulation order as the
      // aggregate/zip_with form, so bucket values are unchanged
      val d = graft.functions.VectorExprs.dot(vecCol, plane)
      when(d >= 0, lit(1L)).otherwise(lit(0L))
    }
    (0 until nBits).map(p => bitOf(p) * lit(1L << p)).reduce(_ + _)
  }

  /** Product-quantization codebook: the vector is split into `m` contiguous
    * subspaces of `dims / m` dimensions and each subspace gets its own
    * k-means codebook (trained with the deterministic `kmeansFit`). Output:
    * (subspace, centroid_id, vecCol = sub-centroid) — m·k tiny rows.
    *
    * PQ is the memory tier of large-scale ANN (IVF selects candidate
    * lists, PQ compresses residual vectors to m small codes — the FAISS
    * IVF+PQ layout, from the public Jégou/Douze/Schmid PQ paper): at 100 TB
    * the raw float vectors never need to be held per-row after encoding —
    * m bytes replace dims floats (64× here).
    *
    * The m subspace trainings are independent jobs over column slices of
    * the same scan, and each training is a chain of SMALL sequential jobs
    * (assign → means → checkpoint per iteration) that leaves most executor
    * slots idle — so they run from concurrent driver threads (guide §2.6:
    * overlap independent jobs to back-fill the tail). Results are identical
    * to the sequential order: each subspace's dataflow is deterministic and
    * they share no state.
    */
  def pqTrain(embeddings: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, k: Int, iters: Int): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val sub = dims / m
    // one k-means per subspace on the driver pool (§2.6: back-fill stage
    // tails); a failing subspace stops its siblings
    DriverPool.all(embeddings.sparkSession)((0 until m).map { s => () =>
      val sliced = embeddings.select(col(idCol),
        slice(toDouble(col(vecCol)), s * sub + 1, sub).as(vecCol))
      kmeansFit(sliced, idCol, vecCol, k, iters).withColumn("subspace", lit(s))
    })
      .reduce(_ unionByName _)
      .select(col("subspace"), col("centroid_id"), col(vecCol))
  }

  /** Encode every vector as its m-entry PQ code (nearest sub-centroid per
    * subspace). TRULY map-only at any scale: the m·k codebook collapses to
    * one broadcast array row and each subspace's argmin is a codegen'd
    * fold over that array — same shape as `withNearest`, no shuffle, no
    * per-subspace join.
    */
  def pqAssign(embeddings: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, m: Int, sub: Int): DataFrame = {
    val cb = broadcast(codebook
      .select(struct(col("subspace").cast("long").as("s"),
        col("centroid_id").cast("long").as("cid"),
        toDouble(col(vecCol)).as("cv")).as("__e"))
      .agg(array_sort(collect_list(col("__e"))).as("__cb")))
    embeddings.crossJoin(cb)
      .withColumn("__vd", toDouble(col(vecCol)))
      .withColumn("code", transform(sequence(lit(0), lit(m - 1)), s => {
        val entries = filter(col("__cb"), e => e.getField("s") === s.cast("long"))
        aggregate(entries,
          struct(lit(Double.MaxValue).as("d"), lit(-1L).as("cid")),
          (acc, e) => {
            val d = graft.functions.VectorExprs.distSq(
              slice(col("__vd"), s * lit(sub) + 1, lit(sub)), e.getField("cv"))
            when(d < acc.getField("d"), struct(d.as("d"), e.getField("cid").as("cid")))
              .otherwise(acc)
          }).getField("cid")
      }))
      .drop("__cb", "__vd")
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query's m·k
    * distance lookup table is computed IN-PLAN (codebook × broadcast
    * 1-row query) and broadcast; each row's approximate distance is the
    * sum of its code's table entries. The only wide operation is the
    * final TakeOrdered(k) — the scan never touches raw vectors.
    */
  def pqTopK(codes: DataFrame, codebook: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, sub: Int, k: Int): DataFrame = {
    val q = broadcast(query.select(toDouble(col(vecCol)).as("__q")))
    val dt = broadcast(codebook.crossJoin(q)
      .select(
        col("subspace").cast("int").as("__s"),
        col("centroid_id").cast("long").as("__cid"),
        graft.functions.VectorExprs.distSq(
          slice(col("__q"), col("subspace").cast("int") * sub + 1, lit(sub)),
          toDouble(col(vecCol))).as("__d")))
    codes
      .select(col(idCol), posexplode(col("code")).as(Seq("__s", "__cid")))
      .join(dt, Seq("__s", "__cid"))
      .groupBy(col(idCol))
      .agg(sum(col("__d")).as("approx_dist_sq"))
      .orderBy(col("approx_dist_sq"), col(idCol))
      .limit(k)
  }

  /** IVF-PQ search — the composition production ANN engines run (FAISS
    * `IndexIVFPQ`, non-residual variant): pick the `nprobe` coarse
    * clusters nearest the query, then run the PQ asymmetric-distance scan
    * over ONLY the vectors assigned to those clusters. Work per query is
    * O(nprobe/k_coarse · n) code lookups instead of O(n), on top of PQ's
    * m-byte-per-vector memory.
    *
    * Plan shape: the probed-cluster list is a k_coarse-row in-plan frame
    * (never collected); candidate restriction is a semi-join on the id —
    * uniformly distributed, AQE picks broadcast vs shuffle; the ADC table
    * stays the broadcast m·k lookup of `pqTopK`.
    */
  def ivfPqTopK(
      assigned: DataFrame,
      codes: DataFrame,
      codebook: DataFrame,
      query: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      centroidIdCol: String,
      nprobe: Int,
      sub: Int,
      k: Int): DataFrame = {
    val q = broadcast(query.select(toDouble(col(vecCol)).as("__q")))
    val probed = centroids.crossJoin(q)
      .select(col(centroidIdCol).cast("long").as("cluster_id"),
        graft.functions.VectorExprs.distSq(toDouble(col(vecCol)), col("__q")).as("__d"))
      .orderBy(col("__d"), col("cluster_id"))
      .limit(nprobe)
      .select(col("cluster_id"))
    val cands = assigned
      .join(broadcast(probed), Seq("cluster_id"), "left_semi")
      .select(col(idCol))
    pqTopK(codes.join(cands, Seq(idCol), "left_semi"), codebook, query, idCol, vecCol, sub, k)
  }

  /** Hyperplane component (p, i): first 8 hex chars of md5("p|i") as a
    * uint32, scaled to [-0.5, 0.5). Matches the SQL-side derivation
    * bit-for-bit (uint32 < 2^53 is exact in double).
    */
  private def planeComponent(p: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p|$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 4294967296.0 - 0.5
  }
}
