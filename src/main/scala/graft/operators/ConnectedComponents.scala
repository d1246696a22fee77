package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

import graft.core.Materialize

/** Connected components over a near-duplicate pair graph — the step that
  * turns dedup PAIRS into dedup GROUPS (a corpus keeps one canonical doc
  * per component, not per pair; transitive duplicates A~B~C must collapse
  * even when (A,C) was never emitted as a pair).
  *
  * Algorithm: local contraction, then propagation (the "contract locally,
  * then propagate" shape of Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC 2014).
  *
  *  1. Contract. One `mapPartitions` pass runs a union-find over each edge
  *     partition and emits (v, r) for every vertex the partition saw, r =
  *     the minimum id of v's component among that partition's edges.
  *  2. Resolve. One shuffle on v gives (v, label = min r) and counts the
  *     vertices that more than one partition saw. When there are none,
  *     every global component lies inside one partition, so the local
  *     components ARE the global ones and the labels are final. Every
  *     one-partition pair list (the usual dedup pair list) exits here
  *     after ONE Spark job of its own: the pin of the resolved labels,
  *     whose map stage runs the contraction over the pair pipeline and
  *     whose result stage counts the spanning vertices. On the
  *     `corpus_dedup` benchmark (4 cores) that took the groups stage,
  *     counting the pair list's read and the write, from 25 jobs and
  *     ~2.7 s to 3 jobs and ~0.6 s.
  *  3. Propagate, only when some vertex spans partitions: min-label
  *     propagation with POINTER JUMPING over the star edges (v, r), v ≠ r,
  *     starting from the resolved labels. The star edges connect exactly
  *     what the input edges connect (each input edge lies in one local
  *     component, each local component is a star on its root), and there
  *     are at most as many as the contraction emitted. Each round every
  *     vertex (a) takes the minimum label among itself and its neighbors,
  *     then (b) path-halves: label(v) ← min(label(v), label(label(v))). The
  *     jump is sound because label(v) is always the id of a vertex in v's
  *     component, and it makes the round count O(log diameter) instead of
  *     O(diameter). The loop stops the first round that changes nothing; at
  *     the fixpoint the neighbor step alone is stable, which over mirrored
  *     edges forces equal labels across every edge, i.e. one label per
  *     component, the component minimum.
  *
  * Memory: the contraction holds one primitive long → long entry per
  * vertex of its partition (a partial aggregation's bound) and emits one
  * row per (partition, vertex), cached for the propagation loop and freed
  * on the exit; the resolved frame and every round's label frame are |V|
  * rows. Rounds are one shuffle on the vertex id each, and a
  * `localCheckpoint` per round truncates the lineage.
  *
  * Convergence: labels only ever decrease, so "no label changed this
  * round" is equivalent to "sum of labels unchanged", one cheap decimal
  * aggregate per round rather than a change-detect join. The loop runs to
  * convergence; a fixed round count silently under-merges any chain longer
  * than 2·rounds. `maxRounds` is a runaway valve for pathological inputs:
  * not converging within it throws rather than returning a wrong answer.
  */
object ConnectedComponents {

  private val LongPair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Release the checkpoint blocks backing a frame returned by
    * [[minLabel]]/[[dedupGroups]] to a caller with no scope open, which owns
    * it. The frame is NOT recomputable afterwards (checkpointing truncated
    * its lineage) — callers must be completely done with it. Kept as a
    * named delegate of `Materialize.release` because the benchmark harness
    * (`perfbench`) compiles against this signature.
    */
  def releaseResult(df: DataFrame): Unit = Materialize.release(df)

  /** Component labels over the undirected edge list `(aCol, bCol)`.
    * Output: (v, label) — one row per distinct vertex; `label` = the
    * minimum id in v's connected component. Ids are integral; the output
    * columns have the wider of the two input columns' types.
    *
    * @throws IllegalArgumentException if an id column is not integral, or
    *         (from the first action) an id is null; the message names the
    *         column.
    * @throws IllegalStateException if the fixpoint is not reached within
    *         `maxRounds` rounds (component diameter > maxRounds).
    */
  def minLabel(edges: DataFrame, aCol: String, bCol: String, maxRounds: Int = 50): DataFrame = {
    val idType = Seq(aCol, bCol)
      .map(integralType(edges, _, "connected components: vertex id")).maxBy(_.defaultSize)
    val spark = edges.sparkSession
    // cached, not pinned: the resolve job fills it as it runs the (possibly
    // expensive) pair-producing pipeline once, and only the propagation
    // loop reads it again
    val local = Materialize.cache(contract(edges, aCol, bCol))
    // vertices seen by more than one partition, counted by the resolve job
    // itself: a task's updates merge once, when it succeeds, and only
    // "none" versus "some" is read
    val spanning = spark.sparkContext.longAccumulator("connected components: spanning vertices")
    val resolved = local.as(LongPair).rdd
      .mapValues(r => (r, 1))
      .reduceByKey((x, y) => (math.min(x._1, y._1), x._2 + y._2))
      .map { case (v, (label, n)) => if (n > 1) spanning.add(1); (v, label) }
    val start = Materialize.pin(spark.createDataset(resolved)(LongPair).toDF("v", "label"))
    val labels =
      if (spanning.value == 0) {
        Materialize.release(local, blocking = false)
        start
      } else propagate(local, start, maxRounds)
    labels.select(col("v").cast(idType).as("v"), col("label").cast(idType).as("label"))
  }

  /** The type of id column `c`; anything but an integral type fails here,
    * with a message that starts with `role` and names the column.
    */
  private[operators] def integralType(df: DataFrame, c: String, role: String): DataType =
    df.select(col(c)).schema.head.dataType match {
      case t @ (ByteType | ShortType | IntegerType | LongType) => t
      case t => throw new IllegalArgumentException(
        s"$role column `$c` is ${t.simpleString}; ids must be integral")
    }

  /** Step 1: (v, r) for every vertex of every partition, r = the minimum
    * id of v's component among the partition's own edges; a vertex seen
    * only in self-loops gives (v, v).
    */
  private def contract(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(col(aCol).cast(LongType), col(bCol).cast(LongType))
      .mapPartitions((rows: Iterator[Row]) => localComponents(rows, aCol, bCol))(LongPair)
      .toDF("v", "r")

  private def localComponents(rows: Iterator[Row], aCol: String, bCol: String): Iterator[(Long, Long)] = {
    // parent pointers, a root being its own parent; linking the larger root
    // under the smaller keeps every root its component's minimum id
    val parent = new Bridge.LongLongMap
    def find(v: Long): Long = {
      var x = v
      var p = parent.getOrElseUpdate(x, x)
      // path splitting: every vertex on the way skips to its grandparent
      while (p != x) {
        val g = parent.getOrElseUpdate(p, p)
        parent(x) = g
        x = p
        p = g
      }
      x
    }
    def id(r: Row, i: Int, c: String): Long =
      if (r.isNullAt(i)) throw new IllegalArgumentException(
        s"connected components: null vertex id in column `$c`")
      else r.getLong(i)
    rows.foreach { r =>
      val ra = find(id(r, 0, aCol))
      val rb = find(id(r, 1, bCol))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keysIterator.map(v => (v, find(v)))
  }

  /** Step 3: min-label propagation with pointer jumping over the star
    * edges of `local`, from the resolved labels `start`, to the fixpoint.
    */
  private def propagate(local: DataFrame, start: DataFrame, maxRounds: Int): DataFrame = {
    val star = local.filter(col("v") =!= col("r")).select(col("v").as("x"), col("r").as("y"))
    // the mirrored edge list is joined on `y` EVERY round; a union carries
    // no partitioning, so each round would re-shuffle it just to reach the
    // same layout. Checkpointing it hash-partitioned on `y` once makes every
    // round's neighbor join exchange-free on the edge side (guide §2.4).
    // The contraction's cache is released as soon as this copy exists, so
    // peak stored data stays one edge list.
    val und = Materialize.pin(star.unionByName(star.select(col("y").as("x"), col("x").as("y")))
      .repartition(col("y")))
    Materialize.release(local, blocking = false)
    var labels = start
    // decimal(38,0) so the convergence invariant (sum strictly decreases on
    // any label change) cannot be confused by a bigint overflow wraparound
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    // pointer jump (path halving): label(v) <- min(label(v),
    // label(label(v))). The input is unique per v, so the self-join on the
    // label-as-vertex adds at most one row and needs no re-group.
    def jump(ls: DataFrame): DataFrame = {
      val parent = ls.select(col("v").as("__p"), col("label").as("__pl"))
      ls.join(parent, ls("label") === parent("__p"), "left")
        .select(ls("v"),
          least(ls("label"), coalesce(col("__pl"), ls("label"))).as("label"))
    }
    // no initial sum action: the first round is compared with nothing, so
    // the loop always runs at least two rounds
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var round = 0
    // the previous round's label frame is freed as soon as the next
    // round's has materialized (pins are eager), so at any moment at most
    // TWO |V|-row label frames are pinned instead of one per round — on a
    // 100 TB corpus the label frame is billions of rows, and an un-freed
    // checkpoint per round is a real storage leak. The releases do not
    // block: the loop never reads a released frame again, and a blocking
    // release would add its latency to every round.
    while (!converged && round < maxRounds) {
      val viaNeighbor = und
        .join(labels, col("y") === col("v"))
        .select(col("x").as("v"), col("label"))
      val stepped = labels.unionByName(viaNeighbor)
        .groupBy(col("v"))
        .agg(min(col("label")).as("label"))
      // two pointer jumps per round: each jump composes the label with
      // itself (v reaches label(v) reaches label(label(v))), costing one
      // more |V|-row join inside the same materialization. Measured on the
      // sf0.1 simhash graph with its 1128-vertex random-id chain component
      // (CC_ROUNDS.json): rounds stay at 8 ≈ log2(chain) for EVERY jump
      // count in {1,2,4,8} — the neighbor-step + first jump already
      // achieves per-round doubling, and further jumps do not compound on
      // random id layouts — while per-round plan cost grows with the count
      // (5.0s at 2 vs 7.1s at 4 vs 45.9s at 8 for the full convergence).
      // Dense near-dup clique graphs (the factor-100 probe) converge in 2
      // rounds at any count. Two is the measured cost floor, keeping one
      // extra jump over one for layouts where halving does compound
      val prev = labels
      labels = Materialize.pin(jump(jump(stepped)))
      Materialize.release(prev, blocking = false)
      val nextSum = labelSum(labels)
      converged = round > 0 && nextSum == prevSum
      prevSum = nextSum
      round += 1
    }
    // the mirrored edge list is only read inside the loop; its checkpoint
    // (the big one) is dead weight once the labels converged
    Materialize.release(und, blocking = false)
    if (!converged) {
      // error path: no frame handle escapes, so the final round's label
      // checkpoint would stay pinned forever in a long-lived session —
      // release it before surfacing the failure
      Materialize.release(labels, blocking = false)
      throw new IllegalStateException(
        s"min-label propagation did not converge within $maxRounds rounds " +
          "(component diameter exceeds maxRounds); raise maxRounds or use a " +
          "star-contraction algorithm for this graph")
    }
    labels
  }

  /** Dedup-group view over a pair list: every vertex of the pair graph
    * with its canonical (minimum-id) group representative and a flag for
    * whether the row IS the canonical one.
    */
  def dedupGroups(pairs: DataFrame, aCol: String, bCol: String, maxRounds: Int = 50): DataFrame =
    minLabel(pairs, aCol, bCol, maxRounds)
      .select(col("v").as("member_id"), col("label").as("group_id"),
        (col("v") === col("label")).as("is_canonical"))
}
