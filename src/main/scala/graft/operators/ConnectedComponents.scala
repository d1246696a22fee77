package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Connected components over a near-duplicate pair graph — the step that
  * turns dedup PAIRS into dedup GROUPS (a corpus keeps one canonical doc
  * per component, not per pair; transitive duplicates A~B~C must collapse
  * even when (A,C) was never emitted as a pair).
  *
  * Algorithm: min-label propagation with POINTER JUMPING, run to the
  * fixpoint. Every vertex starts labeled with its own id; each round every
  * vertex (a) takes the minimum label among itself and its neighbors, then
  * (b) path-halves: label(v) ← min(label(v), label(label(v))). The jump
  * step is sound because label(v) is always the id of a vertex reachable
  * from v, so label(label(v)) is too (transitivity); it turns the round
  * count from O(diameter) into O(log diameter) — measured 9.3 s → ~2 s on
  * the sf0.1 near-dup graph, whose largest component has 1128 vertices.
  * The loop stops the first round that changes nothing; at the fixpoint
  * the neighbor step alone is stable, which over mirrored (undirected)
  * edges forces label equality across every edge — i.e. labels are
  * constant per component and equal to the component minimum.
  *
  * Scale shape: each round is one shuffle on the vertex id (groupBy-min
  * with map-side partial mins); the label frame is |V| rows regardless of
  * |E|, and `localCheckpoint` truncates the growing lineage per round.
  * The loop runs TO CONVERGENCE — labels only ever decrease, so "no label
  * changed this round" is equivalent to "sum of labels unchanged", one
  * cheap decimal aggregate per round rather than a change-detect join. A
  * fixed round count (the round-3 shape) silently under-merges any chain
  * longer than 2·rounds; convergence costs one extra round (the one that
  * observes the fixpoint) and makes the answer the true component minimum
  * at every diameter. Near-dup graphs are unions of small dense clusters
  * (diameter 1-2 for banding candidates), so the loop exits after ~3
  * rounds in practice; `maxRounds` is a runaway valve for pathological
  * inputs (diameter > maxRounds throws rather than returning a wrong
  * answer). For graphs where O(diameter) rounds is genuinely too many,
  * alternating large-star/small-star (Kiveris et al.) converges in
  * O(log d) rounds; this min-label form is the right tool for dedup
  * clusters.
  */
object ConnectedComponents {

  /** Rounds the last `minLabel` call took to converge — probe telemetry
    * only (ScaleProbe records it as evidence that the round count stays
    * log-bounded as the corpus scales); not part of the operator contract.
    */
  @volatile var lastRounds: Int = -1

  /** Release the checkpoint blocks backing a frame returned by
    * [[minLabel]]/[[dedupGroups]] to a caller with no scope open, which owns
    * it. The frame is NOT recomputable afterwards (checkpointing truncated
    * its lineage) — callers must be completely done with it. Kept as a
    * named delegate of `Materialize.release` because the benchmark harness
    * (`perfbench`) compiles against this signature.
    */
  def releaseResult(df: DataFrame): Unit = Materialize.release(df)

  /** Component labels at the min-label fixpoint over the undirected edge
    * list `(aCol, bCol)`. Output: (v, label) — one row per distinct
    * vertex; `label` = the minimum id in v's connected component.
    *
    * @throws IllegalStateException if the fixpoint is not reached within
    *         `maxRounds` rounds (component diameter > maxRounds).
    */
  def minLabel(edges: DataFrame, aCol: String, bCol: String, maxRounds: Int = 50): DataFrame = {
    // materialize the (possibly expensive) pair-producing pipeline ONCE,
    // BEFORE mirroring: a union of two selects over the raw `edges` plan
    // executes the upstream near-dup join once per branch (the O(block²)
    // predicate loop twice), and every propagation round would recompute
    // it again — the checkpointed pair list is scanned instead
    val e = Materialize.pin(edges.select(col(aCol).as("x"), col(bCol).as("y")))
    // the mirrored edge list is joined on `y` EVERY round; a union carries
    // no partitioning, so each round re-shuffled the |E| frame (the big
    // side) just to reach the same layout. Checkpointing it hash-partitioned
    // on `y` once makes every round's neighbor join exchange-free on the
    // edge side (guide §2.4) — at corpus scale that is rounds-1 fewer full
    // edge shuffles. `e`'s own checkpoint blocks are released as soon as the
    // partitioned copy exists, so peak pinned storage stays one edge list.
    val und = Materialize.pin(e.unionByName(e.select(col("y").as("x"), col("x").as("y")))
      .repartition(col("y")))
    Materialize.release(e, blocking = false)
    var labels = Materialize.pin(und.select(col("x").as("v")).distinct()
      .withColumn("label", col("v")))
    // decimal(38,0) so the convergence invariant (sum strictly decreases on
    // any label change) cannot be confused by a bigint overflow wraparound
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    // pointer jump (path halving): label(v) <- min(label(v),
    // label(label(v))). The input is unique per v, so the self-join on the
    // label-as-vertex adds at most one row and needs no re-group.
    def jump(ls: DataFrame): DataFrame = {
      val parent = ls.select(col("v").as("__p"), col("label").as("__pl"))
      ls.join(parent, ls("label") === parent("__p"), "left")
        .select(ls("v"),
          least(ls("label"), coalesce(col("__pl"), ls("label"))).as("label"))
    }
    // no initial sum action: round 1 strictly decreases the sum whenever an
    // edge exists (every (a,b), a<b drops b's label), and the empty graph
    // just converges after one trivial round of empty jobs
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
    // (|E| rows — the big one) is dead weight once the labels converged
    Materialize.release(und, blocking = false)
    lastRounds = round
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
