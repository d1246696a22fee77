package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Fixed-iteration PageRank over an edge list — the link-graph authority
  * signal corpus pipelines use to weight sources (the CommonCrawl-style
  * "domain rank" that feeds crawl prioritization and quality weighting;
  * Page et al. 1999). Iterations are unrolled into ONE declarative plan, no
  * driver-side loop state and no collect.
  *
  * Replay-exact by construction: the per-node neighbor sum is the ONE place
  * PageRank adds floating doubles in engine-dependent order, so it is
  * computed as an ordered fold — collect the contributions, sort them, and
  * left-fold-add — which any replaying engine can sequence identically
  * (sorting plain doubles is enough: equal values sum the same regardless
  * of tie order). All remaining arithmetic is IEEE division/multiplication
  * with explicit parenthesization. Dangling mass is not redistributed
  * (nodes without in-edges settle at `1 - damping`), the standard simplified
  * formulation.
  *
  * Shape at scale: per iteration, one shuffle join of the rank frame
  * against the edge list on src plus one groupBy(dst). The sorted fold
  * buffers a node's IN-NEIGHBOR contributions in its aggregation row, so
  * memory is bounded by max in-degree — fine for bounded-fanout graphs
  * (bipartite activity graphs, doc-link graphs after dedup); for web-scale
  * hub nodes swap the fold for plain `sum` (giving up bit-replay, keeping
  * the plan) or pre-aggregate hot keys with the SkewJoin salting pattern.
  * Nothing is pinned: the distinct edge list, the node set and the
  * degree-joined edges are cached, owned by the caller's scope (the line
  * that runs the query), and the rank frame stays lazy.
  */
object PageRank {

  // fused codegen sort+fold (see OrderedSumDoubles) — bit-identical to
  // aggregate(sort_array(collect_list(c)), 0.0, +) but not interpreted
  private def orderedSum(c: Column): Column =
    graft.functions.VectorExprs.orderedSum(collect_list(c))

  /** @param edges     directed edge list; duplicates are collapsed
    * @param srcCol    source-node column (integral or string key)
    * @param dstCol    destination-node column
    * @return (node, rank) after `iterations` damped propagation rounds
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      damping: Double = 0.85): DataFrame = {
    val e = Materialize.cache(edges
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct())
    val nodes = Materialize.cache(e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node")))
      .distinct())
    val nNodes = nodes.agg(count(lit(1)).as("__n"))
    val outdeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__outdeg"))
    val withDeg = Materialize.cache(e.join(outdeg, Seq("__src")))

    val init = nodes
      .crossJoin(broadcast(nNodes))
      .select(col("node"),
        (lit(1.0) / col("__n").cast("double")).as("rank"))

    // every iteration stays lazy: at bounded iteration counts the unrolled
    // lineage is fine, and an eager pin per iteration would cost a full
    // extra materialization job + a pinned |V|-row block set each (for
    // loops with many iterations, add a periodic pin — lineage doubles per
    // round)
    (1 to iterations).foldLeft(init) { (ranks, _) =>
      val sums = withDeg
        .join(ranks, withDeg("__src") === ranks("node"))
        .select(col("__dst"),
          (col("rank") / col("__outdeg").cast("double")).as("__contrib"))
        .groupBy(col("__dst"))
        .agg(orderedSum(col("__contrib")).as("__s"))
      nodes
        .join(sums, nodes("node") === sums("__dst"), "left")
        .select(col("node"),
          (lit(1.0 - damping) + (lit(damping) * coalesce(col("__s"), lit(0.0))))
            .as("rank"))
    }
  }
}
