package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop breadth-first search from a seed set — the reachability
  * primitive behind "pages within k clicks of the landing set", blast-radius
  * queries on dependency graphs, and the seed-expansion step of
  * graph-sampled training-corpus construction.
  *
  * Classic frontier BFS as a driver loop over linear distributed passes:
  * round h joins ONLY the previous round's newly-settled frontier against
  * the adjacency list, anti-joins the visited set, and labels survivors
  * with distance h. With unit edge weights a vertex's final distance is
  * exactly the first round that reaches it, so no relaxation / re-visit
  * pass exists — each vertex crosses the loop's shuffles at most once in
  * its settling round, total work O(|E reachable| + |V reachable|)
  * regardless of hop count.
  *
  * 100 TB design: per-round cost tracks the FRONTIER's edges, never the
  * whole graph (the ConnectedComponents frontier-delta argument, here exact
  * rather than an optimization: BFS frontiers are disjoint by
  * construction). The three per-round ops are one equi-join on the frontier
  * id, one distinct, one left-anti against visited — all hash-partitioned
  * on vertex id, so a cluster run co-locates them under one exchange
  * reused round to round. Loop frames are [[Graph.loopFrame]]s.
  *
  * Determinism: the (id, dist) fixpoint is unique for a given graph + seed
  * set — no tie-breaks exist to get wrong, which is what makes the
  * operator oracle-checkable against an unrolled per-hop SQL derivation.
  */
object Bfs {

  /** @param edges   undirected edge list (one row per edge, either
    *                orientation; both directions are traversed)
    * @param seeds   one id column; distance 0, deduplicated internally
    * @param maxHops stop after this many rounds even if unexplored
    *                vertices remain (they are simply absent from the
    *                output — "within k hops" semantics, not truncation)
    * @return (id, dist) for every vertex within maxHops of a seed
    */
  def run(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, id: String, maxHops: Int): DataFrame = {
    // traversed every round — compute once
    val sym = Graph.loopFrame(
      Graph.sym(edges, src, dst).toDF("bfs_u", "bfs_v"), "bfs_u")
    var visited = Graph.loopFrame(seeds.select(col(id).as("bfs_id"))
      .distinct().withColumn("dist", lit(0L)), "bfs_id")
    var frontier = visited.select("bfs_id")
    var hop = 0L
    var frontierSize = frontier.count()
    while (frontierSize > 0 && hop < maxHops) {
      hop += 1
      // expand ONLY the frontier; anti-join drops anything already
      // settled (including frontier-internal edges and back-edges).
      // frontier and sym are both hashed on the vertex at the loop width,
      // so the expand join needs no new exchange; the one repartition
      // after the neighbour projection re-keys survivors for the distinct
      // AND the anti-join (visited is hashed on bfs_id too) in a single
      // shuffle of bare ids.
      val next = frontier
        .join(sym, frontier("bfs_id") === sym("bfs_u"))
        .select(col("bfs_v").as("bfs_id"))
        .repartition(Graph.LoopWidth, col("bfs_id")).distinct()
        .join(visited, Seq("bfs_id"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint()
      frontierSize = next.count() // the round's one job
      visited = Graph.loopFrame(visited.union(next), "bfs_id")
      frontier = next.select("bfs_id")
    }
    visited.select(col("bfs_id").as(id), col("dist"))
  }
}
