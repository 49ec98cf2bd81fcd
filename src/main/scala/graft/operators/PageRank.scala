package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point integer PageRank with restart on a seed set S — the
  * quality-propagation operator large-scale corpus curation runs over
  * link/click graphs (domain authority for crawl prioritization, source
  * weighting for mixture rebalance). With S = every node it is classic
  * PageRank; with a smaller S it is personalized PageRank (random walk with
  * restart: Page et al. 1999 §6's personalized vector; Jeh & Widom, WWW
  * 2003), the "relevance to THESE pages" ranking recommendation and
  * related-content pipelines run.
  *
  * Ranks live in INTEGER fixed-point (SCALE = 10^12): every step is an
  * integer division, multiplication or sum, so the result is bit-exact and
  * engine-agnostic BY CONSTRUCTION — no float-sum ordering, no libm, no
  * measured margins (the DuckDB oracles replay the identical integer
  * recurrence with `//`). The truncation is part of the DEFINED algorithm,
  * not an approximation error to argue about:
  *
  *   r_0(i)     = [i ∈ S] · (SCALE DIV |S|)
  *   r_{t+1}(i) = [i ∈ S] · (150000000000 DIV |S|)        // 0.15·SCALE
  *              + (85 * Σ_{j→i} (r_t(j) DIV od(j))) DIV 100
  *
  * Dangling mass (nodes without out-edges) leaks, as in the classic
  * simplified formulation — both engines implement the same choice. Nodes
  * unreachable from S stay at exactly 0 — the property that makes PPR a
  * seed-locality score.
  *
  * 100 TB design: per iteration one hash join of ranks to edges on src and
  * one groupBy dst — both linear shuffles over the edge list (the sum is a
  * LONG sum: exact, order-independent, map-side combinable). |S| rides a
  * broadcast 1-row aggregate, and the seed flag is a left-join-derived 0/1
  * column carried on the rank frame, so seeding adds no shuffle. The
  * caller's upstream pipelines materialize at ambient parallelism; only the
  * loop frames run at [[Graph.LoopWidth]].
  */
object PageRank {
  val Scale = 1000000000000L

  /** @param edges directed edge list (caller dedups if edge multiplicity
    *              should not weight the walk)
    * @param nodes one id column; nodes without in-edges keep the teleport
    *              mass only
    * @param seeds one column named like `id`, distinct — the restart set
    * @return (id, rank) — rank in SCALE-relative fixed point
    */
  def run(edges: DataFrame, src: String, dst: String,
      nodes: DataFrame, id: String, seeds: DataFrame,
      iters: Int): DataFrame = {
    val e = edges.select(col(src).as("pr_src"), col(dst).as("pr_dst"))
    val eo = Graph.loopFrame(
      e.join(e.groupBy("pr_src").agg(count(lit(1)).as("pr_od")), "pr_src"),
      "pr_src")
    val sd = seeds.select(col(id).as("pr_id"), lit(1).as("pr_seed"))
    val v = Graph.loopFrame(nodes.select(col(id).as("pr_id"))
      .join(sd, Seq("pr_id"), "left")
      .select(col("pr_id"), coalesce(col("pr_seed"), lit(0)).as("pr_seed")),
      "pr_id")
    // |S| as a broadcast 1-row aggregate, never a driver constant
    val nsRow = v.agg(sum(col("pr_seed")).cast("long").as("pr_ns"))
    var ranks = v
      .crossJoin(broadcast(nsRow))
      .select(col("pr_id"), col("pr_seed"),
        expr(s"pr_seed * (${Scale}L DIV pr_ns)").as("pr_r"), col("pr_ns"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val contrib = ranks.join(eo, col("pr_id") === col("pr_src"))
        .select(col("pr_dst"), expr("pr_r DIV pr_od").as("pr_c"))
        .groupBy("pr_dst").agg(sum("pr_c").as("pr_s"))
      ranks = Graph.loopFrame(
        ranks.join(contrib, col("pr_id") === col("pr_dst"), "left")
          .select(col("pr_id"), col("pr_seed"),
            (expr(s"pr_seed * (${Scale / 100 * 15}L DIV pr_ns)") +
              expr("(85 * coalesce(pr_s, 0L)) DIV 100")).as("pr_r"),
            col("pr_ns")),
        "pr_id")
    }
    ranks.select(col("pr_id").as(id), col("pr_r").as("rank"))
  }
}
