package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Max-normalized integer HITS (Kleinberg's hubs-and-authorities, JACM
  * 1999) over a directed edge list — the bipartite-reinforcement ranking
  * that separates pages many good hubs point TO (authorities) from pages
  * that point AT many good authorities (hubs); PageRank's single score
  * cannot make that distinction.
  *
  * Synchronous rounds, all-integer (the PageRank fixed-point discipline):
  *
  *   h_0(v)     = SCALE                                    (= 10^6)
  *   a_{t+1}(v) = norm( Σ_{u→v} h_t(u) )
  *   h_{t+1}(v) = norm( Σ_{v→w} a_{t+1}(w) )
  *   norm(x)    = x·SCALE DIV max(x)    — max-normalization, not L2
  *
  * Classic HITS L2-normalizes, which needs sqrt of a float sum; dividing
  * by the MAX instead keeps every step an integer multiply/divide/sum
  * (bit-exact, engine-agnostic, zero margins) and preserves the ranking
  * at every round — normalization in HITS exists only to stop magnitude
  * blow-up, and any positive scalar divisor leaves the reinforcement
  * recurrence's relative scores unchanged. The truncation is part of the
  * DEFINED algorithm; the DuckDB oracle replays the identical integer
  * recurrence unrolled (the PageRank/LPA precedent). Nodes with no
  * in-edges (out-edges) score authority (hub) 0 from round 1 on.
  *
  * The pre-normalization sum is bounded by SCALE·maxdeg; the checked
  * multiply (try_multiply + raise_error, the profile_drift discipline)
  * fails loudly past maxdeg ≈ 9.2·10⁶ instead of silently wrapping where
  * DuckDB's HUGEINT stays exact.
  *
  * 100 TB design: per round two hash joins of scores to edges and two
  * map-side-combinable LONG-sum aggregations — linear in |E|; the max
  * rides a broadcast 1-row aggregate; score frames are a
  * [[Graph.loopFrame]] per round.
  */
object Hits {
  val Scale = 1000000L

  /** @param edges directed edges (caller dedups)
    * @return (id, auth_q6, hub_q6) */
  def run(edges: DataFrame, src: String, dst: String,
      nodes: DataFrame, id: String, iters: Int): DataFrame = {
    val e = Graph.loopFrame(
      edges.select(col(src).as("ht_src"), col(dst).as("ht_dst")), "ht_src")
    val v = Graph.loopFrame(nodes.select(col(id).as("ht_id")), "ht_id")
    def checkedNorm(sumCol: String, maxCol: String): org.apache.spark.sql.Column =
      when(col(maxCol) > 0L,
        expr(s"coalesce(try_multiply($sumCol, ${Scale}L), " +
          s"raise_error('hits: normalization overflow')) DIV $maxCol"))
        .otherwise(0L)
    def halfStep(scores: DataFrame, joinSide: String, groupSide: String)
        : DataFrame = {
      val raw = scores.join(e, col("ht_id") === col(joinSide))
        .select(col(groupSide).as("ht_id"), col("ht_x"))
        .groupBy("ht_id").agg(sum("ht_x").as("ht_s"))
      val m = raw.agg(max("ht_s").as("ht_m"))
      Graph.loopFrame(v.join(raw, Seq("ht_id"), "left")
        .select(col("ht_id"), coalesce(col("ht_s"), lit(0L)).as("ht_s"))
        .crossJoin(broadcast(m))
        .select(col("ht_id"), checkedNorm("ht_s", "ht_m").as("ht_x")),
        "ht_id")
    }
    var hub = Graph.loopFrame(
      v.select(col("ht_id"), lit(Scale).as("ht_x")), "ht_id")
    var auth = hub
    for (_ <- 1 to iters) {
      auth = halfStep(hub, "ht_src", "ht_dst")
      hub = halfStep(auth, "ht_dst", "ht_src")
    }
    auth.select(col("ht_id").as(id), col("ht_x").as("auth_q6"))
      .join(hub.select(col("ht_id").as(id), col("ht_x").as("hub_q6")),
        Seq(id))
  }
}
