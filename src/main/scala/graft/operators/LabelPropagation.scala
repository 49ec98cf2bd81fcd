package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-round synchronous label propagation (LPA) — the near-linear
  * community-detection pass used to group near-duplicate clusters, carve a
  * click graph into topical neighbourhoods, or pre-partition a graph before
  * heavier algorithms.
  *
  * Plain LPA is notoriously non-deterministic (random update order, random
  * tie-breaks); this operator pins BOTH sources of randomness so the result
  * is a pure function of the graph — the property that makes it
  * differential-testable against an independent SQL derivation:
  *  - SYNCHRONOUS rounds: round r+1's votes all read round r's labels
  *    (no in-round cascades, no update-order dependence);
  *  - every vertex adopts the MOST FREQUENT label among its neighbours,
  *    ties broken toward the SMALLEST label value;
  *  - a fixed round count instead of "until stable" (synchronous LPA can
  *    2-cycle on bipartite structures — e.g. a single edge flips labels
  *    forever — so convergence is not a sound stopping rule; fixed rounds
  *    is, and is what the literature's synchronous variant does).
  *
  * 100 TB design: one round = one equi-join of the adjacency list against
  * the |V|-row label table + one (vertex, label) count + one per-vertex
  * arg-max window — all hash-partitioned on vertex id, per-round work
  * O(|E|) with no per-community materialization anywhere. The arg-max
  * window partitions by vertex id (|V| keys, no funnel). Labels are a
  * [[Graph.loopFrame]] per round.
  */
object LabelPropagation {

  /** @param vertices one id column; initial label = own id. Isolated
    *                 vertices keep their own label through every round.
    * @return (id, label) after exactly `rounds` synchronous rounds
    */
  def run(edges: DataFrame, src: String, dst: String,
      vertices: DataFrame, id: String, rounds: Int): DataFrame = {
    // the vote join reuses sym's and labels' exchanges round after round;
    // the arg-max window gets hash(lpa_u) from the one explicit
    // repartition per round
    val sym = Graph.loopFrame(
      Graph.sym(edges, src, dst).toDF("lpa_u", "lpa_v"), "lpa_v")
    var labels = Graph.loopFrame(
      vertices.select(col(id).as("lpa_id"), col(id).as("lpa_lab")), "lpa_id")
    val win = Window.partitionBy("lpa_u")
      .orderBy(desc("lpa_n"), asc("lpa_lab"))
    var r = 0
    while (r < rounds) {
      val votes = sym
        .join(labels, sym("lpa_v") === labels("lpa_id"))
        .groupBy("lpa_u", "lpa_lab").agg(count(lit(1)).as("lpa_n"))
      val winner = votes
        .repartition(Graph.LoopWidth, col("lpa_u"))
        .withColumn("lpa_rn", row_number().over(win))
        .filter(col("lpa_rn") === 1)
        .select(col("lpa_u").as("lpa_id"), col("lpa_lab"))
      // vertices with no neighbours never appear in votes — keep their
      // previous (= initial) label via the anti side of the old table
      labels = Graph.loopFrame(
        winner.union(labels.join(winner, Seq("lpa_id"), "left_anti")),
        "lpa_id")
      r += 1
    }
    labels.select(col("lpa_id").as(id), col("lpa_lab").as("label"))
  }
}
