package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation —
  * the cluster step of cluster-level dedup (near-dup pairs → clusters →
  * one keeper per cluster), run as a driver-side loop over linear
  * distributed passes.
  *
  * Each iteration: every vertex takes the minimum label among itself and
  * its neighbours; converged when no label changes. The fixpoint is the
  * exact per-component minimum vertex id — deterministic, engine-agnostic
  * (the DuckDB oracle replays it as a recursive reachability CTE).
  *
  * 100 TB design: two hash-joins + one aggregation per iteration, all
  * linear — never a per-component materialization. Two refinements over
  * plain propagation:
  *  - POINTER JUMPING (label(v) ← label(label(v))) fused into each round:
  *    rounds ≈ log₂(diameter) rather than diameter — measured on the sf0.1
  *    near-dup graph it converges in 6 rounds vs 11 (the plain loop spent 6
  *    of its 11 rounds walking single-digit label changes down chains), and
  *    an adversarial path graph cannot force O(n) rounds.
  *  - FRONTIER-DELTA propagation: only vertices whose label changed last
  *    round feed the neighbour-min join. A label that did not change was
  *    already propagated in the round it last changed, so dropping stable
  *    vertices loses nothing; per-round edge work is proportional to
  *    edges touching the frontier (measured on sf0.1: 2681→386→95→24→7→0
  *    changes), not the whole graph — the property that matters when the
  *    graph is 100 TB and the frontier collapses after two rounds.
  * Each round's labels are checkpointed at [[Graph.LoopWidth]].
  */
object ConnectedComponents {

  /** @param edges    undirected edge list as two id columns (one row per
    *                 edge, either orientation)
    * @param vertices one id column; isolated vertices keep their own id as
    *                 component
    * @param onRound  observer called once per round with (round, frontier
    *                 size) — the loop's only telemetry; the operator spec
    *                 uses it to pin the frontier-collapse contract (edge
    *                 work tracks the delta, never the whole graph)
    * @return (id, comp) — comp is the smallest vertex id in the component
    */
  def run(edges: DataFrame, src: String, dst: String,
      vertices: DataFrame, id: String, maxIter: Int = 25,
      onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    // symmetric orientation so min labels flow both ways; reused every
    // iteration, so computed once
    val sym = Graph.loopFrame(
      Graph.sym(edges, src, dst).toDF("cc_src", "cc_dst"), "cc_src")
    var labels = Graph.loopFrame(
      vertices.select(col(id).as("cc_id"), col(id).as("cc_comp")), "cc_id")
    // the frontier: vertices whose label changed last round (round 1: all —
    // nothing has propagated yet). A vertex changed by EITHER mechanism
    // (edge min or pointer jump) re-enters the frontier.
    var delta = labels
    var changed = 1L
    var iter = 0
    // DOUBLE PROPAGATION: each scheduled round composes TWO half-steps
    // (edge-min + jump, twice) before the single delta count, so the loop
    // pays the fixed per-job scheduling cost for two propagation hops.
    // The first half's lazy checkpoint materializes inside the same job
    // and is cache-reused by the second half's three references to it.
    // Convergence stays sound: the exit condition is "the second half,
    // fed the first half's frontier, changed nothing" — exactly the
    // single-step loop's termination test, just observed on the latter
    // half. A/B-measured at sf0.1/local[32]: scheduled rounds halve
    // (6 → 3) but warm wall-clock is NEUTRAL (3.6-3.8s vs 3.4-4.0s,
    // within ambient noise — locally the count job's stages, not the job
    // count, set the floor). Kept anyway: on a real cluster each round is
    // a full-fleet sync barrier, and halving barrier count halves the
    // straggler-tail exposure that local[32] cannot exhibit.
    while (changed > 0 && iter < maxIter) {
      val (s1, d1) = halfStep(sym, labels, delta)
      val (s2, d2) = halfStep(sym, s1, d1)
      delta = d2
      // the delta count is the round's ONE job — it materializes both
      // halves' lazy checkpoints as a side effect (an eager checkpoint
      // plus a separate count paid two scheduled jobs per round, and the
      // fixed per-job cost, not data, dominates the loop locally)
      changed = delta.count()
      labels = s2
      iter += 1
      // telemetry reports the round's END frontier (vertices still moving
      // after both halves) — the count the loop actually observes
      onRound(iter, changed)
    }
    // a wrong answer must never look like a right one: the min-label
    // fixpoint IS connected components, a truncated iteration is not
    require(changed == 0,
      s"connected components did not converge within $maxIter iterations")
    labels.select(col("cc_id").as(id), col("cc_comp").as("comp"))
  }

  /** One propagation half-step: neighbour-min over the frontier, then the
    * frontier-restricted pointer jump. The jump can only lower v's label
    * when label(v)'s OWN label moved this half, so the build side is just
    * the changed vertices — per-round jump work tracks the frontier, not
    * O(V). A rewrite the restricted jump misses still arrives via edge
    * propagation in a later half — the jump is an accelerator, the
    * edge-min step alone is the correct fixpoint. least() is
    * belt-and-braces monotonicity (comp(x) ≤ x).
    * Returns (labels-after, frontier-after), both views of one lazily
    * checkpointed step so a composed caller computes the step once.
    * Package-private so the operator spec can pin the frontier
    * restriction directly (an empty delta must change NOTHING, even on
    * labels that a full-graph build side would rewrite). */
  private[operators] def halfStep(sym: DataFrame, labels: DataFrame,
      delta: DataFrame): (DataFrame, DataFrame) = {
    val nbrMin = sym.join(delta.withColumnRenamed("cc_id", "cc_did")
        .withColumnRenamed("cc_comp", "cc_dcomp"),
        col("cc_src") === col("cc_did"))
      .groupBy(col("cc_dst")).agg(min("cc_dcomp").as("cc_nbr"))
    val prop = labels.join(nbrMin, col("cc_id") === col("cc_dst"), "left")
      .select(col("cc_id"), col("cc_comp").as("cc_old"),
        least(col("cc_comp"), coalesce(col("cc_nbr"), col("cc_comp")))
          .as("cc_p"))
    val m = prop.filter(col("cc_p") =!= col("cc_old"))
      .select(col("cc_id").as("m_id"), col("cc_p").as("m_comp"))
    // re-key the half-step's output on vertex id at the loop width before
    // it checkpoints: the next half's delta join and labels join then both
    // reuse this one exchange of skinny rows
    val step = prop.join(m, col("cc_p") === col("m_id"), "left")
      .select(col("cc_id"), col("cc_old"),
        least(col("cc_p"), coalesce(col("m_comp"), col("cc_p")))
          .as("cc_comp"))
      .repartition(Graph.LoopWidth, col("cc_id"))
      .localCheckpoint(eager = false)
    (step.select("cc_id", "cc_comp"),
      step.filter(col("cc_comp") =!= col("cc_old"))
        .select("cc_id", "cc_comp"))
  }
}
