package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Degree-capped common-neighbor link prediction over an undirected edge
  * list — the candidate-generation pass of graph-based recommendation:
  * for every unlinked node pair at distance 2, count shared neighbors and
  * rank by neighborhood Jaccard cn/(da+db-cn), emitted as an EXACT
  * RATIONAL (cn, jac_den) plus a 1e6 fixed-point quantization for the
  * total order — zero floats.
  *
  * Wedge enumeration from the shared neighbor is the standard exact CN
  * algorithm and is Σd² by construction; `maxDegree` is the 100 TB lever:
  * wedge CENTERS with degree above the cap are dropped (a join against
  * the low-degree nodes, which carries each center's degree) before the
  * self-join, so the per-center pair
  * space is bounded by cap²/2 and total candidate work by cap·|E| instead
  * of one hub of degree 10⁵ emitting 5×10⁹ pairs in a single task group.
  * Dropping hubs as wedge centers is principled, not just cheap: a
  * shared neighbor that links to everything carries no Jaccard signal
  * (it inflates cn for all pairs equally while the denominator already
  * counts it), which is why production link predictors (Adamic-Adar and
  * friends) down-weight or drop high-degree commons entirely.
  *
  * The cap only changes output when a node's degree exceeds it — callers
  * that need exact parity with an uncapped oracle pick a cap above the
  * graph's max degree (graft's click-graph fixture: max degree 99 at
  * sf0.1) and cluster users tune it to their degree distribution.
  */
object CommonNeighbors {

  /** Candidate (a, b) wedge endpoints, one row per (center, pair) wedge,
    * with the center's degree `d` — the pre-aggregation pair stream,
    * exposed so tests can assert the O(cap·|E|) bound on the enumerated
    * pair count directly. Every center has d >= 2 (it closes a wedge).
    *
    * @param und distinct undirected edges as (u, v) with u < v
    */
  def wedgePairs(und: DataFrame, maxDegree: Long): DataFrame =
    wedges(und, Graph.degrees(und), maxDegree)

  /** The adjacency is eagerly localCheckpointed (the PageRank /
    * ConnectedComponents lineage-cut pattern): without it the caller's
    * whole edge derivation — in the click-graph keys a parquet scan + lag
    * window + distinct — is re-planned once per consumer, and per-branch
    * inferred IsNotNull filters make the subtrees non-identical so
    * ReuseExchange cannot collapse them. */
  private def wedges(und: DataFrame, deg: DataFrame,
      maxDegree: Long): DataFrame = {
    val adj = Graph.sym(und, "u", "v").toDF("w", "x").localCheckpoint()
    // the cap: only low-degree nodes survive as wedge centers
    val capped = adj.join(deg.filter(col("d") <= lit(maxDegree))
      .withColumnRenamed("node", "w"), Seq("w"))
    capped.as("e1").join(capped.as("e2").drop("d"), "w")
      .filter(col("e1.x") < col("e2.x"))
      .select(col("e1.x").as("a"), col("e2.x").as("b"), col("d"))
  }

  /** The one candidate frame of all four scorers: every unlinked pair at
    * distance 2 as (a, b, cn, w_sum, da, db) — its common-neighbor count,
    * the sum of `weight` (a column of the wedge center's degree `d`) over
    * its wedges, and both endpoint degrees. The four rankings are
    * comparable row-for-row on it. `und` and the degree table are
    * checkpointed first: they feed the wedges, the existing-edge anti-join
    * and both degree joins, so the caller's edge derivation runs once. */
  private def candidates(und: DataFrame, maxDegree: Long,
      weight: Column): DataFrame = {
    val u = und.localCheckpoint()
    val deg = Graph.degrees(u).localCheckpoint()
    val scored = wedges(u, deg, maxDegree)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum(weight).as("w_sum"))
    scored.join(u, scored("a") === u("u") && scored("b") === u("v"),
        "left_anti")
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
  }

  private def top(scored: DataFrame, score: String, topK: Int): DataFrame =
    scored.orderBy(desc(score), asc("a"), asc("b")).limit(topK)

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang, "Predicting
    * missing links via local information", Eur. Phys. J. B 71, 2009 — the
    * down-weighted-commons refinement of plain CN): each shared neighbor z
    * contributes 1/deg(z), so a hub common neighbor counts for little and
    * a degree-2 bridge counts for much. The per-center weight is quantized
    * to the exact integer ⌊10⁶/deg(z)⌋ BEFORE the sum (each wedge's
    * contribution is a pure integer function of the center's degree), so
    * the per-pair score Σ⌊10⁶/d_z⌋ is an order-independent exact long in
    * both engines — zero floats, the markov_next_page q6 discipline.
    *
    * The `maxDegree` center cap is even more principled here — a center
    * above the cap contributes < 10⁶/cap per wedge, i.e. the pairs it
    * would add are exactly the ones RA already down-weights toward zero.
    *
    * @param und distinct undirected edges as (u, v) with u < v
    * @return (a, b, cn, ra_q6) ordered by ra_q6 desc, a, b
    */
  def resourceAllocation(und: DataFrame, maxDegree: Long,
      topK: Int): DataFrame =
    top(candidates(und, maxDegree, expr("1000000L DIV d"))
      .select(col("a"), col("b"), col("cn"), col("w_sum").as("ra_q6")),
      "ra_q6", topK)

  /** Top-k unlinked pairs by neighborhood Jaccard.
    *
    * @param und distinct undirected edges as (u, v) with u < v
    * @return (a, b, cn, jac_den, jac_q6) ordered by jac_q6 desc, a, b
    */
  def run(und: DataFrame, maxDegree: Long, topK: Int): DataFrame =
    top(candidates(und, maxDegree, lit(0L))
      .select(col("a"), col("b"), col("cn"),
        (col("da") + col("db") - col("cn")).as("jac_den"),
        // checked multiply: cn·1e6 wraps silently past ~9.2e12 while the
        // DuckDB oracle's HUGEINT stays exact — fail loudly instead
        expr("coalesce(try_multiply(cn, 1000000L), " +
          "raise_error('common_neighbors: jac_q6 long overflow')) " +
          "DIV (da + db - cn)").as("jac_q6")),
      "jac_q6", topK)

  /** Top-k unlinked wedge pairs by preferential attachment deg(a)·deg(b)
    * (Barabási & Albert 1999's growth rule read as a link predictor;
    * Liben-Nowell & Kleinberg CIKM 2003 establish it as the degree-only
    * baseline CN/Jaccard/RA are judged against). PA is defined on any
    * non-adjacent pair, but ranking the full |V|² non-edge space is neither
    * tractable nor useful; production candidate generation restricts to
    * pairs with ≥1 common neighbor exactly as here. Score is an exact long
    * (d ≤ |V| ⇒ da·db ≤ |V|² stays under 2⁶³ to |V| ≈ 3·10⁹).
    *
    * @param und distinct undirected edges as (u, v) with u < v
    * @return (a, b, cn, pa) ordered by pa desc, a, b
    */
  def preferentialAttachment(und: DataFrame, maxDegree: Long,
      topK: Int): DataFrame =
    top(candidates(und, maxDegree, lit(0L))
      .select(col("a"), col("b"), col("cn"),
        (col("da") * col("db")).as("pa")),
      "pa", topK)

  /** Adamic-Adar link prediction (Adamic & Adar, "Friends and neighbors
    * on the Web", Social Networks 25, 2003) — the fourth classic next to
    * CN/Jaccard, RA and PA: each shared neighbor z contributes
    * 1/ln(deg z), the log-tempered midpoint between CN's flat 1 and RA's
    * aggressive 1/deg. Per-center weight is HALF-UP quantized to the
    * exact integer ⌊10⁶/ln(d) + 0.5⌋ BEFORE the sum (the dsir/bigram-LM
    * measured-margin discipline): a sweep over d ∈ 2..200 000 measures
    * the minimum distance to a rounding boundary at 2.58·10⁻⁶ (d=154431)
    * — four orders above the ~2·10⁻¹⁰ cross-engine ln noise — and DuckDB
    * reproduces the sweep's quantized values exactly (PropertySpec pins
    * the Java-side margin), so the per-pair score Σ⌊10⁶/ln d_z + 0.5⌋ is
    * an order-independent exact long in both engines. ln(d) > 0 always:
    * a wedge center has degree ≥ 2. The cap drops exactly the wedges AA
    * already tempers toward zero.
    *
    * @param und distinct undirected edges as (u, v) with u < v
    * @return (a, b, cn, aa_q6) ordered by aa_q6 desc, a, b
    */
  def adamicAdar(und: DataFrame, maxDegree: Long, topK: Int): DataFrame =
    top(candidates(und, maxDegree,
        expr("CAST(floor(1000000.0 / ln(d) + 0.5) AS BIGINT)"))
      .select(col("a"), col("b"), col("cn"), col("w_sum").as("aa_q6")),
      "aa_q6", topK)
}
