package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degree-ordered triangle ENUMERATION over an id-normalized undirected
  * edge list — each triangle materialized exactly once as a sorted
  * (a, b, c) row, a < b < c.
  *
  * This is the standard compact-forward / degree-orientation algorithm
  * (the reference warehouse exposes no graph operators; this is the
  * census primitive behind clustering metrics): orient every undirected
  * edge from its lower-degree endpoint (ties by id), pair the
  * out-neighbors of each source into id-normalized wedges, and close each
  * wedge with a left-semi EQUI-join back against the undirected edge set.
  * Orientation bounds each node's out-degree by O(√|E|) on any graph, so
  * wedge work is O(|E|^1.5) worst case instead of Σd² — the hub blow-up
  * lever. The closing join is a pure equi-join (an either-orientation OR
  * disjunction would plan a nested loop).
  *
  * Factored (round 11) out of `graph_triangles` so the per-node
  * clustering-coefficient query counts corners of the SAME enumeration
  * the census counts — one orientation definition, impossible to desync.
  *
  * 100 TB shape: the caller's degree table (one map-side-combinable
  * aggregation, shared with the caller's own degree reads), two
  * broadcast-or-shuffle hash joins to rank edge endpoints, one self-join
  * on the oriented source, one semi-join on (u, v) — nothing wider than
  * three longs ever shuffles, and every stage is a declarative plan AQE
  * can re-partition.
  */
object Triangles {

  /** @param und id-normalized undirected edges (u, v), one row per edge, u < v
    * @param deg the degree table of `und` as (node, d), from [[Graph.degrees]]
    * @return one row per triangle: (a, b, c) with a < b < c */
  def enumerate(und: DataFrame, deg: DataFrame): DataFrame = {
    val e = und.select("u", "v")
    val ranked = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    val oriented = ranked.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("u"))
        .otherwise(col("v")).as("s"),
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("v"))
        .otherwise(col("u")).as("t"))
    // e1.t < e2.t id-normalizes the wedge, so closing it is an equi-join
    val wedges = oriented.as("e1").join(oriented.as("e2"), "s")
      .filter(col("e1.t") < col("e2.t"))
      .select(col("s"), col("e1.t").as("u"), col("e2.t").as("v"))
    wedges.join(e, Seq("u", "v"), "left_semi")
      .select(array_sort(array(col("s"), col("u"), col("v"))).as("tri"))
      .select(element_at(col("tri"), 1).as("a"),
        element_at(col("tri"), 2).as("b"),
        element_at(col("tri"), 3).as("c"))
  }
}
