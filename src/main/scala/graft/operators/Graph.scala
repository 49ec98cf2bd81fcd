package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The decisions every graph operator and graph key shares: the loop
  * width, the both-orientations edge list, the degree table and the loop
  * frame.
  *
  * Loop width: an iterative operator's per-round shuffles move skinny
  * (id, value) rows, at most |V| of them, so their partition count is sized
  * to that, not to the session default meant for full-table scans. Every
  * surplus partition is one more task per stage per round, and locally
  * scheduling, not data, sets the loop's floor. The width is pinned by an
  * explicit hash repartition of each loop frame on its vertex key, never by
  * a session-conf write a concurrently shared session would observe.
  * `localCheckpoint` keeps that partitioning, so a round's joins reuse the
  * frames' exchanges, and it cuts the lineage that would otherwise make
  * every round re-plan the whole history. Per-round aggregations stay at
  * the session default and are size-coalesced by AQE.
  */
object Graph {
  /** Partition count of every iterative graph loop's frames. */
  val LoopWidth = 8

  /** Both orientations of `edges` as (`src`, `dst`, `carry`...): each edge
    * once as given and once reversed, its `carry` columns unchanged. */
  def sym(edges: DataFrame, src: String, dst: String,
      carry: String*): DataFrame = {
    val rest = carry.map(col)
    edges.select(col(src) +: col(dst) +: rest: _*)
      .unionAll(edges.select(col(dst).as(src) +: col(src).as(dst) +: rest: _*))
  }

  /** Undirected degrees as (node, d), from edges (u, v), one row per edge. */
  def degrees(und: DataFrame): DataFrame =
    sym(und, "u", "v").groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))

  /** `df` hash-partitioned at the loop width on `key`, then checkpointed. */
  def loopFrame(df: DataFrame, key: String): DataFrame =
    df.repartition(LoopWidth, col(key)).localCheckpoint()
}
