package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Aggregation-based per-group top-k — the scale path for low-cardinality
  * groups (SURVEY §4's deferred "per-partition top-k heap", now landed).
  *
  * The window-rank formulation (`row_number over (partition by g order by
  * v)` + filter) repartitions EVERY row into |groups| partitions: for a
  * 3-value group key at 100 TB that is a 3-task funnel of the whole fact
  * table. This Aggregator instead keeps a bounded top-k buffer per group
  * inside Spark's partial aggregation: each input partition reduces locally
  * (map-side combine), and only k rows per group per partition cross the
  * shuffle. Wall-clock scales with input partitions, not group count.
  *
  * Ordering is (value DESC, id ASC) — the id tiebreak keeps results
  * deterministic and cross-engine comparable (SURVEY §7.4.1).
  */
class TopKAggregator(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {

  private val ord: Ordering[(Double, Long)] =
    Ordering.by { case (v, id) => (-v, id) }

  override def zero: Seq[(Double, Long)] = Vector.empty

  override def reduce(buf: Seq[(Double, Long)], row: (Double, Long))
      : Seq[(Double, Long)] =
    // k is small: insert-sort-trim on an immutable vector is cheaper than
    // heap bookkeeping and keeps the buffer encoder trivial
    (buf :+ row).sorted(ord).take(k)

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)])
      : Seq[(Double, Long)] = (a ++ b).sorted(ord).take(k)

  override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
}
