package graft.llm

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

/** Typed MinHash aggregator (SURVEY §2 E3, §7.3 hard #2): folds token sets
  * into a k-component signature with an elementwise-min merge.
  *
  * This is the *incremental* form of [[Dedup.minhashFromHashes]]: because
  * `merge` is elementwise min (commutative, associative, idempotent),
  * signatures can be built across partitions, across micro-batches
  * (`Dataset.groupByKey(...).agg(MinHashAggregator.toColumn)`), or unioned
  * corpus-wide — the property that lets 100 TB of documents build
  * signatures in one distributed pass and keep them incrementally fresh.
  *
  * Hash chain mirrors the expression version exactly (xxhash64 semantics:
  * seed 42, multi-arg chaining), so both paths produce identical
  * signatures — asserted in LlmSpec.
  */
class MinHashAggregator(k: Int = Dedup.NumHashes)
    extends Aggregator[Seq[String], Array[Long], Array[Long]] {

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(buf: Array[Long], tokens: Seq[String]): Array[Long] = {
    tokens.foreach { t =>
      val utf8 = UTF8String.fromString(t)
      // xxhash64(t): bytes hashed with seed 42
      val h = XXH64.hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset,
        utf8.numBytes(), 42L)
      var seed = 0
      while (seed < k) {
        // xxhash64(h, seed): chained — long h with seed 42, then the INT
        // seed literal via hashInt (the expression's lit(seed) is 4 bytes)
        val mixed = XXH64.hashInt(seed, XXH64.hashLong(h, 42L))
        if (mixed < buf(seed)) buf(seed) = mixed
        seed += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(reduction: Array[Long]): Array[Long] = reduction

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
