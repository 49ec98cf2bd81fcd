package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The salted pair grid ([[Dedup.saltedPairs]]) where it actually salts.
  * Every fixture block is under [[Dedup.RowsPerTask]] rows, so on the
  * fixtures the grid always runs at bg = 1 and neither the a-side
  * replication nor the b-side hash is exercised. Each test plants one hot
  * block of 600 rows (bg = ceil(600 / 256) = 3) beside cold and singleton
  * blocks, checks the stats fan it out, and checks the grid's pairs equal
  * a plain blocked self-join's, each pair once: replicating both sides
  * would repeat pairs, hashing both sides would lose them. */
class SaltedGridSpec extends SparkSpec {
  import spark.implicits._

  private val HotRows = 600

  private def assertGridIsBlockedSelfJoin(df: DataFrame, keys: Seq[String],
      id: String, payload: Seq[String]): Unit = {
    val bg = Dedup.blockSaltStats(df, keys).agg(max("bg")).head().getInt(0)
    assert(bg >= 2, s"the planted hot block did not fan out: bg = $bg")
    val grid = Dedup.saltedPairs(df, keys, id, payload)
      .select(col(s"a_$id"), col(s"b_$id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val plain = df.as("x").join(df.as("y"), keys)
      .filter(col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id"), col(s"y.$id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val distinct = grid.toSet
    val (repeated, missing, extra) =
      (grid.size - distinct.size, plain -- distinct, distinct -- plain)
    assert(plain.size >= HotRows * (HotRows - 1) / 2)
    assert(repeated == 0, s"$repeated pairs repeated on the grid")
    assert(missing.size + extra.size == 0,
      s"${missing.size} pairs missing (e.g. ${missing.take(3)}), " +
        s"${extra.size} extra (e.g. ${extra.take(3)})")
  }

  test("token grid: a 600-doc (first token, length) block gives each pair once") {
    val hot = (0 until HotRows).map(i => (i.toLong, "hot", 3L))
    val cold = (0 until 40).map(i => ((1000 + i).toLong, s"c${i % 8}", (i % 2).toLong))
    val single = Seq((5000L, "lonely", 0L))
    val docs = (hot ++ cold ++ single).toDF("doc_id", "blk_tok", "blk_len")
      .withColumn("s", array(col("doc_id")))
      .withColumn("n", size(col("s")))
    assertGridIsBlockedSelfJoin(docs, Seq("blk_tok", "blk_len"), "doc_id",
      Seq("s", "n"))
  }

  test("cosine grid: a 600-vector label block gives each pair once") {
    val rows = (0 until HotRows).map(i => (i.toLong, 0)) ++
      (0 until 40).map(i => ((1000 + i).toLong, 1 + i % 5)) :+ (5000L, 99)
    val unit = rows.toDF("vec_id", "label")
      .withColumn("uv", array(lit(1.0), col("vec_id").cast("double")))
    assertGridIsBlockedSelfJoin(unit, Seq("label"), "vec_id", Seq("uv"))
  }
}
