package graft.llm

import java.security.MessageDigest
import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two shared derivations of the text-analysis keys, pinned where they
  * can go wrong: the md5 digit draw [[TextStats.md5Fold]] against the JVM's
  * own md5, and the map-side bigram derivation [[TextStats.bigramPairs]]
  * against the per-doc window construction it replaced. */
class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  /** Hex digits [from, from+3] of md5(s), parsed by the JVM. */
  private def jvmDraw(s: String, from: Int): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(from - 1, from + 3), 16)
  }

  test("md5Fold is the JVM md5 hex parse of digits [f, f+3] at every ledger start") {
    val ids = (0L until 300L) :+ 123456789L
    val df = ids.toDF("doc_id")
    for (from <- 1 to 29 by 4) {
      val got = df
        .select(col("doc_id"), TextStats.md5Fold(col("doc_id"), from).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ids.foreach(id => assert(got(id) == jvmDraw(id.toString, from), s"id $id, from $from"))
      // the draw spans its whole 4-digit range, high digits included
      assert(got.values.max > 0x8000L, s"from $from")
    }
  }

  test("md5Fold over the doc_id#copy domain is the JVM parse of that string") {
    val inst = Seq(0L -> 1L, 7L -> 1L, 7L -> 2L, 7L -> 4L, 123456L -> 3L)
    val got = inst.toDF("doc_id", "copy")
      .select(col("doc_id"), col("copy"),
        TextStats.md5Fold(concat(col("doc_id").cast("string"), lit("#"),
          col("copy").cast("string")), 1).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    inst.foreach { case (id, copy) =>
      assert(got(id -> copy) == jvmDraw(s"$id#$copy", 1), s"$id#$copy")
    }
  }

  /** The reference construction: posexplode the tokens, then pair each with
    * the next one by a lead() window over (doc_id, pos). */
  private def windowedPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("w2",
        lead(col("w"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w").as("w1"), col("w2"))

  private def multiset(df: DataFrame): Map[(Long, String, String), Int] =
    df.select("doc_id", "w1", "w2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .groupBy(identity).map { case (k, v) => k -> v.length }

  test("bigramPairs gives the window construction's (doc_id, w1, w2) multiset") {
    val planted = Seq[(Long, String)](
      0L -> null,              // no token array: no pair
      1L -> "",                // one empty token: no pair
      2L -> "solo",            // one token: no pair
      3L -> "a b",             // two tokens: one pair
      4L -> "a  b",            // doubled space: the empty token pairs twice
      5L -> "x y x y x y",     // a repeated pair
      6L -> "the cat the cat sat")
      .toDF("doc_id", "text")
    val got = multiset(TextStats.bigramPairs(planted))
    assert(got == multiset(windowedPairs(planted)))
    assert(got == Map(
      (3L, "a", "b") -> 1,
      (4L, "a", "") -> 1, (4L, "", "b") -> 1,
      (5L, "x", "y") -> 3, (5L, "y", "x") -> 2,
      (6L, "the", "cat") -> 2, (6L, "cat", "the") -> 1, (6L, "cat", "sat") -> 1))

    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    val fixture = multiset(TextStats.bigramPairs(corpus))
    assert(fixture.nonEmpty)
    assert(fixture == multiset(windowedPairs(corpus)))
  }
}
