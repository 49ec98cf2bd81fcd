package graft.llm

import graft.SparkSpec
import graft.functions.SignBandBuckets
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shared reductions of the similarity keys, pinned on planted ties:
  * [[Similarity.top1]] against the `row_number() = 1` window it replaced,
  * [[Similarity.topK]] against a plain orderBy + row_number, and the
  * corpus-sized LSH band width taken afresh on every call. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Rank 1 per `key` by a row_number window over (score, id ASC). */
  private def windowTop1(df: DataFrame, score: Column): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy(score, asc("id"))))
      .filter(col("rn") === 1)

  /** (key, id, payload, score) rows; the score as a string, so NaN equals
    * NaN. */
  private def rows(df: DataFrame): Set[(Long, Long, String, String)] =
    df.select(col("key"), col("id"), col("tag"), col("score").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet

  test("top1 keeps the rank-1 window's row: score ties, lowest id, NaN cosine") {
    // 4dp cosines of each vector to each centroid: the duplicated
    // centroids 7 and 3 tie, vector 3 gives NaN against every centroid,
    // and centroid 5 (paired with vectors 3 and 4 only) gives NaN, which
    // ranks above every number. The zero vector 6 and the zero centroid 2
    // have no norm, so they score null, which ranks below every number:
    // vector 6's scores all tie at null, and centroid 2 never wins
    val vecs = Seq(
      0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0), 2L -> Seq(1.0, 1.0),
      3L -> Seq(Double.NaN, 0.0), 4L -> Seq(-1.0, 0.0), 5L -> Seq(2.0, 2.0),
      6L -> Seq(0.0, 0.0))
      .toDF("key", "v")
    val cents = Seq(
      7L -> Seq(1.0, 1.0), 3L -> Seq(1.0, 1.0), 5L -> Seq(Double.NaN, 0.0),
      9L -> Seq(1.0, 0.0), 4L -> Seq(0.0, -1.0), 8L -> Seq(0.0, 1.0),
      2L -> Seq(0.0, 0.0))
      .toDF("id", "c")
    val scored = vecs.crossJoin(cents)
      .filter(col("id") =!= 5 || col("key").isin(3L, 4L))
      .select(col("key"), col("id"),
        round(Similarity.cosine(col("v"), col("c")), 4).as("score"),
        concat(lit("c"), col("id").cast("string")).as("tag"))
      .repartition(3)
    assert(scored.filter(isnan(col("score"))).count() == 7)
    assert(scored.filter(col("score").isNull).count() == 12)
    val got = rows(Similarity.top1(scored, Seq("key"), "score", "id",
      highest = true, "tag"))
    assert(got == rows(windowTop1(scored, desc("score"))))
    assert(got.map(r => r._1 -> r._2).toMap ==
      Map(0L -> 9L, 1L -> 8L, 2L -> 3L, 3L -> 3L, 4L -> 5L, 5L -> 3L, 6L -> 2L))
  }

  test("top1 under min keeps the rank-1 ascending window's row on distance ties") {
    val d2 = Seq(
      (0L, 5L, 4L), (0L, 2L, 4L), (0L, 9L, 1L), (0L, 1L, 1L),
      (1L, 6L, 0L), (1L, 3L, 0L), (1L, 4L, 2L),
      (2L, 8L, 7L),
      (3L, 2L, 3L), (3L, 1L, 3L), (3L, 0L, 3L))
      .toDF("key", "id", "score")
      .withColumn("tag", concat(lit("c"), col("id").cast("string")))
      .repartition(3)
    val got = Similarity.top1(d2, Seq("key"), "score", "id",
      highest = false, "tag")
    val want = windowTop1(d2, asc("score"))
    assert(rows(got) == rows(want))
    assert(rows(got).map(r => r._1 -> r._2).toMap ==
      Map(0L -> 1L, 1L -> 3L, 2L -> 8L, 3L -> 0L))
  }

  test("topK equals orderBy + row_number with ties across the k boundary") {
    // ranks 8-13 tie on score, so the 10th row is decided by the id alone
    val scored = ((0L until 7L).map(i => (i * 7 % 23, 1.0 - i / 100.0)) ++
      (0L until 6L).map(i => (100L - i * 3, 0.5)) ++
      (0L until 12L).map(i => (200L + i, 0.25)))
      .toDF("vec_id", "sim").repartition(4)
    for (order <- Seq(Seq(desc("sim"), asc("vec_id")),
        Seq(asc("sim"), asc("vec_id")))) {
      val got = Similarity.topK(scored, 10, order: _*)
        .select("rn", "vec_id").as[(Int, Long)].collect().toSeq.sorted
      val want = scored
        .withColumn("rn", row_number().over(Window.orderBy(order: _*)))
        .filter(col("rn") <= 10)
        .select("rn", "vec_id").as[(Int, Long)].collect().toSeq.sorted
      assert(got == want, s"order $order")
    }
  }

  test("every similarity key completes on a corpus with an all-zero embedding") {
    // a padding row or a failed encode: its norm is 0, so every cosine and
    // unit vector of it is null rather than a DIVIDE_BY_ZERO under ANSI
    val dir = tmpDir("graft-emb0")
    val Zero = 7L
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("embedding", when(col("vec_id") === Zero,
        transform(col("embedding"), x => x * 0)).otherwise(col("embedding")))
      .write.parquet(s"$dir/embeddings.parquet")
    val failed = Similarity.queries.flatMap { q =>
      try { q.build(spark, dir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Exception => Some(s"${q.name}: ${e.getMessage.take(200)}") }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
    val unit = Similarity.withUnitVec(spark.read.parquet(s"$dir/embeddings.parquet"),
      "embedding", "uv")
    assert(unit.filter(col("uv").isNull).select("vec_id").as[Long].collect()
      .toSeq == Seq(Zero))
    // the exact top 10 of vec 0 ranks the zero row last, out of the list
    val top = graft.SparkEntry.queries("knn_cosine_topk")(spark, dir)
      .select("vec_id").as[Long].collect()
    assert(top.length == 10 && !top.contains(Zero), top.toSeq)
  }

  test("dedup_embedding_ann takes the band width of the directory as it is now") {
    // r = max(8, ceil(log2 n) - 2): 8 up to n = 1,024, 9 past it
    val dir = tmpDir("graft-emb")
    val rnd = new scala.util.Random(11)
    def writeCorpus(n: Int): Unit =
      (0 until n).map(i => (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat),
          i % 20))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def bandWidth(): Int = {
      val plan = graft.SparkEntry.queries("dedup_embedding_ann")(spark, dir)
        .queryExecution.optimizedPlan
      val widths = plan.flatMap(_.expressions.flatMap(_.collect {
        case b: SignBandBuckets => b.bits }))
      assert(widths.distinct.size == 1, s"band widths $widths")
      widths.head
    }
    writeCorpus(500)
    assert(bandWidth() == 8)
    writeCorpus(1100)
    assert(bandWidth() == 9)
  }
}
