package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics assertions for the round-6 operator batch, each checked
  * against an independent driver-side recompute (BigInt / plain Scala) at
  * sf0.001 — the unit-tier companion to the DuckDB gate, pinning the
  * invariants the hash compare can't articulate. */
class Round6Spec extends SparkSpec {

  private def q(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("timeseries_ewma: seed rows equal v*1e6 and folds stay bracketed") {
    val rows = q("timeseries_ewma")
      .select("st", "ym", "cents", "ewma_q6").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, series) =>
      val s = series.sortBy(_._2)
      assert(s.head._4 == s.head._3 * 1000000L,
        "first EWMA must equal the seed x*1e6")
      s.sliding(2).foreach {
        case Array((_, _, _, e), (_, _, cents2, e2)) =>
          val x2 = cents2 * 1000000L
          assert(e2 == (3L * e + x2) / 4L, "fold must replay the recurrence")
          assert(e2 >= math.min(e, x2) && e2 <= math.max(e, x2),
            "EWMA stays between the previous smooth and the current value")
        case _ =>
      }
    }
  }

  test("win_rolling_median matches a driver-side recompute of every frame") {
    val rows = q("win_rolling_median").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val cents = graft.core.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("string"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byCust = cents.groupBy(_._2).map { case (ck, os) =>
      val ordered = os.sortBy(o => (o._3, o._1))
      ck -> ordered.zipWithIndex.map { case (o, i) =>
        val frame = ordered.slice(math.max(0, i - 6), i + 1).map(_._4).sorted
        val n = frame.length
        val med2 = if (n % 2 == 1) frame(n / 2) * 2
                   else frame(n / 2 - 1) + frame(n / 2)
        o._1 -> (med2, n)
      }.toMap
    }
    rows.foreach { case (ok, ck, med2, nWin) =>
      val (expMed2, expN) = byCust(ck)(ok)
      assert(med2 == expMed2 && nWin == expN, s"order $ok frame mismatch")
    }
  }

  test("collocation_pmi: lift_q6 replays in BigInt and respects min-count") {
    val rows = q("collocation_pmi").collect()
    assert(rows.length == 25)
    // recompute N, c1, c2 independently from the raw corpus
    val toks = graft.core.Tables.documents(spark, sf)
      .select(split(col("text"), " ").as("ws")).collect()
      .map(_.getSeq[String](0))
    val bigrams = toks.flatMap(ws => ws.zip(ws.drop(1)))
    val n = BigInt(bigrams.length)
    val c1 = bigrams.groupBy(_._1).map { case (k, v) => k -> BigInt(v.length) }
    val c2 = bigrams.groupBy(_._2).map { case (k, v) => k -> BigInt(v.length) }
    val c12 = bigrams.groupBy(identity).map { case (k, v) => k -> BigInt(v.length) }
    rows.foreach { r =>
      val (w1, w2) = (r.getString(0), r.getString(1))
      val cc = c12((w1, w2))
      assert(r.getLong(2) == cc.toLong && cc >= 5)
      assert(BigInt(r.getLong(3)) == cc * n, "lift_num = c12*N")
      assert(BigInt(r.getLong(4)) == c1(w1) * c2(w2), "lift_den = c1*c2")
      assert(BigInt(r.getLong(5)) == cc * n * 1000000 / (c1(w1) * c2(w2)),
        "lift_q6 is the exact floored fixed point")
    }
  }

  test("mmr select returns fewer rows when the candidate pool is short") {
    val emb = graft.core.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 4)
    val out = graft.llm.Similarity.mmrSelect(emb, queryId = 0,
      pool = 20, k = 5, lamRel = 0.7, lamDiv = 0.3).collect()
    assert(out.length == 3, "3 candidates can only fill 3 of k=5 steps")
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3), "steps stay dense")
  }

  test("anomaly_iqr_fence agrees with the fractional-fence definition") {
    val flagged = q("anomaly_iqr_fence").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    val spend = graft.core.Tables.orders(spark, sf)
      .groupBy("o_custkey")
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = spend.map(_._2).sorted
    def pick(p: Double) = sorted(math.max(math.ceil(p * sorted.length).toInt, 1) - 1)
    val (q1, q3) = (BigDecimal(pick(0.25)), BigDecimal(pick(0.75)))
    val iqr = q3 - q1
    val expected = spend.filter { case (_, c) =>
      BigDecimal(c) < q1 - 1.5 * iqr || BigDecimal(c) > q3 + 1.5 * iqr
    }.map(_._1).toSet
    assert(flagged.map(_._1).toSet == expected,
      "2x-space integer fences must equal the textbook fractional rule")
    assert(flagged.nonEmpty && flagged.forall(_._3 == "high"))
  }

  test("abtest_conversion counts nest and partition the user population") {
    val rows = q("abtest_conversion").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq("A", "B"))
    rows.foreach { case (_, users, clickers, converted) =>
      assert(converted <= clickers && clickers <= users)
    }
    val total = graft.core.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_._2).sum == total, "variants partition the users")
  }

  test("regression_slope replays in BigInt from the monthly table") {
    val rows = q("regression_slope").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val monthly = graft.core.Tables.orders(spark, sf)
      .select(col("o_orderstatus").as("st"),
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("x"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .groupBy("st", "x").agg(sum("c").as("y")).collect()
      .map(r => (r.getString(0), BigInt(r.getLong(1)), BigInt(r.getLong(2))))
    rows.foreach { case (st, nM, num, den) =>
      val pts = monthly.filter(_._1 == st)
      val n = BigInt(pts.length)
      val sx = pts.map(_._2).sum; val sy = pts.map(_._3).sum
      val sxx = pts.map(p => p._2 * p._2).sum
      val sxy = pts.map(p => p._2 * p._3).sum
      assert(nM == n.toLong)
      assert(BigInt(num) == n * sxy - sx * sy, s"$st slope_num")
      assert(BigInt(den) == n * sxx - sx * sx, s"$st slope_den")
      assert(den > 0, "den is n*var(x) > 0 for 2+ distinct months")
    }
  }

  test("basket_brand_pairs: top support replays from distinct basket sets") {
    val rows = q("basket_brand_pairs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.length == 25)
    assert(rows.map(_._3).toSeq == rows.map(_._3).toSeq.sorted.reverse)
    val baskets = graft.core.Tables.lineitem(spark, sf)
      .join(graft.core.Tables.part(spark, sf),
        col("l_partkey") === col("p_partkey"))
      .select("l_orderkey", "p_brand").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (_, v) => v.map(_._2).toSet }
    val (b1, b2, support) = rows.head
    val recount = baskets.count(s => s.contains(b1) && s.contains(b2))
    assert(support == recount.toLong, "top pair support recount")
  }
}
