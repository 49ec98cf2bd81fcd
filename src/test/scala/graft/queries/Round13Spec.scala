package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-13 operator invariants beyond the DuckDB gate: cross-key
  * consistency properties the per-key oracles cannot see. */
class Round13Spec extends SparkSpec {

  private def q(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("link-prediction trio ranks the SAME candidate set (shared wedge enumeration)") {
    // CN/Jaccard, RA and PA must be comparable row-for-row: identical
    // (a, b) candidate pairs (before each score's own top-20 cut). Compare
    // the full candidate sets by re-running the shared enumeration at a
    // topK large enough to be uncut.
    val und = ClickGraph.und(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cn = pairs(graft.operators.CommonNeighbors.run(und, 1000L, 1000000))
    val pa = pairs(graft.operators.CommonNeighbors
      .preferentialAttachment(und, 1000L, 1000000))
    assert(cn == pa,
      s"candidate sets diverged: only-cn=${(cn -- pa).take(3)} " +
        s"only-pa=${(pa -- cn).take(3)}")
    // PA is cheap to verify end-to-end: deg(a)·deg(b) from first principles
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q("graph_pref_attachment").collect().foreach { r =>
      val (a, b, pa) = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(pa == deg(a) * deg(b), s"pa($a,$b)=$pa != ${deg(a)}*${deg(b)}")
    }
  }

  test("MRR/recall eval is bounded and consistent (rr of a present NN implies overlap)") {
    val row = q("retrieval_eval_mrr").head()
    val (n, mrr, rec) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(n == 10, s"probe count $n != 10")
    assert(mrr >= 0 && mrr <= 1000000L, s"mrr_q6 $mrr out of [0, 1e6]")
    assert(rec >= 0 && rec <= 1000000L, s"recall10_q6 $rec out of [0, 1e6]")
    // a non-zero MRR means at least one truth-NN was found in a system
    // list, which forces a non-zero recall (the NN is in the truth top-10)
    if (mrr > 0) assert(rec > 0, "mrr > 0 with recall = 0 is inconsistent")
  }

  test("packing report reconciles exactly with the shipped layout") {
    val layout = q("pack_sequences")
      .select("shard", "n_tok", "block_first", "block_last")
      .collect()
    val byShard = layout.groupBy(_.getInt(0))
    val report = q("pack_efficiency_report").collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(report.keySet == byShard.keySet, "shard sets diverged")
    byShard.foreach { case (shard, rows) =>
      val rep = report(shard)
      assert(rep.getLong(1) == rows.length, s"shard $shard n_docs")
      assert(rep.getLong(2) == rows.map(_.getLong(1)).sum, s"shard $shard tokens")
      assert(rep.getLong(3) == rows.map(_.getLong(3)).max + 1, s"shard $shard blocks")
      assert(rep.getLong(6) ==
        rows.count(r => r.getLong(2) != r.getLong(3)), s"shard $shard straddle")
      // fill can never exceed capacity: the last block exists because a
      // token landed in it
      assert(rep.getLong(5) <= 1000000L, s"shard $shard fill > 1.0")
    }
  }

  test("gopher rules: flags match their metric columns row-for-row") {
    q("quality_gopher_rules").collect().foreach { r =>
      val (nTok, cs, stop, alpha) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(r.getInt(5) == (if (nTok >= 50 && nTok <= 100000) 1 else 0))
      assert(r.getInt(6) == (if (3 * nTok <= cs && cs <= 10 * nTok) 1 else 0))
      assert(r.getInt(7) == (if (stop >= 2) 1 else 0))
      assert(r.getInt(8) == (if (5 * alpha >= 4 * nTok) 1 else 0))
      assert(r.getInt(9) == r.getInt(5) * r.getInt(6) * r.getInt(7) * r.getInt(8))
      assert(alpha <= nTok && cs >= nTok - 1,
        s"metric sanity violated for doc ${r.getLong(0)}")
    }
  }

  test("epoch schedule: caps, budget conservation and share normalization") {
    val rows = q("mix_epochs_schedule").collect()
    val shares = rows.map(_.getLong(3))
    // floor-quantized shares sum to <= 1e6 and within |langs| ulps of it
    assert(shares.sum <= 1000000L && shares.sum >= 1000000L - rows.length,
      s"share_q6 sum ${shares.sum}")
    rows.foreach { r =>
      assert(r.getLong(5) <= 4000000L, "epoch cap violated")
      // effective = n_chars * epochs (q6), so effective <= 4x source size
      assert(r.getLong(6) <= 4L * r.getLong(2), "effective chars exceed cap")
    }
  }

  test("seasonal z-score: flagged days genuinely deviate from their weekday mean") {
    import org.apache.spark.sql.Row
    val daily = graft.core.Tables.orders(spark, sf)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("cents"))
      .withColumn("w", expr("weekday(day)"))
      .collect().map { case Row(day: java.sql.Date, cents: Long, w: Int) =>
        (day, cents, w) }
    val byW = daily.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    q("timeseries_zscore_seasonal").collect().foreach { r =>
      val (w, cents, z) = (r.getInt(1), r.getLong(2), r.getDouble(3))
      val vs = byW(w).map(_.toDouble)
      val mean = vs.sum / vs.size
      val sd = math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / (vs.size - 1))
      val zRef = (cents - mean) / sd
      assert(math.abs(z - zRef) < 1e-3,
        s"day ${r.get(0)}: z=$z but reference=$zRef")
      assert(math.abs(z) > 2.5, s"flagged day under threshold: $z")
    }
  }

  test("partition skew: the report is consistent with a driver-side histogram") {
    val buckets = graft.core.Tables.orders(spark, sf)
      .select(pmod(col("o_custkey"), lit(32L)).as("b")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.size.toLong).toMap
    val r = q("profile_partition_skew").head()
    assert(r.getLong(0) == buckets.size, "bucket count")
    assert(r.getLong(1) == buckets.values.sum, "total")
    assert(r.getLong(2) == buckets.values.min, "min")
    assert(r.getLong(3) == buckets.values.max, "max")
    assert(r.getLong(4) >= 1000000L, "skew below the even floor")
  }

  test("streaming windowed HLL: every emitted window within 5% of exact, window set finalized") {
    val got = q("stream_hll_window").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    val e = graft.core.Tables.events(spark, sf)
    val mx = e.agg(max(col("ts"))).head.getTimestamp(0)
    val exact = e
      .groupBy(date_trunc("hour", col("ts")).as("wstart"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("nd"))
      .filter(col("wstart") + expr("INTERVAL 1 HOUR")
        <= lit(mx) - expr("INTERVAL 10 MINUTES"))
      .collect().map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got.map(_._1).toSet == exact.keySet,
      "emitted windows diverge from the watermark-finalized set")
    got.foreach { case (w, nEvents, approx) =>
      val (exactEvents, exactD) = exact(w)
      assert(nEvents == exactEvents, s"window $w event count")
      assert(math.abs(approx - exactD).toDouble / exactD <= 0.05,
        s"window $w: approx=$approx exact=$exactD")
    }
  }

  test("streaming windowed top-n agrees with a batch replay of the append contract") {
    import org.apache.spark.sql.expressions.Window
    val got = q("stream_window_topn").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val e = graft.core.Tables.events(spark, sf)
      .select(col("ts"), get_json_object(col("props"), "$.k")
        .cast("long").as("page"))
    val mx = e.agg(max(col("ts"))).head.getTimestamp(0)
    val byW = Window.partitionBy("wstart").orderBy(desc("cnt"), asc("page"))
    val want = e
      .groupBy(date_trunc("hour", col("ts")).as("wstart"), col("page"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("wstart") + expr("INTERVAL 1 HOUR")
        <= lit(mx) - expr("INTERVAL 10 MINUTES"))
      .withColumn("rank", row_number().over(byW)).filter(col("rank") <= 3)
      .orderBy("wstart", "rank").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == want.toSeq,
      s"streaming/batch divergence: got ${got.take(3).toSeq} " +
        s"want ${want.take(3).toSeq}")
  }
}
