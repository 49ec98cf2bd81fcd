package graft.queries

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** Plan-shape assertions (SURVEY §4): the scale properties the engine relies
  * on — broadcast dimension joins, parquet predicate pushdown, column
  * pruning, TakeOrderedAndProject for top-k — must be visible in the
  * physical plan, not assumed. */
class PlanSpec extends SparkSpec {

  private def executedPlan(name: String): String =
    SparkEntryPlan(name).queryExecution.executedPlan.toString

  private def SparkEntryPlan(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  test("C6: dimension joins are broadcast, not shuffled") {
    val plan = executedPlan("join_broadcast_dim")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "a 25-row dimension must never sort-merge against the probe side")
  }

  test("A11b: the bloom runtime prefilter prunes the fact side below the join") {
    val df = SparkEntryPlan("join_bloom_prefilter")
    df.collect() // AQE finalizes subquery reuse only on execution
    val plan = df.queryExecution.executedPlan.toString
    // the prefilter must gate the FACT key (l_orderkey) — i.e. run on the
    // probe branch before the join — not merely exist somewhere in the plan
    val factPrefilter = plan.linesIterator.exists(l =>
      l.contains("might_contain") && l.contains("l_orderkey"))
    assert(factPrefilter,
      s"no might_contain filter on the fact-side join key in:\n$plan")
  }

  test("r12: bloom incremental dedup prunes the corpus side below the join") {
    // dedup_incremental_bloom's whole point is that the corpus scan is
    // gated by a bloom over the BATCH's hashes before anything shuffles;
    // the filter must sit on the corpus branch (the one keeping
    // doc_id % 5 <> 0), not merely exist somewhere in the plan.
    val df = SparkEntryPlan("dedup_incremental_bloom")
    df.collect() // AQE finalizes subquery reuse only on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"no might_contain prefilter in:\n$plan")
    // non-vacuity: a bloom that pruned TOO MUCH would also show a clean
    // plan — so pin the output to the plain sibling's, row for row (the
    // exact confirm join must make the two semantics identical; at this
    // SF every batch hash is corpus-absent, so this checks the all-'new'
    // case while the sf0.1 oracle run covers a genuine dup_corpus hit)
    val bloom = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val plain = SparkEntryPlan("dedup_incremental")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(bloom == plain,
      s"bloom variant diverged from dedup_incremental: " +
        s"${bloom.diff(plain).take(5)} vs ${plain.diff(bloom).take(5)}")
  }

  test("A4b: a partition-key filter prunes to exactly its directory") {
    // the 100 TB contract behind Hive-style layouts (SURVEY §2 A4): a
    // filter on the partition column must eliminate non-matching
    // directories at PLANNING time — visible both in PartitionFilters on
    // the scan and, decisively, in the actual file list the scan reads.
    // A scan that lists every partition and filters rows would pass the
    // correctness gate and still read the whole lake at scale.
    // NB df.inputFiles is computed on the RELATION, before the filter —
    // it lists every partition and would pass/fail meaninglessly here; the
    // scan's own numFiles metric counts what execution actually listed
    // after pruning.
    // Tables.scratchDir registers a JVM-exit delete (ADVICE r10: a bare
    // createTempDirectory leaked one parquet copy per test run)
    val dir = java.nio.file.Paths.get(Tables.scratchDir("graft_prune"))
    Tables.orders(spark, sf).write
      .partitionBy("o_orderstatus").mode("overwrite").parquet(dir.toString)
    val pruned = spark.read.parquet(dir.toString)
      .filter(col("o_orderstatus") === "F")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec leaf in the pruned plan"))
    assert(scan.toString.contains("PartitionFilters:"),
      s"no partition filters on the scan in:\n$scan")
    import scala.jdk.CollectionConverters._
    def parquetFiles(p: java.nio.file.Path): Long =
      java.nio.file.Files.walk(p).iterator().asScala
        .count(_.toString.endsWith(".parquet")).toLong
    val fFiles = parquetFiles(dir.resolve("o_orderstatus=F"))
    val allFiles = parquetFiles(dir)
    assert(allFiles > fFiles, "fixture degenerate: only one partition written")
    assert(scan.metrics("numFiles").value === fFiles,
      s"scan listed ${scan.metrics("numFiles").value} files; " +
        s"partition o_orderstatus=F holds $fFiles of $allFiles total — " +
        "non-matching directories were not pruned")
  }

  test("C1: filters are pushed to the parquet scan") {
    val plan = executedPlan("filter_compare")
    assert(plan.contains("PushedFilters: [IsNotNull") ||
      plan.contains("PushedFilters: [GreaterThan"),
      s"no pushed filters in:\n$plan")
  }

  test("B1: projection prunes the parquet read schema") {
    val df = Tables.customer(spark, sf).select("c_custkey", "c_name")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"),
      s"scan reads more than the projection needs:\n$scan")
  }

  test("C29: global top-k plans TakeOrderedAndProject, not a full sort") {
    val plan = executedPlan("limit_topk")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k plan:\n$plan")
  }

  test("E4: knn top-k takes per-partition heaps, not a global window") {
    // the candidate ranking must go through orderBy.limit (TakeOrdered),
    // never a row_number window over an un-partitioned ordering — that
    // funnels every candidate row through a single partition at scale
    val plan = executedPlan("knn_cosine_topk")
    assert(plan.contains("TakeOrderedAndProject"), s"knn plan:\n$plan")
  }

  test("quantized knn takes per-partition heaps like its float sibling") {
    val plan = executedPlan("knn_quantized_topk")
    assert(plan.contains("TakeOrderedAndProject"), s"quantized knn plan:\n$plan")
  }

  test("SimHash is a fused per-row kernel: no shuffle before the final sort") {
    // SimHash is a pure per-document function. The only Exchange allowed in
    // the plan is the range partitioning for the deterministic orderBy —
    // any other (a hash Exchange) means the explode+groupBy shape crept
    // back, paying one shuffled row per token.
    val plan = executedPlan("dedup_simhash")
    val exchanges = "Exchange ".r.findAllIn(plan).size
    assert(exchanges <= 1, s"dedup_simhash plans $exchanges exchanges:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"dedup_simhash plans an aggregation shuffle:\n$plan")
    assert(!plan.toLowerCase.contains("generate explode"),
      s"dedup_simhash still explodes tokens:\n$plan")
  }

  test("exact embedding dedup joins on the salted grid, never label alone") {
    // The pair join must be keyed (label, g): a raw label-only self-join
    // puts a whole label block's quadratic pair space on one task — the
    // shape that dies when one label is hot at scale. The salt spreads the
    // same exact pair space across `grid` sub-blocks per label.
    val plan = executedPlan("dedup_embedding_cosine")
    assert("""Join \[label#\d+, g#\d+\]""".r.findFirstIn(plan).isDefined,
      s"pair join is not keyed on (label, g):\n$plan")
    // The ban is on SHUFFLED label-only joins (a whole label block's pair
    // space on one task). The adaptive-salt stats lookup is a label-keyed
    // BroadcastHashJoin of the one-row-per-label block-stats aggregate —
    // corpus rows never co-locate for it, so it is exempt.
    assert("""(SortMergeJoin|ShuffledHashJoin) \[label#\d+\]""".r
      .findFirstIn(plan).isEmpty,
      s"raw label-only shuffled pair join present:\n$plan")
  }

  test("sequence packing windows per shard, never a single global stream") {
    // The running token sum must hash-partition on `shard` so each shard's
    // stream packs independently — a window over the whole corpus order
    // would funnel 100 TB through one task. The only single-partition step
    // allowed is the final contract orderBy's range exchange.
    val plan = executedPlan("pack_sequences")
    assert(plan.contains("hashpartitioning(shard"),
      s"window is not shard-partitioned:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"pack_sequences funnels through a single partition:\n$plan")
  }

  test("r14: partition fingerprint is ONE partial-agg pass — no row-level shuffle") {
    // the per-year digest must partial-aggregate map-side so only one
    // sketch row per (task, year) crosses the wire: exactly one
    // hash exchange on the calendar-bounded part_year key, and no
    // exchange anywhere that carries the raw row hash
    val plan = executedPlan("etl_partition_fingerprint")
    val exchanges = "Exchange hashpartitioning\\(part_year".r
      .findAllIn(plan).length
    assert(exchanges == 1,
      s"partition fingerprint plans $exchanges part_year exchanges, " +
        s"expected 1:\n$plan")
    assert(plan.contains("partial_"),
      s"digest aggregation is not map-side partial:\n$plan")
  }

  test("r14: MRL prefix recall ranks via TakeOrdered heaps, never a global window") {
    // four prefix rankings over the corpus: each must be a per-partition
    // heap + driver k-merge (TakeOrderedAndProject); a global row_number
    // window here would funnel every scored row through one task, 4×
    val plan = executedPlan("knn_mrl_prefix_recall")
    assert(plan.contains("TakeOrderedAndProject"),
      s"prefix rankings are not TakeOrdered heaps:\n$plan")
    assert(!plan.contains("Window"),
      s"a window sneaked into the ranking path:\n$plan")
  }

  test("r14b: the as-of dim join broadcasts the version table — the fact side never shuffles") {
    // the whole 100 TB argument of etl_dim_asof_join: events stream
    // through ONE broadcast hash join against the dimension's version
    // table; a sort-merge plan here would shuffle the fact table on
    // user_id for a dimension-sized build side
    val plan = executedPlan("etl_dim_asof_join")
    assert(plan.contains("BroadcastHashJoin"),
      s"as-of dim join is not a broadcast hash join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact side shuffles into a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(user_id"),
      s"the fact side is exchanged on user_id:\n$plan")
  }

  test("r14b: weighted median cumulates per flag over the cents grid, with map-side partials") {
    // the window must be PARTITIONED by l_returnflag (the value-domain
    // grid argument needs per-group streams, not one global order) and
    // the per-(flag, cents) weights must partial-aggregate map-side
    val plan = executedPlan("agg_weighted_median")
    assert(plan.contains("windowspecdefinition(l_returnflag"),
      s"the cumulative window is not flag-partitioned:\n$plan")
    assert(plan.contains("partial_"),
      s"the weight aggregation is not map-side partial:\n$plan")
  }

  test("r14b: the IVF recall audit ranks via TakeOrdered heaps, never a global sim window") {
    // three ivfTop10 passes + the exact reference: every ranking must be
    // a per-partition heap (TakeOrderedAndProject); the only windows in
    // the plan are the PARTITIONED per-vector cell assignments — a
    // global row_number over sim would funnel each candidate scan
    // through one task
    val plan = executedPlan("knn_ivf_recall_audit")
    assert(plan.contains("TakeOrderedAndProject"),
      s"rankings are not TakeOrdered heaps:\n$plan")
    assert(!plan.contains("windowspecdefinition(sim"),
      s"a global sim window sneaked into the ranking path:\n$plan")
  }

  test("token near-dup joins on the salted block grid, never the block alone") {
    // same discipline as the embedding grid: the pair join must carry the
    // salt key g so a hot (first-token, length) block spreads over grid
    // tasks instead of one
    val plan = executedPlan("dedup_near_jaccard")
    assert("""Join \[blk_tok#\d+, blk_len#\d+L?, g#\d+\]""".r
      .findFirstIn(plan).isDefined,
      s"pair join is not keyed on (blk_tok, blk_len, g):\n$plan")
  }

  test("C12b: as-of join plans NO join operator — one union-and-carry window") {
    // the whole point of the union encoding: no pair space, no Join node;
    // the carry window hash-partitions on the key
    val plan = executedPlan("join_asof")
    assert(!plan.contains("Join"), s"as-of planned a join:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"),
      s"carry window is not key-partitioned:\n$plan")
  }

  test("C12b': forward as-of join also plans NO join operator") {
    val plan = executedPlan("join_asof_forward")
    assert(!plan.contains("Join"), s"forward as-of planned a join:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"),
      s"carry window is not key-partitioned:\n$plan")
  }

  test("C27c: skyline plans no pair space — the NOT EXISTS shape stays in the oracle") {
    val plan = executedPlan("pareto_frontier")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"skyline fell back to a dominance pair join:\n$plan")
  }

  test("C23c: funnel's three stage windows share ONE user_id exchange") {
    // stacked same-partitioning windows must reuse the first shuffle; a
    // per-stage exchange would triple the funnel's scan-to-shuffle cost
    val plan = executedPlan("funnel_steps")
    val exchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).length
    assert(exchanges == 1,
      s"funnel plans $exchanges user_id exchanges, expected 1:\n$plan")
  }

  test("C23b': dynamic-gap sessionizer's windows + aggregate share ONE user_id exchange") {
    // the running-max expiry window, the cumsum window and the final
    // (user_id, sid) aggregate all hash-partition by user_id — Catalyst
    // must reuse a single shuffle, or the sessionizer pays three
    val plan = executedPlan("sessionize_dynamic_gap")
    val exchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).length
    assert(exchanges == 1,
      s"dynamic sessionizer plans $exchanges user_id exchanges, expected 1:\n$plan")
  }

  test("C12c: binned interval join hash-joins on the bin, never nested-loop") {
    // the whole point of binning: the no-equi-key theta join becomes a
    // plain equi join on the manufactured day-bin key
    val plan = executedPlan("join_interval_binned")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no equi join on the bin key:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join fell back to a pair-space plan:\n$plan")
  }

  test("r6: basket pairs plan exactly two hash exchanges and no self-join") {
    // groupBy(order) + map-side pair expansion + groupBy(pair): a third
    // exchange or any Join beyond the broadcast dim tag means the
    // distinct+self-join shape crept back
    val plan = executedPlan("basket_brand_pairs")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"basket pairs plan $exchanges hash exchanges, expected 2:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"basket pairs planned a non-broadcast join:\n$plan")
  }

  test("r6: ratio-to-report plans a broadcast join-back, never a window") {
    // the unbounded window over the 3-value status key is the 100 TB
    // funnel this query exists to avoid
    val plan = executedPlan("win_ratio_share")
    assert(!plan.contains("Window"), s"ratio share planned a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"totals are not broadcast back:\n$plan")
  }

  test("vocab top-k takes per-partition heaps, not a global sort") {
    val plan = executedPlan("vocab_topk")
    assert(plan.contains("TakeOrderedAndProject"), s"vocab plan:\n$plan")
  }

  test("kmeans assignment combines map-side and plans no window funnel") {
    // the argmax-centroid step must be a partial+final max-struct agg (N
    // skinny rows cross the shuffle, not N×K) and never a per-vector
    // row_number window
    val plan = executedPlan("kmeans_lloyd")
    assert(plan.contains("partial_max"), s"no partial max combine:\n$plan")
    assert(!plan.contains("Window"), s"kmeans plans a window:\n$plan")
  }

  test("runtime bloom filter injects into a selective fact-fact join") {
    // the 100 TB scan-reduction feature behind selective fact-fact joins:
    // the filtered build side publishes a bloom filter that prunes probe
    // rows BEFORE the shuffle. Local fixtures sit under the default 10 MB
    // creation threshold, so the thresholds are opened up to prove the
    // rewrite fires; on a cluster the defaults gate it to genuinely
    // selective builds.
    import graft.core.Tables
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 400000)
      val l = Tables.lineitem(spark, sf)
      val plan = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString.toLowerCase
      assert(plan.contains("bloom"),
        s"no runtime bloom filter injected into:\n$plan")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("AQE splits a planted skewed join partition (OptimizeSkewedJoin)") {
    // the ADAPTIVE half of the skew story (r10 verdict #5):
    // join_salted_skew demonstrates the manual lever; this plants a
    // partition 150k-rows hot on one key, drops the skew thresholds to
    // fixture scale (defaults gate on 256 MB partitions), and asserts
    // Spark's own OptimizeSkewedJoin split it — visible as the
    // SortMergeJoin's skew=true marker in the final adaptive plan. At
    // 100 TB the same rule fires at the DEFAULT thresholds, which is why
    // unsalted hot keys are survivable under AQE at all.
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "256KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // 150k rows on key 0 (~15 MB padded), 50k spread over keys 1-50: the
      // hot partition exceeds both the byte threshold and factor×median.
      // The pad is derived from id (NOT a literal: a foldable pad would be
      // projected out of the exchange and re-attached after the join,
      // leaving only well-compressed keys in the shuffle — below any
      // threshold)
      val left = spark.range(200000).select(
        when(col("id") < 150000, 0L).otherwise(col("id") % 50 + 1).as("k"),
        rpad(md5(col("id").cast("string")), 100, "x").as("pad"))
      val right = spark.range(51).select(col("id").as("k"),
        (col("id") * 10).as("rv"))
      val joined = left.join(right, "k")
      // execute THIS df's own queryExecution (a count() would build and
      // finalize a different plan, leaving this one isFinalPlan=false);
      // collect() runs collectFromPlan on exactly this executedPlan
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not split the planted skew in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("C15: aggregation is partial+final (map-side combine)") {
    val plan = executedPlan("agg_groupby_having")
    assert(plan.contains("partial_"), s"no partial aggregation in:\n$plan")
  }

  test("A13d: CDC apply is a partial+final max_by, never a per-key window") {
    // last-write-wins must combine map-side: only one candidate row per PK
    // per input partition crosses the shuffle, and no Window node appears
    val plan = executedPlan("etl_cdc_apply")
    assert(plan.contains("partial_"), s"no partial aggregation in:\n$plan")
    assert(!plan.contains("Window"), s"CDC apply fell back to a window:\n$plan")
  }

  test("chunk-overlap fan-out is expression-level: no shuffle before the final sort") {
    val plan = executedPlan("text_chunk_overlap")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 0,
      s"chunking plans $exchanges hash exchanges, expected 0:\n$plan")
  }

  test("C27b: aggregation top-k combines map-side (no group-count funnel)") {
    // the TopKAggregator must run as partial+final aggregation so only k
    // rows per group per input partition cross the shuffle
    val plan = executedPlan("topk_per_group_agg")
    assert(plan.contains("partial_"), s"no partial aggregation in:\n$plan")
  }

  test("C17: approx distinct is within 5% of exact") {
    val approx = SparkEntryPlan("agg_approx_distinct")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"flag $k: approx=$a exact=$e")
    }
  }

  test("r13: profile_columns_approx plans no Expand and brackets the exact profile") {
    // the exact multi-column COUNT(DISTINCT) widens every input row
    // ×(|cols|+1) through an Expand before the partial aggs — the declared
    // 100 TB path replaces it with per-column HLL sketches and must plan
    // ONE pass with no Expand node at all
    val exactPlan = executedPlan("profile_columns")
    assert(exactPlan.contains("Expand"),
      s"exact profile no longer plans an Expand — update this contrast:\n$exactPlan")
    val approxPlan = executedPlan("profile_columns_approx")
    assert(!approxPlan.contains("Expand"),
      s"approx profile must not plan an Expand:\n$approxPlan")
    assert(approxPlan.contains("partial_"),
      s"approx profile lost map-side combine:\n$approxPlan")
    // estimates bracket the exact distinct counts (the C17 ±5% discipline);
    // the null/completeness metrics must be byte-identical
    def byCol(name: String) = SparkEntryPlan(name).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = byCol("profile_columns")
    val approx = byCol("profile_columns_approx")
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (c, e) =>
      val a = approx(c)
      val (de, da) = (e.getLong(3), a.getLong(3))
      assert(math.abs(da - de).toDouble / de <= 0.05,
        s"col $c: approx distinct $da vs exact $de")
      assert(a.getLong(1) == e.getLong(1) && a.getLong(2) == e.getLong(2) &&
        a.getLong(4) == e.getLong(4),
        s"col $c: non-sketch metrics diverged: $a vs $e")
    }
  }

  test("r13: etl_dq_ruleset_approx drops the PK-domain shuffle; non-sketch rules match the exact ruleset") {
    // a SINGLE count(distinct) doesn't plan an Expand (that needs ≥2
    // distincts, as in profile_columns) — Catalyst's single-distinct
    // rewrite instead shuffles the FULL PK domain through a
    // hashpartitioning(o_orderkey) exchange before the final agg. That
    // per-key exchange is the cost the HLL form removes: the approx plan
    // must be one partial+final pass whose only exchange is the
    // SinglePartition merge of sketch buffers.
    val exactPlan = executedPlan("etl_dq_ruleset")
    assert(exactPlan.contains("hashpartitioning(o_orderkey"),
      s"exact ruleset no longer shuffles the PK domain — update this contrast:\n$exactPlan")
    val approxPlan = executedPlan("etl_dq_ruleset_approx")
    assert(!approxPlan.contains("Expand") &&
      !approxPlan.contains("hashpartitioning(o_orderkey"),
      s"approx ruleset must not widen or shuffle the PK domain:\n$approxPlan")
    assert(approxPlan.contains("partial_"),
      s"approx ruleset lost map-side combine:\n$approxPlan")
    def rows(name: String) = SparkEntryPlan(name).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toMap
    val exact = rows("etl_dq_ruleset")
    val approx = rows("etl_dq_ruleset_approx")
    // the four non-sketch rules are byte-identical to the exact ruleset's
    Seq("completeness_o_custkey", "values_o_totalprice_positive",
        "values_o_orderstatus_domain", "rowcount_min").foreach { r =>
      assert(approx(r) == exact(r), s"rule $r diverged: " +
        s"${approx(r)} vs ${exact(r)}")
    }
    // the approx uniqueness metric brackets the exact one within ±5%
    // (rsd 2% sketch), and its error-budgeted threshold still passes on
    // the unique-PK fixture
    val (mExact, _, _) = exact("uniqueness_o_orderkey")
    val (mApprox, _, passed) = approx("uniqueness_o_orderkey_approx")
    assert(math.abs(mApprox - mExact).toDouble / mExact <= 0.05,
      s"approx uniqueness q6 $mApprox vs exact $mExact")
    assert(passed == 1, "unique PK fixture must pass the error-budgeted gate")
  }

  test("C17c: merged HLL sketches equal the single-pass sketch, within 5% of exact") {
    val merged = SparkEntryPlan("agg_hll_merge")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // mergeability contract: union of the two half sketches must equal the
    // sketch of the whole table (HLL union is exact over sketches)
    val single = Tables.orders(spark, sf).groupBy("o_orderstatus")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == single, s"merged=$merged single-pass=$single")
    val exact = Tables.orders(spark, sf).groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(merged(k) - e).toDouble / e <= 0.05,
        s"status $k: approx=${merged(k)} exact=$e")
    }
  }

  test("C17e: Count-Min estimates never underestimate, respect epsilon, and merge exactly") {
    import org.apache.spark.util.sketch.CountMinSketch
    def sketchOf(df: org.apache.spark.sql.DataFrame): CountMinSketch = {
      val bytes = df.agg(count_min_sketch(col("l_suppkey"), lit(0.001),
        lit(0.99), lit(42)).as("s")).head().getAs[Array[Byte]](0)
      CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
    }
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_suppkey")
    val whole = sketchOf(li)
    val exact = li.groupBy("l_suppkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    exact.foreach { case (k, e) =>
      val est = whole.estimateCount(k)
      assert(est >= e, s"CMS underestimated key $k: $est < $e")
      assert(est <= e + (0.001 * n).ceil.toLong + 1,
        s"CMS overshot epsilon bound for key $k: $est vs exact $e (n=$n)")
    }
    // mergeability: same seed/width ⇒ counter addition is exact, so the
    // merged half sketches answer identically to the single-pass sketch
    val a = sketchOf(li.filter(col("l_orderkey") % 2 === 0))
    val b = sketchOf(li.filter(col("l_orderkey") % 2 =!= 0))
    a.mergeInPlace(b)
    exact.keys.foreach { k =>
      assert(a.estimateCount(k) == whole.estimateCount(k),
        s"merged CMS diverges from single-pass at key $k")
    }
  }

  test("C17b: approx percentiles land inside the exact rank band") {
    // GK sketch with accuracy 10000 ⇒ rank error ≤ n/10000; brackets with
    // the exact order statistics at q ± 1% (much looser) per group.
    val approx = SparkEntryPlan("agg_approx_percentile")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.49, 0.51, 0.94, 0.96))").as("p"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[Double](1)).toMap
    exact.foreach { case (k, bands) =>
      val (p50, p95) = approx(k)
      assert(p50 >= bands(0) && p50 <= bands(1),
        s"flag $k: p50=$p50 outside exact band [${bands(0)}, ${bands(1)}]")
      assert(p95 >= bands(2) && p95 <= bands(3),
        s"flag $k: p95=$p95 outside exact band [${bands(2)}, ${bands(3)}]")
    }
  }

  test("r8: approx IQR fences land inside the exact rank band") {
    // r7 verdict #5 — the GK quartile path implemented, not described.
    // percentile_approx(accuracy 10000) guarantees rank error ≤ n/10000
    // and returns an OBSERVED value, so each approx quartile must be a
    // sorted spend value within ⌈n/10000⌉+1 positions of sortedPick's
    // rank ceil(q·n) (the +1 absorbs the sketch's floor-vs-ceil pick at
    // fractional ranks — the two legal neighbors of p·n). The fences
    // inherit brackets by interval arithmetic over the quartile bands.
    val spend = Tables.orders(spark, sf).groupBy("o_custkey")
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("cents"))
    val cents = spend.select("cents").collect().map(_.getLong(0)).sorted
    val n = cents.length
    val slack = n / 10000 + 1
    def band(q: Double): (Long, Long) = {
      val r = math.ceil(q * n).toInt // sortedPick's 1-based rank
      (cents(math.max(0, r - 1 - slack)), cents(math.min(n - 1, r - 1 + slack)))
    }
    val qs = spend.agg(percentile_approx(col("cents"),
        array(lit(0.25), lit(0.75)), lit(10000)).as("qs"))
      .select(element_at(col("qs"), 1), element_at(col("qs"), 2)).head()
    val (aq1, aq3) = (qs.getLong(0), qs.getLong(1))
    val (q1lo, q1hi) = band(0.25); val (q3lo, q3hi) = band(0.75)
    assert(aq1 >= q1lo && aq1 <= q1hi, s"q1=$aq1 outside [$q1lo, $q1hi]")
    assert(aq3 >= q3lo && aq3 <= q3hi, s"q3=$aq3 outside [$q3lo, $q3hi]")
    val lowFence = 5L * aq1 - 3L * aq3 // the 2× integer space fences
    val highFence = 5L * aq3 - 3L * aq1
    assert(lowFence >= 5L * q1lo - 3L * q3hi && lowFence <= 5L * q1hi - 3L * q3lo,
      s"low fence $lowFence outside its exact rank band")
    assert(highFence >= 5L * q3lo - 3L * q1hi && highFence <= 5L * q3hi - 3L * q1lo,
      s"high fence $highFence outside its exact rank band")
    // the query's verdict column IS the fence rule over the approx quartiles
    SparkEntryPlan("anomaly_iqr_fence_approx").collect().foreach { r =>
      val c = r.getLong(1); val side = r.getString(3)
      if (side == "low") assert(2 * c < lowFence, s"row $r not below low fence")
      else assert(2 * c > highFence, s"row $r not above high fence")
    }
  }

  test("no query plans an unintended cartesian or nested-loop join") {
    // join_cross_theta IS the theta/BNLJ demo; knn_cosine_topk broadcasts a
    // single-row query vector (BNLJ over 1 row — the cheap, intended shape);
    // knn_ivf_coarse broadcasts K=8 centroids for the linear N×K assignment
    // pass (intentional, the IVF coarse-quantization step).
    // tfidf_topk/zscore_outliers/negative_pairs broadcast a single-row
    // corpus-level aggregate; anomaly_mad broadcasts two (median, then
    // MAD); kmeans_lloyd/ivf_index_build broadcast the K=8 centroids per
    // Lloyd iteration — the linear broadcast-pass shape, not a pair
    // explosion
    val intended = Set("join_cross_theta", "knn_cosine_topk", "knn_ivf_coarse",
      // r11: multiprobe shares coarse-IVF's broadcast N×K assignment pass
      "knn_ivf_multiprobe",
      // r11: semantic-cell dedup runs the same broadcast 8-row centroid
      // assignment pass; kcore crosses the 1-row density scalar k;
      // hybrid fusion crosses the 1-row min-max stats of each 20-row list
      // plus its components' intended broadcasts (the retrieval_rrf shape)
      "dedup_semantic_cells", "graph_kcore_peel", "retrieval_hybrid_weighted",
      "tfidf_topk", "kmeans_lloyd", "zscore_outliers", "negative_pairs",
      "ivf_index_build", "anomaly_mad", "corpus_mix_rebalance",
      "knn_quantized_topk",
      // r10: radius search shares knn_quantized_topk's two broadcast
      // 1-row crossjoins (corpus max-abs scale, then the probe vector)
      "knn_radius_quantized",
      // r6: retrieval_bm25 broadcasts the 1-row corpus stats and the
      // 3-row df table; pagerank_clicks broadcasts the 1-row N aggregate
      // each iteration — linear broadcast passes, not pair explosions
      "retrieval_bm25", "pagerank_clicks",
      // r15: the exact-percentile pair cross tiny lists to derive
      // target ranks (4-row pct x 1-row count / 3-row per-group counts)
      // — bounded broadcasts, not pair explosions
      "agg_percentile_exact", "agg_percentile_exact_group",
      // graph_triangles crosses three 1-row census aggregates;
      // text_bigram_lm broadcasts the 1-row vocabulary size;
      // retrieval_mmr crosses the broadcast query vector and the 20-row
      // checkpointed candidate pool (k-bounded by construction)
      "graph_triangles", "text_bigram_lm", "retrieval_mmr",
      // collocation_pmi broadcasts the 1-row total-bigram count N;
      // vocab_coverage broadcasts the 1-row corpus token total;
      // anomaly_iqr_fence broadcasts the 1-row quartile pair (the
      // anomaly_mad shape)
      "collocation_pmi", "vocab_coverage", "anomaly_iqr_fence",
      // r7: workflow_scheduled broadcasts the 1-row schedule anchor
      "workflow_scheduled",
      // r8: the GK-sketch fence variant broadcasts the same 1-row
      // quartile pair as its exact sibling; retrieval_rrf contains both
      // component rankings' intended broadcast passes (bm25 corpus stats,
      // quantized probe vector)
      "anomaly_iqr_fence_approx", "retrieval_rrf",
      // r8: profile_drift broadcasts the 1-row period-total pair
      // re-aggregated from the |event_type|-sized count table
      "profile_drift",
      // r11: retrieval_maxsim crosses the 1-row quantization scale and
      // the 4-row query-token table (both broadcast — late-interaction
      // scoring streams the corpus once); rfm_segment crosses the 1-row
      // quartile-cuts aggregate (boundary-broadcast scoring is the whole
      // point — see the query's scaladoc)
      "retrieval_maxsim", "rfm_segment",
      // r12: coreset_kcenter is the kmeans_lloyd-style bounded broadcast
      // pattern — each round crosses the ≤4-row broadcast center table
      // (and the final assignment pass crosses it once more); the
      // quantization scale rides the shared 1-row broadcast
      "coreset_kcenter",
      // r12: embed_random_projection reads quantizedVectors (the shared
      // 1-row broadcast quantization scale); dsir_importance crosses the
      // 1-row (T, R) feature-total aggregate onto the 256-row bucket table
      "embed_random_projection", "dsir_importance",
      // r12b: sample_temperature crosses the 1-row (Σw, N) totals onto the
      // |langs|-sized weight table (the corpus_mix_rebalance shape);
      // perplexity_bigram_doc crosses the 1-row vocabulary size onto the
      // vocab²-bounded bigram-type table (the text_bigram_lm shape)
      "sample_temperature", "perplexity_bigram_doc",
      // r13: mix_epochs_schedule crosses the 1-row (Σw, total_chars)
      // totals onto the |langs|-sized weight table (the
      // sample_temperature shape); r14: mix_materialize_repeats shares
      // epochSchedule and so contains the same 1-row totals cross
      "mix_epochs_schedule", "mix_materialize_repeats",
      // r12b: knn_pq_adc reads quantizedVectors (1-row broadcast scale);
      // its codebook/ADC tables join by (sub, code) equi-keys, broadcast
      // hash joins, not cartesians
      "knn_pq_adc",
      // r12b: profile_benford broadcasts the 1-row total re-aggregated
      // from the 9-row digit table (the profile_drift shape)
      "profile_benford",
      // r12b: retrieval_eval_ndcg contains the pq pipeline's broadcast
      // scale plus two 1-row broadcast probe crosses (exact + JL-16
      // rankings) — all k-bounded
      "retrieval_eval_ndcg",
      // r12c: dedup_semantic_ann's ivfCellAssign crosses the 8-row
      // broadcast centroid table (the dedup_semantic_cells /
      // knn_ivf_coarse assignment pattern)
      "dedup_semantic_ann",
      // r12c: graph_hits crosses the broadcast 1-row normalization max
      // twice per round (the pagerank-family bounded broadcast pattern)
      "graph_hits",
      // r12d: the bpe keys share bpeLearn, which crosses the broadcast
      // 1-row argmax merge rule onto the word-type table each round (the
      // pagerank/hits bounded-broadcast loop shape)
      "bpe_train_merges", "bpe_apply_encode",
      // r12e: timeseries_cusum crosses the 1-row (n, T) totals and the
      // 1-row peak aggregate onto the calendar-bounded daily table;
      // vocab_growth_curve crosses the 1-row band width onto the doc /
      // instance / first-occurrence streams (the vocab_coverage shape);
      // knn_ivf_pq contains the pq pipeline's broadcast scale plus the
      // 8-row ivfCellAssign centroid cross and the 1-row probe-cell
      // broadcast (the knn_ivf_coarse + knn_pq_adc composition)
      "timeseries_cusum", "vocab_growth_curve", "knn_ivf_pq",
      // r12f: pagerank_personalized broadcasts the 1-row |S| aggregate
      // each round (the pagerank_clicks N-broadcast pattern);
      // sketch_kmv_intersect theta-joins (s1 < s2) the SOURCES-sized
      // broadcast sketch table against itself — a ≤|sources|² pair
      // matrix over k-bounded arrays, never the corpus (the
      // corpus_overlap_ngram pair-matrix scale argument)
      "pagerank_personalized", "sketch_kmv_intersect",
      // r12g: market_basket_lift crosses the 1-row basket total onto the
      // |brands|²-bounded pair table (brand counts join by equi-key);
      // graph_modularity crosses the 1-row edge count onto the
      // |communities|-sized table; text_chisq_terms crosses the 1-row
      // doc total onto the vocab-sized contingency table (the
      // vocab_coverage shape)
      "market_basket_lift", "graph_modularity", "text_chisq_terms",
      // r12h: survival_km_sessions crosses the 1-row observation-end
      // aggregate onto the session table (the timeseries_cusum shape)
      "survival_km_sessions",
      // r12i: knn_pq_rerank contains the pq pipeline's broadcast scale
      // plus the 1-row broadcast probe cross for the exact rerank of the
      // 100-row candidate pool (the knn_pq_adc / retrieval_eval_ndcg
      // shape)
      "knn_pq_rerank",
      // r12j: abc_classification crosses the 1-row revenue total onto
      // the post-aggregation |customers| table (the timeseries_cusum
      // shape)
      "abc_classification",
      // r14: profile_ks_drift crosses the 1-row (n_a, n_b) totals onto
      // the distinct-cents ECDF grid (the profile_drift total-broadcast
      // shape); knn_mrl_prefix_recall runs four knn_cosine_topk-style
      // 1-row broadcast probe crosses (one per prefix width)
      "profile_ks_drift", "knn_mrl_prefix_recall",
      // r14b: knn_ivf_recall_audit runs three ivfTop10 passes (each with
      // the multiprobe key's intended centroid cross + nprobe-row probe
      // broadcast) plus the knn_cosine_topk-style 1-row exact-reference
      // probe cross; mix_shard_assignment shares epochSchedule (the
      // 1-row totals cross); tokenizer_fertility shares bpeLearn's
      // bounded-broadcast argmax loop
      "knn_ivf_recall_audit", "mix_shard_assignment", "tokenizer_fertility",
      // r14c: graph_reciprocity crosses two 1-row census aggregates (the
      // graph_triangles shape); embed_dim_stats reads quantizedVectors
      // (the shared 1-row broadcast scale); etl_delete_cascade_audit
      // crosses four 1-row audit aggregates
      "graph_reciprocity", "embed_dim_stats", "etl_delete_cascade_audit",
      // r14c: profile_fk_coverage crosses each FK's two 1-row count
      // aggregates; mix_token_budget shares epochSchedule's 1-row totals
      // cross
      "profile_fk_coverage", "mix_token_budget")
    // ETL/streaming queries run real side effects — planning-only audit
    // covers the analytic surface (list shared with ContractSpec).
    val sideEffecting = QuerySets.sideEffecting
    val offenders = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(intended).filterNot(sideEffecting)
      .filter { name =>
        val plan = SparkEntryPlan(name).queryExecution.executedPlan.toString
        plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin")
      }
    assert(offenders.isEmpty, s"unintended cartesian plans: $offenders")
  }

  test("r12: market_basket_lift reads its incidence from checkpointed blocks, never re-scanning the fact table") {
    // the round-12 re-learned lesson, pinned mechanically: the (order,
    // brand) incidence feeds THREE consumers (pair expansion, brand
    // counts, basket total); without the localCheckpoint each re-ran the
    // lineitem join+distinct — measured 160.7 s / 1.19 tail slope at x64
    // vs 116.6 s / 0.66 checkpointed (SCALING.md). The executed plan of
    // the final frame must therefore contain NO lineitem parquet scan
    // (every branch reads the materialized ExistingRDD) — a regression
    // that drops the checkpoint re-introduces the scans and fails here.
    val plan = executedPlan("market_basket_lift")
    assert(!plan.contains("lineitem"),
      s"a consumer re-scans the fact table past the checkpoint:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"no checkpointed incidence in the plan:\n$plan")
  }

  test("r10: containment dedup — no array rides a candidate join, id-pairs distinct, prefix precedes postings") {
    // the scale contract of the AllPairs prefix-filter plan (Dedup.scala):
    // (1) no gram ARRAY crosses any gh-keyed candidate-generation join —
    // candidates travel as skinny rows, the arrays join back only after the
    // (d_new, d_src) distinct; (2) that distinct is id-pairs-only (the wide
    // shuffle's payload is two longs); (3) the postings join consumes an
    // already-prefix-filtered side (the row_number-over-df window runs
    // BELOW it — otherwise every gram of every batch doc would probe the
    // posting lists and the filter would be decorative).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.types.ArrayType
    val lp = SparkEntryPlan("dedup_containment").queryExecution.optimizedPlan
    val ghJoins = lp.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "gh")) => j
    }
    // r18: the dfreq gh join lives inside the checkpointed prefix table
    // now, so the final plan shows only the postings candidate join
    assert(ghJoins.size >= 1, s"expected the postings gh join in:\n$lp")
    ghJoins.foreach { j =>
      val arrays = j.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"gram array ${arrays.map(_.name)} rides a candidate join:\n$j")
    }
    val pairDistinct = lp.collect {
      case a: Aggregate if a.groupingExpressions.size == 2 &&
        a.output.map(_.name).toSet == Set("d_new", "d_src") => a
    }
    assert(pairDistinct.nonEmpty, s"no (d_new, d_src)-only distinct in:\n$lp")
    pairDistinct.foreach { a =>
      assert(a.output.forall(!_.dataType.isInstanceOf[ArrayType]),
        s"candidate distinct carries an array:\n$a")
    }
    val postingsJoin = ghJoins.find(j =>
      j.left.output.exists(_.name == "d_src") ||
        j.right.output.exists(_.name == "d_src"))
    assert(postingsJoin.isDefined, s"no postings-side gh join in:\n$lp")
    // r18: the prefix table is checkpointed (it feeds its own bloom build
    // and the join, so the window no longer shows in this plan); the
    // prefix-precedes-postings witness is now STRONGER — the postings
    // stream must be gated by the prefix-derived runtime bloom filter
    // BELOW the join, so corpus postings outside the batch prefix
    // vocabulary never reach the exchange at all (guide §3.2).
    val postingsSide =
      if (postingsJoin.get.left.output.exists(_.name == "d_src"))
        postingsJoin.get.left
      else postingsJoin.get.right
    val bloomGated = postingsSide.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
            .BloomFilterMightContain]) => f
    }
    assert(bloomGated.nonEmpty,
      s"postings stream is not bloom-gated by the prefix filter:\n$lp")
  }

  test("r17: containment dedup — no corpus-proportional side is a broadcast build") {
    // the x128 scaling probe caught the r16 plan broadcasting three
    // corpus-growing sides (dfreq vocabulary, exploded postings, docs
    // gram arrays): Catalyst sizes Generate/Aggregate outputs from the
    // child SCAN estimate, so a 15M-row postings build estimated under
    // the 10 MB threshold and shipped as a ~240 MB hashed relation —
    // an executor OOM at cluster scale. The shipped plan pins `merge`
    // hints on exactly those three joins; this test keeps them pinned:
    // no broadcast join may key on gh (dfreq + postings joins) or on
    // d_src (the docs gram-array join-back). The batch-derived d_new
    // join may still broadcast — the ingest delta is bounded per batch
    // by the operator's contract.
    // string-level over the FINAL adaptive plan (a plain collect cannot
    // see through query-stage wrappers): every BroadcastHashJoin line
    // names its keys as `[gh#686L], [gh#707L]` — none may be gh/d_src
    val df = SparkEntryPlan("dedup_containment")
    df.collect() // final adaptive plan
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val offending = finalPlan.linesIterator.filter(_.contains("BroadcastHashJoin"))
      .filter(l => "\\[(gh|d_src)#".r.findFirstIn(l).isDefined).toSeq
    assert(offending.isEmpty,
      s"a corpus-proportional containment side rides broadcast:\n" +
        offending.mkString("\n"))
  }

  test("r17: salted skew join is a shuffled hash join — the replicated " +
      "side never broadcasts") {
    // salting presupposes the small side is NOT broadcastable (a
    // broadcast join has no skew problem), yet Catalyst's estimate
    // picked BroadcastHashJoin for the ×4-replicated orders side at
    // staging scale — measured by the board-wide BroadcastAudit at 2-3×
    // the threshold at sf0.1, and fact-sized (an OOM) at cluster scale.
    // Colocate.saltedJoin pins shuffle_hash; this keeps it pinned, and
    // keeps the build on the replicated side (BuildRight), not the
    // splintered big side.
    val df = SparkEntryPlan("join_salted_skew")
    df.collect() // final adaptive plan
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(finalPlan.contains("ShuffledHashJoin"),
      s"salted join must shuffle-hash:\n$finalPlan")
    val salted = finalPlan.linesIterator
      .filter(l => l.contains("Join") && l.contains("graft_salt")).toSeq
    assert(salted.nonEmpty, s"no join keyed on graft_salt in:\n$finalPlan")
    assert(salted.forall(l => !l.contains("BroadcastHashJoin")),
      s"the salt-replicated side rides broadcast:\n${salted.mkString("\n")}")
  }

  test("r17: NN-Descent's cumulative scored-pair set never broadcasts") {
    // the r17 board-wide BroadcastAudit caught the anti-join building a
    // broadcast hash of the checkpoint-backed scored set (23 MB actual
    // at sf0.1, growing ~n·cap² per round — GB at x64); the fix pins
    // shuffle_hash on it. The loop's localCheckpoints cut lineage, so a
    // final-plan string can't see the per-round joins — instead an
    // audit listener at k=0 records EVERY broadcast build of every
    // intermediate action, and none may be the bare (p1, p2) pair set.
    // (The unit-vector sides may broadcast: checkpoint-actual-driven
    // and corpus-bounded per join — the pair set is the one that
    // accumulates.)
    val listener = graft.plans.BroadcastAudit.install(spark, k = 0.0)
    try {
      graft.SparkEntry.queries("knn_nndescent")(spark, sf).collect()
      GraftBridge.drainListeners(spark) // every build so far has been heard
      val pairBuilds = listener.violations
        .filter(_._2.desc == "bcast[p1,p2]")
      assert(pairBuilds.isEmpty,
        s"the scored pair set rode broadcast: $pairBuilds")
    } finally spark.listenerManager.unregister(listener)
  }

  test("r11: phash dedup — no fingerprint rides the band candidate join") {
    // HammingBanding's scale contract: candidate generation joins on
    // (band, bv) with ids only — the fingerprint re-joins by id AFTER the
    // (d1, d2) distinct, so the wide shuffle carries two longs per row,
    // never the fingerprint alongside every banded replica (the
    // dedup_containment id-pairs discipline).
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = SparkEntryPlan("multimodal_dedup_phash")
      .queryExecution.optimizedPlan
    val bandJoins = lp.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "bv")) => j
    }
    assert(bandJoins.nonEmpty, s"no band-bucket candidate join in:\n$lp")
    bandJoins.foreach { j =>
      assert(!j.output.exists(_.name == "hb_ph"),
        s"fingerprint rides the candidate join:\n$j")
    }
  }

  test("r11: verified dedup — tokens never ride the banding, candidates are id pairs") {
    // the scale contract of the two-stage pipeline (Dedup.scala,
    // minhashVerifiedPairs): (1) the bucket-min window runs over skinny
    // (doc_id, band, bh) rows — the token arrays are projected away before
    // the banding explode/shuffle; (2) the candidate set is a
    // (doc_id, keeper)-only distinct — two longs per row across the wide
    // shuffle; the arrays join back by id only AFTER it, for candidate
    // rows (the dedup_containment id-pairs discipline).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.types.ArrayType
    val lp = SparkEntryPlan("dedup_minhash_verified")
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, s"no bucket-min window in:\n$lp")
    wins.foreach { w =>
      val arrays = w.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"token array ${arrays.map(_.name)} rides the banding window:\n$w")
    }
    val pairDistinct = lp.collect {
      case a: Aggregate if a.groupingExpressions.size == 2 &&
        a.output.map(_.name).toSet == Set("doc_id", "keeper") => a
    }
    assert(pairDistinct.nonEmpty, s"no (doc_id, keeper)-only distinct in:\n$lp")
    pairDistinct.foreach { a =>
      assert(a.output.forall(!_.dataType.isInstanceOf[ArrayType]),
        s"candidate distinct carries an array:\n$a")
    }
  }

  test("r11: corpus overlap — distinct (source, gram) precedes the pair self-join, text never rides it") {
    // the scale contract of the overlap matrix (TextStats.scala): the
    // corpus collapses to DISTINCT (source, gram-hash) rows before any
    // pairing — the g-keyed self-join sees a distinct Aggregate below
    // BOTH sides and carries no document text.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val lp = SparkEntryPlan("corpus_overlap_ngram")
      .queryExecution.optimizedPlan
    val gJoins = lp.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "g")) => j
    }
    assert(gJoins.nonEmpty, s"no gram-keyed pair self-join in:\n$lp")
    gJoins.foreach { j =>
      assert(!j.output.exists(_.name == "text"),
        s"document text rides the pair join:\n$j")
      Seq(j.left, j.right).foreach { side =>
        assert(side.collect { case a: Aggregate => a }.nonEmpty,
          s"pair-join side is not distinct-first:\n$side")
      }
    }
  }

  test("r15: prefix-routed keys run no table-proportional global window") {
    // profile_gini / abc_classification / sessions_concurrent_peak were
    // the last three keys whose plan funneled a table-proportional input
    // through ONE un-partitioned WindowExec task (the r14 verdict's
    // named scale-weakness). They now route through
    // Prefix.runningAggs: the only un-partitioned window allowed in
    // their plans is the offset pass over the per-partition totals —
    // an Aggregate grouped by __prefix_pid, ≤ |shuffle partitions| rows
    // by construction. Any other un-partitioned window is a regression.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    for (name <- Seq("profile_gini", "abc_classification",
        "sessions_concurrent_peak", "agg_percentile_exact",
        "agg_weighted_median", "agg_percentile_exact_group",
        "win_running_revenue_dec")) {
      val lp = SparkEntryPlan(name).queryExecution.optimizedPlan
      val wins = lp.collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$name: expected window nodes in:\n$lp")
      // the grouped form (weighted_median) has NO un-partitioned window
      // at all — its offset window is keyed; everywhere else the offset
      // window must survive optimization, and any un-partitioned window
      // that exists must be pid-bounded
      val unpartitioned = wins.filter(_.partitionSpec.isEmpty)
      if (name != "agg_weighted_median" &&
          name != "agg_percentile_exact_group")
        assert(unpartitioned.nonEmpty,
          s"$name: the offset window should survive optimization:\n$lp")
      unpartitioned.foreach { w =>
        val pidBounded = w.child.collect { case a: Aggregate => a }.exists(
          _.groupingExpressions.exists(
            _.references.exists(_.name == "__prefix_pid")))
        assert(pidBounded,
          s"$name: un-partitioned window over non-pid-bounded input:\n$w")
      }
    }
  }

  test("r15: Prefix's two consumers share ONE materialized range exchange") {
    // the local-cumsum pass and the per-partition totals both read the
    // ranged slice; Catalyst/AQE must collapse them onto a single range
    // shuffle (ReusedExchange / reused query stage) — otherwise the
    // checkpointed input is range-shuffled twice, and (worse) the two
    // passes could in principle see different partition boundaries.
    // Driven at an EXPLICIT width: the adaptive default collapses the
    // gate-scale fixtures to one slice, where no range exchange plans
    // at all (also asserted below via profile_gini).
    import spark.implicits._
    val df = graft.operators.Prefix.runningAggs(
      (1L to 10000L).map(i => (i, i % 97)).toDF("id", "v"),
      Seq(col("v").asc, col("id").asc), col("v"),
      sumOut = Some("cum"), partitions = Some(8))
    df.collect() // AQE finalizes exchange reuse only on execution
    val full = df.queryExecution.executedPlan.toString
    // the adaptive toString appends the initial (pre-reuse) plan — take
    // only the final section
    val finalPlan = full.split("== Initial Plan ==")(0)
    val materialized = finalPlan.linesIterator.count(l =>
      l.contains("Exchange rangepartitioning") &&
        !l.contains("ReusedExchange"))
    val reused = finalPlan.linesIterator.count(l =>
      l.contains("ReusedExchange") && l.contains("rangepartitioning"))
    assert(materialized == 1,
      s"expected exactly one materialized range exchange, got $materialized in:\n$finalPlan")
    assert(reused >= 1,
      s"totals side must reuse the range exchange, not rebuild it:\n$finalPlan")
    // the round-15 review finding, pinned: the slice-local pass is a
    // mapPartitions scan over the range slices — a pid-partitioned
    // Window there would make EnsureRequirements re-shuffle the whole
    // stream on __prefix_pid. (The offsets branch still hash-exchanges
    // pid legitimately: that shuffle carries one PARTIAL-AGG row per
    // task, not the data.)
    assert(finalPlan.contains("MapPartitions graft.operators.Prefix"),
      s"slice-local pass is not the mapPartitions scan:\n$finalPlan")
    val localWindowOnPid = finalPlan.linesIterator.exists(l =>
      l.contains("windowspecdefinition(__prefix_pid") &&
        l.contains("currentrow"))
    assert(!localWindowOnPid,
      s"a pid-partitioned running window re-appeared (full-data " +
        s"re-shuffle):\n$finalPlan")
    // and at the adaptive default on a gate-scale fixture, the input
    // collapses to ONE slice — no range exchange should plan at all
    val gini = SparkEntryPlan("profile_gini")
    gini.collect()
    val gPlan = gini.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!gPlan.contains("Exchange rangepartitioning"),
      s"gate-scale gini should adapt to one slice (no range exchange):\n$gPlan")
  }

  test("r16: the GROUPED Prefix form shares ONE materialized range " +
      "exchange too") {
    // ADVICE r15: the exchange-reuse assertion covered only the
    // ungrouped shape — the determinism of the grouped stitch rests on
    // the same property (local pass and offsets pass must observe
    // identical range boundaries, guaranteed by sharing the ONE
    // materialized exchange, not by recomputing it), so pin it for
    // runningAggsByKey as well.
    import spark.implicits._
    val df = graft.operators.Prefix.runningAggsByKey(
      (1L to 10000L).map(i => (i % 7L, i, i % 97L)).toDF("g", "id", "v"),
      Seq("g"), Seq(col("v").asc, col("id").asc), col("v"),
      sumOut = Some("cum"), partitions = Some(8))
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val materialized = finalPlan.linesIterator.count(l =>
      l.contains("Exchange rangepartitioning") &&
        !l.contains("ReusedExchange"))
    val reused = finalPlan.linesIterator.count(l =>
      l.contains("ReusedExchange") && l.contains("rangepartitioning"))
    assert(materialized == 1,
      s"expected exactly one materialized range exchange, got " +
        s"$materialized in:\n$finalPlan")
    assert(reused >= 1,
      s"grouped offsets side must reuse the range exchange:\n$finalPlan")
  }

  test("whole-stage codegen covers the flagship aggregate") {
    // AQE only materializes codegen spans in the final plan — execute first.
    val df = SparkEntryPlan("agg_groupby_having")
    df.collect()
    // codegen spans print as "*(n) Operator" in the simple plan string
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) HashAggregate") || plan.contains("WholeStageCodegen"),
      s"no codegen span in:\n$plan")
  }
}
