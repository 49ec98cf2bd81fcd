package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness: measures rows-vs-seconds scaling curves for the
  * operators whose SURVEY §2 "100 TB design" notes claim a complexity class
  * (linear / candidate-bounded vs quadratic-in-block), by inflating the
  * driver fixtures 1-256× into scratch (NEVER touching /root/testdata —
  * TESTDATA.md:4-5) and timing each query at every multiplier.
  *
  * Inflation is NOT naive duplication — a copy that byte-duplicates every
  * document would make the true near-dup pair count itself quadratic in the
  * multiplier, so every operator (including the bucketed ones) would
  * rightfully show a quadratic output curve and the measurement would say
  * nothing about plan complexity. Instead each copy i is made
  * CONTENT-DISJOINT from the others:
  *
  *  - documents: text is Caesar-rotated by i (letters only — token sets and
  *    char-3-gram sets across copies are disjoint, length/whitespace
  *    structure identical), and every doc gets a planted shared leading
  *    token "blk" so the (first-token, length-band) blocking key used by
  *    the exact pair-join operators forms blocks that GROW ×m. That
  *    isolates exactly the claim under test: the exact operators do
  *    block² pair work (expected slope ≈ 2 in log-time vs log-m) while the
  *    MinHash/LSH/prefix-filter siblings on the SAME corpus stay ~linear
  *    (cross-copy docs share no tokens, so buckets and posting lists stay
  *    copy-local). n_chars keeps the base value (it feeds the length band).
  *  - embeddings: vectors are circularly rotated by i (norm-preserving,
  *    direction-scrambling — cross-copy cosines are unstructured), ids
  *    offset; labels kept, so the per-label exact pair space grows ×m per
  *    side (slope ≈ 2) while fixed probe sets (vec_id < 200 etc.) and the
  *    scored-scan operators stay linear in the corpus.
  *  - events: ids/users/pages offset per copy (props rebuilt as
  *    {"k": k+100i}) — m disjoint isomorphic click graphs, so |V| and |E|
  *    grow ×m with degree structure EXACTLY preserved: the graph loops'
  *    frontier-/edge-proportional claims predict slope ≈ 1.
  *
  * Output: one JSON document (default /tmp/graft_scaling.json) with every
  * (query, multiplier, input_rows, output_rows, seconds) point plus a
  * fitted log2-slope per query over the top half of its curve; SCALING.md
  * is written from this file. Not driver-invoked — run manually:
  *   sbt "runMain graft.Scaling"
  */
object Scaling {

  /** (query, cap): cap bounds the multiplier so the deliberately-quadratic
    * references stay inside a local-run budget. Caps above 64 (r16
    * verdict #2) extend the headline sub-quadratic twins one point past
    * the staging range every 100×-scale claim had rested on: 128 for the
    * docs-family twins (the 156-bijection content-disjointness bound),
    * 256 for the TPC-H-family percentile keys (key-offset copies are
    * unbounded; the 2-3-column projections they shuffle fit the host). */
  case class Q(name: String, cap: Int)

  private val Mults = Seq(1, 4, 16, 64, 128, 256)

  /** documents-family study (base sf0.01 — 500 docs ⇒ 32000 at 64×):
    * the exact-vs-bucketed dedup pairings on the doc corpus. */
  private val DocsQueries = Seq(
    Q("dedup_near_jaccard", 64), Q("dedup_ngram_jaccard", 64),
    Q("dedup_clusters", 64),
    Q("dedup_exact_text", 64), Q("dedup_minhash_lsh", 64),
    Q("dedup_minhash_banded", 64), Q("dedup_containment", 128),
    Q("multimodal_dedup_bytes", 64), Q("multimodal_dedup_phash", 64),
    Q("dedup_substring_window", 64),
    // round-11 additions: the two-stage LSH→verify dedup (star candidates —
    // must track the linear banded sibling, not the pair family), the
    // novelty profile (digest-only first-occurrence), and the source-pair
    // overlap matrix (distinct-first, posting-bounded self-join)
    Q("dedup_minhash_verified", 128), Q("dedup_ngram_novelty", 64),
    Q("corpus_overlap_ngram", 64),
    // round 12: winnowing profile (digest-only shuffle — linear claim),
    // and the keeper-policy pairing: exact keep_best inherits the
    // quadratic pair-gen, the LSH sibling must track minhash_verified
    Q("dedup_winnow_fingerprint", 64),
    Q("dedup_cluster_keep_best", 64), Q("dedup_cluster_keep_best_lsh", 128),
    // round 12b: DSIR (one explode pass + 256-row broadcast lr join), the
    // CCNet tertiles (histogram ranking), and the per-doc bigram LM score
    // (instance stream × broadcast type table) — all claim linear
    Q("dsir_importance", 64), Q("quality_buckets_lang", 64),
    Q("perplexity_bigram_doc", 64),
    // round 12d: bloom-prefiltered incremental dedup (digest-only shuffle
    // after the map-side bloom prune — linear claim) and BPE merge
    // training (corpus scan + 8 rounds over the word-TYPE table; types
    // grow ~×m under content-disjoint rotation, so ≈ linear expected)
    Q("dedup_incremental_bloom", 64), Q("bpe_train_merges", 64),
    // round 12d: BPE encode — bpeLearn + one corpus explode → type-table
    // equi-join → per-doc sum; linear claim
    Q("bpe_apply_encode", 64),
    // round 12e/f: Heaps-law banding (one explode + first-occurrence agg —
    // types grow ~×m under content-disjoint rotation, linear claim), the
    // per-source rank window normalizer (sources stay 3, partitions grow
    // ×m — n·log n per source, near-linear expected), and the KMV set
    // sketch (k-bounded partial agg + constant pair matrix — linear)
    Q("vocab_growth_curve", 64), Q("quantile_normalize_source", 64),
    Q("sketch_kmv_intersect", 64),
    // round 12g: χ² feature selection — the presence explode+distinct is
    // the only corpus-sized shuffle, everything after vocab-sized; linear
    Q("text_chisq_terms", 64),
    // round 13: gopher rules are a pure projection (zero-shuffle map
    // claim); the epoch schedule is one vocab-sized agg + broadcast
    // (linear); the packing report aggregates the pack window's layout
    // (the pack_sequences per-shard-window class)
    Q("quality_gopher_rules", 64), Q("mix_epochs_schedule", 64),
    Q("pack_efficiency_report", 64),
    // round 14: LSH calibration — bucket-collision candidates + exact
    // verify joins on candidate rows only; the minhash_verified class.
    // Schedule materialization — broadcast |langs| join + per-row md5,
    // scan-bound linear claim
    Q("dedup_minhash_calibration", 64), Q("mix_materialize_repeats", 64),
    // round 14b: shard assignment — the materialization's broadcast join
    // + a sequence explode and an 8-group agg; scan-bound linear claim.
    // Fertility — bpeLearn + the bpe_apply_encode explode re-aggregated
    // to |langs| rows; expected to track bpe_apply_encode
    Q("mix_shard_assignment", 64), Q("tokenizer_fertility", 64),
    // round 14c: dup-rate monitor — one (lang, digest) map-side agg;
    // flat claim (the dedup_exact_text class)
    Q("dedup_rate_by_lang", 64),
    // round 14c: token budget — one size() pass + |langs| agg + the
    // schedule broadcast; scan-bound linear claim
    Q("mix_token_budget", 64),
    // round 14c: phash banding calibration — band-bounded candidates on
    // the shared fingerprints; expected to track multimodal_dedup_phash
    Q("dedup_phash_calibration", 64),
    // round 15 (LedgerSpec gate): contrastive negatives — partner fetch
    // is ONE md5-derived equi-join against a broadcast count, no pair
    // enumeration; linear-in-docs claim
    Q("negative_pairs", 64),
    // round 17 (LedgerSpec's widened net): context-window chunking is a
    // per-row sequence() explode — zero shuffle before the final sort,
    // linear-in-docs claim; measured here so the `overlap`-named key
    // carries the sub-quadratic curve the gate demands
    Q("text_chunk_overlap", 64))

  /** embeddings+events-family study (base sf0.1 — 2000 vecs / 100k events
    * ⇒ 128000 / 6.4M at 64×). The exact per-label pair operator is capped
    * at 16× (its measured point IS the quadratic blow-up: ~100M pairs). */
  private val EmbQueries = Seq(
    Q("dedup_embedding_cosine", 16), Q("knn_pairs_label", 64),
    // round 11: the SemDeDup cell-blocked exact reference — expected to
    // track its label-blocked sibling's quadratic-in-block curve (16 cap)
    Q("dedup_semantic_cells", 16),
    Q("dedup_embedding_ann", 64), Q("knn_pairs_label_ann", 64),
    Q("knn_radius_quantized", 64), Q("knn_quantized_topk", 64),
    Q("knn_ivf_multiprobe", 64),
    // round 14b: recall-vs-nprobe audit — three ivfTop10 passes + three
    // 1-row candidate counts + the exact reference scan; expected ~4-7×
    // the single multiprobe curve, same linear class
    Q("knn_ivf_recall_audit", 64),
    // round 14c: per-dim stats — one posexplode + 64-group agg over the
    // quantized corpus; linear-in-scan claim
    Q("embed_dim_stats", 64),
    // round 11b: late-interaction MaxSim — one broadcast pass over the
    // corpus (4 query tokens), expected to track the linear topk curve
    Q("retrieval_maxsim", 64),
    // round 12: Gonzalez k-center — k broadcast rounds over the corpus,
    // O(k·N) claim ⇒ expected to track the scan-bound linear family
    Q("coreset_kcenter", 64),
    // round 12b: JL projection — pure per-row map work, scan-bound claim
    Q("embed_random_projection", 64),
    // round 12b: PQ-ADC — two training passes + encode + lookup-sum, all
    // linear with broadcast codebook/table; claims the scan-bound class
    Q("knn_pq_adc", 64),
    // round 12c: production SemDeDup (banded candidates inside cells —
    // must track the linear ANN family, not its quadratic-in-cell exact
    // sibling) and the NDCG eval (two scan rankings)
    Q("dedup_semantic_ann", 64), Q("retrieval_eval_ndcg", 64),
    // round 12d: NN-Descent — per-round candidate work is N·cap²/2 pair
    // scores (linear-in-N claim), with a ~20-corpus-scans constant.
    // Round 13 (r12 verdict #4): cap raised 16 → 64 — this family is
    // where the 354 s fixed-r surprise hid, so the tail gets measured
    // like everyone else's even though the point costs minutes
    Q("knn_nndescent", 64),
    // round 12e: IVF-PQ composition — cell assignment + PQ training are
    // corpus-wide scans, ADC scoring is |cell| ≈ corpus/8 rows; claims
    // the scan-bound linear class like its two halves
    Q("knn_ivf_pq", 64),
    // round 12i: retrieve-then-rerank — the PQ scan proposes 100
    // candidates, the exact rerank touches only those; expected to track
    // knn_pq_adc's linear curve plus a constant
    Q("knn_pq_rerank", 64),
    // round 13: probe-set MRR/recall eval — two broadcast-probed scans +
    // probe-partitioned top-10 windows; claims the scan-bound class
    Q("retrieval_eval_mrr", 64),
    // round 14: hubness audit — shares knn_pairs_label's top-1 table
    // (the probe cap bounds it), plus two tiny count aggs; expected to
    // track knn_pairs_label's curve. MRL prefix recall — four broadcast
    // probe scans, the knn_quantized_topk scan-bound class
    Q("knn_hubness_audit", 64), Q("knn_mrl_prefix_recall", 64))

  private val GraphQueries = Seq(
    // round 11: bounded-round peel — per-round O(|E|) like LPA
    Q("graph_kcore_peel", 64),
    Q("graph_bfs_reach", 64), Q("graph_communities_lpa", 64),
    Q("graph_triangles", 64), Q("graph_degree_stats", 64),
    Q("pagerank_clicks", 64),
    // round 11b: the CC loop on m disjoint isomorphic copies (per-round
    // frontier work linear in |E|, round count pinned by the copy graph's
    // diameter), the per-node triangle-corner profile (the census's
    // enumeration plus one explode — must track graph_triangles), the
    // transition-table model and the gaps-and-islands streaks (both one
    // user_id window + vocabulary-sized aggs — linear)
    Q("graph_components", 64), Q("graph_clustering_coeff", 64),
    Q("markov_next_page", 64), Q("streaks_activity", 64),
    // round 12b: RA link prediction — same cap·|E| wedge bound as CN
    Q("graph_resource_alloc", 64),
    // round 12c: HITS — per-round O(|E|) like LPA/pagerank
    Q("graph_hits", 64),
    // round 12f: personalized PageRank — same per-round O(|E|) loop with
    // the teleport gated on the seed flag; under page-offset copies only
    // copy 0 holds seeds (pages < 10), so output mass concentrates there
    // while the per-round join+agg work still spans the FULL ×m edge
    // list — exactly the claim under test. The U-shaped attribution is
    // two nested windows + a vocabulary-sized agg — linear in events.
    Q("pagerank_personalized", 64), Q("attribution_position", 64),
    // round 12g: modularity — two |E|-linear label joins over the LPA
    // loop's output; expected to track graph_communities_lpa's class
    Q("graph_modularity", 64),
    // round 12h: KM session survival — sessionize agg + the
    // duration-bounded death table; linear in events claim
    Q("survival_km_sessions", 64),
    // round 12j: conversion latency — two user-partitioned windows +
    // one |users|-row percentile agg; linear in events claim
    Q("conversion_latency", 64),
    // round 12k: assortativity — one degree agg + two |E|-linear joins +
    // a one-row sum; linear claim (graph_modularity class)
    Q("graph_assortativity", 64),
    // round 13: preferential attachment — the same cap·|E| wedge bound
    // as CN/RA (shared enumeration), expected to track their curves
    Q("graph_pref_attachment", 64),
    // round 14: Adamic-Adar — the fourth sibling on the same capped
    // wedge enumeration; expected to track CN/RA/PA. Click-path 3-grams:
    // two per-user windows + a vocab³-bounded map-side-combinable count
    // — the markov_next_page class.
    Q("graph_adamic_adar", 64), Q("path_common_3grams", 64),
    // round 13b: entry/exit sessions (the sessionize_batch window class),
    // the time-capped funnel (three user windows), and the CC size
    // histogram (the graph_components loop + two vocab-sized aggs)
    Q("sessionize_entry_exit", 64), Q("funnel_conversion_window", 64),
    Q("graph_component_sizes", 64),
    // round 13c: co-visitation (cap·|incidence| bipartite self-join —
    // the CN class on the user side) and time-decay attribution (the
    // attribution_position window shape)
    Q("graph_covisitation", 64), Q("attribution_time_decay", 64),
    // round 14b: sweep-line concurrency — the sessionize_batch window
    // class + a 2·|sessions|-bounded global running sum; linear-in-events
    // claim dominated by the sessionization scan
    Q("sessions_concurrent_peak", 64),
    // round 14c: reciprocity — one |E|-bounded left-semi self-join on the
    // distinct edge set (edges grow ×m under vertex-disjoint copies:
    // linear claim); DAU/MAU — two exact-distinct passes + a
    // calendar-bounded broadcast (linear claim)
    Q("graph_reciprocity", 64), Q("engagement_dau_mau", 64),
    // round 14c: SRM — one distinct pass + a 2-row rollup (linear-in-
    // scan); growth accounting — one distinct + a per-user window over
    // the distinct table (the engagement class, linear claim)
    Q("abtest_srm_check", 64), Q("growth_accounting", 64),
    // round 14c: bounce rate — the sessionize_batch window class + a
    // calendar-bounded day rollup; linear-in-events claim
    Q("sessionize_bounce_rate", 64))

  /** orders/lineitem-family study (base sf0.1 — 150k orders / 600k
    * lineitem ⇒ 9.6M / 38.4M at 64×): the two round-12e keys whose input
    * is the TPC-H fact tables. Copies offset the order keys only — the
    * CUSUM daily table stays CALENDAR-bounded (~2.4k rows at every m, the
    * design point: only the scan and the map-side daily agg grow) and
    * Space-Saving keeps the base (flag, suppkey) key domain so eviction
    * churn is preserved while n grows ×m (the k-bounded partial-agg
    * claim). */
  private val TpchQueries = Seq(
    Q("timeseries_cusum", 64), Q("agg_spacesaving_topk", 64),
    // round 12g: lift rides the same map-side pair expansion as
    // basket_brand_pairs (≤|brands|² keys after combine — linear in
    // lineitem); the ACF's lag pairing is calendar-bounded like CUSUM
    Q("market_basket_lift", 64), Q("timeseries_autocorr", 64),
    // round 12h: both profiles are ONE map-side-combinable agg pass
    // (corr: 15 exact sums; columns: the Expand-widened multi-distinct)
    Q("profile_corr_matrix", 64), Q("profile_columns", 64),
    // round 12i: the DQ ruleset is the profile_columns shape (one agg,
    // 5-row explode) — flat claim
    Q("etl_dq_ruleset", 64),
    // round 13: the no-Expand HLL siblings — the claim under test is that
    // the approx curves stay flat-in-seconds where the exact plans' Expand
    // grows the shuffled row count ×(|cols|+1)
    Q("profile_columns_approx", 64), Q("etl_dq_ruleset_approx", 64),
    // round 12j: ABC tiers — per-customer agg + post-aggregation global
    // ranking window over |customers| rows; linear claim
    Q("abc_classification", 64),
    // round 13: seasonal z-score — the CUSUM shape (one daily map-side
    // agg, calendar-bounded tail); partition-skew profile — one
    // 33-group map-side agg, flat claim
    Q("timeseries_zscore_seasonal", 64), Q("profile_partition_skew", 64),
    // round 13b: MoM growth (monthly map-side agg + calendar-bounded lag)
    // and cohort LTV (one customer window + calendar²-bounded matrix)
    Q("timeseries_mom_growth", 64), Q("cohort_ltv", 64),
    // round 13c: table fingerprint — one scan, one partial-agg row per
    // partition; flat-in-shuffle, linear-in-scan claim
    Q("etl_table_fingerprint", 64),
    // round 14: partition-grain sibling — same scan, calendar-bounded
    // digest table; same flat claim
    Q("etl_partition_fingerprint", 64),
    // round 14: KS drift — one count pass over orders (map-side
    // combinable) + a distinct-cents-bounded cumulative (value-domain
    // constant under key-offset copies → flat claim past the scan);
    // Gini — one per-customer agg + a |customers|-bounded rank (customer
    // inflated ×m, so the rank table grows ×m: linear claim); SCD2
    // snapshot — a filter over the ×m-inflated published dim, scan-bound
    Q("profile_ks_drift", 64), Q("profile_gini", 64),
    Q("etl_scd2_snapshot_asof", 64),
    // round 14: fingerprint diff — two partition-digest passes + a
    // calendar-bounded join; twice the partition-fingerprint cost, flat
    Q("etl_fingerprint_diff", 64),
    // round 14b: weighted median — one map-side (flag, cents) agg + a
    // value-domain-bounded cumulative (distinct cents constant under
    // key-offset copies → flat past the scan); funcdep — three exact
    // distinct-pair passes over orders, linear in the scan
    Q("agg_weighted_median", 64), Q("profile_funcdep", 64),
    // round 14b: as-of dim join — events stay base (symlinked), the SCD2
    // version table grows with the ×m customer dim: the claim is that
    // dim growth costs only the dim scan + build side, the fact side
    // streams unchanged. Pseudonymized join — orders/customer both ×m,
    // one md5 per row + the raw join's shuffle: linear claim
    Q("etl_dim_asof_join", 64), Q("etl_pseudonymize_join", 64),
    // round 14c: frequent-values profile — two map-side count passes;
    // the rank window sees ≤8 aggregated rows; flat claim.
    // Delete-cascade audit — four 1-row aggregates over semi/anti joins
    // against the ×m-inflated customer victim set; linear-in-scan claim
    Q("profile_frequent_values", 64), Q("etl_delete_cascade_audit", 64),
    // round 14c: null-safe join — equi-shuffle on the coalesced key,
    // group-size side is |buckets| (=7) rows; linear-in-scan claim
    Q("join_null_safe", 64),
    // round 14c: FK coverage — two semi-join count passes (child ×m,
    // parent ×m, equi keys); linear-in-scan claim
    Q("profile_fk_coverage", 64),
    // round 15: the raw star join (lineitem⋈orders⋈customer + broadcast
    // nation/region, 25-row output) under the NEW per-copy custkey remap
    // — the claim under test is the measured BHJ→SMJ flip when the ×m
    // customer side outgrows the 10 MB broadcast threshold (the
    // etl_pseudonymize_join lesson on the star path proper)
    Q("join_multiway", 128),
    // round 15 (LedgerSpec gate): the basket pair expansion is MAP-SIDE
    // over ≤7-item sorted basket arrays — ≤|brands|² keys after combine,
    // never a pair join; linear-in-lineitem claim
    Q("basket_brand_pairs", 64),
    // round 15: exact global percentiles via the Prefix 2-pass rank —
    // one range shuffle of a 2-column projection + a 4-row broadcast
    // probe; the global-sort cost class, linear claim. The grouped
    // sibling was rerouted round 16 through the value-domain grid
    // (one map-side count agg + a grid-bounded cumulative): flat claim
    // past the scan, the weighted_median class
    Q("agg_percentile_exact", 256), Q("agg_percentile_exact_group", 256))

  case class Pt(query: String, mult: Int, inputRows: Long, outRows: Long,
      sec: Double)

  def main(args: Array[String]): Unit = {
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT",
      "/tmp/graft_scaling.json")
    val spark = GraftSession.forMain()
    val loadStart = Bench.loadAvg()

    // ---- stage inflated corpora ---------------------------------------
    val docsBase = sys.env.getOrElse("SPARK_GRAFT_DOCS_BASE",
      "/root/testdata/sf0.01")
    val eeBase = sys.env.getOrElse("SPARK_GRAFT_EE_BASE",
      "/root/testdata/sf0.1")
    // optional comma-separated query filter for targeted re-measurement
    // (e.g. after a fix, re-run just the affected curve); families no
    // selected query reads are not staged at all
    val only = sys.env.get("SPARK_GRAFT_SCALING_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected(qs: Seq[Q]): Seq[Q] =
      qs.filter(q => only.forall(_.contains(q.name)))
    // stage only the multipliers some selected query of the family will
    // read: the >64 points exist for a handful of headline twins, and
    // inflating every corpus to x128/x256 for queries capped at 64 would
    // multiply staging cost (and scratch) for nothing
    def neededMults(qss: Seq[Q]*): Seq[Int] = {
      val maxCap = qss.flatten.map(_.cap).foldLeft(0)(math.max)
      Mults.filter(_ <= maxCap)
    }
    val docsDirs =
      if (selected(DocsQueries).isEmpty) Map.empty[Int, String]
      else neededMults(selected(DocsQueries)).map(m => m ->
        stageFamily(spark, docsBase, m,
          inflateDocs = true, inflateEmbEvents = false)).toMap
    val eeDirs =
      if (selected(EmbQueries).isEmpty && selected(GraphQueries).isEmpty)
        Map.empty[Int, String]
      else neededMults(selected(EmbQueries), selected(GraphQueries)).map(m => m ->
        stageFamily(spark, eeBase, m,
          inflateDocs = false, inflateEmbEvents = true)).toMap
    val tpchDirs =
      if (selected(TpchQueries).isEmpty) Map.empty[Int, String]
      else neededMults(selected(TpchQueries)).map(m => m ->
        stageFamily(spark, eeBase, m,
          inflateDocs = false, inflateEmbEvents = false,
          inflateTpch = true)).toMap
    System.err.println(
      s"[scaling] staged ${(docsDirs.size + eeDirs.size)} corpora")

    // warm the session PER FAMILY so no family's first timed point absorbs
    // codegen/scan init (round 12: graph_resource_alloc's x1 read 26 s
    // because only the docs corpus was warmed — the first graph query paid
    // the whole events-scan + click-graph + codegen warmup)
    if (selected(DocsQueries).nonEmpty) {
      spark.read.parquet(s"$docsBase/documents.parquet").count()
      SparkEntry.queries("dedup_exact_text")(spark, docsBase).count()
    }
    if (selected(EmbQueries).nonEmpty) {
      spark.read.parquet(s"$eeBase/embeddings.parquet").count()
      SparkEntry.queries("knn_quantized_topk")(spark, eeBase).count()
    }
    if (selected(GraphQueries).nonEmpty)
      SparkEntry.queries("graph_degree_stats")(spark, eeBase).count()
    if (selected(TpchQueries).nonEmpty) {
      spark.read.parquet(s"$eeBase/lineitem.parquet").count()
      SparkEntry.queries("agg_global")(spark, eeBase).count()
    }

    // ---- run ----------------------------------------------------------
    val pts = scala.collection.mutable.ArrayBuffer[Pt]()
    def runSet(qs0: Seq[Q], dirs: Map[Int, String], rowsOf: String => Long)
        : Unit = {
      val qs = selected(qs0)
      for (q <- qs; m <- Mults if m <= q.cap) {
        val dir = dirs(m)
        val t0 = System.nanoTime()
        var df: org.apache.spark.sql.DataFrame = null
        val n =
          try { df = SparkEntry.queries(q.name)(spark, dir); df.count() }
          catch { case e: Throwable =>
            System.err.println(s"[scaling] ${q.name} x$m FAILED: $e"); -1L }
        val sec = math.round((System.nanoTime() - t0) / 1e6) / 1e3
        val pt = Pt(q.name, m, rowsOf(dir), n, sec)
        pts += pt
        System.err.println(
          s"[scaling] ${q.name} x$m rows=${pt.inputRows} out=$n sec=$sec")
        // round 16 (r15 verdict #2): measure the star join's ACTUAL
        // broadcast build sizes per multiplier — the estimate-vs-actual
        // study needs the true bytes the estimate discounts away. The
        // audit reads THIS df's executed plan, so re-run with collect
        // (25-row output; outside the timed window above)
        if (q.name == "join_multiway" && n >= 0) {
          df.collect()
          val t = graft.plans.BroadcastAudit.thresholdBytes(spark)
          graft.plans.BroadcastAudit.buildSides(df).foreach(b =>
            System.err.println(s"[scaling] ${q.name} x$m ${b.desc} " +
              s"rows=${b.rows} actual_bytes=${b.bytes} threshold=$t"))
        }
      }
    }
    def tableRows(table: String)(dir: String): Long =
      spark.read.parquet(s"$dir/$table.parquet").count()
    runSet(DocsQueries, docsDirs, tableRows("documents"))
    runSet(EmbQueries, eeDirs, tableRows("embeddings"))
    runSet(GraphQueries, eeDirs, tableRows("events"))
    runSet(TpchQueries, tpchDirs, tableRows("lineitem"))
    val loadEnd = Bench.loadAvg()

    // ---- fit + emit ---------------------------------------------------
    val json = render(pts.toSeq, loadStart, loadEnd)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    System.err.println(s"[scaling] wrote $outPath")
    try spark.stop() catch { case _: Throwable => () }
    println(s"""{"metric":"scaling","points":${pts.size},"out":"$outPath"}""")
  }

  /** Fitted log(sec)/log(mult) slope between two points of the curve. */
  private def fit(lo: (Int, Double), hi: (Int, Double)): Double =
    if (hi._1 == lo._1) 0.0
    else math.round(
      (math.log(hi._2 / lo._2) / math.log(hi._1.toDouble / lo._1)) * 100) / 100.0

  /** Overall slope: second point → last (the first point absorbs residual
    * warmup); the per-query fixed overhead (~0.3-1 s of planning/scan
    * setup) still flattens this, so the TAIL slope below is the
    * asymptotic read. */
  def slope(curve: Seq[(Int, Double)]): Double = {
    val s = curve.sortBy(_._1).filter(_._2 > 0)
    fit(s.tail.headOption.getOrElse(s.head), s.last)
  }

  /** Tail slope: second-to-last point → last — the fixed-overhead-least
    * segment, the number to compare against the claimed complexity. */
  def tailSlope(curve: Seq[(Int, Double)]): Double = {
    val s = curve.sortBy(_._1).filter(_._2 > 0)
    fit(s.init.lastOption.getOrElse(s.head), s.last)
  }

  private def render(pts: Seq[Pt], l0: Double, l1: Double): String = {
    val byQ = pts.groupBy(_.query).toSeq.sortBy(_._1)
    val qJson = byQ.map { case (q, ps) =>
      val curve = ps.sortBy(_.mult).map(p =>
        s"""{"mult":${p.mult},"input_rows":${p.inputRows},"output_rows":${p.outRows},"sec":${p.sec}}""")
        .mkString("[", ",", "]")
      val sl = slope(ps.map(p => p.mult -> p.sec))
      val tl = tailSlope(ps.map(p => p.mult -> p.sec))
      s""""$q":{"slope_log2":$sl,"tail_slope":$tl,"points":$curve}"""
    }.mkString("{", ",", "}")
    s"""{"metric":"scaling","loadavg_start":$l0,"loadavg":$l1,"queries":$qJson}"""
  }

  // ---- corpus staging -------------------------------------------------

  /** Per-copy letter bijection: rotations (i < 26), reversed-alphabet ∘
    * rotation (26 ≤ i < 52), and a fixed derangement ∘ rotation (52 ≤ i <
    * 78) — 78 distinct bijections (the fixture text is all-lowercase, so
    * plain Caesar would repeat at 26 and re-introduce cross-copy
    * duplicates). Two distinct bijections can agree on a few letters
    * (rotation pairs on none; reflection- and derangement-family pairs on
    * up to 4), so the precise invariant — pinned empirically in
    * ScalingSpec over the fixture vocabulary for every pair — is that NO
    * token of length ≥ 2 coincides across copies; the single-letter token
    * "a" may coincide for some pairs, which is harmless at every
    * threshold in play (≤2 shared tokens incl. the planted "blk" ⇒
    * cross-copy Jaccard ~0.03 against 0.8 thresholds, and a 1-char token
    * produces no char-3-gram). Length and whitespace structure stay
    * byte-identical (n_chars remains truthful). */
  private[graft] def alphaPerm(i: Int): String = {
    require(i < 156, s"only 156 distinct letter bijections available, got $i")
    val rot = (0 until 26).map(x => (x + i % 26) % 26)
    // base permutations chosen by search (seed-42 shuffles) so that NO
    // multi-letter token of the three-SF union vocabulary lies inside any
    // bijection pair's agreement set — ScalingSpec pins this against the
    // live fixture (a keyboard-order permutation let "agg" survive four
    // family-2 pairs intact). Families 3-5 landed round 17 to admit
    // x128 docs staging (r16 verdict #2: the headline twins needed a
    // point past x64; 78 bijections capped m at 78) — the same search,
    // re-verified pairwise over all 156 bijections × the full
    // three-SF vocabulary.
    val bases = Seq(
      "zhjlswgxqbkapyiormctnvfued",
      "dhoaypnfgizbrqumjlwscketvx",
      "zycglmrwjfdaupsnqbviekotxh",
      "hlfikcsopeanrmyvqxbjdwtguz")
    val fam = i / 26 match {
      case 0 => rot
      case 1 => rot.map(25 - _)
      case f => rot.map(x => bases(f - 2).charAt(x) - 'a')
    }
    fam.map(x => ('a' + x).toChar).mkString
  }

  private def caesar(c: Column, i: Int): Column =
    if (i == 0) c
    else translate(c, "abcdefghijklmnopqrstuvwxyz", alphaPerm(i))

  /** Stage one inflated corpus dir: symlink every base table, replace the
    * inflated ones with an m-copy content-disjoint union (see object doc).
    * Dirs live in scratch (tmpfs) and are deleted on JVM exit. */
  def stageFamily(spark: SparkSession, baseDir: String, m: Int,
      inflateDocs: Boolean, inflateEmbEvents: Boolean,
      inflateTpch: Boolean = false): String = {
    val dir = graft.core.Tables.scratchDir(s"graft_scale_x$m")
    // match Tables.events' read posture so a NANOS-vintage fixture stages
    // as raw longs (which the reader dispatch then handles) instead of
    // failing the plain read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = java.nio.file.Paths.get(baseDir)
    val inflated =
      (if (inflateDocs) Set("documents") else Set.empty[String]) ++
        (if (inflateEmbEvents) Set("embeddings", "events")
         else Set.empty[String]) ++
        (if (inflateTpch) Set("orders", "lineitem", "customer")
         else Set.empty[String])
    val listing = java.nio.file.Files.list(base)
    try listing.forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet") &&
          !inflated.contains(name.stripSuffix(".parquet")))
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(dir, name), p)
    } finally listing.close() // directory streams hold an fd until closed
    if (inflateDocs) {
      val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      val span = docs.agg(max("doc_id")).head.getLong(0) + 1
      val copies = (0 until m).map { i =>
        docs.select((col("doc_id") + lit(i * span)).as("doc_id"),
          // planted shared leading token: every doc of every copy shares
          // blk_tok="blk", so the exact pair joins' blocks grow ×m — the
          // behaviour under test. n_chars keeps the base value (the
          // length-band input).
          concat(lit("blk "), caesar(col("text"), i)).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      copies.reduce(_.union(_)).repartition(math.max(4, m))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    if (inflateEmbEvents) {
      val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      // a rotation by i ≥ dim would alias copy i onto copy i−dim byte-for-
      // byte — exactly the duplicate-content failure the staging doc rules
      // out — so fail loudly rather than measure output size
      require(m <= dim,
        s"only $dim distinct rotations for $dim-dim embeddings, got m=$m")
      val vSpan = emb.agg(max("vec_id")).head.getLong(0) + 1
      val eCopies = (0 until m).map { i =>
        emb.select((col("vec_id") + lit(i * vSpan)).as("vec_id"),
          (if (i == 0) col("embedding")
           else transform(sequence(lit(0), lit(dim - 1)),
             j => element_at(col("embedding"), pmod(j + lit(i), lit(dim)) + 1)))
            .as("embedding"),
          col("label"))
      }
      eCopies.reduce(_.union(_)).repartition(math.max(4, m))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val ev = spark.read.parquet(s"$baseDir/events.parquet")
      val eSpan = ev.agg(max("event_id")).head.getLong(0) + 1
      val uSpan = ev.agg(max("user_id")).head.getLong(0) + 1
      val vCopies = (0 until m).map { i =>
        ev.select((col("event_id") + lit(i * eSpan)).as("event_id"),
          col("ts"), (col("user_id") + lit(i * uSpan)).as("user_id"),
          col("event_type"), col("value"),
          // pages offset by 100·i (fixture pages are 0..99): copy graphs
          // are vertex-disjoint isomorphic images of the base click graph
          concat(lit("{\"k\": "),
            (get_json_object(col("props"), "$.k").cast("long") + lit(100L * i))
              .cast("string"), lit("}")).as("props"))
      }
      vCopies.reduce(_.union(_)).repartition(math.max(4, m))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    if (inflateTpch) {
      // fact-table growth: order keys offset per copy so the copies are
      // row-disjoint — the CUSUM daily table stays calendar-bounded and
      // Space-Saving's (flag, suppkey) key domain is preserved (eviction
      // churn intact) while the scanned row count grows ×m. Round 15
      // (r14 verdict #4): o_custkey is ALSO offset per copy, by the
      // customer span, so copy-i orders reference copy-i customers —
      // the star-join path (orders⋈customer) now measures real
      // dim-side growth instead of joining every copy back to copy 0,
      // and the BHJ→SMJ flip etl_pseudonymize_join measured on its
      // token table is confirmed on the raw star join too. NULL
      // custkeys stay NULL (lit-add propagates them).
      val cust = spark.read.parquet(s"$baseDir/customer.parquet")
      // ONE span feeds both the o_custkey remap and the customer-copy
      // offsets — a drift between the two would silently break the
      // star-join FK contract ScalingSpec asserts
      val cSpan = cust.agg(max("c_custkey")).head.getLong(0) + 1
      val ord = spark.read.parquet(s"$baseDir/orders.parquet")
      val oSpan = ord.agg(max("o_orderkey")).head.getLong(0) + 1
      val oCopies = (0 until m).map { i =>
        ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * oSpan))
          .withColumn("o_custkey", col("o_custkey") + lit(i * cSpan))
      }
      oCopies.reduce(_.union(_)).repartition(math.max(4, m))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
      val lCopies = (0 until m).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * oSpan))
      }
      lCopies.reduce(_.union(_)).repartition(math.max(4, m))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // round 14: the customer DIM grows ×m too (key-offset copies) so
      // the SCD2 publish/snapshot pair and gini's |customers|-bounded
      // rank measure real growth; round 15: orders reference copy-i
      // customers (o_custkey offset above by this same span), closing
      // the star-join gap the r14 note left open
      val cCopies = (0 until m).map { i =>
        cust.withColumn("c_custkey", col("c_custkey") + lit(i * cSpan))
      }
      cCopies.reduce(_.union(_)).repartition(math.max(4, m))
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    }
    dir
  }
}
