package graft.queries

/** Query-name sets shared by the audit-style specs (PlanSpec, ContractSpec)
  * so the classification lives in one place. */
object QuerySets {
  /** Builders that run REAL side effects the moment they are invoked —
    * streaming jobs, CSV crawls, JDBC/parquet loads, partition rewrites.
    * Plan/schema-level audits skip these rather than re-running a whole
    * ETL pipeline per assertion (their outputs are read-back scans whose
    * correctness the oracle gate already covers). */
  val sideEffecting: Set[String] = Set(
    "scan_csv_serde", "infer_schema",
    "partition_discovery", "schema_evolution_add_only", "sink_jdbc",
    "workflow_dag", "bookmark_incremental", "event_trigger_filtered",
    "stream_watermark_late", "stream_dedup_stateful",
    "stream_foreachbatch_pipeline", "join_bucketed_colocated",
    "scan_json", "scan_orc", "scan_text_logs",
    "multimodal_meta", "multimodal_frames",
    "etl_compact_files", "etl_upsert_scd1", "etl_snapshot_diff",
    "scan_csv_corrupt", "etl_backfill_partition", "workflow_fanin",
    // r13: the global pre-merge streaming sketch runs its 3-batch
    // AvailableNow pipeline in the builder like its per-key sibling;
    // the windowed top-n likewise runs its watermarked 3-batch stream
    "stream_spacesaving_global", "stream_window_topn", "stream_hll_window",
    "stream_stream_outer_join",
    // r14c: the streaming as-of enrichment runs its 3-batch AvailableNow
    // pipeline in the builder; the bloom-layout key writes the bloom-
    // filtered parquet copy before reading it back
    "stream_dim_asof", "etl_parquet_bloom_skip",
    // r14c: the drift audit writes both snapshot versions in the builder
    "etl_schema_drift_audit")

  /** Builders that call an EAGER localCheckpoint() while constructing
    * their DataFrame (iterative operators: the checkpoint is the lineage
    * cut that makes the loop's plan linear). Invoking one to read
    * `.schema` executes the full iterative pipeline, so schema-level
    * audits treat these like `sideEffecting` and rely on the oracle gate
    * (which would fail loudly on an array/map column) plus their unit
    * specs for schema coverage. */
  val eagerCheckpointing: Set[String] = Set(
    "retrieval_mmr", "pagerank_clicks",
    // r8: CommonNeighbors' candidate frame checkpoints the adjacency/degree
    // tables so the edge derivation computes once, not ~6× (one re-plan
    // per consumer defeated ReuseExchange via per-branch null filters)
    "graph_common_neighbors",
    // r10: Bfs/LabelPropagation checkpoint the symmetric edge list (and
    // run their whole frontier/label loop) inside the builder
    "graph_bfs_reach", "graph_communities_lpa",
    // r12: coreset_kcenter localCheckpoints the quantized vector table and
    // each round's center table; graph_components runs the full CC loop
    // (ConnectedComponents.run eagerly checkpoints) inside the builder
    "coreset_kcenter", "graph_components",
    // r12: resourceAllocation shares that candidate frame (same eager
    // adjacency/degree checkpoints as graph_common_neighbors)
    "graph_resource_alloc",
    // r12b: knn_pq_adc localCheckpoints the shifted quantized vectors its
    // training, encoding and ADC passes all reuse;
    // retrieval_eval_ndcg reuses that plus its own exact-top-10 checkpoint
    "knn_pq_adc", "retrieval_eval_ndcg",
    // r12e: knn_ivf_pq shares pqAdcTop10's shiftedVectors checkpoint
    "knn_ivf_pq",
    // r12f: PageRank.run checkpoints the seeded node/edge
    // frames and every round's rank frame inside the builder
    "pagerank_personalized",
    // r12c: Hits.run checkpoints edges/nodes and each round's score frame
    "graph_hits",
    // r12d: nnDescent counts the corpus (bucket sizing) and checkpoints
    // the unit vectors + every round's pair store and neighbor lists
    "knn_nndescent",
    // r12d: the bpe keys share bpeLearn, which checkpoints the word-type
    // table and each round's 1-row argmax merge rule + re-segmented types
    "bpe_train_merges", "bpe_apply_encode",
    // r12g: graph_modularity checkpoints the undirected edge list and
    // runs LabelPropagation.run (per-round label checkpoints) inside the
    // builder
    "graph_modularity",
    // r12h: market_basket_lift checkpoints the (order, brand) incidence
    // its three consumers share (the CommonNeighbors adjDeg lesson)
    "market_basket_lift",
    // r12i: knn_pq_rerank shares pqAdcTop10's shiftedVectors checkpoint
    // (the knn_pq_adc / knn_ivf_pq pattern)
    "knn_pq_rerank",
    // r12k: graph_assortativity checkpoints the undirected edge list its
    // degree table and adjacency both consume (the graph_modularity shape)
    "graph_assortativity",
    // r13: retrieval_eval_mrr checkpoints the truth/system top-10 tables
    // (plus shiftedVectors' own checkpoint); graph_pref_attachment shares
    // CommonNeighbors' eager adjacency/degree checkpoints
    "retrieval_eval_mrr", "graph_pref_attachment",
    // r13: graph_component_sizes runs the full CC loop (eager
    // checkpoints) inside the builder like graph_components;
    // graph_covisitation checkpoints the (user, page) incidence its
    // degree agg and both self-join sides consume
    "graph_component_sizes", "graph_covisitation")

  /** Keys whose query functions once wrote the session they were handed:
    * the 14 memory-sink stream keys and the foreachBatch pipeline (a
    * session-wide partition cap and a sink view per run), the SQL-text and
    * bloom keys (fixed-name views, function registration), one events
    * reader (the nanosAsLong flag) and the four crawler keys (the crawled
    * table's view). SessionHygieneSpec and ConcurrencySpec run them. */
  val sessionScoped: Seq[String] = Seq(
    "stream_watermark_late", "stream_window_topn", "stream_hll_window",
    "stream_stream_outer_join", "stream_dedup_stateful", "stream_custom_state",
    "stream_stream_join", "stream_dim_asof", "stream_static_join",
    "stream_sessionize_flatmap", "stream_sessionize_final",
    "stream_ewma_anomaly", "stream_spacesaving_topk",
    "stream_spacesaving_global", "stream_foreachbatch_pipeline",
    "join_bloom_prefilter", "subq_scalar", "subq_in_correlated",
    "cte_sql_entry", "cte_recursive", "subq_lateral", "agg_grouping_sets",
    "rollup_time_grain", "win_range_frame", "dedup_incremental_bloom",
    "dedup_containment", "stream_tumbling", "infer_schema",
    "schema_evolution_add_only", "workflow_dag", "workflow_fanin")
}
