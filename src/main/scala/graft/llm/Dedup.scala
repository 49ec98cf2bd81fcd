package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Query
import graft.core.Tables._
import graft.functions.BloomPrefilter.{bloom_agg, bloom_might_contain}
import graft.functions.SortedIntersectCount.sorted_intersect_count

/** Tier E dedup operators (SURVEY.md §2 E1-E3 + builder-mandated extras):
  * exact hash dedup, token-Jaccard near-dup, MinHash+LSH, SimHash,
  * character-n-gram Jaccard.
  *
  * 100 TB design notes:
  *  - Exact dedup is a hash-partitioned groupBy on the content hash — the
  *    only shuffle moves 32-byte digests + doc ids, never document text.
  *  - Pairwise Jaccard is *always* blocked (length bucket × first token);
  *    an unblocked self-join is O(n²) and non-negotiable at scale. The scale
  *    path is MinHash banding (E3): candidates are generated by an
  *    equi-join on (band_id, band_hash) — linear shuffle, no cross product.
  *  - All hashing uses codegen'd built-ins (sha2, xxhash64) — no UDFs.
  */
object Dedup {

  /** Distinct token set of the document text. */
  private def tokenSet(c: Column): Column = array_distinct(split(c, " "))

  /** Sorted distinct token set of the document text. */
  private val sortedTokens: Column = sort_array(tokenSet(col("text")))

  // ---- MinHash ----------------------------------------------------------

  // b bands of r rows: candidate threshold ≈ (1/b)^(1/r). With b=4, r=8 the
  // S-curve midpoint sits at ~0.84 — matched to the ≥0.8 dedup target.
  // (b=8, r=4 put the midpoint at ~0.59 and produced 26M candidate pairs on
  // the near-dup-heavy corpus at sf0.1 — banding must be tuned to the
  // threshold or LSH degenerates toward the quadratic join it exists to avoid.)
  val NumHashes = 32
  val Bands = 4

  /** k and band count of the md5 recipe the differential-gate keys share:
    * 8 seeded minima in 2 bands × 4 rows, S-curve midpoint (1/2)^(1/4) ≈
    * 0.84 — the same ≥0.8-target tuning as the 32-hash xxhash64 recipe. */
  private val (md5K, md5Bands) = (8, 2)

  /** One strong 64-bit hash per token — the expensive string pass, done
    * exactly once per document. */
  def tokenHashes(tokens: Column): Column =
    transform(tokens, t => xxhash64(t))

  /** The k = NumHashes seeded min-hashes mh_0..mh_{k-1} of a `tokenHashes`
    * array: each seed is a cheap fixed-width rehash (xxhash64 of two longs)
    * of the strong token hash — the standard minwise trick that avoids k
    * full string passes. All k components come from one fused native pass
    * (graft.functions.MinHashArray; the k×tokens interpreted-lambda form
    * dominated the dedup queries' cost), shared by the k element_ats
    * through codegen subexpression elimination. No shuffle. */
  def minhashFromHashes(hashes: Column): Seq[Column] = {
    val arr = graft.functions.MinHashArray.minhash_array(hashes, NumHashes)
    (0 until NumHashes).map(seed => element_at(arr, seed + 1).as(s"mh_$seed"))
  }

  /** xxhash64 signatures (doc_id, mh_0..mh_31) of a documents-shaped frame.
    * Tokenization sits in its own projection so the signature columns
    * reference the hash array instead of re-splitting the text k times. */
  private def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokenHashes(tokenSet(col("text"))).as("th"))
      .select(col("doc_id") +: minhashFromHashes(col("th")): _*)

  /** md5 signatures (doc_id, mh_0..mh_7) of a (doc_id, toks) frame: each
    * seeded hash is md5(seed || '|' || token), lowercase hex in both
    * engines, and all k minima come from one fused native pass (r17: the
    * composable k × array_min(transform(..md5..)) chain was the board's
    * largest interpreted-HOF cost — see Md5MinHashes; bit-identical,
    * spec-pinned). */
  private def md5Signatures(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"),
        graft.functions.Md5MinHashes.md5_minhashes(col("toks"), md5K).as("mh"))
      .select(col("doc_id") +: (0 until md5K).map(i =>
        element_at(col("mh"), i + 1).as(s"mh_$i")): _*)

  /** LSH band rows of a signature frame (doc_id, mh_0..mh_{k-1}): band b
    * hashes rows b·r until (b+1)·r with `hash` (r = k / bands) into bh_b,
    * and each doc explodes to one (doc_id, bh_0..bh_{bands-1}, band, bh)
    * row per band. Every band hash rides along for the first-collision
    * filter; consumers that never read them have them pruned. Documents
    * sharing any (band, bh) bucket are candidate pairs. */
  private[llm] def bandRows(sigs: DataFrame, k: Int, bands: Int,
      hash: Seq[Column] => Column): DataFrame = {
    val r = k / bands
    val bh = (0 until bands).map(b => col(s"bh_$b"))
    sigs.select(col("doc_id") +: (0 until bands).map(b =>
        hash((b * r until (b + 1) * r).map(i => col(s"mh_$i"))).as(s"bh_$b")): _*)
      .select(col("doc_id") +: bh :+ explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bh(b).as("bh"))): _*)).as("e"): _*)
      .select(col("doc_id") +: bh :+ col("e.band") :+ col("e.bh"): _*)
  }

  /** md5 band rows of md5 signatures: each band hash is md5 over the
    * concatenated row minima, a pure cross-engine-reproducible function of
    * the text. */
  private def md5BandRows(sigs: DataFrame): DataFrame =
    bandRows(sigs, md5K, md5Bands, rows => md5(concat(rows: _*)))

  /** Each band row's `keeper`: the smallest doc_id in its (band, bh)
    * bucket. A window, NOT groupBy + join back: the join form would re-run
    * the whole signature pipeline for the second plan branch and pay an
    * extra shuffle. */
  private def bucketKeepers(long: DataFrame): DataFrame =
    long.withColumn("keeper",
      min(col("doc_id")).over(Window.partitionBy("band", "bh")))

  /** Per-doc LSH verdicts (doc_id, keeper): the smallest doc_id a doc
    * shares any band with, for docs whose keeper is an earlier doc. */
  private def lshVerdicts(long: DataFrame): DataFrame =
    bucketKeepers(long)
      .groupBy("doc_id").agg(min(col("keeper")).as("keeper"))
      .filter(col("keeper") < col("doc_id"))
      .orderBy("doc_id")

  /** The DuckDB replay of the md5 recipe, shared by its four oracles: the
    * `t` (doc_id, toks), `sig` (doc_id, mh_0..mh_7) and `banded`
    * (doc_id, b0, b1) CTEs, ending in the comma before the next CTE. md5
    * hex is lowercase in both engines; list min over hex strings is the
    * same lexicographic min the engine takes. */
  private[graft] val OracleMd5Bands: String = {
    val sigCols = (0 until md5K).map(i =>
      s"list_aggregate(list_transform(toks, x -> md5('$i|' || x)), 'min') AS mh_$i")
      .mkString(",\n        |         ")
    s"""t AS (
       |  SELECT doc_id, list_distinct(str_split(text, ' ')) AS toks
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM t),
       |banded AS (
       |  SELECT doc_id,
       |         md5(mh_0 || mh_1 || mh_2 || mh_3) AS b0,
       |         md5(mh_4 || mh_5 || mh_6 || mh_7) AS b1
       |  FROM sig),""".stripMargin
  }

  // ---- SimHash ----------------------------------------------------------

  /** 64-bit SimHash: per bit position, majority vote of token-hash bits.
    * A pure per-document function, so it is computed by one fused per-row
    * kernel (graft.functions.SimHash64) over the token-hash array — zero
    * shuffle. (The round-2 form exploded to (doc_id, token_hash) rows and
    * ran a 64-conditional-sum groupBy: one shuffled row per token for a
    * value an array walk computes in place. Bit parity with that form is
    * asserted in LlmSpec.) */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
      graft.functions.SimHash64.simhash64(tokenHashes(tokenSet(text)))
        .as("simhash"))

  // ---- exact pair grid --------------------------------------------------

  /** Rows per salted sub-block task of every adaptive pair grid. */
  val RowsPerTask = 256

  /** Per-block salt factors for the adaptive pair grid: one tiny aggregate
    * over just the blocking keys (Catalyst prunes every payload column out
    * of this branch — only keys + a count shuffle) yields each block's row
    * count `bn` and its salt factor `bg` = ceil(bn / RowsPerTask). */
  private[llm] def blockSaltStats(docs: DataFrame, keys: Seq[String]): DataFrame =
    docs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bn"))
      .withColumn("bg", greatest(lit(1),
        ceil(col("bn") / lit(RowsPerTask.toDouble))).cast("int"))

  /** Every same-block pair of `df` exactly once, on the salted grid every
    * exact pair key shares: the block `keys`, then for each side `a_<c>` /
    * `b_<c>` for the `id` column and each `payload` column, with
    * a_<id> < b_<id>.
    *
    * Skew discipline (the 100 TB shape): each block's stats are joined back
    * (broadcast — one row per DISTINCT block, vocabulary-sized, not
    * corpus-sized; at a scale where even that outgrows broadcast, persist it
    * once and bucket-join). A singleton block is dropped before any payload
    * enters a shuffle (bn >= 2 — it cannot produce a pair). The b side lands
    * in one of its block's `bg` sub-blocks g = xxhash64(id) mod bg, and the
    * a side is replicated to all of them, so the pair join is keyed on
    * (keys, g): a hot block spreads over bg tasks instead of dying on one,
    * a small block gets bg = 1 (zero replication), and every pair is still
    * examined exactly once — results identical to a plain blocked
    * self-join. */
  private[llm] def saltedPairs(df: DataFrame, keys: Seq[String], id: String,
      payload: Seq[String]): DataFrame = {
    val blocked = df.join(broadcast(blockSaltStats(df, keys)), keys)
      .filter(col("bn") >= 2)
    def side(p: String): Seq[Column] =
      keys.map(col) ++ (id +: payload).map(c => col(c).as(p + c))
    val a = blocked.select(side("a_") :+ col("bg"): _*)
      .withColumn("g", explode(sequence(lit(0), col("bg") - 1)))
      .drop("bg")
    val b = blocked.select(side("b_") :+
      pmod(xxhash64(col(id)), col("bg")).cast("int").as("g"): _*)
    a.join(b, keys :+ "g").filter(col(s"a_$id") < col(s"b_$id"))
  }

  /** Exact blocked near-dup pairs (d1, d2, jac) over a sorted distinct
    * hash or token `set` column: set Jaccard >= 0.8 within (first token,
    * length bucket) blocks, on the [[saltedPairs]] grid. One definition
    * for the token pair query, the cluster queries (so their edge set can
    * never diverge) and the char-3-gram pair query. Set sizes are computed
    * once per doc; |A∪B| = |A|+|B|-|A∩B| avoids a second pairwise array op
    * (the join moves one array per side, and the pair stage does a single
    * native intersect). */
  def nearDupPairs(docs: DataFrame, set: Column): DataFrame = {
    val sets = docs.select(col("doc_id"), set.as("s"),
        split_part(col("text"), lit(" "), lit(1)).as("blk_tok"),
        floor(col("n_chars") / 100.0).as("blk_len"))
      .withColumn("n", size(col("s")))
    saltedPairs(sets, Seq("blk_tok", "blk_len"), "doc_id", Seq("s", "n"))
      .withColumn("inter", sorted_intersect_count(col("a_s"), col("b_s")))
      .withColumn("jac", col("inter").cast("double") /
        (col("a_n") + col("b_n") - col("inter")))
      .filter(col("jac") >= 0.8)
      .select(col("a_doc_id").as("d1"), col("b_doc_id").as("d2"), col("jac"))
  }

  /** Body of `dedup_minhash_verified` on any documents-shaped frame
    * (doc_id, text) — factored so LlmSpec can plant an LSH false positive
    * (band collision at J < 0.8) and assert the verify stage rejects it.
    * The Jaccard threshold is the exact rational num/den (default 4/5 —
    * the ≥0.8 banding target); passing 0/1 keeps every candidate, which is
    * how the spec proves a rejected pair WAS a candidate (non-vacuity).
    * Unordered; the query entry adds the total order. Construction notes
    * at the query entry. */
  def minhashVerifiedPairs(docs0: DataFrame,
      minJacNum: Int = 4, minJacDen: Int = 5): DataFrame = {
    val toksDf = docs0.select(col("doc_id"), sortedTokens.as("toks"))
    val cand = bucketKeepers(md5BandRows(md5Signatures(toksDf)))
      .filter(col("keeper") < col("doc_id"))
      .select("doc_id", "keeper").distinct()
    val aSide = toksDf.select(col("doc_id"), col("toks").as("t_a"),
      size(col("toks")).as("n_a"))
    val bSide = toksDf.select(col("doc_id").as("keeper"),
      col("toks").as("t_b"), size(col("toks")).as("n_b"))
    cand.join(aSide, "doc_id").join(bSide, "keeper")
      .withColumn("inter", sorted_intersect_count(col("t_a"), col("t_b")))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * minJacDen >= col("uni") * minJacNum)
      .select("doc_id", "keeper", "inter", "uni")
  }

  /** Body of `dedup_winnow_fingerprint` on any (doc_id, text) frame —
    * factored so WinnowSpec can plant a shared ≥ w+k−1 = 23-char run and
    * assert the Schleimer/Wilkerson/Aiken selection GUARANTEE (the run
    * shares at least one selected fingerprint). k=8-gram md5 hashes,
    * w=16-window minimum with rightmost-on-ties (robust winnowing): the
    * native WinnowFingerprints expression compares raw digests with a
    * direct position tie-break, so the engine side has NO document-length
    * bound; the ORACLE still spells the min as concat(hash,
    * lpad(3000000 − pos)) and stays valid for docs ≤ 3,000,000 chars
    * (see the BOUND note at the query entry — the fixture max is ~4k).
    * Unordered; the query entry adds the total order. */
  def winnowProfile(docs: DataFrame): DataFrame = {
    val K = 8; val W = 16
    // The winnow kernel runs as the native WinnowFingerprints expression
    // (round 17): one O(n) monotone-deque pass per doc vs the composable
    // transform/slice/array_min spelling's O(n·W) interpreted string
    // churn — measured ~40 ms/doc → sub-ms/doc (the sf0.1 verify sweep's
    // worst key by 10×; the DuckDB oracle still runs the spelled-out
    // recipe, so the cross-engine hash check pins the kernel, and
    // WinnowSpec asserts expression-vs-composable parity directly).
    // Heavy per-doc compute also means the scan's task count IS the
    // parallelism: a consolidated staging file (one parquet row group →
    // one task) would single-task the corpus, so spread it when the
    // scan has fewer tasks than cores — at production scale the file
    // count supplies the parallelism and the guard is a no-op.
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    val src0 = docs.select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= K)
    val src =
      if (src0.rdd.getNumPartitions < cores) src0.repartition(cores) else src0
    // ONE materialization feeds the n_fp branch AND both shared-count
    // consumers — unmaterialized, Catalyst recomputes the kernel three
    // times (the agg_weighted_median caller-side discipline)
    val fps = src.select(col("doc_id"),
      graft.functions.WinnowFingerprints.winnow_fps(col("text"), K, W)
        .as("fps"))
      .localCheckpoint()
    // fps is distinct per doc, so the exploded rows are already
    // distinct (doc_id, fp) pairs — no second distinct needed
    val x = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
    val shared = x.groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2).select("fp")
    val perDoc = x.join(shared, Seq("fp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs.select("doc_id")
      .join(fps.select(col("doc_id"), size(col("fps")).cast("long")
        .as("n_fp")), Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("dup_q6",
        when(col("n_fp") > 0, expr("n_shared * 1000000 DIV n_fp"))
          .otherwise(0L))
  }

  // ---- queries ----------------------------------------------------------

  def queries: Seq[Query] = Seq(
    // E1 — exact dedup: content hash, keep the smallest doc_id per hash.
    Query("dedup_exact_text", (s, d) => {
      val w = Window.partitionBy("h").orderBy("doc_id")
      documents(s, d)
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "h")
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, h FROM (
        |  SELECT doc_id, sha256(text) AS h,
        |         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // Exact-dup RATE by language (round 14c) — the corpus-health monitor
    // on top of dedup_exact_text's mechanism: per language, how much of
    // the corpus is byte-duplicate mass (docs beyond their digest group's
    // first occurrence) and how many distinct texts remain — the number a
    // curation dashboard tracks per ingest batch, and the per-slice
    // breakdown that localizes WHICH source/language is flooding dupes.
    // Same sha2(text) digest as the dedup key (one recipe); dup count =
    // n_docs − n_distinct per lang, both from ONE map-side-combinable
    // digest agg (the (lang, h) table never exceeds the distinct-text
    // count); rate in q6 by integer DIV. NULL-text convention: the NULL
    // digest group counts as ONE distinct text (Spark groupBy semantics;
    // the oracle adds the NULL group explicitly because SQL
    // COUNT(DISTINCT) would skip it — review find, latent on a
    // null-free fixture).
    Query("dedup_rate_by_lang", (s, d) => {
      val per = documents(s, d)
        .select(col("lang"), sha2(col("text"), 256).as("h"))
        .groupBy("lang", "h").agg(count(lit(1)).as("c"))
      per.groupBy("lang")
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_distinct"),
          (sum(col("c")) - count(lit(1))).as("n_dupes"))
        .select(col("lang"), col("n_docs"), col("n_distinct"), col("n_dupes"),
          expr("n_dupes * 1000000 DIV n_docs").as("dup_rate_q6"))
        .orderBy("lang")
    }, oracle =
      // the same sha256 recipe re-aggregated per language; the dup count
      // spelled independently as COUNT(*) − n_distinct, with the NULL-text
      // group added explicitly (COUNT DISTINCT skips NULLs; the Spark
      // groupBy counts the NULL digest as one distinct text)
      """WITH d AS (
        |  SELECT lang,
        |         COUNT(*) AS n_docs,
        |         COUNT(DISTINCT sha256(text))
        |           + MAX(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
        |           AS n_distinct
        |  FROM documents GROUP BY lang)
        |SELECT lang, n_docs, n_distinct,
        |       n_docs - n_distinct AS n_dupes,
        |       CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT)
        |         AS dup_rate_q6
        |FROM d ORDER BY lang""".stripMargin),
    // E2 — near-dup by token-set Jaccard >= 0.8, blocked on
    // (first token, length bucket) so the self-join is per-block.
    Query("dedup_near_jaccard", (s, d) =>
      nearDupPairs(documents(s, d), sortedTokens).orderBy("d1", "d2"), oracle =
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(str_split(text, ' ')) AS toks,
        |         str_split(text, ' ')[1] AS blk_tok,
        |         floor(n_chars / 100.0) AS blk_len
        |  FROM documents)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |         / len(list_distinct(list_concat(a.toks, b.toks))) AS jac
        |FROM docs a JOIN docs b
        |  ON a.blk_tok = b.blk_tok AND a.blk_len = b.blk_len
        | AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
        |ORDER BY d1, d2""".stripMargin),
    // Cluster-level dedup (the step after pairs: Gopher/RefinedWeb keep ONE
    // doc per near-dup CLUSTER, not per pair — pairwise keepers over- and
    // under-delete on chains A~B~C where A!~C). Exact connected components
    // over the E2 edge set by iterative min-label propagation; every doc
    // maps to its cluster's smallest doc_id. The DuckDB oracle replays the
    // fixpoint as a recursive reachability CTE, so even the iterative
    // operator is differentially checked.
    Query("dedup_clusters", (s, d) => {
      val docs = documents(s, d)
      graft.operators.ConnectedComponents
        .run(nearDupPairs(docs, sortedTokens), "d1", "d2", docs, "doc_id")
        .orderBy("doc_id")
    }, oracle =
      // The recursive CTE computes, for every doc, every id reachable over
      // the near-dup edge set; MIN over that reach set is exactly the
      // min-label-propagation fixpoint the Spark operator iterates to.
      """WITH RECURSIVE
        |docs AS (
        |  SELECT doc_id, list_distinct(str_split(text, ' ')) AS toks,
        |         str_split(text, ' ')[1] AS blk_tok,
        |         floor(n_chars / 100.0) AS blk_len
        |  FROM documents),
        |edges AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM docs a JOIN docs b
        |    ON a.blk_tok = b.blk_tok AND a.blk_len = b.blk_len
        |   AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8),
        |sym AS (SELECT d1 AS src, d2 AS dst FROM edges
        |        UNION ALL SELECT d2, d1 FROM edges),
        |reach(v, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT s.dst, rc.r FROM reach rc JOIN sym s ON s.src = rc.v)
        |SELECT v AS doc_id, MIN(r) AS comp FROM reach
        |GROUP BY v ORDER BY doc_id""".stripMargin),
    // Quality-aware cluster KEEPER POLICY (round 11): the step after
    // dedup_clusters' component labels — production dedup keeps the BEST
    // representative per near-dup cluster, not the smallest id
    // (RefinedWeb/Gopher keep the longest / highest-quality member;
    // min-id is an arbitrary survivor). Keeper = argmax by
    // (n_chars DESC, doc_id ASC) within each component — a deterministic
    // integer policy on fixture columns, no float quality model in the
    // gate path; swap the ORDER for any scoring column and the shape is
    // unchanged. 100 TB: one row_number window + one join back, both
    // hash-partitioned on the high-cardinality comp key; the CC labels
    // are the dedup_clusters operator unchanged.
    Query("dedup_cluster_keep_best", (s, d) => {
      val docs = documents(s, d)
      val comp = graft.operators.ConnectedComponents
        .run(nearDupPairs(docs, sortedTokens), "d1", "d2", docs, "doc_id")
      val withLen = comp.join(
        docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val wC = Window.partitionBy("comp")
        .orderBy(desc("n_chars"), asc("doc_id"))
      val keepers = withLen.withColumn("rn", row_number().over(wC))
        .filter(col("rn") === 1)
        .select(col("comp"), col("doc_id").as("keeper"))
      comp.join(keepers, "comp")
        .select(col("doc_id"), col("comp"), col("keeper"),
          when(col("doc_id") === col("keeper"), 1).otherwise(0).as("kept"))
        .orderBy("doc_id")
    }, oracle =
      // the component labels replay dedup_clusters' recursive-CTE oracle;
      // the keeper policy is an independent per-component argmax
      """WITH RECURSIVE
        |docs AS (
        |  SELECT doc_id, list_distinct(str_split(text, ' ')) AS toks,
        |         str_split(text, ' ')[1] AS blk_tok,
        |         floor(n_chars / 100.0) AS blk_len
        |  FROM documents),
        |edges AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM docs a JOIN docs b
        |    ON a.blk_tok = b.blk_tok AND a.blk_len = b.blk_len
        |   AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8),
        |sym AS (SELECT d1 AS src, d2 AS dst FROM edges
        |        UNION ALL SELECT d2, d1 FROM edges),
        |reach(v, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT s.dst, rc.r FROM reach rc JOIN sym s ON s.src = rc.v),
        |compt AS (SELECT v AS doc_id, MIN(r) AS comp FROM reach GROUP BY v),
        |k AS (
        |  SELECT comp, doc_id AS keeper FROM (
        |    SELECT c.comp, c.doc_id,
        |           row_number() OVER (PARTITION BY c.comp
        |             ORDER BY d.n_chars DESC, c.doc_id) AS rn
        |    FROM compt c JOIN documents d ON c.doc_id = d.doc_id) t
        |  WHERE rn = 1)
        |SELECT c.doc_id, c.comp, k.keeper,
        |       CASE WHEN c.doc_id = k.keeper THEN 1 ELSE 0 END AS kept
        |FROM compt c JOIN k ON c.comp = k.comp
        |ORDER BY c.doc_id""".stripMargin),
    // PRODUCTION cluster keeper (round 12): the same quality-aware keeper
    // policy fed from `dedup_minhash_verified`'s LINEAR star-candidate
    // edge set instead of the quadratic exact pair join — completing the
    // exact-vs-bucketed pairing for the keeper stage (every other dedup
    // modality already has both). Edges = LSH band collisions verified at
    // exact token-Jaccard ≥ 0.8 (Dedup.scala minhashVerifiedPairs: each
    // doc pairs only with its bucket's min-id keeper — docs × bands
    // candidate rows, no within-bucket pair enumeration), so the edge
    // set is a sound SUBSET of the true ≥0.8 pairs and components are
    // LSH-recall clusters — the trade production dedup makes. Then the
    // identical argmax policy: keeper = (n_chars DESC, doc_id ASC) per
    // component, one row_number window + one join back. 100 TB: every
    // stage linear — signatures one pass, candidates docs × bands, verify
    // joins token arrays only onto candidate rows, CC loop
    // frontier-restricted; vs dedup_cluster_keep_best's measured 1.5
    // scaling slope inherited from the exact pair-gen.
    Query("dedup_cluster_keep_best_lsh", (s, d) => {
      val docs = documents(s, d)
      val edges = minhashVerifiedPairs(docs)
        .select(col("doc_id").as("d1"), col("keeper").as("d2"))
      val comp = graft.operators.ConnectedComponents
        .run(edges, "d1", "d2", docs, "doc_id")
      val withLen = comp.join(
        docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val wC = Window.partitionBy("comp")
        .orderBy(desc("n_chars"), asc("doc_id"))
      val keepers = withLen.withColumn("rn", row_number().over(wC))
        .filter(col("rn") === 1)
        .select(col("comp"), col("doc_id").as("keeper"))
      comp.join(keepers, "comp")
        .select(col("doc_id"), col("comp"), col("keeper"),
          when(col("doc_id") === col("keeper"), 1).otherwise(0).as("kept"))
        .orderBy("doc_id")
    }, oracle =
      // edge stage replays dedup_minhash_verified's banded-candidate +
      // exact-verify construction; component labels the recursive reach
      // fixpoint over those edges; keeper an independent per-comp argmax
      s"""WITH RECURSIVE
         |$OracleMd5Bands
         |long AS (
         |  SELECT doc_id, 0 AS band, b0 AS bh FROM banded
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, b1 AS bh FROM banded),
         |cand AS (
         |  SELECT DISTINCT doc_id, keeper FROM (
         |    SELECT doc_id,
         |           MIN(doc_id) OVER (PARTITION BY band, bh) AS keeper
         |    FROM long) m
         |  WHERE keeper < doc_id),
         |edges AS (
         |  SELECT c.doc_id AS d1, c.keeper AS d2
         |  FROM cand c
         |  JOIN t a ON a.doc_id = c.doc_id
         |  JOIN t b ON b.doc_id = c.keeper
         |  WHERE len(list_intersect(a.toks, b.toks)) * 5
         |          >= (len(a.toks) + len(b.toks)
         |              - len(list_intersect(a.toks, b.toks))) * 4),
         |sym AS (SELECT d1 AS src, d2 AS dst FROM edges
         |        UNION ALL SELECT d2, d1 FROM edges),
         |reach(v, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT s.dst, rc.r FROM reach rc JOIN sym s ON s.src = rc.v),
         |compt AS (SELECT v AS doc_id, MIN(r) AS comp FROM reach GROUP BY v),
         |k AS (
         |  SELECT comp, doc_id AS keeper FROM (
         |    SELECT c.comp, c.doc_id,
         |           row_number() OVER (PARTITION BY c.comp
         |             ORDER BY d.n_chars DESC, c.doc_id) AS rn
         |    FROM compt c JOIN documents d ON c.doc_id = d.doc_id) t2
         |  WHERE rn = 1)
         |SELECT c.doc_id, c.comp, k.keeper,
         |       CASE WHEN c.doc_id = k.keeper THEN 1 ELSE 0 END AS kept
         |FROM compt c JOIN k ON c.comp = k.comp
         |ORDER BY c.doc_id""".stripMargin),
    // E3 — MinHash signatures (unit-tier: MinHashSpec property-tests the
    // Jaccard estimate; here the signature table itself). Tokenization is
    // materialized in its own projection so the k=32 signature expressions
    // reference the array instead of re-splitting the text k times
    // (CollapseProject keeps the split separate: non-cheap, multi-referenced).
    Query("minhash_signature", (s, d) =>
      signatures(documents(s, d)).orderBy("doc_id")),
    // E3b — MinHash→LSH dedup verdicts: each doc maps to the smallest doc_id
    // it shares any band with; docs with keeper < doc_id are near-dups of an
    // earlier doc. Deliberately NOT a pair enumeration: this corpus has
    // near-dup clusters of thousands, so pairs are quadratic in cluster size
    // (3.3M pairs at sf0.1) while the min-per-bucket reduction stays linear
    // in docs × bands — the shape that survives 100 TB.
    Query("dedup_minhash_lsh", (s, d) =>
      lshVerdicts(bandRows(signatures(documents(s, d)), NumHashes, Bands,
        xxhash64(_: _*)))),
    // E3c — the SAME MinHash→LSH pipeline with md5-seeded signatures so
    // the whole construction runs through the DIFFERENTIAL gate (round
    // 10): dedup_minhash_lsh's xxhash64 signatures are engine-local, so
    // that key is unit-tier by necessity — this sibling replaces each
    // seeded hash with md5(seed || '|' || token) (lowercase hex in BOTH
    // engines; lexicographic min of hex strings is a valid minwise hash)
    // and the band hash with md5 over the concatenated row signatures,
    // making every intermediate a pure cross-engine-reproducible function
    // of the text. k=8, 2 bands × 4 rows — S-curve midpoint (1/2)^(1/4) ≈
    // 0.84, the same ≥0.8-target tuning as the 32-hash sibling. Identical
    // min-per-bucket reduction (linear in docs × bands, no pair
    // enumeration); md5 costs more per token than xxhash64, which is
    // exactly why the unit-tier sibling keeps the fast path and this one
    // is the auditable construction.
    Query("dedup_minhash_banded", (s, d) =>
      lshVerdicts(md5BandRows(md5Signatures(documents(s, d)
        .select(col("doc_id"), tokenSet(col("text")).as("toks"))))),
      oracle =
      s"""WITH $OracleMd5Bands
         |long AS (
         |  SELECT doc_id, 0 AS band, b0 AS bh FROM banded
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, b1 AS bh FROM banded),
         |m AS (
         |  SELECT doc_id,
         |         MIN(doc_id) OVER (PARTITION BY band, bh) AS bucket_keeper
         |  FROM long)
         |SELECT doc_id, MIN(bucket_keeper) AS keeper
         |FROM m GROUP BY doc_id
         |HAVING MIN(bucket_keeper) < doc_id
         |ORDER BY doc_id""".stripMargin),
    // LSH CALIBRATION audit (round 14): estimated-vs-true Jaccard for
    // every band-collision candidate pair, bucketed by the signature
    // estimate — the tuning readout every production dedup runs before
    // trusting a banding config (is a 6/8-match pair really ≥ 0.8
    // Jaccard on THIS corpus?). Signatures, seeds and banding are the
    // dedup_minhash_banded recipe verbatim (md5("i|"+tok) — the SAME
    // seed namespace on purpose: the audit must describe the production
    // signatures, not fresh ones), so the whole report replays in
    // DuckDB. est_q6 = matches·10⁶ DIV 8; true_q6 = exact distinct-token
    // Jaccard; per-bucket avg by integer DIV. 100 TB shape: candidates
    // are bucket collisions (docs × bands, never all-pairs), token
    // arrays join onto candidate rows only (the minhash_verified
    // discipline), and the report is ≤ 9 rows (one per possible match
    // count).
    Query("dedup_minhash_calibration", (s, d) => {
      // base feeds sigs + both token fetches, sigs feeds the band stream
      // + both signature fetches — the multi-consumer fact-derivation
      // rule (market_basket_lift, round 13): localCheckpoint both so the
      // tokenize/md5 pipeline runs once, not once per consumer (sf0.1
      // on the steal host: 11.3 s before, 7-8 s warm after; the
      // remaining cost is the candidate join + exact verify itself)
      val base = documents(s, d).select(col("doc_id"),
        tokenSet(col("text")).as("toks"))
        .localCheckpoint()
      val sigs = md5Signatures(base).localCheckpoint()
      // each row of the band stream carries EVERY band hash (bh_0, bh_1)
      // so a pair is emitted only at the FIRST band where it collides
      // (band b with all earlier bands differing) — the classic LSH
      // dedup that replaces a |candidates|-row DISTINCT shuffle with a
      // map-side filter on the join output: the pair set is identical
      // (a both-band collision surfaces at band 0 only), measured
      // 10.1 s → 4.1-4.4 s warm at sf0.1 where the candidate set is
      // 4.6M pairs and the distinct was the single largest stage
      val long = md5BandRows(sigs)
      // generic over `bands` (review finding: the first spelling checked
      // only bh_0, correct solely at bands = 2): a band-b row survives
      // iff EVERY earlier band did NOT collide in the equi-join. The
      // join never matches NULL keys, so "did not collide" must be true
      // whenever either side's earlier band hash is NULL — including
      // BOTH NULL (ADVICE r16: the previous !(<=>) spelling treated a
      // both-NULL earlier band as a collision and dropped the pair).
      // coalesce(=!=, true) maps every NULL outcome to "no collision",
      // exactly matching the join's own NULL semantics; today band
      // hashes are NULL all-or-none, but this spelling no longer cares.
      val firstCollision = (0 until md5Bands).map(b =>
        col("band") === b && (0 until b)
          .map(j => coalesce(col(s"x.bh_$j") =!= col(s"y.bh_$j"), lit(true)))
          .foldLeft(lit(true))(_ && _)).reduce(_ || _)
      // NOT width-pinned (r18 negative result): unlike dedup_containment's
      // verify, a defaultParallelism keyed repartition of this pair stream
      // measured NEUTRAL (2.5-2.9 s warm both ways) — the self-join stage
      // already runs wide enough here and the verify sides broadcast, so
      // the extra exchange buys nothing. Reverted.
      val cand = long.as("x").join(long.as("y"), Seq("band", "bh"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .filter(firstCollision)
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      // Exact-verify payload discipline (round 17, exposed by the bench
      // noop-action A/B): the verify used to join FULL string-token
      // arrays plus 8 md5 strings per side onto the 4.6M candidate pairs
      // (~10 KB/pair of shuffle) and run array_intersect's per-pair
      // hash-set build — a 46 s honest cost at sf0.1 that count()'s
      // aggregate-pruning hid from the bench. Hash once per DOC instead:
      // sorted distinct xxhash64 token arrays (the dedup_ngram_jaccard
      // 64-bit discipline — engines agree absent a ~1e-10 collision)
      // halve the pair payload and turn the intersect into the native
      // two-pointer merge; the 8 minhash components ride as xxhash64 of
      // the md5 (8 longs, not 256 B of hex strings) — component
      // EQUALITY, the only thing `matches` reads, survives hashing.
      val hashedToks = base.select(col("doc_id"),
        sort_array(array_distinct(transform(col("toks"), t => xxhash64(t))))
          .as("th"))
        .localCheckpoint()
      val sigsL = sigs.select(col("doc_id") +: (0 until md5K).map(i =>
        xxhash64(col(s"mh_$i")).as(s"mh_$i")): _*)
      val sigA = sigsL.select(col("doc_id").as("a_id") +:
        (0 until md5K).map(i => col(s"mh_$i").as(s"a_mh_$i")): _*)
      val sigB = sigsL.select(col("doc_id").as("b_id") +:
        (0 until md5K).map(i => col(s"mh_$i").as(s"b_mh_$i")): _*)
      val tokA = hashedToks.select(col("doc_id").as("a_id"), col("th").as("a_t"))
      val tokB = hashedToks.select(col("doc_id").as("b_id"), col("th").as("b_t"))
      val scored = cand.join(sigA, "a_id").join(sigB, "b_id")
        .join(tokA, "a_id").join(tokB, "b_id")
        .select(
          (0 until md5K).map(i => when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1L)
            .otherwise(0L)).reduce(_ + _).as("matches"),
          graft.functions.SortedIntersectCount
            .sorted_intersect_count(col("a_t"), col("b_t")).cast("long")
            .as("inter"),
          (size(col("a_t")) + size(col("b_t"))).cast("long").as("szsum"))
        .select(expr("matches * 1000000 DIV 8").as("est_q6"),
          expr("inter * 1000000 DIV (szsum - inter)").as("true_q6"))
      scored.groupBy("est_q6")
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(true_q6) DIV count(1)").as("avg_true_q6"),
          min("true_q6").as("min_true_q6"),
          max("true_q6").as("max_true_q6"))
        .orderBy("est_q6")
    }, oracle =
      // md5 hex is lowercase in both engines; list min over hex strings is
      // the same lexicographic min array_min takes. The replay IS the same
      // recurrence (signatures are deterministic functions, there is no
      // independent construction of a minwise hash) — what the gate checks
      // is that every stage agrees bit-for-bit cross-engine.
      // the banded oracle's sig/band CTEs + candidate join + exact list
      // intersection — every stage the same deterministic md5 recurrence
      {
      val matchSum = (0 until md5K).map(i =>
        s"CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $OracleMd5Bands
         |long AS (
         |  SELECT doc_id, 0 AS band, b0 AS bh FROM banded
         |  UNION ALL SELECT doc_id, 1, b1 FROM banded),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM long x JOIN long y ON x.band = y.band AND x.bh = y.bh
         |  WHERE x.doc_id < y.doc_id),
         |scored AS (
         |  SELECT ($matchSum) * 1000000 // 8 AS est_q6,
         |         len(list_intersect(ta.toks, tb.toks)) * 1000000 //
         |           (len(ta.toks) + len(tb.toks)
         |            - len(list_intersect(ta.toks, tb.toks))) AS true_q6
         |  FROM cand c
         |    JOIN sig a ON a.doc_id = c.a_id
         |    JOIN sig b ON b.doc_id = c.b_id
         |    JOIN t ta ON ta.doc_id = c.a_id
         |    JOIN t tb ON tb.doc_id = c.b_id)
         |SELECT CAST(est_q6 AS BIGINT) AS est_q6,
         |       COUNT(*) AS n_pairs,
         |       CAST(SUM(true_q6) // COUNT(*) AS BIGINT) AS avg_true_q6,
         |       CAST(MIN(true_q6) AS BIGINT) AS min_true_q6,
         |       CAST(MAX(true_q6) AS BIGINT) AS max_true_q6
         |FROM scored GROUP BY est_q6 ORDER BY est_q6""".stripMargin
    }),
    // SimHash fingerprints (builder mandate; unit-tier).
    Query("dedup_simhash", (s, d) =>
      simhash(documents(s, d), col("doc_id"), col("text")).orderBy("doc_id")),
    // Character-3-gram Jaccard near-dup: E2's pairs over
    // the char-3-gram set in place of the token set, same blocks, same 0.8.
    // Shingles are hashed to 64-bit at the doc level so the pairwise
    // intersect compares longs, not strings (collision probability over the
    // whole corpus ~1e-10; the DuckDB oracle intersects the plain grams —
    // results agree absent a 64-bit collision). Native one-pass shingle
    // hasher (graft.functions.CharNgramHashes): the composable
    // sequence/transform/substring form allocated per window and dominated
    // this query's cost. The grid's singleton-block drop matters most here:
    // the gram arrays are the widest payload in the bench, and a doc in a
    // pair-less block never ships its array through the shuffle.
    Query("dedup_ngram_jaccard", (s, d) =>
      nearDupPairs(documents(s, d),
        graft.functions.CharNgramHashes.ngram_hashes(col("text"), 3))
        .orderBy("d1", "d2"), oracle =
      """WITH docs AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
        |                                      i -> text[i:i+2])) AS g,
        |         str_split(text, ' ')[1] AS blk_tok,
        |         floor(n_chars / 100.0) AS blk_len
        |  FROM documents)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |         / len(list_distinct(list_concat(a.g, b.g))) AS jac
        |FROM docs a JOIN docs b
        |  ON a.blk_tok = b.blk_tok AND a.blk_len = b.blk_len
        | AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.g, b.g))) >= 0.8
        |ORDER BY d1, d2""".stripMargin),
    // Incremental dedup — a new ingest batch against the standing corpus,
    // the shape that makes dedup affordable at 100 TB: the corpus is never
    // re-paired with itself. A new doc is 'dup_corpus' if its content hash
    // already exists in the corpus's DISTINCT hash set (in production a
    // pre-materialized index — exactly what dedup_exact_text publishes —
    // BUCKETED on the hash, so probing it shuffles only the delta; the
    // corpus side is deliberately NOT broadcast: it is the side that grows
    // without bound), else 'dup_batch' if an earlier new doc in the same
    // batch has the hash, else 'new'. Batch membership is doc_id % 5 — a
    // pure fixture function at every SF.
    Query("dedup_incremental", (s, d) => {
      val docs = documents(s, d)
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      val corpusHashes = docs.filter(col("doc_id") % 5 =!= 0)
        .select("h").distinct()
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val wH = Window.partitionBy("h").orderBy("doc_id")
      batch
        .join(corpusHashes.withColumn("in_corpus", lit(true)),
          Seq("h"), "left")
        .withColumn("rn", row_number().over(wH))
        .select(col("doc_id"),
          when(col("in_corpus"), "dup_corpus")
            .when(col("rn") > 1, "dup_batch")
            .otherwise("new").as("verdict"))
        .orderBy("doc_id")
    }, oracle =
      """WITH h AS (
        |  SELECT doc_id, sha256(text) AS h FROM documents),
        |corpus AS (
        |  SELECT DISTINCT h FROM h WHERE doc_id % 5 <> 0),
        |batch AS (
        |  SELECT doc_id, h.h, EXISTS (SELECT 1 FROM corpus c WHERE c.h = h.h) AS in_corpus,
        |         row_number() OVER (PARTITION BY h.h ORDER BY doc_id) AS rn
        |  FROM h WHERE doc_id % 5 = 0)
        |SELECT doc_id,
        |       CASE WHEN in_corpus THEN 'dup_corpus'
        |            WHEN rn > 1 THEN 'dup_batch'
        |            ELSE 'new' END AS verdict
        |FROM batch ORDER BY doc_id""".stripMargin),
    // Incremental dedup, bloom-prefiltered (round 12) — the production
    // sibling of dedup_incremental for the 100 TB ingest loop. The plain
    // shape above shuffles the corpus's ENTIRE distinct hash set to probe
    // a delta that is ~1/5 its size; here a bloom filter is built over the
    // BATCH's hashes (the small, bounded side — one tiny aggregate shipped
    // as a scalar subquery) and the corpus scan is pruned MAP-SIDE with
    // bloom_might_contain before anything shuffles. At scale the corpus
    // side then contributes ~|batch| surviving hashes (+ the FP rate)
    // instead of |corpus| — the same runtime-filter lever as
    // join_bloom_prefilter (TierA.scala:276), pointed at dedup. The exact
    // LEFT JOIN that follows clears bloom false positives, so verdicts are
    // identical to dedup_incremental by construction — the oracle is the
    // plain semantics with no bloom in it. estimatedItems 65536 covers
    // ~50× the sf0.1 batch; production sizes it from ingest stats, and
    // only the FP rate (extra shuffled rows) depends on it, never
    // correctness.
    Query("dedup_incremental_bloom", (s, d) =>
      Query.runSql(s, d, Seq("documents"),
        """WITH hashed AS (
          |  SELECT doc_id, sha2(text, 256) AS h FROM documents),
          |corpus AS (
          |  SELECT DISTINCT h FROM hashed
          |  WHERE doc_id % 5 <> 0
          |    AND bloom_might_contain(
          |          (SELECT bloom_agg(xxhash64(h), 65536L)
          |           FROM hashed WHERE doc_id % 5 = 0),
          |          xxhash64(h))),
          |batch AS (
          |  SELECT doc_id, h,
          |         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
          |  FROM hashed WHERE doc_id % 5 = 0)
          |SELECT b.doc_id,
          |       CASE WHEN c.h IS NOT NULL THEN 'dup_corpus'
          |            WHEN b.rn > 1 THEN 'dup_batch'
          |            ELSE 'new' END AS verdict
          |FROM batch b LEFT JOIN corpus c ON b.h = c.h
          |ORDER BY b.doc_id""".stripMargin),
      oracle =
      // the bloom variant is exact by construction (the confirm join clears
      // false positives), so its oracle IS the plain incremental semantics —
      // no bloom anywhere in it, same text as dedup_incremental's
      """WITH h AS (
        |  SELECT doc_id, sha256(text) AS h FROM documents),
        |corpus AS (
        |  SELECT DISTINCT h FROM h WHERE doc_id % 5 <> 0),
        |batch AS (
        |  SELECT doc_id, h.h, EXISTS (SELECT 1 FROM corpus c WHERE c.h = h.h) AS in_corpus,
        |         row_number() OVER (PARTITION BY h.h ORDER BY doc_id) AS rn
        |  FROM h WHERE doc_id % 5 = 0)
        |SELECT doc_id,
        |       CASE WHEN in_corpus THEN 'dup_corpus'
        |            WHEN rn > 1 THEN 'dup_batch'
        |            ELSE 'new' END AS verdict
        |FROM batch ORDER BY doc_id""".stripMargin),
    // Asymmetric CONTAINMENT dedup (round 8): C(A,B) = |G(A)∩G(B)| / |G(A)|
    // over char-3-gram shingle sets, ≥ 0.9 — the subset-duplicate detector
    // symmetric Jaccard misses by construction (a short doc quoted inside a
    // 10× longer one has J ≤ 0.1 but C = 1.0). Delta-vs-corpus shape like
    // dedup_incremental (batch = doc_id % 10 = 7, ≥ 10 grams): the corpus
    // never self-pairs, so cost is |batch|-proportional per ingest.
    // Candidate generation is the EXACT prefix filter (the AllPairs/PPJoin
    // family): order each batch doc's grams by ascending corpus document
    // frequency; if |A∩B| ≥ t = ceil(0.9·|A|), B must share one of A's
    // n−t+1 RAREST grams — otherwise every shared gram sits in A's last
    // t−1 prefix positions, a contradiction — so only ~|A|/10 prefix grams
    // enter the candidate join against the corpus posting lists, and rare
    // grams (short postings) dominate prefixes under any real frequency
    // skew. Candidates travel as id PAIRS; the gram arrays join back once
    // for the exact native intersect — no array rides the wide shuffle.
    // Exactness never depends on the filter (it only generates candidates);
    // a uniform-frequency corpus degrades toward the pair family's
    // quadratic cost but stays correct.
    Query("dedup_containment", (s, d) => {
      // NOT materialized (round-16 measurement): four branches re-derive
      // the shingle table, but a localCheckpoint here read 8.2-8.8 s
      // warm vs 7.8-8.6 baseline at sf0.1 — the cost is the candidate
      // join + distinct shuffles, not the repeated gram hashing, so the
      // materialization buys nothing and pays blocks. Re-measure before
      // re-attempting (a 100 TB corpus shifts the balance toward
      // materializing the posting lists as a pipeline stage).
      //
      // Round 17 (the r16 verdict's x128 probe): the three CORPUS-
      // proportional sides below (dfreq, postings, the docs gram-array
      // join-back) all rode BroadcastHashJoin — Catalyst sizes a
      // Generate/Aggregate output from its CHILD's scan estimate, so an
      // exploded posting table of 15M rows at x128 estimated under the
      // 10 MB threshold and shipped as a ~240 MB hashed build; the x128
      // curve point read 26.5 s quiet (slope x64→x128 = 1.57 — the
      // broadcast build cost is itself corpus-linear PER TASK) and at
      // cluster scale it is an executor OOM. The `merge` hints below are
      // the per-join remedy BroadcastAudit's scaladoc prescribes: every
      // corpus-growing build becomes a sort-merge join (spill-safe,
      // measured slope 0.79 x64→x128, x128 29-30 s vs the broadcast
      // cliff) at a measured toy-scale cost (sf0.1 warm 6.6 → ~12 s —
      // local broadcast is shared memory, so the honest plan loses the
      // toy benchmark and wins every real one; A/B matrix in SCALING.md).
      // The BATCH-derived sides (prefix, batch gram arrays) stay
      // estimate-driven: the ingest delta is bounded per batch by this
      // operator's contract, so their broadcasts are bounded too.
      // Round 18 (guide §3.2, r17 verdict #3): BLOOM-PREFILTER the two
      // corpus-proportional explodes MAP-SIDE before their shuffles. The
      // delta-vs-corpus contract means only grams occurring in the BATCH
      // can ever matter downstream, yet both the dfreq aggregate and the
      // postings join used to shuffle the corpus's ENTIRE exploded gram
      // stream. Two runtime filters, both built over batch-bounded key
      // sets and shipped as scalar subqueries (the dedup_incremental_bloom
      // machinery — graft.functions.BloomPrefilter over Spark's own
      // BloomFilterAggregate):
      //  (1) batch-gram bloom → dfreq's input: a gram outside the batch's
      //      vocabulary is dropped by the prefix inner join anyway, and
      //      dropping OTHER grams' rows cannot change a kept gram's count,
      //      so retained df values stay exact (blooms have no false
      //      negatives; a false positive is an extra aggregated gram the
      //      join then drops).
      //  (2) prefix-gram bloom → the postings stream: candidates need only
      //      postings whose gram sits in some batch doc's RAREST-(n-t+1)
      //      prefix — by construction the rarest ~1/10 of (1) — so the
      //      candidate join's probe side shrinks to roughly the candidate
      //      rows themselves instead of |corpus| × |grams/doc|.
      // estimatedItems sizes only the FP rate (correctness never depends
      // on it): 4M covers the staged-multiplier batch vocab at x128 at
      // ~8 bits/item; an undersized bloom degrades toward the unfiltered
      // cost, never toward a wrong result. The merge hints stay: the
      // filtered sides are batch-bounded in expectation but their
      // ESTIMATES remain corpus-sized, and a sort of the surviving rows
      // is cheap while an oversize broadcast build is an executor OOM.
      val docs = documents(s, d).select(col("doc_id"),
          graft.functions.CharNgramHashes.ngram_hashes(col("text"), 3).as("g"))
        .withColumn("n", size(col("g")))
      val batch = docs.filter(col("doc_id") % 10 === 7 && col("n") >= 10)
      val bfBatch = bloom_might_contain(batch.select(explode(col("g")).as("gh"))
        .select(bloom_agg(col("gh"), 4194304L)).scalar(), col("gh"))
      // corpus document frequency per gram hash — vocabulary-sized result;
      // the vocabulary grows with the corpus (bounded only by the gram
      // domain), so it must never be a broadcast build
      val dfreq = docs.select(explode(col("g")).as("gh"))
        .filter(bfBatch)
        .groupBy("gh").agg(count(lit(1)).as("df"))
      val wDoc = Window.partitionBy("d_new").orderBy(asc("df"), asc("gh"))
      // checkpointed: the prefix feeds its own bloom build AND the
      // candidate join — without the cut the dfreq+window subtree runs
      // twice (once inside the scalar subquery, once in the join)
      val prefix = batch
        .select(col("doc_id").as("d_new"), col("n"), explode(col("g")).as("gh"))
        .join(dfreq.hint("merge"), "gh")
        .withColumn("rn", row_number().over(wDoc))
        .filter(col("rn") <= col("n") - expr("(9 * n + 9) DIV 10") + 1)
        .select("d_new", "gh")
        .localCheckpoint()
      val bfPrefix = bloom_might_contain(
        prefix.select(bloom_agg(col("gh"), 1048576L)).scalar(), col("gh"))
      val postings = docs.select(col("doc_id").as("d_src"), explode(col("g")).as("gh"))
        .filter(bfPrefix)
      // build side = the batch-bounded prefix (shuffled hash, r18): the
      // merge hint here sorted the posting stream for no benefit — the
      // join's OUTPUT (one row per shared prefix gram; 4.35M rows at
      // sf0.1, the degenerate-vocab fixture regime the scaladoc warns
      // about) dwarfs both inputs, and a per-partition hash build of the
      // skinny prefix rows streams the postings unsorted. Still no
      // broadcast: the build stays partition-sliced.
      // The candidate distinct and the exact verify are CPU-bound stages
      // over SKINNY rows (two longs/pair; 4.35M raw → 1.9M distinct pairs
      // at sf0.1 — the degenerate-vocab regime), so AQE's byte-based
      // partition coalescing (advisory 64 MB) collapses them to 1-2 tasks
      // and serializes the board's heaviest compute (measured: distinct
      // 2.8 s, verify 6.1 s on 1-2 of 32 cores). Explicit keyed
      // repartitions pin the width to defaultParallelism — scale-adaptive
      // (= the session's cores locally, the executor-core total on a
      // cluster), never a constant — and the distinct/join then reuse the
      // exchange (same key, same width: no second shuffle).
      val p = docs.sparkSession.sparkContext.defaultParallelism
      val cand = prefix.hint("shuffle_hash").join(postings, "gh")
        .filter(col("d_new") =!= col("d_src"))
        .select("d_new", "d_src")
        .repartition(p, col("d_new"), col("d_src"))
        .distinct()
      // Exact-verify joins (r18 restructure, measured at sf0.1):
      //  - the CORPUS arrays attach FIRST via shuffled-hash, never
      //    broadcast (the r17 scale rule) and never sorted (the old merge
      //    hint sorted the 1.9M-row pair stream): pairs shuffle by d_src
      //    as bare id pairs, each build slice holds 1/p of the corpus
      //    arrays — the same spill-safe scaling as merge minus the sort;
      //  - the BATCH arrays attach AFTERWARDS in the same stage
      //    (estimate-driven broadcast, like every batch-derived side since
      //    r17: the ingest delta is bounded per batch by the operator's
      //    contract, and the calibrated estimate flips it off broadcast
      //    gracefully at the staged multipliers), so no gram array ever
      //    crosses an exchange on a pair row (§2.3: the old order attached
      //    ga before the d_src shuffle and shipped ~1 KB of batch array
      //    per pair through it).
      cand
        .repartition(p, col("d_src"))
        .join(docs.select(col("doc_id").as("d_src"), col("g").as("gb"))
          .hint("shuffle_hash"), "d_src")
        .join(batch.select(col("doc_id").as("d_new"),
          col("g").as("ga"), col("n").as("n_sub")), "d_new")
        .withColumn("inter", sorted_intersect_count(col("ga"), col("gb")))
        .filter(col("inter") * 10 >= col("n_sub") * 9)
        .select("d_new", "d_src", "inter", "n_sub")
        .orderBy("d_new", "d_src")
    }, oracle =
      // brute delta×corpus intersect over PLAIN grams (no prefix filter, no
      // hashing) — an independent construction end to end; counts agree with
      // the Spark side's hashed-gram intersect absent a 64-bit collision
      // (the dedup_ngram_jaccard argument)
      """WITH d AS (
        |  SELECT doc_id,
        |         list_distinct([substr(text, i, 3)
        |                        for i in range(1, len(text) - 1)]) AS g
        |  FROM documents),
        |n AS (SELECT doc_id, g, len(g) AS n FROM d),
        |delta AS (SELECT * FROM n WHERE doc_id % 10 = 7 AND n >= 10)
        |SELECT a.doc_id AS d_new, b.doc_id AS d_src,
        |       len(list_intersect(a.g, b.g)) AS inter, a.n AS n_sub
        |FROM delta a JOIN n b ON a.doc_id <> b.doc_id
        |WHERE 10 * len(list_intersect(a.g, b.g)) >= 9 * a.n
        |ORDER BY d_new, d_src""".stripMargin),
    // Fuzzy entity matching by edit distance (the record-linkage flavor of
    // near-dup: "cold widget" ~ "gold widget"). Two scale moves make this
    // survive 100 TB where the naive pairwise levenshtein is doubly
    // quadratic (pairs × O(len²) DP per pair): (1) collapse rows to the
    // DISTINCT name vocabulary with multiplicities first — the vocabulary
    // is bounded while rows grow, so the pair space is corpus-size-
    // independent; (2) block vocabulary pairs on the name's last token, so
    // only plausible pairs run the DP. Multiplicities multiply back at the
    // end (n_pairs = cnt_a × cnt_b row pairs behind each name pair).
    Query("dedup_fuzzy_edit", (s, d) => {
      val names = part(s, d)
        .groupBy(split_part(col("p_name"), lit(" "), lit(-1)).as("blk"),
          col("p_name"))
        .agg(count(lit(1)).as("cnt"))
      val a = names.select(col("blk"), col("p_name").as("name_a"),
        col("cnt").as("cnt_a"))
      val b = names.select(col("blk"), col("p_name").as("name_b"),
        col("cnt").as("cnt_b"))
      a.join(b, Seq("blk")).filter(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 2)
        .select(col("name_a"), col("name_b"), col("dist"),
          (col("cnt_a") * col("cnt_b")).as("n_pairs"))
        .orderBy("name_a", "name_b")
    }, oracle =
      // both engines ship classic Levenshtein (full DP, unit costs) — the
      // oracle's is DuckDB's own implementation, not a replay
      """WITH names AS (
        |  SELECT split_part(p_name, ' ', -1) AS blk, p_name, COUNT(*) AS cnt
        |  FROM part GROUP BY 1, 2)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       levenshtein(a.p_name, b.p_name) AS dist, a.cnt * b.cnt AS n_pairs
        |FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin),
    // Substring-WINDOW duplication profile (round 11) — the signal behind
    // substring-level dedup (remove repeated SPANS, not whole documents):
    // doc-level dedup keeps a document that quotes a boilerplate paragraph
    // verbatim; this measures, per doc, what fraction of its fixed-width
    // windows also occur in ANOTHER doc. Distinct from dedup_containment
    // (gram-SET containment — order-insensitive) and text_repetition
    // (WITHIN-doc repetition): this is cross-doc, position-contiguous.
    // Windows are md5 digests of 32-char spans at stride 16 (stride 1 is
    // the exact construction; the half-overlap stride is the screening
    // form — any shared run ≥ 47 chars must contain a full shared window,
    // the text_chunk_overlap tiling argument). dup_q6 is an EXACT integer
    // fixed-point fraction (no floats). 100 TB shape: only 32-hex digests
    // + doc ids shuffle (the dedup_exact_text discipline per window); the
    // shared-window table is |distinct windows|-sized with map-side
    // combinable counts; docs shorter than one window are reported with
    // n_win = 0 rather than silently dropped.
    Query("dedup_substring_window", (s, d) => {
      val W = 32; val S = 16
      val docs = documents(s, d)
      // ONE window-hashing pass feeds both consumers (r17 optimization:
      // `wins` is read by the shared-window aggregate AND the per-doc
      // semi-join; without the lineage cut the md5-per-span explode — the
      // key's dominant cost — ran twice). The materialized rows are
      // (doc_id, 32-hex digest): the §2.3 digests-not-text discipline the
      // key already shuffles by. Known trade (ADVICE r17): localCheckpoint
      // stores O(text_bytes/16) rows executor-local with lineage CUT — an
      // executor loss mid-query is unrecoverable and the footprint is
      // corpus-proportional. That is the right trade for a bench-shaped
      // run; a fault-tolerant 100 TB deployment would persist() (lineage
      // kept, recompute possible) or write the digest table as a pipeline
      // stage instead.
      val wins = docs.filter(length(col("text")) >= W)
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0), (length(col("text")) - W).divide(S).cast("int")),
            k => md5(substring(col("text"), k * S + 1, lit(W))))).as("wh"))
        .localCheckpoint()
      // windows occurring in >= 2 DISTINCT docs; the distinct is per
      // (wh, doc_id) first so a within-doc repeat can't fake cross-doc
      val shared = wins.distinct()
        .groupBy("wh").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select("wh")
      val perDoc = wins
        .join(shared, Seq("wh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      docs.select(col("doc_id"),
          // guard BEFORE the division: int-cast truncates toward zero, so
          // a below-W doc's negative quotient would round up to 0 and
          // fake one window
          when(length(col("text")) >= W,
            (length(col("text")) - W).divide(S).cast("long") + 1)
            .otherwise(0L).as("n_win"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_win"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("dup_q6",
          when(col("n_win") > 0, expr("n_shared * 1000000 DIV n_win"))
            .otherwise(0L))
        .orderBy("doc_id")
    }, oracle =
      // instance-level n_shared over the SAME md5 window digests (ASCII
      // corpus: substr chars == Spark substring chars == bytes); the
      // distinct (doc, window) view feeds only the >=2-docs test, and //
      // matches DIV on the non-negative quotients
      """WITH e AS (SELECT doc_id, text, length(text) AS l FROM documents),
        |w AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(0, (l - 32) // 16 + 1),
        |                k -> md5(substr(text, k * 16 + 1, 32)))) AS wh
        |  FROM e WHERE l >= 32),
        |dw AS (SELECT DISTINCT doc_id, wh FROM w),
        |sh AS (SELECT wh FROM dw GROUP BY wh HAVING COUNT(*) >= 2),
        |pd AS (SELECT doc_id, COUNT(*) AS n_shared
        |       FROM w JOIN sh USING (wh) GROUP BY doc_id)
        |SELECT e.doc_id,
        |       CAST(CASE WHEN l >= 32 THEN (l - 32) // 16 + 1 ELSE 0 END
        |            AS BIGINT) AS n_win,
        |       CAST(coalesce(pd.n_shared, 0) AS BIGINT) AS n_shared,
        |       CAST(CASE WHEN l >= 32 THEN
        |              coalesce(pd.n_shared, 0) * 1000000 // ((l - 32) // 16 + 1)
        |            ELSE 0 END AS BIGINT) AS dup_q6
        |FROM e LEFT JOIN pd ON e.doc_id = pd.doc_id
        |ORDER BY e.doc_id""".stripMargin),
    // WINNOWING fingerprint duplication profile (round 11b) — the
    // Schleimer/Wilkerson/Aiken local fingerprinting scheme (the MOSS
    // algorithm): hash every k-gram (k=8), then from every window of
    // w=16 consecutive gram hashes select the minimum — smallest hash,
    // RIGHTMOST position on ties, the robust-winnowing tie rule, pinned
    // here by min over concat(hash, zero-padded descending position) so
    // plain string MIN implements (hash ASC, pos DESC) in both engines.
    // The selection guarantee dedup_substring_window's fixed stride lacks:
    // ANY shared run of ≥ w+k-1 = 23 chars shares at least one selected
    // fingerprint, while density stays ~2/w instead of every-16th-window.
    // Per doc: fingerprint count, count shared with ≥1 OTHER doc, and the
    // exact integer dup fraction (q6). Selection runs entirely INSIDE
    // per-row higher-order functions (transform / slice / array_min — the
    // timeseries_ewma recipe): zero shuffle until the selected digests;
    // only (doc_id, 32-hex fp) rows reach the cross-doc share join, the
    // dedup_exact_text discipline. Docs shorter than w grams winnow their
    // whole (non-empty) hash sequence as one window; docs shorter than k
    // report n_fp = 0. O(len·w) per-row work is the price of the
    // expression-level form; w is a small constant.
    // BOUND: the rightmost-on-ties key is lpad(3000000 - p, 7) — valid
    // only for docs ≤ 3,000,000 chars (beyond that the subtraction goes
    // negative and the '-' prefix breaks lexicographic order). The
    // fixture family max doc length is ~4k chars (WinnowSpec pins the
    // margin); a corpus with longer docs must raise PAD_BASE/width in
    // BOTH engines (the oracle uses the same constant).
    Query("dedup_winnow_fingerprint", (s, d) =>
      winnowProfile(documents(s, d)).orderBy("doc_id"), oracle =
      // the identical winnowing recurrence in DuckDB's list dialect:
      // list_transform/list_slice/list_aggregate('min') replay the
      // per-window (hash ASC, pos DESC) selection over the same
      // md5-of-k-gram keys; range() is end-exclusive where Spark's
      // sequence() is inclusive, hence the +2/+1 bounds. Same 3,000,000
      // tie-break pad base as the engine — the ≤3M-char doc bound applies
      // here too (see the engine-side BOUND note)
      """WITH e AS (SELECT doc_id, text, length(text) AS l FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, l - 8 + 2),
        |           p -> md5(substr(text, p, 8)) ||
        |                lpad(CAST(3000000 - p AS VARCHAR), 7, '0')) AS keys
        |  FROM e WHERE l >= 8),
        |f AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(keys) >= 16
        |           THEN list_transform(range(16, len(keys) + 1),
        |                  i -> substr(list_aggregate(
        |                         list_slice(keys, i - 15, i), 'min'), 1, 32))
        |           ELSE [substr(list_aggregate(keys, 'min'), 1, 32)] END)
        |           AS fps
        |  FROM g),
        |x AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |sh AS (SELECT fp FROM x GROUP BY fp HAVING COUNT(*) >= 2),
        |pd AS (SELECT doc_id, COUNT(*) AS n_shared
        |       FROM x JOIN sh USING (fp) GROUP BY doc_id),
        |nf AS (SELECT doc_id, len(fps) AS n_fp FROM f)
        |SELECT e.doc_id,
        |       CAST(coalesce(nf.n_fp, 0) AS BIGINT) AS n_fp,
        |       CAST(coalesce(pd.n_shared, 0) AS BIGINT) AS n_shared,
        |       CAST(CASE WHEN coalesce(nf.n_fp, 0) > 0
        |              THEN coalesce(pd.n_shared, 0) * 1000000 // nf.n_fp
        |            ELSE 0 END AS BIGINT) AS dup_q6
        |FROM e LEFT JOIN nf ON e.doc_id = nf.doc_id
        |       LEFT JOIN pd ON e.doc_id = pd.doc_id
        |ORDER BY e.doc_id""".stripMargin),
    // E3d — the full TWO-STAGE production dedup (round 11): LSH candidates
    // → EXACT verification. dedup_minhash_lsh/banded trust the band
    // collision alone, so an LSH false positive (S-curve tail: J < 0.8
    // pairs still collide with probability J^4 per band) becomes a wrong
    // verdict; production pipelines always re-check candidates exactly.
    // Candidates here are STAR-shaped, not all-pairs: each doc is paired
    // only with its bucket's min-doc_id keeper (docs × bands candidate
    // rows, linear — never the quadratic within-bucket pair enumeration,
    // which this corpus's thousand-doc dup clusters would blow up; the
    // dedup_minhash_lsh argument), then token-set Jaccard ≥ 0.8 is
    // verified with the native sorted intersect. A doc may verify against
    // several bucket keepers — every verified (doc, keeper) edge is
    // reported with its exact (inter, uni) witness, integers end to end.
    // Signatures are the md5-seeded k=8/2-band construction so the whole
    // pipeline runs through the differential gate (the banded-sibling
    // discipline); the VERIFY stage is independently constructed in the
    // oracle (list_intersect over plain token lists vs the native sorted
    // hash intersect). 100 TB: signature pass linear, candidate set
    // linear in docs × bands, token arrays join back only for candidate
    // rows — no array rides the bucket shuffle.
    Query("dedup_minhash_verified", (s, d) =>
      minhashVerifiedPairs(documents(s, d)).orderBy("doc_id", "keeper"), oracle =
      // the signature stage is the dedup_minhash_banded replay (no
      // independent minwise construction exists — the gate checks
      // cross-engine bit-agreement); the VERIFY stage is independently
      // constructed: plain-token list_intersect here vs the native sorted
      // 64-bit-hash intersect on the Spark side
      s"""WITH $OracleMd5Bands
         |long AS (
         |  SELECT doc_id, 0 AS band, b0 AS bh FROM banded
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, b1 AS bh FROM banded),
         |cand AS (
         |  SELECT DISTINCT doc_id, keeper FROM (
         |    SELECT doc_id,
         |           MIN(doc_id) OVER (PARTITION BY band, bh) AS keeper
         |    FROM long) m
         |  WHERE keeper < doc_id),
         |j AS (
         |  SELECT c.doc_id, c.keeper,
         |         len(list_intersect(a.toks, b.toks)) AS inter,
         |         len(a.toks) + len(b.toks)
         |           - len(list_intersect(a.toks, b.toks)) AS uni
         |  FROM cand c
         |  JOIN t a ON a.doc_id = c.doc_id
         |  JOIN t b ON b.doc_id = c.keeper)
         |SELECT doc_id, keeper, inter, uni FROM j
         |WHERE inter * 5 >= uni * 4
         |ORDER BY doc_id, keeper""".stripMargin),
    // Per-doc n-gram NOVELTY vs the earlier corpus (round 11): what
    // fraction of this doc's distinct char-3-grams first appeared in a
    // LOWER-doc_id doc — the ingest-order curation signal (drop or
    // down-weight low-novelty docs as a stream arrives) that doc-level
    // dedup can't give: a doc can be 0% novel without any single earlier
    // doc containing it (its grams scattered across many). Distinct from
    // dedup_substring_window (position-contiguous, cross-doc symmetric)
    // and dedup_containment (thresholded delta-vs-corpus verdicts): this
    // is a per-doc PROFILE against the doc_id-ordered prefix. novelty_q6
    // is an exact integer fixed-point fraction; gram-less docs (< 3
    // chars) report fully novel. 100 TB shape: grams travel as 64-bit
    // hashes (one fused native pass); the first-occurrence table is
    // |distinct grams|-sized with a map-side-combinable MIN; only
    // (hash, doc_id) rows shuffle — document text never does.
    Query("dedup_ngram_novelty", (s, d) => {
      // ONE fused gram-hash pass (r17 optimization): without the lineage
      // cut the ngram_hashes scan re-ran three times — under `grams` for
      // the first-occurrence MIN, under `grams` again for the seen-count
      // join, and a third time just to take size(g) for the denominator.
      val docs = documents(s, d).select(col("doc_id"),
        graft.functions.CharNgramHashes.ngram_hashes(col("text"), 3).as("g"))
        .localCheckpoint()
      val grams = docs.select(col("doc_id"), explode(col("g")).as("gh"))
      val firstDoc = grams.groupBy("gh").agg(min(col("doc_id")).as("first_doc"))
      val seen = grams.join(firstDoc, "gh")
        .filter(col("first_doc") < col("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
      docs.select(col("doc_id"), size(col("g")).cast("long").as("n_grams"))
        .join(seen, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_seen"), lit(0L)).as("n_seen"))
        .withColumn("novelty_q6",
          when(col("n_grams") > 0,
            expr("(n_grams - n_seen) * 1000000 DIV n_grams"))
            .otherwise(1000000L))
        .orderBy("doc_id")
    }, oracle =
      // independent construction over PLAIN string grams (no hashing) —
      // counts agree with the Spark side's hashed-gram first-occurrence
      // absent a 64-bit collision (the dedup_ngram_jaccard argument);
      // // matches DIV on the non-negative quotients
      """WITH d AS (
        |  SELECT doc_id,
        |         list_distinct([substr(text, i, 3)
        |                        for i in range(1, len(text) - 1)]) AS g
        |  FROM documents),
        |grams AS (SELECT doc_id, unnest(g) AS gr FROM d),
        |fd AS (SELECT gr, MIN(doc_id) AS first_doc FROM grams GROUP BY gr),
        |seen AS (
        |  SELECT g.doc_id, COUNT(*) AS n_seen
        |  FROM grams g JOIN fd ON g.gr = fd.gr
        |  WHERE fd.first_doc < g.doc_id
        |  GROUP BY g.doc_id)
        |SELECT d.doc_id,
        |       CAST(len(d.g) AS BIGINT) AS n_grams,
        |       CAST(coalesce(s.n_seen, 0) AS BIGINT) AS n_seen,
        |       CAST(CASE WHEN len(d.g) > 0 THEN
        |              (len(d.g) - coalesce(s.n_seen, 0)) * 1000000 // len(d.g)
        |            ELSE 1000000 END AS BIGINT) AS novelty_q6
        |FROM d LEFT JOIN seen s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin)
  )
}
