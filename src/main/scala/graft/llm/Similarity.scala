package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Query
import graft.operators.Graph
import graft.core.Tables._

/** Tier E similarity search over the 64-dim `embeddings.embedding` column
  * (SURVEY.md §2 E4-E5 + builder-mandated ANN scale path).
  *
  * 100 TB design notes:
  *  - Brute-force top-k (E4) broadcasts the query vector and computes the
  *    dot product inside codegen'd higher-order functions — one scan, no
  *    shuffle except the final TakeOrdered merge of per-partition top-k.
  *  - Per-label kNN (E5) blocks the self-join on `label` (the IVF idea:
  *    compare only within a partition), and keeps each probe's top-1 by
  *    one map-side-combined reduction ([[top1]]).
  *  - knn_lsh_bucketed is the sub-linear path: sign-random-projection
  *    buckets via fixed seeded hyperplanes; candidates share a bucket.
  *    Hyperplane constants are compile-time literals — deterministic,
  *    broadcast implicitly with the plan, no SQL `rand()` (SURVEY §7.4.5).
  */
object Similarity {

  /** Dot product of two vector columns — a native codegen'd expression
    * (graft.functions.DotProduct): one fused primitive loop, no per-element
    * interpreted lambdas. Works on float and double arrays. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot_product(a, b)

  /** The L2 norm as a divisor: null for an all-zero vector (a padding
    * row, a failed encode), so its cosine is null and ranks last instead
    * of raising DIVIDE_BY_ZERO under ANSI mode. */
  def norm(a: Column): Column = nullif(sqrt(dot(a, a)), lit(0.0))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Attach a unit-normalized double copy of `vec` as `out`. Pairwise
    * similarity stages normalize each side ONCE per row, so the per-pair
    * work is a single dot product instead of three (cosine recomputes both
    * norms per pair — 3× the flops on an m×n pair space). An all-zero
    * vector has no unit vector: null, so its dot products are null too. */
  def withUnitVec(df: DataFrame, vec: String, out: String): DataFrame =
    df.withColumn("graft_nrm", norm(col(vec)))
      .withColumn(out, when(col("graft_nrm").isNotNull,
        transform(col(vec), x => x.cast("double") / col("graft_nrm"))))
      .drop("graft_nrm")

  /** The probe shape of every similarity key: `cands` with the `queries`
    * rows (one query vector, a probe set, K centroids, a 1-row scale)
    * riding a broadcast onto every candidate row. */
  private def probe(cands: DataFrame, queries: DataFrame): DataFrame =
    cands.crossJoin(broadcast(queries))

  /** Every row of `df` but the query vector `qid`, with the query row's
    * `cols` broadcast onto it ([[probe]]). */
  private def againstQuery(df: DataFrame, qid: Long, cols: Column*)
      : DataFrame = {
    val isQuery = col("vec_id") === qid
    probe(df.filter(!isQuery), df.filter(isQuery).select(cols: _*))
  }

  /** The top `k` rows of a scored frame under `order`, numbered 1..k as
    * `rn`: orderBy.limit (TakeOrderedAndProject — per-partition heaps, a
    * k·p-row driver merge), then row_number over the k survivors only. A
    * global row_number window would funnel every candidate through one
    * partition at scale. */
  private[llm] def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn("rn", row_number().over(Window.orderBy(order: _*)))

  /** Rank 1 of each `keys` group by (`score` best first, `id` ascending):
    * the row a `row_number() = 1` window over that order keeps, found by
    * one groupBy + max/min(struct(score, id, payload…)) whose partial
    * aggregate collapses each group's candidates map-side. `highest` picks
    * the max score (a similarity), else the min (a distance); under max
    * the id rides negated, so the lowest id still wins a tie. Struct
    * order is the window's sort order, NaN largest. Returns `keys`, then
    * the winner's `score`, `id` and `payload`. */
  private[llm] def top1(df: DataFrame, keys: Seq[String], score: String,
      id: String, highest: Boolean, payload: String*): DataFrame = {
    def tie(c: Column): Column = if (highest) -c else c
    val cand = struct(col(score).as("s") +: tie(col(id)).as("t") +:
      payload.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg((if (highest) max(cand) else min(cand)).as("best"))
      .select(keys.map(col) ++ Seq(col("best.s").as(score),
        tie(col("best.t")).as(id)) ++ payload.map(p => col(s"best.$p")): _*)
  }

  /** Deterministic pseudo-random unit-free hyperplanes for LSH bucketing. */
  private[llm] def hyperplanes(n: Int, dim: Int): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Banded sign-projection LSH parameters: `Bands` independent bucket
    * tables of `BandBits` hyperplane sign bits each. A pair is a candidate
    * if it collides in ANY band (OR-amplification) — with p = 1 - θ/π the
    * per-plane agreement probability, recall = 1-(1-p^r)^B. Tuned on the
    * driver corpus (top pairs sit near cosine 0.45 ⇒ p≈0.65): 32×8 recalls
    * ~2/3 of the true top-50 while candidate pairs stay ~13% of all pairs
    * (LlmSpec measures it against brute force). */
  val Bands = 32
  val BandBits = 8

  /** Banded sign-LSH candidate pairs of a (vec_id, uv, blocks…) frame:
    * each vector tagged with its `Bands` band buckets of `r` sign bits
    * (one native expression computes the whole projection matrix in a
    * single fused loop per row — composing Bands·r dot-product expressions
    * would overwhelm janino, graft.functions.SignBandBuckets), a self-join
    * on (blocks…, bucket), each colliding pair kept once as a_vec_id <
    * b_vec_id, then both unit vectors fetched by id-equi-join. Vectors are
    * NOT replicated per band — only (vec_id, blocks…, bucket) rows fan out
    * Bands×. Returns (b_vec_id, a_vec_id, blocks…, b_uv, a_uv). */
  private def bandPairs(unit: DataFrame, blocks: Seq[String], r: Int)
      : DataFrame = {
    val planes = hyperplanes(Bands * r, 64)
    val tagged = unit.select(col("vec_id") +: blocks.map(col) :+
      explode(graft.functions.SignBandBuckets
        .sign_band_buckets(col("uv"), planes, r)).as("bucket"): _*)
    val cand = tagged.as("x").join(tagged.as("y"), blocks :+ "bucket")
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_vec_id") +: col("y.vec_id").as("b_vec_id")
        +: blocks.map(col): _*)
      .distinct()
    val av = unit.select(col("vec_id").as("a_vec_id"), col("uv").as("a_uv"))
    val bv = unit.select(col("vec_id").as("b_vec_id"), col("uv").as("b_uv"))
    cand.join(bv, "b_vec_id").join(av, "a_vec_id")
  }

  /** Near-dup dedup over an embedding table (vec_id, embedding, label):
    * each vector maps to the smallest earlier same-label vec_id whose cosine
    * exceeds `threshold`. EXACT semantics (the DuckDB oracle replays it as
    * an all-pairs threshold join).
    *
    * Scale design — why a salted grid and not LSH candidates: the pair work
    * is inherently O(block²/bg) per task instead of O(block²) on one task.
    * The label blocks go through the adaptive grid every exact pair key
    * shares ([[Dedup.saltedPairs]]), so no single task ever holds a whole
    * label block — the shape that kills a 1000-executor job when one label
    * is hot — while cold labels pay no fan-out and singleton labels never
    * enter the shuffle.
    *
    * Composing LSH bucket candidates instead (the sub-quadratic shape used
    * by dedup_embedding_ann below) CANNOT keep these exact semantics on this
    * corpus — measured at sf0.001/0.01/0.1, qualifying pairs sit at cosine
    * 0.351-0.475 while the same-label background continuum runs right up to
    * the 0.3498 threshold (median ~0.16, per-plane agreement p≈0.55-0.65).
    * Banded sign-LSH recall is 1-(1-p^r)^B: driving it to 1.0 at p≈0.61
    * needs so many bands that ~99% of background pairs become candidates —
    * the quadratic join back again, plus band overhead. LSH separates
    * near-dups from background only when the threshold sits in the high-p
    * regime (≥0.9 cosine, the production dedup setting); at a low threshold
    * the exact grid is the honest plan, and dedup_embedding_ann is the
    * documented approximate alternative. */
  def embeddingCosineDedup(emb: DataFrame, threshold: Double): DataFrame =
    cosineDedupBlocked(withUnitVec(emb, "embedding", "uv"), "label", threshold)

  /** Exact cosine dedup core: every same-`block` pair of a (vec_id, uv,
    * block) frame on the salted grid, then the min-id keeper — the shared
    * body of `dedup_embedding_cosine` (block = label) and
    * `dedup_semantic_cells` (block = IVF cell). */
  private def cosineDedupBlocked(unit: DataFrame, block: String,
      threshold: Double): DataFrame =
    cosineKeepers(Dedup.saltedPairs(unit, Seq(block), "vec_id", Seq("uv")),
      threshold)

  /** The min-id keeper verdict over candidate pairs (a_vec_id < b_vec_id,
    * a_uv, b_uv): each later vector whose cosine to an earlier one exceeds
    * `threshold` maps to the smallest such earlier vec_id. */
  private def cosineKeepers(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.filter(dot(col("a_uv"), col("b_uv")) > threshold)
      .groupBy(col("b_vec_id").as("vec_id"))
      .agg(min(col("a_vec_id")).as("keeper"))
      .orderBy("vec_id")

  /** LSH-candidate near-dup verdicts: same output contract as
    * [[embeddingCosineDedup]] but pairs are generated by same-(label, band
    * bucket) collisions instead of the exact grid — candidate generation
    * bounded by bucket occupancy, then exact dot-product re-rank of
    * candidates only. The verdict set is a subset of the exact one (recall
    * measured in LlmSpec); at the production threshold regime (cosine ≥
    * 0.9, p ≥ 0.9 per plane) the banding recalls essentially everything.
    * The band width is [[adaptiveBandBits]] of the corpus count, taken
    * once per call. */
  def embeddingCosineDedupAnn(emb: DataFrame, threshold: Double): DataFrame =
    cosineKeepers(bandPairs(withUnitVec(emb, "embedding", "uv"), Seq("label"),
      adaptiveBandBits(emb.count())), threshold)

  /** ADAPTIVE band width r = max(8, ⌈log₂ n⌉ − 2) for an n-vector corpus
    * (round 11 — the scaling study's one contradicted claim, SCALING.md):
    * at FIXED r sign bits per band, two random same-block vectors still
    * collide in a band with probability ~2^-r, so background candidates
    * are B·n²/2^r — quadratic in corpus size however small the constant
    * (measured tail slope ≈1.3 at 32k vectors, 64× inflation). The
    * standard repair is to grow r with log₂(n): bucket occupancy stays
    * O(1), background candidates stay ~linear, and true near-dups in the
    * high-p regime still collide (p^r decays polynomially in n:
    * n^(log₂ p), a mild recall trade documented with the curve). Every
    * driver fixture (n ≤ 1024) stays at the measured 32×8 tuning — gate
    * behavior (sf ≤ 0.01, n ≤ 200) is bit-unchanged. The offset moved −4
    * → −2 in round 13 after the r12 verdict's decomposition question: the
    * −4 curve's residual tail slope 1.77 at x64 (SCALING.md) is the
    * B·n²/2^r background term — r two bits wider cuts it 4× at every point
    * while the per-band recall p² trade (~0.7-0.8 at the dedup
    * thresholds) stays inside the measured recall floors. */
  def adaptiveBandBits(n: Long): Int =
    math.max(BandBits,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 2L) - 1) - 2)

  /** Corpus-adaptive IVF cell count for the semantic-dedup pair:
    * K = max(8, ⌈√n⌉ DIV 8) — exactly 8 on every driver fixture
    * (n ≤ 4096 ⇒ ⌈√n⌉ ≤ 64 ⇒ DIV 8 ≤ 8, outputs bit-unchanged), growing
    * ~√n/8 beyond so the within-cell population n/K tracks ~8√n instead
    * of n/8. This is the adaptive-r lesson applied to the OTHER latent
    * linear-in-n block (round 12 scaling run: fixed K=8 read 63 s /
    * slope 1.17 at 128 k vectors — cells that grow ×m make even banded
    * candidates quadratic-residual). Pure integer formula over the exact
    * count; sqrt/ceil are IEEE-exact, so the DuckDB oracle derives the
    * SAME K in SQL. Shared by both semantic keys — identical blocking is
    * the sound-subset property's precondition. */
  def adaptiveCellCount(n: Long): Int =
    math.max(8L, math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toLong / 8L)
      .toInt

  /** The first `k` vectors of a (vec_id, uv) frame as seed centroids
    * (c_id, c_v). */
  private def seedCentroids(unit: DataFrame, k: Int): DataFrame =
    unit.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("uv").as("c_v"))

  /** Every vector of a (vec_id, uv) frame scored against every centroid
    * (c_id, c_v): (vec_id, uv, csim, c_id), csim the 4dp-quantized dot
    * product, so every ranking of it ties on c_id, never on float noise. */
  private def centroidScores(unit: DataFrame, cents: DataFrame): DataFrame =
    probe(unit, cents).select(col("vec_id"), col("uv"),
      round(dot(col("uv"), col("c_v")), 4).as("csim"), col("c_id"))

  /** Each vector in its nearest centroid's cell by (csim DESC, c_id ASC):
    * (vec_id, uv, cell) — the IVF cell assignment and each Lloyd step. */
  private def nearestCentroid(unit: DataFrame, cents: DataFrame): DataFrame =
    top1(centroidScores(unit, cents), Seq("vec_id"), "csim", "c_id",
      highest = true, "uv")
      .select(col("vec_id"), col("uv"), col("c_id").as("cell"))

  /** Deterministic IVF cell assignment over the first `k` vectors as
    * seeds — one definition, so `dedup_semantic_cells`,
    * `dedup_semantic_ann` and `knn_ivf_pq` block on the SAME cells and can
    * never silently diverge. Returns (vec_id, uv, cell). */
  private def ivfCellAssign(unit: DataFrame, k: Int): DataFrame =
    nearestCentroid(unit, seedCentroids(unit, k))

  /** The exact top-10 cosine ranking of vec_id 0's neighbours — ONE
    * definition shared by `knn_cosine_topk` (the published ranking) and
    * `knn_ivf_recall_audit` (its recall denominator): two copies of the
    * reference ranking can desync silently while each still passes its
    * own gate (the round-12h lesson). 4dp quantize + vec_id tiebreak. */
  private def exactTop10(s: SparkSession, d: String): DataFrame =
    topK(againstQuery(embeddings(s, d), 0, col("embedding").as("qv"))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 4).as("sim")),
      10, desc("sim"), asc("vec_id"))
      .select("rn", "vec_id")

  /** `exact10(rn, vec_id)`: the DuckDB twin of [[exactTop10]]. */
  private val OracleExactTop10: String =
    """exact10 AS (
      |  SELECT rn, vec_id FROM (
      |    SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rn
      |    FROM (
      |      SELECT vec_id,
      |             round(list_cosine_similarity(embedding,
      |               (SELECT embedding FROM embeddings WHERE vec_id = 0)),
      |               4) AS sim
      |      FROM embeddings WHERE vec_id <> 0) s) t
      |  WHERE rn <= 10)""".stripMargin

  /** The fixed-8-centroid multi-probe IVF index — ONE construction shared
    * by `knn_ivf_coarse` (nprobe = 1), `knn_ivf_multiprobe` (nprobe = 2,
    * the shipped index read path) and `knn_ivf_recall_audit` (nprobe
    * 1/2/4, the tuning curve), so the audit can never describe a
    * different index than the one shipped. Every vector × 8 seed
    * centroids with arn = the rank of the candidate cell (1 = assigned
    * cell) — the only corpus-wide pass. The parts: [[ivfClusteredOf]]
    * (arn = 1), [[ivfProbesOf]] (vec 0's ranked cell list — the vec_id
    * filter pushes below the window, so this costs 8 rows) and
    * [[ivfSimsFrom]] (the candidate equi-join: the probe's cell list +
    * query vector ride an nprobe-row broadcast, no nested-loop join). */
  private def ivfRanked(s: SparkSession, d: String): DataFrame = {
    val unit = withUnitVec(embeddings(s, d), "embedding", "uv")
    centroidScores(unit, seedCentroids(unit, 8)).withColumn("arn",
      row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("csim"), asc("c_id"))))
  }

  /** The index: each vector in its assigned cell. */
  private def ivfClusteredOf(ranked: DataFrame): DataFrame =
    ranked.filter(col("arn") === 1)
      .select(col("vec_id"), col("uv"), col("c_id").as("cell"))

  /** Vec 0's ranked probe-cell list (cell, qv, arn) — filter `arn <=
    * nprobe` to pick the probe width. */
  private def ivfProbesOf(ranked: DataFrame): DataFrame =
    ranked.filter(col("vec_id") === 0)
      .select(col("c_id").as("cell"), col("uv").as("qv"), col("arn"))

  /** The candidate scan: probed cells equi-joined onto the index, scored
    * (vec_id, sim). */
  private def ivfSimsFrom(clustered: DataFrame, probe: DataFrame)
      : DataFrame =
    clustered.join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round(dot(col("uv"), col("qv")), 4).as("sim"))

  /** Top-10 (rn, vec_id) of a (vec_id, sim) frame. */
  private def ivfTop10From(sims: DataFrame): DataFrame =
    topK(sims, 10, desc("sim"), asc("vec_id")).select("rn", "vec_id")

  /** Top-10 of the index probed at `nprobe` cells. */
  private def ivfTop10(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val ranked = ivfRanked(s, d)
    ivfTop10From(ivfSimsFrom(ivfClusteredOf(ranked),
      ivfProbesOf(ranked).filter(col("arn") <= nprobe).drop("arn")))
  }

  /** The IVF assignment as DuckDB CTEs, the twin of [[ivfRanked]] and
    * [[ivfCellAssign]]: the first `k` vectors (`k` a SQL expression) as
    * seed centroids `icent`, `ranked` every (vec_id, c_id) with arn its
    * rank by (4dp cosine DESC, c_id), `clustered` each vec_id's arn = 1
    * cell. */
  private def oracleIvfCtes(k: String): String =
    s"""icent AS (
      |  SELECT vec_id AS c_id, embedding AS c_v FROM embeddings
      |  WHERE vec_id < $k),
      |ranked AS (
      |  SELECT e.vec_id, c.c_id,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY round(list_cosine_similarity(e.embedding, c.c_v), 4)
      |                    DESC, c.c_id) AS arn
      |  FROM embeddings e CROSS JOIN icent c),
      |clustered AS (
      |  SELECT vec_id, c_id AS cell FROM ranked WHERE arn = 1)""".stripMargin

  /** The (rn, vec_id) rows of [[ivfTop10]] over [[oracleIvfCtes]]. */
  private def oracleIvfTop10(nprobe: Int): String =
    s"""SELECT rn, vec_id FROM (
      |  SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rn
      |  FROM (
      |    SELECT e.vec_id,
      |           round(list_cosine_similarity(e.embedding,
      |             (SELECT embedding FROM embeddings WHERE vec_id = 0)),
      |             4) AS sim
      |    FROM embeddings e
      |    JOIN clustered c ON e.vec_id = c.vec_id
      |    JOIN (SELECT c_id AS cell FROM ranked
      |          WHERE vec_id = 0 AND arn <= $nprobe) p
      |      ON c.cell = p.cell
      |    WHERE e.vec_id <> 0) s) t
      |WHERE rn <= 10""".stripMargin

  /** Greedy maximal-marginal-relevance selection: pick `k` of the exact
    * top-`pool` candidates by query cosine, each step maximizing
    * lam·rel − (1−lam)·max_sim_to_already_selected. rel and the pairwise
    * sims are 4dp-quantized FIRST (the knn discipline) so every greedy
    * argmax compares identical floats in both engines; ties break on
    * vec_id. k-bounded by construction — the candidate pool IS the scale
    * contract (production swaps the exact top-pool for an ANN pool) — and
    * collect-free: steps chain lazily, checkpointed per step to keep the
    * plan flat. Fewer than k candidates yields fewer than k rows (each
    * exhausted step's argmax is empty), never an error.
    *
    * Both weights are EXPLICIT literal doubles: computing the diversity
    * weight as 1.0 − lamRel would yield a different IEEE double than the
    * oracle's parsed literal (1.0 − 0.7 = 0.30000000000000004 ≠ 0.3) and
    * break the bit-parity the 4dp quantization exists to guarantee —
    * callers pass the same two decimal literals the oracle SQL spells. */
  def mmrSelect(emb: DataFrame, queryId: Long, pool: Int, k: Int,
      lamRel: Double, lamDiv: Double): DataFrame = {
    require(k >= 1, s"mmrSelect: k must be >= 1, got $k")
    val cand = againstQuery(emb, queryId, col("embedding").as("qv"))
      .select(col("vec_id"), col("embedding"),
        round(cosine(col("embedding"), col("qv")), 4).as("rel"))
      .orderBy(desc("rel"), asc("vec_id")).limit(pool)
      .localCheckpoint()
    val sims = cand
      .select(col("vec_id").as("a_id"), col("embedding").as("a_e"))
      .crossJoin(cand
        .select(col("vec_id").as("b_id"), col("embedding").as("b_e")))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosine(col("a_e"), col("b_e")), 4).as("sim"))
      .localCheckpoint()
    var selected = cand.select(col("vec_id"), col("rel"))
      .orderBy(desc("rel"), asc("vec_id")).limit(1)
      .select(col("vec_id"), col("rel"), lit(1).as("step"))
      .localCheckpoint()
    for (t <- 2 to k) {
      val pick = cand.select(col("vec_id"), col("rel"))
        .join(selected.select("vec_id"), Seq("vec_id"), "left_anti")
        .join(sims, col("vec_id") === col("a_id"))
        .join(selected.select(col("vec_id").as("b_id")), "b_id")
        .groupBy(col("vec_id"), col("rel"))
        .agg(max(col("sim")).as("maxsim"))
        .select(col("vec_id"), col("rel"),
          (lit(lamRel) * col("rel") - lit(lamDiv) * col("maxsim")).as("mmr"))
        .orderBy(desc("mmr"), asc("vec_id")).limit(1)
        .select(col("vec_id"), col("rel"), lit(t).as("step"))
      selected = selected.unionByName(pick).localCheckpoint()
    }
    selected.select("step", "vec_id", "rel").orderBy("step")
  }

  /** Every embedding int8-quantized under ONE global symmetric scale
    * (127/max|x|), labels preserved — the shared front half of
    * `knn_quantized_topk` / `knn_radius_quantized` / `retrieval_maxsim`.
    * Quantized components are exact small integers carried as doubles, so
    * every downstream dot product is an exact long. */
  private[llm] def quantizedVectors(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val gmax = emb.agg(nullif(max(array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))), lit(0.0)).as("m"))
    probe(emb, gmax)
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * (lit(127.0) / col("m")) + lit(0.5))
          .cast("double")))
      .select("vec_id", "label", "qv")
  }

  /** [[quantizedVectors]]' global symmetric scale as a DuckDB oracle CTE:
    * `m` = max|x| over every embedding component (NULL when all are 0). */
  private[graft] val OracleInt8Scale: String =
    """m AS (
      |  SELECT nullif(MAX(list_max(list_transform(embedding,
      |           x -> abs(CAST(x AS DOUBLE))))), 0.0) AS m
      |  FROM embeddings)""".stripMargin

  /** The oracle twin of [[quantizedVectors]]: the [[OracleInt8Scale]] CTE
    * plus `q(vec_id, qv)`, each embedding floor-half-up quantized to int8
    * under that scale. Oracles that shift the codes or carry labels take
    * the scale alone and spell their own `q`. */
  private[graft] val OracleInt8Vectors: String =
    s"""$OracleInt8Scale,
      |q AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> floor(CAST(x AS DOUBLE) * (127.0 / m) + 0.5)) AS qv
      |  FROM embeddings, m)""".stripMargin

  /** Exact INTEGER dot-product scores (vec_id, score) of every vector
    * (vec_id ≠ 0) against the int8-quantized probe vec_id = 0 — one
    * global symmetric scale, so relative order is preserved and scores
    * are exact longs. The body of `knn_quantized_topk` and
    * `knn_radius_quantized`, shared so `retrieval_rrf` fuses the identical
    * ranking. */
  private[llm] def quantizedScores(s: SparkSession, d: String): DataFrame =
    againstQuery(quantizedVectors(s, d).select("vec_id", "qv"), 0,
      col("qv").as("pv"))
      .select(col("vec_id"), dot(col("qv"), col("pv")).cast("long").as("score"))

  /** JL projection dims (embed_random_projection): fixture embedding dim
    * 64 → 16 output coordinates. */
  private val JlInDim = 64
  private val JlOutDim = 16

  /** Rademacher sign s(i, j) ∈ {−1, +1} for input dim i, output dim j:
    * parity of the ASCII code of the first hex char of md5("i|j") — the
    * SAME derivation the DuckDB oracle runs in SQL (ascii(substr(md5(
    * i || '|' || j), 1, 1)) % 2), so the gate differentially checks the
    * sign matrix itself. Hex chars split 8/8 on ASCII parity
    * ({0,2,4,6,8,b,d,f} even), so the signs are balanced. Returned as
    * Double: dot_product consumes double arrays and ±1.0 is exact. */
  private[llm] def jlSign(i: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$i|$j".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    if (hex.charAt(0).toInt % 2 == 0) 1.0 else -1.0
  }

  /** The JL-16 projection of a 64-long integer-valued vector as long
    * columns p0..p15: exact integer dot products with the [[jlSign]]
    * columns. */
  private def jlProject(v: Column): Seq[Column] = (0 until JlOutDim).map { j =>
    val signs = array((0 until JlInDim).map(i => lit(jlSign(i, j))): _*)
    dot(v, signs).cast("long").as(s"p$j")
  }

  /** A probe's projection renamed q0..q15, to ride a broadcast onto
    * [[jlProject]]ed rows. */
  private val jlProbeCols: Seq[Column] =
    (0 until JlOutDim).map(j => col(s"p$j").as(s"q$j"))

  /** Exact squared L2 between a row's p0..p15 and its probe's q0..q15. */
  private val jlSqDist: Column = (0 until JlOutDim).map(j =>
    (col(s"p$j") - col(s"q$j")) * (col(s"p$j") - col(s"q$j"))).reduce(_ + _)

  /** The DuckDB twin of [[jlProject]] over `q.sv0`: `sgn` holds the sign
    * column of each output dim j, derived in SQL from the same md5 parity
    * of "i|j", and `pj` each vector's exact projection p per j. */
  private val OracleJlCtes: String =
    """sgn AS (
      |  SELECT CAST(j AS INT) AS j,
      |         list_transform(range(0, 64), i ->
      |           CASE WHEN ascii(substr(md5(i || '|' || j), 1, 1)) % 2 = 0
      |                THEN 1.0 ELSE -1.0 END) AS sg
      |  FROM range(0, 16) t(j)),
      |pj AS (
      |  SELECT q.vec_id, sgn.j,
      |         CAST(list_dot_product(q.sv0, sgn.sg) AS BIGINT) AS p
      |  FROM q, sgn)""".stripMargin

  /** `jld(pid, vec_id, d2)`: the exact squared L2 between the [[OracleJlCtes]]
    * projections of every vector and of each probe the SQL predicate
    * `probes` picks (itself excluded) — the oracle of [[jlSqDist]]. */
  private def oracleJlDist(probes: String): String =
    s"""jld AS (
      |  SELECT b.pid, a.vec_id, SUM((a.p - b.p) * (a.p - b.p)) AS d2
      |  FROM pj a JOIN (SELECT vec_id AS pid, j, p FROM pj
      |                  WHERE $probes) b ON a.j = b.j
      |  WHERE a.vec_id <> b.pid GROUP BY 1, 2)""".stripMargin

  /** The +127-shifted int8 vectors `q(vec_id, sv0)` as DuckDB CTEs — the
    * oracle of [[shiftedVectors]]. */
  private val OracleShiftedVectors: String =
    s"""$OracleInt8Scale,
      |q AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> floor(CAST(x AS DOUBLE) * (127.0 / m) + 0.5) + 127.0)
      |           AS sv0
      |  FROM embeddings, m)""".stripMargin

  /** `exd(pid, vec_id, d2)`: the exact squared L2 between the
    * [[OracleShiftedVectors]] of every vector and of each probe the SQL
    * predicate `probes` picks (itself excluded) — the oracle of
    * [[sqdCol]] over `sv0`. */
  private def oracleShiftedDist(probes: String): String =
    s"""exd AS (
      |  SELECT p.vec_id AS pid, a.vec_id,
      |         CAST(list_aggregate(list_transform(range(1, 65),
      |           i -> (a.sv0[CAST(i AS INT)] - p.sv0[CAST(i AS INT)])
      |              * (a.sv0[CAST(i AS INT)] - p.sv0[CAST(i AS INT)])),
      |           'sum') AS BIGINT) AS d2
      |  FROM q a, (SELECT vec_id, sv0 FROM q WHERE $probes) p
      |  WHERE a.vec_id <> p.vec_id)""".stripMargin

  /** The deterministic-PQ oracle pipeline as a CTE prefix (quantize+shift
    * → subvectors → seed-assign → one-round integer centroids → encode →
    * ADC table → per-vector lookup sums in `scored`) — shared verbatim by
    * the `knn_pq_adc` and `retrieval_eval_ndcg` oracles so the eval
    * grades exactly the ranking the search key ships. */
  private val PqOracleCtes: String =
    s"""$OracleShiftedVectors,
      |subs AS (
      |  SELECT vec_id, CAST(s AS INT) AS sub,
      |         sv0[CAST(s AS INT) * 8 + 1 : CAST(s AS INT) * 8 + 8] AS sv
      |  FROM q, UNNEST(range(0, 8)) t(s)),
      |seeds AS (
      |  SELECT sub, CAST(vec_id AS INT) AS code, sv AS cv
      |  FROM subs WHERE vec_id < 16),
      |a0 AS (
      |  SELECT p.vec_id, p.sub, p.sv, se.code,
      |         CAST(list_aggregate(list_transform(range(1, 9),
      |           i -> (p.sv[CAST(i AS INT)] - se.cv[CAST(i AS INT)])
      |              * (p.sv[CAST(i AS INT)] - se.cv[CAST(i AS INT)])),
      |           'sum') AS BIGINT) AS d2
      |  FROM subs p JOIN seeds se USING (sub)),
      |a1 AS (
      |  SELECT vec_id, sub, sv, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
      |                                 ORDER BY d2, code) AS rn FROM a0) t
      |  WHERE rn = 1),
      |cexp AS (
      |  SELECT sub, code, CAST(p AS INT) AS pos,
      |         CAST(sv[CAST(p AS INT)] AS BIGINT) AS x
      |  FROM a1, UNNEST(range(1, 9)) t(p)),
      |cent AS (
      |  SELECT sub, code, list(CAST(cx AS DOUBLE) ORDER BY pos) AS cv
      |  FROM (SELECT sub, code, pos, SUM(x) // COUNT(*) AS cx
      |        FROM cexp GROUP BY 1, 2, 3) g
      |  GROUP BY 1, 2),
      |e0 AS (
      |  SELECT s.vec_id, s.sub, c.code,
      |         CAST(list_aggregate(list_transform(range(1, 9),
      |           i -> (s.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
      |              * (s.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])),
      |           'sum') AS BIGINT) AS d2
      |  FROM subs s JOIN cent c USING (sub) WHERE s.vec_id <> 0),
      |enc AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
      |                                 ORDER BY d2, code) AS rn FROM e0) t
      |  WHERE rn = 1),
      |adc AS (
      |  SELECT c.sub, c.code,
      |         CAST(list_aggregate(list_transform(range(1, 9),
      |           i -> (p.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
      |              * (p.sv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])),
      |           'sum') AS BIGINT) AS d2
      |  FROM cent c JOIN subs p USING (sub) WHERE p.vec_id = 0),
      |scored AS (
      |  SELECT enc.vec_id, CAST(SUM(adc.d2) AS BIGINT) AS adc_d2
      |  FROM enc JOIN adc USING (sub, code) GROUP BY enc.vec_id)""".stripMargin

  /** Exact-integer squared L2 between two equal-length integer-valued
    * double arrays — the PQ/NDCG distance kernel. */
  private def sqdCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x).cast("long")

  /** The +127-shifted quantized vectors (components in [0, 254]) — the
    * PQ/exact-L2 working domain (squared distances are shift-invariant;
    * the shift keeps every integer division non-negative, the
    * Spark-DIV-vs-DuckDB-// caveat). Eagerly checkpointed: the PQ
    * training/encode/ADC passes and the NDCG eval all reuse it. */
  private def shiftedVectors(s: SparkSession, d: String): DataFrame =
    quantizedVectors(s, d)
      .select(col("vec_id"),
        transform(col("qv"), x => x + lit(127.0)).as("sv0"))
      .localCheckpoint()

  /** Body of `knn_pq_adc` — see the query's scaladoc. Returns the top-10
    * (rn, vec_id, adc_d2) by asymmetric PQ distance; factored so
    * `retrieval_eval_ndcg` can grade the SAME ranking it ships and
    * `knn_ivf_pq` can restrict the scored postings to an IVF cell
    * (`members`: the candidate vec_id set — None scans the full corpus;
    * the codebook/training passes always see the whole corpus, exactly
    * like a FAISS index trained corpus-wide and queried per-cell). */
  private def pqAdcTop10(s: SparkSession, d: String,
      members: Option[DataFrame] = None, k: Int = 10): DataFrame = {
    val M = 8; val SUB = 8
    val q = shiftedVectors(s, d)
    // (vec_id, sub, sv): the M subvectors of every vector
    val subs = q.select(col("vec_id"),
        explode(sequence(lit(0), lit(M - 1))).as("sub"), col("sv0"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(sv0, sub * $SUB + 1, $SUB)").as("sv"))
    val seeds = subs.filter(col("vec_id") < 16)
      .select(col("sub"), col("vec_id").cast("int").as("code"),
        col("sv").as("cv"))
    // each subvector's nearest code by (d2, code); `payload` rides along
    def argminAssign(pts: DataFrame, cents: DataFrame, payload: String*)
        : DataFrame =
      top1(pts.join(broadcast(cents), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("sv"), col("code"),
          sqdCol(col("sv"), col("cv")).as("d2")),
        Seq("vec_id", "sub"), "d2", "code", highest = false, payload: _*)
    // one Lloyd round: seed-assign, then component-wise integer mean
    val cents = argminAssign(subs, seeds, "sv")
      .select(col("sub"), col("code"),
        posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("sub", "code", "pos")
      .agg(sum(col("x").cast("long")).as("sx"), count(lit(1)).as("n"))
      .withColumn("cx", expr("sx DIV n"))
      .groupBy("sub", "code")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        t => t.getField("cx").cast("double")).as("cv"))
    val codesAll = argminAssign(subs.filter(col("vec_id") =!= 0), cents)
      .select("vec_id", "sub", "code")
    val codes = members.fold(codesAll)(m =>
      codesAll.join(m.select("vec_id"), Seq("vec_id"), "left_semi"))
    // ADC: the probe's exact d² to every (sub, code) centroid
    val adcTable = subs.filter(col("vec_id") === 0)
      .select(col("sub"), col("sv"))
      .join(broadcast(cents), Seq("sub"))
      .select(col("sub"), col("code"), sqdCol(col("sv"), col("cv")).as("d2"))
    topK(codes.join(broadcast(adcTable), Seq("sub", "code"))
      .groupBy("vec_id").agg(sum(col("d2")).as("adc_d2")),
      k, asc("adc_d2"), asc("vec_id"))
  }

  /** Body of `knn_mutual_pairs` on any (vec_id, uv, label) frame — factored
    * so LlmSpec can plant a hub geometry and assert the mutual filter kills
    * the non-reciprocated hub edges. Top-1 per vector within its label by
    * (4dp-quantized sim DESC, b_id ASC), then the reciprocity self-join on
    * the reversed key. Unordered; the query entry adds the total order. */
  private[llm] def mutualNearestPairs(unit: DataFrame): DataFrame = {
    val aSide = unit.select(col("vec_id").as("a_id"), col("uv").as("a_v"),
      col("label"))
    val bSide = unit.select(col("vec_id").as("b_id"), col("uv").as("b_v"),
      col("label"))
    val pairs = aSide.join(bSide, Seq("label"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("label"), col("a_id"), col("b_id"),
        round(dot(col("a_v"), col("b_v")), 4).as("sim"))
    val nn = top1(pairs, Seq("a_id"), "sim", "b_id", highest = true, "label")
      .select("a_id", "b_id", "label")
    val rev = nn.select(col("b_id").as("a_id"), col("a_id").as("b_id"))
    nn.join(rev, Seq("a_id", "b_id"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "label")
  }

  /** Spherical k-means (Lloyd) training shared by kmeans_lloyd and
    * ivf_index_build: K=8 seeds, two iterations, returns (trained
    * centroids, final assignment). Scale/determinism discipline:
    *  - uv6: unit-normalized, 1e-6-quantized double vectors. The norm is a
    *    per-ROW column, never recomputed inside the per-element lambda —
    *    HOF lambdas are interpreted per element, so an embedded dot
    *    product would cost 64 dots per row (measured: seconds, not millis).
    *    Materialized ONCE (the MLlib-style cache every iterative trainer
    *    does): three assignment passes read executor-local blocks.
    *  - assignment: [[nearestCentroid]], the IVF cells' reduction.
    *  - recenter: decimal-exact per-dim sums (order-independent), one IEEE
    *    division, re-normalized and re-quantized to 1e-6.
    *  - the K-row centroid table localCheckpoints between iterations (the
    *    ConnectedComponents discipline) — without it, iteration i's plan
    *    re-executes every earlier iteration inside its own lineage
    *    (measured 6.5s → 2.4s at sf0.1). */
  private def lloydTrain(s: SparkSession, d: String,
      k: Int = 8, iters: Int = 2): (DataFrame, DataFrame) = {
    val unit = embeddings(s, d)
      .withColumn("ed", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm", norm(col("ed")))
      .select(col("vec_id"), when(col("nrm").isNotNull,
        transform(col("ed"), x => round(x / col("nrm"), 6))).as("uv"))
      .localCheckpoint()
    def recenter(assigned: DataFrame): DataFrame = {
      val means = assigned
        .select(col("cell"), posexplode(col("uv")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((sum(col("x").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("m"))
      means.groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          t => t.getField("m")).as("cm"))
        .select(col("cell").as("c_id"),
          transform(col("cm"), x => round(x / norm(col("cm")), 6)).as("c_v"))
    }
    var cents = seedCentroids(unit, k)
    for (_ <- 1 to iters)
      cents = recenter(nearestCentroid(unit, cents)).localCheckpoint()
    (cents, nearestCentroid(unit, cents))
  }

  /** The DuckDB twin of [[lloydTrain]] through the final assignment:
    * `u` the 1e-6-quantized unit vectors, then per iteration i the
    * assignment `a<i>` (a per-vector row_number argmax — the semantics,
    * not the Spark plan), exact DECIMAL(18,6) per-dim sums `s<i>` and the
    * re-normalized centroids `c<i>`; `a3` is the final (vec_id, cell). */
  private val OracleLloydCtes: String =
    """ud AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id,
      |         list_transform(e, x -> round(x / sqrt(list_inner_product(e, e)), 6)) AS uv
      |  FROM ud),
      |c0 AS (SELECT vec_id AS c_id, uv AS c_v FROM u WHERE vec_id < 8),
      |a1 AS (
      |  SELECT vec_id, uv, cell FROM (
      |    SELECT u.vec_id, u.uv, c.c_id AS cell,
      |           row_number() OVER (PARTITION BY u.vec_id
      |             ORDER BY round(list_inner_product(u.uv, c.c_v), 4) DESC, c.c_id) AS rn
      |    FROM u CROSS JOIN c0 c) t
      |  WHERE rn = 1),
      |s1 AS (
      |  SELECT cell, i, CAST(SUM(CAST(uv[i] AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m
      |  FROM a1 CROSS JOIN range(1, 65) AS r(i) GROUP BY cell, i),
      |c1m AS (SELECT cell, list(m ORDER BY i) AS cm FROM s1 GROUP BY cell),
      |c1 AS (
      |  SELECT cell AS c_id,
      |         list_transform(cm, x -> round(x / sqrt(list_inner_product(cm, cm)), 6)) AS c_v
      |  FROM c1m),
      |a2 AS (
      |  SELECT vec_id, uv, cell FROM (
      |    SELECT u.vec_id, u.uv, c.c_id AS cell,
      |           row_number() OVER (PARTITION BY u.vec_id
      |             ORDER BY round(list_inner_product(u.uv, c.c_v), 4) DESC, c.c_id) AS rn
      |    FROM u CROSS JOIN c1 c) t
      |  WHERE rn = 1),
      |s2 AS (
      |  SELECT cell, i, CAST(SUM(CAST(uv[i] AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m
      |  FROM a2 CROSS JOIN range(1, 65) AS r(i) GROUP BY cell, i),
      |c2m AS (SELECT cell, list(m ORDER BY i) AS cm FROM s2 GROUP BY cell),
      |c2 AS (
      |  SELECT cell AS c_id,
      |         list_transform(cm, x -> round(x / sqrt(list_inner_product(cm, cm)), 6)) AS c_v
      |  FROM c2m),
      |a3 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT u.vec_id, c.c_id AS cell,
      |           row_number() OVER (PARTITION BY u.vec_id
      |             ORDER BY round(list_inner_product(u.uv, c.c_v), 4) DESC, c.c_id) AS rn
      |    FROM u CROSS JOIN c2 c) t
      |  WHERE rn = 1)""".stripMargin

  /** Body of `coreset_kcenter` on any (vec_id, qv) frame with
    * integer-valued qv arrays — factored so CoresetSpec can plant an
    * outlier cluster and assert the Gonzalez farthest-first property (the
    * planted outlier becomes a center; every point's nearest-center d² is
    * exact). Seed = vec_id 0, then k−1 rounds of "add the point farthest
    * from the chosen set"; all arithmetic exact longs
    * (d² = |a|²+|b|²−2a·b), argmax pinned (d² DESC, vec_id ASC),
    * assignment (d² ASC, c_id ASC). Unordered; the query entry adds the
    * total order. Construction notes at the query entry. */
  def kcenterAssign(vecs: DataFrame, k: Int = 4): DataFrame = {
    val q = vecs
      .withColumn("n2", dot(col("qv"), col("qv")).cast("long"))
      .select("vec_id", "qv", "n2")
      .localCheckpoint()
    def d2(cn2: Column, cv: Column): Column =
      col("n2") + cn2 - lit(2L) * dot(col("qv"), cv).cast("long")
    var centers = q.filter(col("vec_id") === 0)
      .select(col("vec_id").as("c_id"), col("qv").as("cv"),
        col("n2").as("cn2"))
    for (_ <- 2 to k) {
      val dmin = probe(q, centers)
        .select(col("vec_id"), d2(col("cn2"), col("cv")).as("dd"))
        .groupBy("vec_id").agg(min(col("dd")).as("dmin"))
      val next = dmin.orderBy(desc("dmin"), asc("vec_id")).limit(1)
        .join(q, "vec_id")
        .select(col("vec_id").as("c_id"), col("qv").as("cv"),
          col("n2").as("cn2"))
      centers = centers.unionAll(next).localCheckpoint()
    }
    top1(probe(q, centers)
      .select(col("vec_id"), d2(col("cn2"), col("cv")).as("d2"), col("c_id")),
      Seq("vec_id"), "d2", "c_id", highest = false)
      .select(col("vec_id"), col("c_id").as("center"), col("d2"))
  }

  /** NN-Descent k-NN graph construction (Dong, Moses & Li, WWW 2011) —
    * the GRAPH-based ANN family, completing the candidate-generation
    * spectrum next to LSH bands (hash), IVF cells (partition) and PQ
    * (compression): each node keeps a k-best neighbor list and improves it
    * by scoring neighbors-of-neighbors ("a neighbor of my neighbor is
    * likely my neighbor"), converging in a few rounds without any global
    * index structure.
    *
    * Spark-first shape, per round over the directed list (v, u, sim):
    *   1. symmetrize — reverse edges carry the same cosine;
    *   2. SAMPLE each node's adjacency to ≤`cap` rows (NN-Descent's ρ
    *      sampling) by a deterministic per-round hash order — this bounds
    *      the local join at cap²/2 pairs per pivot, the lever that keeps a
    *      round linear in |V| at 100 TB;
    *   3. local join — equi-self-join on the pivot node (never a cross
    *      join) emits canonical candidate pairs, anti-joined against the
    *      already-scored pair set so each pair's dot product is paid once
    *      across all rounds;
    *   4. score fresh pairs via two id-equi-joins to the unit vectors
    *      (one shuffle each — the vectors never ride the candidate join);
    *   5. re-rank: union old + fresh edges both ways, per-node top-k by a
    *      PARTITIONED window (partitionBy v — no global funnel), then
    *      localCheckpoint to cut the loop's lineage.
    *
    * Init is the union of FOUR independent hash partitions into ~4-node
    * buckets (seeded xxhash64 mod n/4, bucket key disambiguated per seed)
    * — one bounded equi-self-join, ~12 pseudo-random first neighbors per
    * node. A SINGLE partition would init disjoint cliques: a neighbor of
    * my neighbor is then always my bucket-mate, every candidate is
    * already scored, and the descent never leaves its island (observed:
    * recall frozen at the init's 0.02). The union of independent
    * partitions is a connected random graph, which is exactly what
    * NN-Descent's random init needs — and there is no driver-side
    * randomness (xxhash64 is the project's seeded-randomness idiom).
    * Determinism: sims are 4dp-quantized before every
    * rank and ties break on neighbor id, so the output is a pure function
    * of the fixture. Engine-local float math → unit-only key: LlmSpec
    * asserts recall@10 vs brute force AND that rounds strictly improve on
    * the init recall (the descent property itself). */
  def nnDescent(emb: DataFrame, k: Int = 10, rounds: Int = 3,
      cap: Int = 20): DataFrame = {
    val unit = withUnitVec(emb, "embedding", "uv")
      .select("vec_id", "uv").localCheckpoint()
    val n = math.max(unit.count(), 1L)
    def scorePairs(pairs: DataFrame): DataFrame =
      pairs // (p1, p2) canonical p1 < p2
        .join(unit.select(col("vec_id").as("p1"), col("uv").as("v1")), "p1")
        .join(unit.select(col("vec_id").as("p2"), col("uv").as("v2")), "p2")
        .select(col("p1"), col("p2"),
          round(dot(col("v1"), col("v2")), 4).as("sim"))
    def topK(directed: DataFrame): DataFrame = {
      val w = Window.partitionBy("v").orderBy(desc("sim"), asc("u"))
      directed.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).select("v", "u", "sim")
    }
    val initSeeds = Seq(1011L, 2022L, 3033L, 4044L)
    val initBuckets = math.max(1L, n / 4)
    val b = unit.select(col("vec_id"), explode(array(
      initSeeds.zipWithIndex.map { case (sd, i) =>
        pmod(xxhash64(col("vec_id"), lit(sd)), lit(initBuckets)) *
          lit(initSeeds.size.toLong) + lit(i.toLong)
      }: _*)).as("bkt"))
    val initPairs = b.select(col("bkt"), col("vec_id").as("p1"))
      .join(b.select(col("bkt"), col("vec_id").as("p2")), Seq("bkt"))
      .filter(col("p1") < col("p2"))
      .select("p1", "p2").distinct()
    // Scored pairs accumulate as a UNION OF PER-ROUND DELTA CHECKPOINTS
    // (r17 verdict #4): the previous spelling re-checkpointed the full
    // cumulative pair set every round (round r rewrites all rounds' rows —
    // ~n·cap² rows by the end, 213k/23 MB at sf0.1, quadratically more at
    // scale) and re-windowed ALL of it in topK. Only each round's FRESH
    // pairs are new information: the anti-join reads the union of deltas
    // (same content, nothing recomputed — every part is checkpoint-backed)
    // and topK sees nbr ∪ fresh only. Equivalence: nbr(r-1) = topK(S(r-1)),
    // and discarding rows outside a per-v top-k can never let them re-enter
    // a superset's top-k (sims are fixed per pair), so
    // topK(nbr(r-1) ∪ fresh(r)) = topK(S(r)) — the exact output the
    // cumulative spelling produced. Dedup note: fresh is anti-joined
    // against ALL scored pairs and nbr ⊆ scored, so nbr and fresh-directed
    // are disjoint and the old dropDuplicates barrier is a no-op — dropped
    // with it one (v,u) exchange per round.
    val initScored = scorePairs(initPairs).localCheckpoint()
    var scoredParts = List(initScored)
    def scored: DataFrame = scoredParts.reduce(_ unionAll _)
    var nbr = topK(Graph.sym(initScored, "p1", "p2", "sim")
      .toDF("v", "u", "sim")).localCheckpoint()
    for (r <- 1 to rounds) {
      val adj = Graph.sym(nbr, "v", "u", "sim").dropDuplicates("v", "u")
      val wS = Window.partitionBy("v")
        .orderBy(xxhash64(col("u"), lit(r.toLong)), col("u"))
      val sampled = adj.withColumn("srn", row_number().over(wS))
        .filter(col("srn") <= cap).select("v", "u")
      val cand = sampled.select(col("v").as("pivot"), col("u").as("a"))
        .join(sampled.select(col("v").as("pivot"), col("u").as("b")), Seq("pivot"))
        .filter(col("a") < col("b"))
        .select(col("a").as("p1"), col("b").as("p2")).distinct()
      // the already-scored pair set grows with every round (~n·cap²
      // cumulative — 213k rows / 23 MB actual at sf0.1, GB-scale at
      // x64) and is checkpoint-backed, so its actual-size estimate
      // stays under the broadcast threshold long past the point where
      // replicating it to every executor is sane; the r17 board-wide
      // BroadcastAudit flagged exactly this build. shuffle_hash pins
      // the anti-join to hash-partitioned slices of the pair set —
      // each build partition stays bounded no matter how many rounds
      // have accumulated
      val fresh = cand.join(scored.select("p1", "p2").hint("shuffle_hash"),
        Seq("p1", "p2"), "left_anti")
      val freshScored = scorePairs(fresh).localCheckpoint()
      scoredParts ::= freshScored
      nbr = topK(nbr.unionAll(
          Graph.sym(freshScored, "p1", "p2", "sim").toDF("v", "u", "sim")))
        .localCheckpoint()
    }
    val wOut = Window.partitionBy("v").orderBy(desc("sim"), asc("u"))
    nbr.withColumn("rn", row_number().over(wOut))
      .select(col("v").as("vec_id"), col("rn"), col("u").as("nbr_id"))
      .orderBy("vec_id", "rn")
  }

  /** Exact per-probe nearest neighbour within label (probe set capped at
    * vec_id < 200 — the documented bench bound): the top-1 table SHARED
    * by `knn_pairs_label` (the edges), `knn_hubness_audit` (the
    * in-degree histogram) — one construction, so the audit and the edge
    * list cannot diverge. 4dp-quantized sim, b_id tiebreak (the knn
    * ranking discipline). */
  private def labelTop1(s: SparkSession, d: String): DataFrame = {
    val unit = withUnitVec(embeddings(s, d), "embedding", "uv")
    val probes = unit.filter(col("vec_id") < 200)
      .select(col("vec_id").as("a_id"), col("uv").as("a_v"), col("label"))
    val cands = unit
      .select(col("vec_id").as("b_id"), col("uv").as("b_v"), col("label"))
    val pairs = probes.join(cands, Seq("label"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("label"), col("a_id"), col("b_id"),
        // quantized like knn_cosine_topk: rank ties resolve by b_id
        round(dot(col("a_v"), col("b_v")), 4).as("sim"))
    top1(pairs, Seq("a_id"), "sim", "b_id", highest = true, "label")
  }

  /** The DuckDB `pairs(label, a_id, b_id, sim)` CTE of [[labelTop1]]:
    * every same-label pair of a probe (vec_id < 200) and another vector
    * at 4dp cosine, `bound` an extra SQL condition on the pair. */
  private def oracleLabelPairs(bound: String): String =
    s"""pairs AS (
      |  SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
      |         round(list_cosine_similarity(a.embedding, b.embedding), 4) AS sim
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 200$bound)""".stripMargin

  def queries: Seq[Query] = Seq(
    // E4 — exact top-10 cosine neighbours of vec_id=0. Similarity itself is
    // engine-local float math, so only the *ranking* (with PK tiebreak) is
    // oracle-compared, not the raw double — and the sim is quantized to 1e-4
    // before ranking (both engines), so near-tied candidates fall to the
    // deterministic vec_id tiebreak instead of cross-engine rounding noise.
    // top-k FIRST via orderBy.limit (TakeOrderedAndProject: per-partition
    // heaps, driver merges k·p rows) — a global row_number window would
    // funnel every candidate through one partition at scale. Numbering
    // happens after, over k rows only (the shared exactTop10 builder).
    Query("knn_cosine_topk", (s, d) => exactTop10(s, d).orderBy("rn"), oracle =
      s"""WITH $OracleExactTop10
        |SELECT rn, vec_id FROM exact10 ORDER BY rn""".stripMargin),
    // Matryoshka prefix-truncation recall (round 14; Kusupati et al.
    // 2022 "Matryoshka Representation Learning"): how much of the full-
    // dim exact top-10 survives when the search runs on the first
    // 8/16/32/64 dims, renormalized — the measurement behind every MRL
    // deployment decision (prefix-dim first-stage search + full-dim
    // rerank is the production funnel; this key reports the recall the
    // funnel's first stage would feed the reranker, and the knn ranking
    // discipline — 4dp quantize + vec_id tiebreak — keeps every ranking
    // hash-stable). The 64-prefix row IS the full ranking (recall 10 by
    // construction, the built-in sanity row). 100 TB: four broadcast-
    // probe scans of the knn_cosine_topk class — prefix slicing is free
    // at the scan (column pruning cannot help inside an array, but the
    // dot product runs on p of 64 lanes), TakeOrdered heaps, a 40-row
    // join against the 10-row reference set.
    Query("knn_mrl_prefix_recall", (s, d) => {
      val emb = embeddings(s, d)
      def topAt(p: Int): DataFrame = {
        val pref = emb.select(col("vec_id"),
          slice(col("embedding"), 1, p).as("v"))
        againstQuery(withUnitVec(pref, "v", "uv"), 0, col("uv").as("qv"))
          .select(col("vec_id"), round(dot(col("uv"), col("qv")), 4).as("sim"))
          .orderBy(desc("sim"), asc("vec_id")).limit(10)
          .select(lit(p).as("prefix_dim"), col("vec_id"))
      }
      val ref = topAt(64).select(col("vec_id")).withColumn("hit", lit(1L))
      val all = Seq(8, 16, 32, 64).map(topAt).reduce(_ unionByName _)
      all.join(broadcast(ref), Seq("vec_id"), "left")
        .groupBy("prefix_dim")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("recall10"))
        .orderBy("prefix_dim")
    }, oracle =
      // each prefix ranking is the knn_cosine_topk oracle on sliced lists;
      // recall counts membership in the full-dim top-10
      {
      def top(p: Int): String =
        s"""SELECT $p AS prefix_dim, vec_id FROM (
           |  SELECT vec_id, row_number() OVER (ORDER BY
           |    round(list_cosine_similarity(list_slice(embedding, 1, $p),
           |      (SELECT list_slice(embedding, 1, $p) FROM embeddings
           |       WHERE vec_id = 0)), 4) DESC, vec_id) AS rn
           |  FROM embeddings WHERE vec_id <> 0) t WHERE rn <= 10""".stripMargin
      s"""WITH allp AS (
         |${top(8)}
         |UNION ALL
         |${top(16)}
         |UNION ALL
         |${top(32)}
         |UNION ALL
         |${top(64)}),
         |ref AS (SELECT vec_id FROM (${top(64)}) f)
         |SELECT prefix_dim, COUNT(*) AS k,
         |       CAST(SUM(CASE WHEN vec_id IN (SELECT vec_id FROM ref)
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS recall10
         |FROM allp GROUP BY prefix_dim ORDER BY prefix_dim""".stripMargin
    }),
    // MMR diversified retrieval (round 6): greedy maximal-marginal-
    // relevance re-rank of the exact top-20 candidates — pick 5, each step
    // maximizing 0.7·rel − 0.3·max_sim_to_already_selected (λ=0.7, the
    // relevance/diversity re-rank every retrieval stack runs after ANN).
    // Determinism: rel and pairwise sims are 4dp-quantized FIRST (the knn
    // discipline), so the MMR score is identical float arithmetic on
    // identical inputs in both engines; every argmax tie-breaks on vec_id.
    // Scale honesty: the greedy loop is k-bounded BY CONSTRUCTION (5 steps
    // over ≤20 rows — the candidate pool IS the scale contract; production
    // swaps the exact top-20 for an ANN pool). No collect: the steps chain
    // lazily, checkpointed per step to keep the plan flat.
    Query("retrieval_mmr", (s, d) =>
      mmrSelect(embeddings(s, d), queryId = 0, pool = 20, k = 5,
        lamRel = 0.7, lamDiv = 0.3), oracle =
      // greedy MMR replayed as chained CTEs (one per selection step). The
      // emitted rel forces BIT-parity of the cosine itself, so the oracle
      // mirrors Spark's exact shape in DOUBLE — dot/(norm·norm) over
      // double-cast lists via list_inner_product (the kmeans recipe);
      // list_cosine_similarity would compute in FLOAT on these FLOAT[]
      // fixtures and drift at the 8th decimal. 0.7/0.3 CAST to DOUBLE
      // (bare decimals are DECIMAL in DuckDB).
      {
      val steps = (2 to 5).map { t =>
        s"""s$t AS (SELECT * FROM s${t - 1} UNION ALL (
           |  SELECT c.vec_id, c.rel, $t AS step FROM cand c
           |  JOIN sims ON sims.a_id = c.vec_id
           |  JOIN s${t - 1} p ON sims.b_id = p.vec_id
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s${t - 1})
           |  GROUP BY c.vec_id, c.rel
           |  ORDER BY CAST(0.7 AS DOUBLE) * c.rel
           |           - CAST(0.3 AS DOUBLE) * MAX(sims.sim) DESC, c.vec_id
           |  LIMIT 1))""".stripMargin
      }.mkString(",\n")
      s"""WITH ed AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |q AS (SELECT e AS qe FROM ed WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id, e,
         |         round(list_inner_product(e, (SELECT qe FROM q))
         |               / (sqrt(list_inner_product(e, e))
         |                  * sqrt(list_inner_product((SELECT qe FROM q),
         |                                            (SELECT qe FROM q)))),
         |               4) AS rel
         |  FROM ed WHERE vec_id <> 0
         |  ORDER BY rel DESC, vec_id LIMIT 20),
         |sims AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         round(list_inner_product(a.e, b.e)
         |               / (sqrt(list_inner_product(a.e, a.e))
         |                  * sqrt(list_inner_product(b.e, b.e))), 4) AS sim
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |s1 AS (SELECT vec_id, rel, 1 AS step FROM cand
         |       ORDER BY rel DESC, vec_id LIMIT 1),
         |$steps
         |SELECT step, vec_id, rel FROM s5 ORDER BY step""".stripMargin
    }),
    // E5 — nearest neighbour per probe vector within its label block
    // (probe set capped at vec_id < 200 so bench cost stays linear-ish).
    // Scale honesty: label blocking bounds the pair space by the label
    // cardinality only — at 100 TB a single label's block is still huge, so
    // the production path composes IVF cells (knn_ivf_coarse) or LSH bands
    // (knn_lsh_bucketed) INSIDE each label; this query is the exact,
    // oracle-checkable per-label semantics those approximate.
    Query("knn_pairs_label", (s, d) =>
      labelTop1(s, d).select("a_id", "b_id", "label").orderBy("a_id"), oracle =
      s"""WITH ${oracleLabelPairs("")}
        |SELECT a_id, b_id, label FROM (
        |  SELECT a_id, b_id, label,
        |         row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
        |  FROM pairs) t
        |WHERE rn = 1 ORDER BY a_id""".stripMargin),
    // Hubness audit of the exact top-1 kNN edge set (round 14): the
    // in-degree histogram of "how many probes chose ME as nearest" — the
    // diagnostic that quantifies the hub pathology knn_mutual_pairs'
    // reciprocity filter kills (Radovanović et al. JMLR 2010: hubness is
    // the dominant failure mode of high-dim kNN; production embedding
    // audits plot exactly this histogram before trusting a kNN graph).
    // Shares labelTop1 with knn_pairs_label — the audit can never
    // describe a different edge set than the one shipped. Two
    // map-side-combinable count aggs over the top-1 table (|probes|
    // rows); output is max-indegree-bounded.
    Query("knn_hubness_audit", (s, d) => {
      val indeg = labelTop1(s, d)
        .groupBy("b_id").agg(count(lit(1)).as("indeg"))
      indeg.groupBy("indeg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("indeg")
    }, oracle =
      // the same top-1 construction, aggregated twice — in-degree per
      // chosen neighbour, then the histogram
      s"""WITH ${oracleLabelPairs("")},
        |t1 AS (SELECT b_id FROM (
        |  SELECT b_id,
        |         row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
        |  FROM pairs) t WHERE rn = 1),
        |ind AS (SELECT b_id, COUNT(*) AS indeg FROM t1 GROUP BY b_id)
        |SELECT indeg, COUNT(*) AS n_nodes FROM ind GROUP BY indeg
        |ORDER BY indeg""".stripMargin),
    // Embedding-cosine near-dup verdicts (builder mandate): vectors whose
    // cosine to an earlier same-label vector exceeds a threshold map to that
    // keeper. Label blocking bounds the pair space (the IVF idea); verdict
    // output stays linear in vectors. Production dedup uses ~0.95; this
    // synthetic corpus tops out at ~0.45 same-label cosine, so the query runs
    // at 0.3498 — a threshold measured to sit >=1.4e-4 away from every pair
    // cosine at sf0.001/0.01/0.1, ~100× the cross-engine float noise, so the
    // verdict set is oracle-hashable despite float similarity math.
    Query("dedup_embedding_cosine", (s, d) =>
      embeddingCosineDedup(embeddings(s, d), threshold = 0.3498), oracle =
      """SELECT a.vec_id, MIN(b.vec_id) AS keeper
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND b.vec_id < a.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.3498
        |GROUP BY a.vec_id ORDER BY a.vec_id""".stripMargin),
    // Approximate (LSH-candidate) variant of the same dedup: sub-quadratic
    // candidate generation, exact re-rank, unit-tier (LlmSpec asserts the
    // verdicts are a sound subset of the exact query's and measures recall).
    Query("dedup_embedding_ann", (s, d) =>
      embeddingCosineDedupAnn(embeddings(s, d), threshold = 0.3498)),
    // SEMANTIC-cell dedup (round 11) — the SemDeDup shape (Abbas et al.
    // 2023): cluster the embedding space into K cells, then dedup
    // within each cell by cosine — the unsupervised sibling of
    // dedup_embedding_cosine (label blocking needs labels; k-means cells
    // are what production uses when there are none). Cells here are the
    // deterministic IVF assignment (knn_ivf_coarse's 8 seed centroids,
    // 4dp-quantized csim with c_id tiebreak — a pure fixture function in
    // both engines); within-cell pairs go through the SAME adaptive-salt
    // grid as the label-blocked exact op (hot cell fans out by its
    // measured size, singleton cells never shuffle a vector). Threshold
    // 0.4458 sits mid-gap in the within-cell pair-cosine distribution
    // at every SF (measured: no raw pair cosine within ~1e-3 at
    // sf0.001/0.01/0.1 — ~1000× the cross-construction float noise), so
    // the verdict set is hash-stable despite float similarity math.
    // 100 TB: assignment is one broadcast N×K pass; the cell is the
    // partition key; verdicts stay linear in vectors. The quadratic-in-
    // cell pair term is the documented exact-reference cost — production
    // composes the ANN candidate generators inside each cell, exactly as
    // the label-blocked family does.
    Query("dedup_semantic_cells", (s, d) => {
      val emb = embeddings(s, d)
      cosineDedupBlocked(ivfCellAssign(withUnitVec(emb, "embedding", "uv"),
        adaptiveCellCount(emb.count())), "cell", 0.4458)
    }, oracle =
      // the shared IVF assignment CTEs; the within-cell dedup is the
      // dedup_embedding_cosine construction with the cell in place of the
      // label. The adaptive cell count K = max(8, ⌈√n⌉ // 8) is derived in
      // SQL from the same exact count (sqrt/ceil IEEE-exact — fixture K = 8)
      s"""WITH kc AS (
        |  SELECT GREATEST(8, CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE)))
        |                          AS BIGINT) // 8) AS k
        |  FROM embeddings),
        |${oracleIvfCtes("(SELECT k FROM kc)")},
        |cl AS (
        |  SELECT e.vec_id, e.embedding, c.cell
        |  FROM embeddings e JOIN clustered c USING (vec_id))
        |SELECT a.vec_id, MIN(b.vec_id) AS keeper
        |FROM cl a JOIN cl b ON a.cell = b.cell AND b.vec_id < a.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.4458
        |GROUP BY a.vec_id ORDER BY a.vec_id""".stripMargin),
    // PRODUCTION SemDeDup (round 12): the composition dedup_semantic_cells'
    // scaladoc promised — sign-LSH candidate generation INSIDE each IVF
    // cell (the same deterministic ivfCellAssign cells, so the two keys
    // can never block differently) with the same adaptive band width r
    // the label-blocked ANN uses, then exact-cosine verify at the same
    // 0.4458 threshold and min-id keeper. Candidate work is linear in
    // colliding rows instead of quadratic-in-cell — the within-cell pair
    // space never materializes, which is what survives a hot cell at
    // 100 TB. Unit-tier like its label-blocked sibling (seeded gaussian
    // hyperplanes are engine-local): LlmSpec asserts every verdict is a
    // sound subset of dedup_semantic_cells' (same cells, same threshold,
    // candidates ⊆ within-cell pairs ⇒ keepers can only move up) and a
    // recall floor vs the exact key.
    Query("dedup_semantic_ann", (s, d) => {
      val emb = embeddings(s, d)
      val n = emb.count()
      val cells = ivfCellAssign(withUnitVec(emb, "embedding", "uv"),
        adaptiveCellCount(n))
      cosineKeepers(bandPairs(cells, Seq("cell"), adaptiveBandBits(n)), 0.4458)
    }),
    // Approximate variant of knn_pairs_label: nearest same-label neighbour
    // per probe, candidates from same-(label, band bucket) collisions only.
    // The per-label pair space never materializes — the candidate join is
    // linear in colliding rows, the shape that survives a hot label at
    // 100 TB. Unit-tier: LlmSpec measures top-1 agreement vs the exact E5.
    Query("knn_pairs_label_ann", (s, d) => {
      val pairs = bandPairs(withUnitVec(embeddings(s, d), "embedding", "uv"),
        Seq("label"), BandBits)
        .select(col("label"), col("a_vec_id"), col("b_vec_id"),
          round(dot(col("a_uv"), col("b_uv")), 4).as("sim"))
      // a bucket collision is symmetric: each pair is a candidate of both
      // its ends, and the probe bound applies after
      val cands = pairs.select(col("label"), col("sim"), explode(array(
          struct(col("a_vec_id").as("a_id"), col("b_vec_id").as("b_id")),
          struct(col("b_vec_id").as("a_id"), col("a_vec_id").as("b_id"))))
          .as("p"))
        .select(col("label"), col("p.a_id"), col("p.b_id"), col("sim"))
        .filter(col("a_id") < 200)
      top1(cands, Seq("a_id"), "sim", "b_id", highest = true, "label")
        .select("a_id", "b_id", "label")
        .orderBy("a_id")
    }),
    // MUTUAL (reciprocal) nearest-neighbour pairs (round 11): a ↔ b where
    // each is the other's top-1 within their label — the conservative
    // pairing clustering/dedup stacks use when a one-directional top-1 is
    // too loose (a hub vector is top-1 FOR thousands of rows but
    // reciprocates at most one; the mutual filter kills hub edges, which
    // is exactly why agglomerative/RNN-descent pipelines start from it).
    // Same 200-probe bound and 4dp-quantized-sim discipline as
    // knn_pairs_label, both sides restricted so reciprocity is decidable
    // inside the query. A reciprocal pair always exists under the
    // (sim DESC, b_id ASC) total order: on any top-1 cycle all sims are
    // equal, so every member's tie-break points at the cycle's smallest
    // id, collapsing it to a 2-cycle. 100 TB shape: the mutual filter is
    // a self-join of the (a_id → b_id) top-1 table on the REVERSED key —
    // linear in vectors, one hash shuffle; the pair space stays bounded
    // by the label blocking (production swaps it for IVF/LSH candidates,
    // the knn_pairs_label_ann path, without touching the mutual step).
    Query("knn_mutual_pairs", (s, d) =>
      mutualNearestPairs(
        withUnitVec(embeddings(s, d), "embedding", "uv")
          .filter(col("vec_id") < 200))
        .orderBy("a_id"), oracle =
      // the top-1 table is the knn_pairs_label construction with both sides
      // probe-bounded; the mutual filter is a self-join on the reversed key
      s"""WITH ${oracleLabelPairs(" AND b.vec_id < 200")},
        |nn AS (
        |  SELECT a_id, b_id, label FROM (
        |    SELECT a_id, b_id, label,
        |           row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn
        |    FROM pairs) t
        |  WHERE rn = 1)
        |SELECT x.a_id, x.b_id, x.label
        |FROM nn x JOIN nn y ON x.a_id = y.b_id AND x.b_id = y.a_id
        |WHERE x.a_id < x.b_id
        |ORDER BY x.a_id""".stripMargin),
    // IVF-style coarse-quantized ANN (the other builder-mandated scale path
    // besides LSH): K seed centroids (a production build would k-means; seeds
    // keep it deterministic), every vector assigned to its nearest centroid —
    // one broadcast pass, linear in N×K — then the probe searches only its
    // own cell. 100 TB story: cells are the partition key, so a query touches
    // 1/K of the corpus; assignment is embarrassingly parallel.
    Query("knn_ivf_coarse", (s, d) => ivfTop10(s, d, nprobe = 1)
      .orderBy("rn"), oracle =
      s"""WITH ${oracleIvfCtes("8")}
        |${oracleIvfTop10(1)} ORDER BY rn""".stripMargin),
    // Multi-probe IVF (round 11) — the recall/latency knob every IVF
    // deployment tunes: the probe searches its nprobe=2 NEAREST cells
    // instead of only its own. Single-probe misses any neighbour that
    // straddles a Voronoi boundary (assigned to the probe's second-best
    // cell); nprobe trades a linear factor in scanned cells (nprobe/K of
    // the corpus) for exactly that recall. Same deterministic scaffolding
    // as knn_ivf_coarse: 4dp-quantized assignment scores with c_id
    // tiebreaks, so the nprobe cell SET (arn <= 2) is a pure fixture
    // function in both engines; candidate scan stays cell-partitioned, the
    // probe's cell list and query vector ride as one-row broadcasts.
    Query("knn_ivf_multiprobe", (s, d) => ivfTop10(s, d, nprobe = 2)
      .orderBy("rn"), oracle =
      // the knn_ivf_coarse oracle with the probe's cell set the arn <= 2
      // ranking instead of arn = 1
      s"""WITH ${oracleIvfCtes("8")}
        |${oracleIvfTop10(2)} ORDER BY rn""".stripMargin),
    // IVF recall-vs-nprobe audit (round 14b): the tuning curve every IVF
    // deployment reads before fixing nprobe — overlap of the IVF top-10
    // with the exact top-10 at nprobe = 1, 2, 4, on the SAME ivfTop10
    // construction knn_ivf_multiprobe ships (shared builder — the audit
    // can never describe a different index), with the exact reference
    // the knn_cosine_topk ranking. Completes the audit panel:
    // knn_mrl_prefix_recall measures the dimension knob, this measures
    // the cells-searched knob. 100 TB: three cell-bounded candidate
    // scans (nprobe/K of the corpus each) + TakeOrdered heaps + a
    // 30-row join against the 10-row reference.
    Query("knn_ivf_recall_audit", (s, d) => {
      val ref = exactTop10(s, d)
        .select(col("vec_id")).withColumn("hit", lit(1L))
      // ONE corpus assignment pass total (round 15): the index
      // (clustered) and vec 0's probe list are checkpointed once and
      // every (nprobe × {ranking, count}) consumer re-derives its
      // candidate join from those blocks — the round-14 spelling
      // rebuilt the 8-candidate assignment window per consumer (six
      // corpus-wide passes instead of one). Shared-builder discipline:
      // these are the SAME ivfRanked/ivfClusteredOf/ivfProbesOf/
      // ivfSimsFrom parts knn_ivf_multiprobe's ivfTop10 composes.
      val ranked = ivfRanked(s, d)
      val clustered = ivfClusteredOf(ranked).localCheckpoint()
      val probes = ivfProbesOf(ranked).localCheckpoint() // 8 rows
      def sims(np: Int) = ivfSimsFrom(clustered,
        probes.filter(col("arn") <= np).drop("arn"))
      // candidates scanned per nprobe — the COST side of the curve, and
      // the structural check that the nprobe cut works even where recall
      // saturates (a 1-row map-side count per nprobe, broadcast onto the
      // 3-row recall table)
      val cost = Seq(1, 2, 4)
        .map(np => sims(np)
          .agg(lit(np).as("nprobe"), count(lit(1)).as("candidates")))
        .reduce(_ unionByName _)
      Seq(1, 2, 4)
        .map(np =>
          ivfTop10From(sims(np)).select(lit(np).as("nprobe"), col("vec_id")))
        .reduce(_ unionByName _)
        .join(broadcast(ref), Seq("vec_id"), "left")
        .groupBy("nprobe")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("recall10"))
        .join(broadcast(cost), Seq("nprobe"))
        .orderBy("nprobe")
    }, oracle =
      // the shared IVF CTEs; each nprobe's top-10 replays the multiprobe
      // oracle with its own cell cut, the reference is the knn_cosine_topk
      // exact ranking
      {
      def ivfTop(np: Int): String =
        s"SELECT $np AS nprobe, vec_id FROM (${oracleIvfTop10(np)}) t$np"
      def cand(np: Int): String =
        s"""SELECT $np AS nprobe, COUNT(*) AS candidates
           |FROM embeddings e
           |JOIN clustered c ON e.vec_id = c.vec_id
           |JOIN (SELECT c_id AS cell FROM ranked
           |      WHERE vec_id = 0 AND arn <= $np) p
           |  ON c.cell = p.cell
           |WHERE e.vec_id <> 0""".stripMargin
      s"""WITH ${oracleIvfCtes("8")},
         |$OracleExactTop10,
         |allp AS (
         |${ivfTop(1)}
         |UNION ALL
         |${ivfTop(2)}
         |UNION ALL
         |${ivfTop(4)}),
         |cost AS (
         |${cand(1)}
         |UNION ALL
         |${cand(2)}
         |UNION ALL
         |${cand(4)})
         |SELECT a.nprobe, COUNT(*) AS k,
         |       CAST(SUM(CASE WHEN vec_id IN (SELECT vec_id FROM exact10)
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS recall10,
         |       MIN(cost.candidates) AS candidates
         |FROM allp a JOIN cost ON a.nprobe = cost.nprobe
         |GROUP BY a.nprobe ORDER BY a.nprobe""".stripMargin
    }),
    // Per-dimension embedding stats (round 14c) — the PCA-lite audit run
    // before trusting/compressing an embedding column: which dimensions
    // carry variance and which are dead (a collapsed dim means the
    // encoder wasted capacity; a dominant one distorts cosine). Runs in
    // the shared int8 space (quantizedVectors — ONE global symmetric
    // scale), so every sum is an exact integer and the report is
    // hash-exact with zero float discipline. Negative-safe q6: the mean
    // divides the +127-shifted sum (DIV vs // diverge on negatives —
    // SURVEY §7.4), then shifts back exactly; the variance numerator
    // n·s2 − s1² is ≥ 0 by Cauchy-Schwarz. DECIMAL(38,0) products (n·s2
    // passes 2⁶³ near 10⁹ vectors; the mean numerator (s1+127n)·10⁶
    // would pass it near 3.6·10¹⁰, so it rides DECIMAL too — round-15
    // advice fix, same discipline for both moments). 100 TB: one
    // expression-level
    // posexplode + a 64-group map-side-combinable agg — nothing wider
    // than (dim, x) shuffles, and only 64 aggregate rows survive.
    Query("embed_dim_stats", (s, d) => {
      val per = quantizedVectors(s, d)
        .select(posexplode(col("qv")).as(Seq("dim", "x")))
        .select(col("dim"), col("x").cast("long").as("x"))
      per.groupBy("dim")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"),
          min(col("x")).cast("long").as("min_q"),
          max(col("x")).cast("long").as("max_q"))
        .select(col("dim"), col("n"), col("s1"), col("s2"),
          col("min_q"), col("max_q"),
          expr("CAST(CAST(s1 + 127 * n AS DECIMAL(38,0)) * 1000000 " +
            "DIV n AS BIGINT) - 1000000 * 127")
            .as("mean_q6"),
          expr("CAST((CAST(n AS DECIMAL(38,0)) * s2 - " +
            "CAST(s1 AS DECIMAL(38,0)) * s1) * 1000000 DIV " +
            "(CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").as("var_q6"))
        .orderBy("dim")
    }, oracle =
      // the same quantization CTE; dims unnested by range, the shifted-mean
      // and Cauchy-Schwarz-non-negative variance forms keep every // on
      // non-negative operands
      s"""WITH $OracleInt8Vectors,
        |per AS (
        |  SELECT CAST(t.i AS INT) AS dim,
        |         CAST(qv[CAST(t.i AS INT) + 1] AS BIGINT) AS x
        |  FROM q, UNNEST(range(0, 64)) AS t(i))
        |SELECT dim, COUNT(*) AS n,
        |       CAST(SUM(x) AS BIGINT) AS s1,
        |       CAST(SUM(x * x) AS BIGINT) AS s2,
        |       MIN(x) AS min_q, MAX(x) AS max_q,
        |       CAST((SUM(x) + 127 * COUNT(*)) * 1000000 // COUNT(*)
        |            - 1000000 * 127 AS BIGINT) AS mean_q6,
        |       CAST((CAST(COUNT(*) AS HUGEINT) * SUM(x * x)
        |             - CAST(SUM(x) AS HUGEINT) * SUM(x)) * 1000000
        |            // (CAST(COUNT(*) AS HUGEINT) * COUNT(*)) AS BIGINT)
        |         AS var_q6
        |FROM per GROUP BY dim ORDER BY dim""".stripMargin),
    // Quantized retrieval — the production serving path embed_quantize
    // (below) prepares for: top-k by INTEGER dot product over int8
    // vectors. One GLOBAL symmetric scale (corpus max-abs, a 1-row
    // broadcast) instead of per-vector scales, so integer scores are
    // directly comparable and the ranking needs no float correction —
    // every score is an exact integer (≤ 127²·64), the whole query is
    // hashable with zero float discipline, and memory/bandwidth drop 4×
    // vs float32. Scoring runs through the native dot_product kernel over
    // integer-valued doubles (exact); top-k is TakeOrdered with a PK
    // tiebreak (integer scores tie often). nullif guards the degenerate
    // all-zero corpus the same way embed_quantize guards the all-zero row.
    Query("knn_quantized_topk", (s, d) =>
      quantizedScores(s, d).orderBy(desc("score"), asc("vec_id")).limit(10), oracle =
      // every score is an exact integer, so list_dot_product over the
      // integer-valued quantized lists agrees bit-for-bit
      s"""WITH $OracleInt8Vectors,
        |p AS (SELECT qv AS pv FROM q WHERE vec_id = 0)
        |SELECT q.vec_id, CAST(list_dot_product(q.qv, p.pv) AS BIGINT) AS score
        |FROM q, p WHERE q.vec_id <> 0
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin),
    // Radius (range) search — the OTHER similarity-search modality next to
    // top-k: every vector whose integer quantized dot with the probe
    // clears a fixed threshold, however many or few that is (dedup wants
    // "all near-dups", not "the 10 nearest"). Same exact-integer scores as
    // knn_quantized_topk (ONE shared quantizedScores definition), so the
    // threshold needs no float gap analysis — any cut is hash-exact; 10000
    // keeps the top ~5-12% of the fixture corpora (measured p90≈8-12k,
    // max≈19-23k across sf0.001-0.1, nonempty at every SF). At scale the
    // filter is map-side on the scored pass (no top-k heap, no global
    // sort barrier until the bounded survivor set).
    Query("knn_radius_quantized", (s, d) =>
      quantizedScores(s, d).filter(col("score") >= 10000)
        .orderBy(desc("score"), asc("vec_id")), oracle =
      // same quantization pipeline, threshold filter instead of LIMIT — the
      // scores are exact integers so the >= 10000 cut cannot straddle noise
      s"""WITH $OracleInt8Vectors,
        |p AS (SELECT qv AS pv FROM q WHERE vec_id = 0),
        |scored AS (
        |  SELECT q.vec_id,
        |         CAST(list_dot_product(q.qv, p.pv) AS BIGINT) AS score
        |  FROM q, p WHERE q.vec_id <> 0)
        |SELECT vec_id, score FROM scored WHERE score >= 10000
        |ORDER BY score DESC, vec_id ASC""".stripMargin),
    // Late-interaction (ColBERT-style) MaxSim retrieval (round 11): the
    // multi-vector scoring rule modern retrievers use when one pooled
    // vector per document loses too much — score(doc) = Σ over query
    // tokens of the MAX dot product against any of the document's
    // vectors. Here the label groups play the multi-vector documents
    // (each label owns ~50 member vectors) and vec_ids 0-3 are the 4
    // query tokens (excluded from the corpus side). Every dot is an
    // exact long under the shared global-scale int8 quantization
    // (quantizedVectors — the knn_quantized_topk scale), so MaxSim
    // ranks are hash-exact with zero float discipline. 100 TB shape:
    // the 4-row query token table rides a broadcast; per-(doc, token)
    // max and per-doc sum are both map-side-combinable hash aggs — the
    // corpus streams through one pass, no shuffle wider than
    // (label, q_id, long), no global sort until the |labels|-sized
    // score table.
    Query("retrieval_maxsim", (s, d) => {
      val q = quantizedVectors(s, d)
      probe(q.filter(col("vec_id") >= 4), q.filter(col("vec_id") < 4)
          .select(col("vec_id").as("q_id"), col("qv").as("qv_q")))
        .select(col("label"), col("q_id"),
          dot(col("qv"), col("qv_q")).cast("long").as("dot"))
        .groupBy("label", "q_id").agg(max(col("dot")).as("best"))
        .groupBy("label").agg(sum(col("best")).as("maxsim"))
        .orderBy(desc("maxsim"), asc("label"))
    }, oracle =
      // same global-scale quantization CTE (labels carried through), then
      // the MaxSim double aggregation — max per (label, query token), sum
      // per label; every dot an exact BIGINT
      s"""WITH $OracleInt8Scale,
        |q AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding,
        |           x -> floor(CAST(x AS DOUBLE) * (127.0 / m) + 0.5)) AS qv
        |  FROM embeddings, m),
        |qt AS (SELECT vec_id AS q_id, qv AS qv_q FROM q WHERE vec_id < 4),
        |dots AS (
        |  SELECT q.label, qt.q_id,
        |         CAST(list_dot_product(q.qv, qt.qv_q) AS BIGINT) AS dot
        |  FROM q, qt WHERE q.vec_id >= 4),
        |best AS (SELECT label, q_id, MAX(dot) AS best
        |         FROM dots GROUP BY label, q_id)
        |SELECT label, CAST(SUM(best) AS BIGINT) AS maxsim
        |FROM best GROUP BY label
        |ORDER BY maxsim DESC, label ASC""".stripMargin),
    // k-center coreset selection (round 11b): greedy farthest-first
    // traversal (the Gonzalez 2-approximation) — the diversity-maximizing
    // subset selection training-data curation uses where MMR needs a
    // query and k-means needs a cell count. Seed = vec_id 0, then k−1 = 3
    // rounds of "add the point farthest from the chosen set"; output is
    // every point's assigned nearest center and its exact squared L2
    // distance. All arithmetic exact longs under the shared int8
    // quantization: d² = |a|² + |b|² − 2a·b from three integer dot
    // products, argmax pinned by (d² DESC, vec_id ASC), assignment by
    // (d² ASC, c_id ASC) — zero floats, so the DuckDB oracle (the same
    // recurrence as unrolled CTEs — bounded, the LPA precedent) is
    // hash-exact. 100 TB shape: each round is one broadcast of the ≤k-row
    // center table, one map-side d²-min pass, and one TakeOrdered(1) —
    // never a collect; the center table localCheckpoints per round (the
    // kmeans_lloyd lineage discipline). O(k·N) total like k-means
    // assignment; k is a small constant.
    Query("coreset_kcenter", (s, d) =>
      kcenterAssign(quantizedVectors(s, d)).orderBy("vec_id"), oracle =
      // the same greedy farthest-first recurrence, 3 unrolled steps (the
      // bounded-recurrence oracle precedent): every distance an exact
      // BIGINT, argmax and assignment tie rules spelled identically
      {
      val steps = (1 to 3).map { i =>
        s"""d$i AS (
           |  SELECT q2.vec_id,
           |         MIN(q2.n2 + c.cn2
           |             - 2 * CAST(list_dot_product(q2.qv, c.cv) AS BIGINT))
           |           AS dmin
           |  FROM q2, c$i c GROUP BY q2.vec_id),
           |p${i + 1} AS (SELECT vec_id FROM d$i
           |        ORDER BY dmin DESC, vec_id ASC LIMIT 1),
           |c${i + 1} AS (SELECT * FROM c$i UNION ALL
           |        SELECT q2.vec_id, q2.qv, q2.n2 FROM q2
           |        JOIN p${i + 1} USING (vec_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH $OracleInt8Vectors,
         |q2 AS (SELECT vec_id, qv,
         |              CAST(list_dot_product(qv, qv) AS BIGINT) AS n2
         |       FROM q),
         |c1 AS (SELECT vec_id AS c_id, qv AS cv, n2 AS cn2
         |       FROM q2 WHERE vec_id = 0),
         |$steps,
         |dist AS (
         |  SELECT q2.vec_id, c.c_id,
         |         q2.n2 + c.cn2
         |         - 2 * CAST(list_dot_product(q2.qv, c.cv) AS BIGINT) AS d2
         |  FROM q2, c4 c),
         |r AS (SELECT vec_id, c_id, d2,
         |        ROW_NUMBER() OVER (PARTITION BY vec_id
         |                           ORDER BY d2 ASC, c_id ASC) AS rn
         |      FROM dist)
         |SELECT vec_id, c_id AS center, d2 FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin
    }),
    // Johnson-Lindenstrauss random projection 64 → 16 dims (round 12): the
    // dimensionality-reduction step ahead of ANN indexing/clustering —
    // JL (1984) preserves pairwise distances within (1±ε) under a random
    // linear map, and Achlioptas (2003) showed iid ±1 entries suffice
    // ("database-friendly" projections: no Gaussians, integer arithmetic).
    // Signs are a pure function of (in_dim, out_dim) via md5 parity —
    // derived identically in Scala (jlSign, driver-side literal matrix)
    // and in the oracle's SQL (DuckDB md5 of the same "i|j" strings), so
    // the gate checks the sign derivation itself, not a shared constant.
    // Inputs are the shared global-scale int8 quantization
    // (quantizedVectors), so each output coordinate Σᵢ s(i,j)·qᵢ is an
    // exact integer (|y| ≤ 64·127 ≪ 2⁵³) computed through the native
    // dot_product kernel — zero floats, hash-exact. Emitted as 16 scalar
    // long columns (p0..p15), never an array (the embed_quantize
    // pandas-hash constraint). 100 TB shape: pure per-row map work on one
    // corpus scan — zero shuffle beyond the 1-row broadcast scale; output
    // is 4× narrower for every downstream consumer. Fixture-dim 64 is
    // asserted (a dim mismatch must fail loudly, not zero-pad).
    Query("embed_random_projection", (s, d) => {
      val q = quantizedVectors(s, d)
      val checked = q.withColumn("qv",
        when(size(col("qv")) === JlInDim, col("qv")).otherwise(
          raise_error(concat(lit(s"embed_random_projection: dim != $JlInDim: "),
            size(col("qv")).cast("string")))))
      checked.select(col("vec_id") +: jlProject(col("qv")): _*)
        .orderBy("vec_id")
    }, oracle =
      // same quantization CTE; the sign matrix is derived IN SQL from md5
      // parity of "i|j" (the Scala side derives its literal matrix from the
      // same strings — see jlSign), each projection an exact-integer
      // list_dot_product
      {
      val pCols = (0 until JlOutDim).map { j =>
        s"""CAST(list_dot_product(qv, list_transform(range(0, $JlInDim),
           |           i -> CASE WHEN ascii(substr(md5(i || '|' || $j), 1, 1))
           |                          % 2 = 0
           |                THEN 1.0 ELSE -1.0 END)) AS BIGINT) AS p$j"""
          .stripMargin
      }.mkString(",\n        ")
      s"""WITH $OracleInt8Vectors
        |SELECT vec_id,
        |        $pCols
        |FROM q ORDER BY vec_id""".stripMargin
    }),
    // Product-quantization ADC search (round 12): the Jégou/Douze/Schmid
    // 2011 scheme behind FAISS's IVFPQ — THE memory lever for
    // billion-vector ANN: split each vector into M=8 subvectors of 8
    // dims, learn a K=16-centroid codebook per subspace, store each
    // vector as 8 four-bit codes (8 bytes vs 256 — 32×), and answer
    // queries by Asymmetric Distance Computation: precompute the probe's
    // exact d² to all M·K centroids (a 128-entry table), then each
    // vector's approximate d² is a SUM OF 8 TABLE LOOKUPS — no vector
    // math at query time. Training is pinned deterministic: seeds =
    // subvectors of vec_ids 0..15, ONE Lloyd round (exact-integer d²
    // argmin with (d², code) tie-break, centroid = component-wise mean),
    // so the codebook is a pure function of the corpus and the DuckDB
    // oracle replays it exactly. ALL arithmetic lives in the +127-SHIFTED
    // non-negative int domain ([0,254] components): squared distances are
    // shift-invariant, and the centroid mean's integer division is only
    // cross-engine-deterministic for non-negative operands (Spark DIV
    // truncates toward zero, DuckDB // floors — they agree iff ≥ 0, the
    // CommonNeighbors caveat). Zero floats anywhere. 100 TB shape: the
    // codebook (128 rows) and ADC table (128 rows) ride broadcasts;
    // training is two corpus passes (seed-assign + recenter), encoding
    // one more, and the query pass is a broadcast-lookup sum — every agg
    // map-side-combinable; empty codes just drop out of the argmin
    // (deterministic in both engines via the inner join).
    Query("knn_pq_adc", (s, d) =>
      pqAdcTop10(s, d).select("rn", "vec_id", "adc_d2").orderBy("rn"), oracle =
      // full replay of the deterministic PQ pipeline in the +127-shifted
      // integer domain: subvector split, seed assignment, one-round integer
      // centroids, re-encode, ADC table, lookup-sum top-10 — every distance
      // an exact BIGINT (CTE prefix shared with retrieval_eval_ndcg)
      s"""WITH $PqOracleCtes
        |SELECT row_number() OVER (ORDER BY adc_d2, vec_id) AS rn,
        |       vec_id, adc_d2
        |FROM (SELECT * FROM scored ORDER BY adc_d2, vec_id LIMIT 10) t
        |ORDER BY rn""".stripMargin),
    // IVF-PQ (round 12e) — the composition production ANN serving actually
    // deploys (Jégou, Douze & Schmid, "Product Quantization for Nearest
    // Neighbor Search", TPAMI 2011, §V: coarse inverted index × product
    // codes): the IVF cell restricts WHICH postings the query scans (1/K
    // of the corpus — the latency axis) and PQ compresses WHAT each
    // posting stores (32× — the memory axis); ADC scores the probed
    // cell's codes with 8 table lookups each. Both halves are the
    // already-shipped deterministic pieces, single-sourced so they cannot
    // drift: cells come from ivfCellAssign(unit, 8) — the exact
    // knn_ivf_coarse / dedup_semantic_cells assignment — and scoring is
    // pqAdcTop10 with the cell's vec_id set as the postings restriction
    // (codebook TRAINING stays corpus-wide, like a FAISS index). 100 TB
    // shape: cells are the partition key, the cell filter is a semi-join
    // pushed before the ADC lookup join, and everything the probe touches
    // after assignment is |cell| rows, not |corpus|.
    Query("knn_ivf_pq", (s, d) => {
      val unit = withUnitVec(embeddings(s, d), "embedding", "uv")
      val clustered = ivfCellAssign(unit, 8)
      val probeCell = clustered.filter(col("vec_id") === 0).select("cell")
      val members = clustered.join(broadcast(probeCell), Seq("cell"))
        .filter(col("vec_id") =!= 0).select("vec_id")
      pqAdcTop10(s, d, Some(members))
        .select("rn", "vec_id", "adc_d2").orderBy("rn")
    }, oracle =
      // the shared PQ CTE prefix restricted to the probe's IVF cell, from
      // the shared IVF assignment CTEs
      s"""WITH $PqOracleCtes,
        |${oracleIvfCtes("8")},
        |mem AS (
        |  SELECT vec_id FROM clustered
        |  WHERE cell = (SELECT cell FROM clustered WHERE vec_id = 0)
        |    AND vec_id <> 0)
        |SELECT row_number() OVER (ORDER BY adc_d2, vec_id) AS rn,
        |       vec_id, adc_d2
        |FROM (SELECT s.vec_id, s.adc_d2 FROM scored s JOIN mem USING (vec_id)
        |      ORDER BY adc_d2, vec_id LIMIT 10) t
        |ORDER BY rn""".stripMargin),
    // Retrieve-then-rerank (round 12i) — the two-stage serving pattern
    // every production ANN deploy runs (FAISS/ScaNN docs both prescribe
    // it; Guo et al., ICML 2020 §4 quantify the recall recovery): the
    // COMPRESSED index proposes a candidate pool (PQ-ADC top-100 — cheap,
    // lossy), the EXACT metric re-scores only that pool (100 full-width
    // distances, not |corpus|) and ships the top-10. ADC's quantization
    // error costs rank-ordering accuracy precisely AT the top — reranking
    // buys exact top-k order for a constant extra cost. Both stages are
    // the already-shipped deterministic pieces (pqAdcTop10 with k=100;
    // the shiftedVectors exact-L2 kernel retrieval_eval_ndcg grades
    // with), so the composition cannot drift. 100 TB shape: stage 1 is
    // the PQ scan (32× smaller than raw vectors), stage 2 touches 100
    // vectors fetched by a semi-join — the rerank never scans the corpus;
    // the probe rides a 1-row broadcast.
    Query("knn_pq_rerank", (s, d) => {
      val cand = pqAdcTop10(s, d, k = 100).select("vec_id")
      val sv = shiftedVectors(s, d)
      topK(probe(sv.join(cand, Seq("vec_id"), "left_semi"),
          sv.filter(col("vec_id") === 0).select(col("sv0").as("pv")))
        .select(col("vec_id"), sqdCol(col("sv0"), col("pv")).as("d2")),
        10, asc("d2"), asc("vec_id"))
        .select("rn", "vec_id", "d2").orderBy("rn")
    }, oracle =
      // the shared PQ CTE prefix proposes the top-100 pool; the shared
      // exact shifted-L2 `exd` reranks only the pool
      s"""WITH $PqOracleCtes,
        |cand AS (
        |  SELECT vec_id FROM (SELECT * FROM scored
        |                      ORDER BY adc_d2, vec_id LIMIT 100) t),
        |${oracleShiftedDist("vec_id = 0")}
        |SELECT row_number() OVER (ORDER BY d2, vec_id) AS rn, vec_id, d2
        |FROM (SELECT vec_id, d2 FROM exd JOIN cand USING (vec_id)
        |      ORDER BY d2, vec_id LIMIT 10) t
        |ORDER BY rn""".stripMargin),
    // Ranking-quality evaluation (round 12): NDCG@10 of the two lossy
    // rankings this engine ships — PQ-ADC (the memory axis) and JL-16
    // (the dimensionality axis) — against the EXACT shifted-L2 top-10,
    // as a first-class query (the accept/reject readout an ANN rollout
    // gates on; LlmSpec measures recall for the LSH family, this puts
    // the graded-relevance metric on the oracle surface). Relevance of
    // exact-rank i is 11−i; the rank discounts 1/log2(i+1) are TEN
    // PRECOMPUTED ⌊10⁶/log2(i+1)+0.5⌋ integer constants (the
    // profile_benford recipe — no transcendental at query time), so DCG,
    // IDCG and ndcg_q6 = dcg·10⁶ DIV idcg are all exact longs. The PQ
    // candidate list is the SAME pqAdcTop10 the search key ships
    // (factored body; the oracle shares the CTE prefix identically), so
    // the eval can never drift from the thing it grades. 100 TB shape:
    // two corpus-scan rankings (TakeOrdered heaps) + 10-row broadcast
    // joins — the eval adds nothing beyond the rankings themselves.
    Query("retrieval_eval_ndcg", (s, d) => {
      val w = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
        356207L, 333333L, 315465L, 301030L, 289065L)
      val idcg = (1 to 10).map(i => (11L - i) * w(i - 1)).sum
      val sv = shiftedVectors(s, d)
      val exTop = topK(againstQuery(sv, 0, col("sv0").as("pv"))
          .select(col("vec_id"), sqdCol(col("sv0"), col("pv")).as("d2")),
        10, asc("d2"), asc("vec_id"))
        .select(col("vec_id"), (lit(11) - col("rn")).cast("long").as("rel"))
        .localCheckpoint()
      val proj = sv.select(col("vec_id") +: jlProject(col("sv0")): _*)
      val jlTop = topK(againstQuery(proj, 0, jlProbeCols: _*)
          .select(col("vec_id"), jlSqDist.as("d2")),
        10, asc("d2"), asc("vec_id"))
        .select("rn", "vec_id")
      val pqTop = pqAdcTop10(s, d).select("rn", "vec_id")
      val wLit = array(w.map(lit): _*)
      def grade(cand: DataFrame, name: String): DataFrame =
        cand.join(broadcast(exTop), Seq("vec_id"), "left")
          .select(col("rn"), coalesce(col("rel"), lit(0L)).as("rel"))
          .agg(count(when(col("rel") > 0, 1)).as("n_hits"),
            sum(col("rel") * element_at(wLit, col("rn"))).as("dcg_q6"))
          .select(lit(name).as("variant"), col("n_hits"), col("dcg_q6"),
            lit(idcg).as("idcg_q6"),
            expr(s"dcg_q6 * 1000000L DIV ${idcg}L").as("ndcg_q6"))
      grade(jlTop, "jl16").unionAll(grade(pqTop, "pq_adc"))
        .orderBy("variant")
    }, oracle =
      // grades the SAME pq pipeline (shared CTE prefix) and an independent
      // in-SQL JL-16 ranking against the exact shifted-L2 top-10; discount
      // weights are the ten precomputed ⌊1e6/log2(i+1)+0.5⌋ constants
      s"""WITH $PqOracleCtes,
        |pqtop AS (
        |  SELECT vec_id, row_number() OVER (ORDER BY adc_d2, vec_id) AS rn
        |  FROM (SELECT * FROM scored ORDER BY adc_d2, vec_id LIMIT 10) t),
        |${oracleShiftedDist("vec_id = 0")},
        |extop AS (
        |  SELECT vec_id, CAST(11 - rn AS BIGINT) AS rel FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY d2, vec_id) AS rn
        |    FROM (SELECT vec_id, d2 FROM exd
        |          ORDER BY d2, vec_id LIMIT 10) t0) t),
        |$OracleJlCtes,
        |${oracleJlDist("vec_id = 0")},
        |jltop AS (
        |  SELECT vec_id, row_number() OVER (ORDER BY d2, vec_id) AS rn
        |  FROM (SELECT vec_id, d2 FROM jld
        |        ORDER BY d2, vec_id LIMIT 10) t),
        |w AS (
        |  SELECT CAST(i AS INT) AS i,
        |         CAST(CASE i WHEN 1 THEN 1000000 WHEN 2 THEN 630930
        |           WHEN 3 THEN 500000 WHEN 4 THEN 430677 WHEN 5 THEN 386853
        |           WHEN 6 THEN 356207 WHEN 7 THEN 333333 WHEN 8 THEN 315465
        |           WHEN 9 THEN 301030 ELSE 289065 END AS BIGINT) AS w
        |  FROM range(1, 11) t(i)),
        |cand AS (
        |  SELECT 'jl16' AS variant, rn, vec_id FROM jltop
        |  UNION ALL SELECT 'pq_adc', rn, vec_id FROM pqtop),
        |graded AS (
        |  SELECT cand.variant,
        |         COUNT(e.vec_id) AS n_hits,
        |         SUM(COALESCE(e.rel, 0) * w.w) AS dcg_q6
        |  FROM cand JOIN w ON w.i = cand.rn
        |  LEFT JOIN extop e ON e.vec_id = cand.vec_id
        |  GROUP BY 1),
        |idcg AS (SELECT SUM((11 - i) * w) AS idcg_q6 FROM w)
        |SELECT variant, CAST(n_hits AS BIGINT) AS n_hits,
        |       CAST(dcg_q6 AS BIGINT) AS dcg_q6,
        |       CAST(idcg_q6 AS BIGINT) AS idcg_q6,
        |       CAST(dcg_q6 * 1000000 // idcg_q6 AS BIGINT) AS ndcg_q6
        |FROM graded, idcg ORDER BY variant""".stripMargin),
    // MRR + recall@10 eval over a PROBE SET (round 13) — the multi-query
    // companion of retrieval_eval_ndcg's single-probe grading, and the
    // two metrics retrieval papers actually lead with: for each of the
    // 10 probes (vec_id < 10), the truth is the exact shifted-L2 top-10
    // (the same retrieval_eval_ndcg kernel) and the system under eval is
    // the JL-16 projected ranking (embed_random_projection's sign
    // matrix) — rr = 1/rank of the true nearest neighbor in the system
    // list (0 if absent), recall@10 = |truth ∩ system| / 10, both
    // averaged over probes as integer q6 (10⁶ DIV rank — every metric an
    // exact long, zero floats). 100 TB shape: the 10-row probe tables
    // ride broadcasts onto TWO single-pass scans (64-dim exact, 16-dim
    // projected); per-probe top-10 via a probe-partitioned window over
    // the scored stream; everything after lives on ≤200 rows. The oracle
    // replays both rankings (shared quantize/sign-matrix SQL) and the
    // same fixed-point fold.
    Query("retrieval_eval_mrr", (s, d) => {
      val sv = shiftedVectors(s, d)
      val wp = Window.partitionBy("pid").orderBy(asc("d2"), asc("vec_id"))
      val truth = probe(sv, sv.filter(col("vec_id") < 10)
          .select(col("vec_id").as("pid"), col("sv0").as("pv")))
        .filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("vec_id"),
          sqdCol(col("sv0"), col("pv")).as("d2"))
        .withColumn("ern", row_number().over(wp)).filter(col("ern") <= 10)
        .select("pid", "vec_id", "ern").localCheckpoint()
      val proj = sv.select(col("vec_id") +: jlProject(col("sv0")): _*)
      val sys = probe(proj, proj.filter(col("vec_id") < 10)
          .select(col("vec_id").as("pid") +: jlProbeCols: _*))
        .filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("vec_id"), jlSqDist.as("d2"))
        .withColumn("srn", row_number().over(wp)).filter(col("srn") <= 10)
        .select("pid", "vec_id", "srn").localCheckpoint()
      val rr = truth.filter(col("ern") === 1)
        .join(sys, Seq("pid", "vec_id"), "left")
        .select(col("pid"),
          coalesce(expr("1000000L DIV srn"), lit(0L)).as("rr_q6"))
      val hits = truth.join(sys, Seq("pid", "vec_id"))
        .groupBy("pid").agg(count(lit(1)).as("h"))
      rr.join(hits, Seq("pid"), "left")
        .select(col("pid"), col("rr_q6"),
          coalesce(col("h"), lit(0L)).as("h"))
        .agg(count(lit(1)).as("n_probes"),
          expr("sum(rr_q6) DIV count(1)").as("mrr_q6"),
          expr("sum(h) * 1000000L DIV (count(1) * 10)").as("recall10_q6"))
    }, oracle =
      // both rankings replayed over the probe set (shared quantize/shift +
      // sign-matrix CTEs), then the same integer q6 MRR/recall fold
      s"""WITH $OracleShiftedVectors,
        |${oracleShiftedDist("vec_id < 10")},
        |truth AS (
        |  SELECT pid, vec_id, ern FROM (
        |    SELECT pid, vec_id, row_number() OVER (PARTITION BY pid
        |      ORDER BY d2, vec_id) AS ern FROM exd) t
        |  WHERE ern <= 10),
        |$OracleJlCtes,
        |${oracleJlDist("vec_id < 10")},
        |sys AS (
        |  SELECT pid, vec_id, srn FROM (
        |    SELECT pid, vec_id, row_number() OVER (PARTITION BY pid
        |      ORDER BY d2, vec_id) AS srn FROM jld) t
        |  WHERE srn <= 10),
        |rr AS (
        |  SELECT t.pid, COALESCE(1000000 // s.srn, 0) AS rr_q6
        |  FROM truth t LEFT JOIN sys s
        |    ON s.pid = t.pid AND s.vec_id = t.vec_id
        |  WHERE t.ern = 1),
        |hits AS (
        |  SELECT t.pid, COUNT(*) AS h
        |  FROM truth t JOIN sys s ON s.pid = t.pid AND s.vec_id = t.vec_id
        |  GROUP BY t.pid)
        |SELECT COUNT(*) AS n_probes,
        |       CAST(SUM(rr_q6) // COUNT(*) AS BIGINT) AS mrr_q6,
        |       CAST(SUM(COALESCE(h, 0)) * 1000000 // (COUNT(*) * 10)
        |         AS BIGINT) AS recall10_q6
        |FROM rr LEFT JOIN hits USING (pid)""".stripMargin),
    // Int8 symmetric quantization of the embedding column (training-data
    // pipeline op): per-vector scale = 127/max|x|, q_i = floor(x·scale+0.5)
    // — the storage/serving compression step (4× smaller than float32).
    // Zero shuffle: pure per-row array math; scale and q are exact IEEE
    // (float→double exact, one multiply, half-up via floor(x+0.5) — the
    // SAME formula in both engines, because round() half-even vs half-up
    // conventions differ but floor does not). |q| ≤ 127 by construction:
    // the max-magnitude component maps to exactly ±127, so no clamp.
    // The checked output carries the quantized vector as a CSV string
    // (array_join), not a raw array column: the driver's oracle harness
    // sorts result frames with pandas before hashing, and array cells are
    // unhashable there — representation change only, int8 math untouched.
    Query("embed_quantize", (s, d) => {
      // nullif guards the all-zero vector (padding row, failed encode):
      // 127/0 = Inf would make q = floor(0·Inf + 0.5) = NaN, and ANSI
      // mode's int cast throws on NaN — a null scale nulls q/q_sum instead
      embeddings(s, d)
        .withColumn("scale", lit(127.0) /
          nullif(array_max(transform(col("embedding"),
            x => abs(x.cast("double")))), lit(0.0)))
        .withColumn("q", transform(col("embedding"),
          x => floor(x.cast("double") * col("scale") + 0.5).cast("int")))
        .select(col("vec_id"), col("scale"),
          array_join(col("q"), ",").as("q_csv"),
          aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"))
        .orderBy("vec_id")
    }, oracle =
      // exact IEEE agreement: float→double casts, one multiply, floor-half-up
      // — no round() anywhere, so engine rounding conventions can't diverge
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |         127.0 / nullif(list_max(list_transform(embedding,
        |                          x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id, scale,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT)) AS q
        |  FROM s)
        |SELECT vec_id, scale, array_to_string(q, ',') AS q_csv,
        |       CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum
        |FROM qq ORDER BY vec_id""".stripMargin),
    // Spherical k-means (Lloyd) centroid TRAINING — the step knn_ivf_coarse
    // points at ("a production build would k-means the centroids"): K=8
    // seeds, two unrolled Lloyd iterations (assign to max-cosine centroid →
    // recenter to the normalized per-cell mean), then the trained cells'
    // sizes + leading centroid coordinates as the report. Everything stays
    // a single lazy plan — no per-iteration collect/count on the driver.
    // Cross-engine float discipline: unit vectors and centroids are
    // quantized to 1e-6 (so per-dim mean sums are EXACT decimals in both
    // engines) and assignment similarity to 1e-4 with the c_id tiebreak
    // (the knn discipline). 100 TB shape: assignment is a broadcast
    // cross-join with map-side max-struct combine (N skinny rows cross the
    // shuffle, not N×K); recentering aggregates 64·K cells. The group key
    // carries the vector payload here for a one-shuffle plan; production
    // would keep (id → cell) and co-partitioned vectors.
    Query("kmeans_lloyd", (s, d) => {
      val (cents, assigned) = lloydTrain(s, d)
      assigned
        .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
        .join(cents.select(col("c_id").as("cell"),
          round(element_at(col("c_v"), 1), 4).as("c0"),
          round(element_at(col("c_v"), 2), 4).as("c1")), "cell")
        .orderBy("cell")
    }, oracle =
      // two unrolled Lloyd iterations; the assignment replays as a per-vector
      // row_number argmax (semantics, not the Spark plan), the means as exact
      // DECIMAL(18,6) sums of the 1e-6-quantized unit vectors
      s"""WITH $OracleLloydCtes
        |SELECT a.cell, COUNT(*) AS n_vectors, c.c0, c.c1
        |FROM a3 a
        |JOIN (SELECT c_id, round(c_v[1], 4) AS c0, round(c_v[2], 4) AS c1 FROM c2) c
        |  ON a.cell = c.c_id
        |GROUP BY a.cell, c.c0, c.c1
        |ORDER BY a.cell""".stripMargin),
    // The composed ANN-index BUILD: the trained centroids (same lloydTrain
    // as kmeans_lloyd — one definition, the corpus_curation discipline)
    // plus per-cell posting lists — sizes, id range, and the sorted head.
    // This is the artifact knn_ivf_coarse queries against; at 100 TB the
    // postings write out partitioned BY cell so a probe reads one
    // partition. Sorted-prefix string keeps the list representation
    // cross-engine hashable (§7.4.6).
    Query("ivf_index_build", (s, d) => {
      val (_, assigned) = lloydTrain(s, d)
      assigned.groupBy("cell")
        .agg(count(lit(1)).as("n_vectors"),
          min(col("vec_id")).as("min_vec"),
          max(col("vec_id")).as("max_vec"),
          array_join(transform(
            slice(sort_array(collect_list(col("vec_id"))), 1, 8),
            x => x.cast("string")), ",").as("posting_head"))
        .orderBy("cell")
    }, oracle =
      // same CTE chain as kmeans_lloyd through the final assignment; the
      // report is the per-cell posting summary instead of the centroid head
      s"""WITH $OracleLloydCtes
        |SELECT cell, COUNT(*) AS n_vectors,
        |       MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec,
        |       array_to_string(list(vec_id ORDER BY vec_id)[1:8], ',') AS posting_head
        |FROM a3 GROUP BY cell ORDER BY cell""".stripMargin),
    // ANN scale path — banded sign-projection LSH: candidates collide in
    // any of the 32 bands, then exact cosine re-ranks candidates only
    // (rows-only check; LlmSpec asserts recall against brute force).
    // 100 TB story: the bucket join touches candidate pairs, not all pairs;
    // vectors are NOT replicated per band — only (vec_id, bucket) rows fan
    // out 32×, and the two vector fetches are equi-joins on vec_id.
    Query("knn_lsh_bucketed", (s, d) =>
      bandPairs(withUnitVec(embeddings(s, d), "embedding", "uv"), Nil, BandBits)
        .select(col("a_vec_id").as("a_id"), col("b_vec_id").as("b_id"),
          dot(col("a_uv"), col("b_uv")).as("sim"))
        // top-100 most similar candidate pairs (rank, not threshold: stays
        // non-empty at any SF; total order via PK tiebreak)
        .orderBy(desc("sim"), asc("a_id"), asc("b_id")).limit(100)
        .select("a_id", "b_id")),
    // NN-Descent k-NN graph (round 12) — see nnDescent's scaladoc: the
    // graph-based ANN candidate generator (neighbors-of-neighbors local
    // joins over a k-best list), the fourth family next to LSH bands, IVF
    // cells and PQ codes. Engine-local float cosine → unit-only key;
    // LlmSpec measures recall@10 vs brute force and asserts the descent
    // property (final recall strictly above the hash-init recall).
    Query("knn_nndescent", (s, d) =>
      nnDescent(embeddings(s, d)))
  )
}
