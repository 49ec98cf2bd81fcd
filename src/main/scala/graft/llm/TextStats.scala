package graft.llm

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Query
import graft.core.Tables._
import graft.functions.RollingHash.rolling_hash

/** Tier E text analysis + multimodal plumbing (SURVEY.md §2 E6-E7 and the
  * builder-mandated language-ID, quality-scoring, token-counting,
  * fingerprinting and multimodal-column operators).
  *
  * Everything is built-in-function arithmetic over `split()` token arrays —
  * one scan, map-side aggregation, no UDFs except the fingerprint, which is
  * a native codegen'd Catalyst expression (graft.functions.RollingHash).
  */
object TextStats {

  private def tokens(c: Column): Column = split(c, " ")

  /** 64-bit hashes of every word n-gram of `text`, from one native pass
    * (grams never travel as strings). */
  private def wordNgramHashes(n: Int): Column =
    graft.functions.TokenNgramHashes.token_ngram_hashes(
      Dedup.tokenHashes(tokens(col("text"))), n)

  /** Every adjacent token pair (doc_id, w1, w2) of each doc's `text` — the
    * one bigram derivation of the three bigram keys. Adjacency is explicit
    * in the token array, so the pairs expand map-side with no exchange (a
    * per-doc window would shuffle and sort the whole token stream); array
    * subscripts are 0-based, so pair i is (ts[i], ts[i+1]). A one-token doc
    * yields no pair, and a doubled space yields the empty token, as the
    * split does. */
  private[llm] def bigramPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), explode(expr(
        """transform(slice(ts, 1, size(ts) - 1),
          |  (x, i) -> struct(x AS w1, ts[i + 1] AS w2))""".stripMargin))
        .as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))

  /** The concat-and-chunk packing layout — the shared body of
    * `pack_sequences` (which ships it per-doc) and
    * `pack_efficiency_report` (which aggregates it per shard): docs are
    * dealt to 8 shards by md5 digit, each shard's token stream is laid
    * out contiguously in doc_id order, and every doc records its offset
    * and first/last 512-token block. One per-shard window; factored so
    * the report can never describe a different packing than the one the
    * layout key ships. */
  private def packedLayout(s: SparkSession, d: String): DataFrame = {
    val blockLen = 512
    val nTok = graft.functions.TokenStats.token_stats(
      tokens(col("text")), Seq.empty).getField("n_tok").cast("long")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"),
        (md5Fold(col("doc_id"), 1) % 8).cast("int").as("shard"),
        nTok.as("n_tok"))
      .withColumn("stream_end", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tok"),
        (col("stream_end") - col("n_tok")).as("offset"),
        // exact floor division: offsets ≪ 2^53, so the double detour is safe
        floor((col("stream_end") - col("n_tok")) / blockLen).cast("long")
          .as("block_first"),
        floor((col("stream_end") - 1) / blockLen).cast("long")
          .as("block_last"))
  }

  /** Okapi BM25 top-20 for the fixed 3-term query — the body of
    * `retrieval_bm25`, factored so `retrieval_rrf` fuses the identical
    * ranking (float discipline and determinism notes at the query entry). */
  private def bm25Top20(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("join", "filter", "stream")
    val docs = documents(s, d)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_tok"))
    val tf = tok.filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(dfreq), "token").join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("idf", log((col("n_docs").cast("double") - col("df") + 0.5)
        / (col("df").cast("double") + 0.5) + 1.0))
      .withColumn("c", col("idf") * (col("tf") * 2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") * col("n_docs")) / col("n_tok"))))
    def term(t: String) = coalesce(
      max(when(col("token") === t, col("c"))), lit(0.0))
    contrib.groupBy("doc_id")
      .agg(term("join").as("c1"), term("filter").as("c2"),
        term("stream").as("c3"))
      .select(col("doc_id"),
        round(col("c1") + col("c2") + col("c3"), 4).as("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("score"), asc("doc_id"))))
      .select("rank", "doc_id", "score")
      // explicit output order: diffcheck compares rows positionally, so
      // the contract must not lean on the window's physical sort
      .orderBy("rank")
  }

  /** A tiny per-language marker lexicon for the n-gram/stopword language-ID
    * heuristic. Deterministic and self-contained (no model files). Its
    * order is the oracles' column and word order ([[OracleLangHits]],
    * [[OracleStopwords]]). */
  val LangMarkers: Map[String, Seq[String]] = ListMap(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** The per-source epoch schedule under the char budget — ONE builder
    * shared by `mix_epochs_schedule` (the report) and
    * `mix_materialize_repeats` (the per-doc materialization), so the
    * two can never disagree about the published mix. All products in
    * DECIMAL(38,0) (the round-14 overflow guard). */
  private def epochSchedule(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("w_q6",
        floor(sqrt(col("n_chars").cast("double")) * lit(1.0e6))
          .cast("long"))
    val totals = counts.agg(sum(col("w_q6")).as("w_sum"),
      sum(col("n_chars")).as("total_chars"))
    counts.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"), col("n_chars"),
        expr("w_q6 * 1000000 DIV w_sum").as("share_q6"),
        expr("CAST(total_chars AS DECIMAL(38,0)) * w_q6 DIV w_sum")
          .as("quota_chars"))
      .withColumn("epochs_q6",
        expr("least(4000000L," +
          " CAST(quota_chars AS DECIMAL(38,0)) * 1000000 DIV n_chars)"))
      .withColumn("effective_chars",
        expr("CAST(n_chars AS DECIMAL(38,0)) * epochs_q6 DIV 1000000"))
  }

  /** Per-document BPE encode summary — ONE definition shared by
    * `bpe_apply_encode` (the per-doc readout) and `tokenizer_fertility`
    * (the per-language audit), so the audit can never describe a
    * different encoder than the one shipped: each whitespace token costs
    * its learned segment length (types outside the ^[a-z]+$ vocabulary
    * fall back to 1 token and count as OOV). The vocabulary join is a
    * word-TYPE-sized broadcast onto the token stream; the doc agg is
    * map-side combinable. */
  private def bpeDocEncode(s: SparkSession, d: String): DataFrame = {
    val nsub = bpeLearn(s, d)._2
      .select(col("w"), size(split(trim(col("seg")), " ")).as("n_sub"))
    documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .join(nsub, Seq("w"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_ws"),
        sum(coalesce(col("n_sub").cast("long"), lit(1L))).as("n_bpe"),
        sum(when(col("n_sub").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Per-document repeat counts materialized from the epoch schedule —
    * ONE definition shared by `mix_materialize_repeats` (the published
    * list) and `mix_shard_assignment` (the shard layout built from it),
    * so the shards can never be cut from a different repeat draw than the
    * one published. Carries n_chars for the shard balance report (unused
    * columns prune out of the scan for the repeats key). The fractional
    * draw is the exact integer cross-multiply on the digits-29-32 draw —
    * see `mix_materialize_repeats`' scaladoc for the bias bound. */
  private def materializedRepeats(s: SparkSession, d: String): DataFrame = {
    val sched = epochSchedule(s, d).select(col("lang"), col("epochs_q6"))
    documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(sched), Seq("lang"))
      .withColumn("u16", md5Fold(col("doc_id"), 29).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (expr("epochs_q6 DIV 1000000") +
          when(expr("u16 * 1000000 < (epochs_q6 % 1000000) * 65536"), 1L)
            .otherwise(0L)).as("n_repeats"))
  }

  /** The md5 digit draw: hex digits [from, from+3] of md5 of the
    * stringified id, folded into an int in [0, 16^4) — the engine-agnostic
    * deterministic hash behind every sampling, split and shard decision
    * here (a pure function of the stable id: reruns, retries and engines
    * agree; four digits keep modulo bias ≤ ~0.02%). `from` is 1-based to
    * match SQL substring; [[oracleMd5Fold]] is the DuckDB spelling.
    *
    * The digit ledger. Draws on the same id take disjoint digits, so the
    * decisions stay independent of each other:
    *   - 1-4, doc_id: the train/val/test split ([[splitRule]]) and the
    *     packing shard ([[packedLayout]])
    *   - 5-8, doc_id: `stratified_sample`
    *   - 9-12, doc_id: `weighted_sample`
    *   - 13-16, doc_id: the `negative_pairs` partner
    *   - 17-20, user_id: `sample_user_holdout`
    *   - 21-24, user_id: the A/B variant ([[abVariant]])
    *   - 25-28, token: the `dsir_importance` feature buckets
    *   - 29-32, doc_id: the repeat draw ([[materializedRepeats]])
    * All 32 digits are taken, so a new draw hashes a new input domain, as
    * `mix_shard_assignment` does with `doc_id#copy` (digits 1-4 of a string
    * no other draw hashes). */
  private[llm] def md5Fold(idCol: Column, from: Int): Column = {
    def hexVal(c: Column): Column =
      when(ascii(c) >= 97, ascii(c) - 87).otherwise(ascii(c) - 48)
    val hx = md5(idCol.cast("string"))
    (from until from + 4).map(i => hexVal(substring(hx, i, 1)))
      .reduce(_ * 16 + _)
  }

  /** The 48-bit payload SimHash fingerprint — ONE definition shared by
    * `multimodal_dedup_phash` (the dedup verdicts) and
    * `dedup_phash_calibration` (the banding audit), factored round 14c:
    * an audit must describe the production fingerprints. md5 gram hashes
    * keep every intermediate cross-engine-reproducible; one map-side
    * 48-vote groupBy per doc. */
  private def payloadPhash(s: SparkSession, d: String): DataFrame = {
    val W = 48
    val pay = documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, 64).as("p"))
    // one row per byte 4-gram; gh = first 12 md5 hex digits as a long
    val grams = pay.select(col("doc_id"),
        explode(transform(
          sequence(lit(1), greatest(length(col("p")) - 3, lit(1))),
          i => substring(col("p"), i, lit(4)))).as("g"))
      .select(col("doc_id"),
        conv(substring(md5(col("g")), 1, 12), 16, 10).cast("long").as("gh"))
    // per-bit ±1 majority votes: ONE map-side-combinable groupBy(doc)
    val votes = grams.groupBy("doc_id").agg(
      sum(when(shiftright(col("gh"), 0).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as("v0"),
      (1 until W).map(b =>
        sum(when(shiftright(col("gh"), b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1)).as(s"v$b")): _*)
    votes.select(col("doc_id"),
      (0 until W).map(b =>
        when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
        .reduce(_ + _).as("ph"))
  }

  /** The A/B variant assignment — ONE definition shared by
    * `abtest_conversion` (the funnel readout) and `abtest_srm_check`
    * (the assignment-health gate), so the SRM check can never audit a
    * different split than the one the readout uses. Hashes the USER,
    * never the event — the leakage rule. */
  private def abVariant: Column =
    when(md5Fold(col("user_id"), 21) % 2 === 0, "A").otherwise("B")

  /** The deterministic train/val/test split — ONE definition shared by
    * `sample_split` and the corpus_curation pipeline: the doc's digit
    * draw mod 10 → 80/10/10 (two digits would leave 256 % 10 = 6 leftover
    * states and bias train to 80.47%; four shrink the bias to ~0.01%). */
  private def splitRule: Column = {
    val bucket = md5Fold(col("doc_id"), 1) % 10
    when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
  }

  /** The shared per-doc quality stats over `text` — ONE definition used by
    * both the score report (text_quality) and the filter verdicts
    * (text_quality_filter), so the two can never silently diverge. */
  private case class QualityStats(nTok: Column, meanLen: Column,
      nStop: Column, symbolRatio: Column)

  private def qualityStats: QualityStats = {
    // One fused TokenStats pass (token count, char sum, stopword hits) —
    // the HOF aggregate/filter form interpreted a lambda per (token × use).
    // The repeated getField references dedup via codegen subexpression
    // elimination, so the array is still walked once per row.
    val stats = graft.functions.TokenStats.token_stats(tokens(col("text")),
      Seq(LangMarkers.values.flatten.toSeq))
    val nTok = stats.getField("n_tok")
    val nStop = stats.getField("hits").getItem(0)
    // regexp_replace STRIPS the matching (alnum+space) chars, so the
    // length of what remains IS the non-alnum count (a round-1 version
    // subtracted it from the total, silently counting alnum instead)
    val nonAlnum = length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", ""))
    QualityStats(nTok, stats.getField("char_sum").cast("double") / nTok, nStop,
      nonAlnum.cast("double") / length(col("text")))
  }

  /** The langid argmax expression — ONE definition shared by text_langid
    * and text_lang_confusion (the eval grades exactly the classifier the
    * query ships). All marker-hit counts come from ONE TokenStats pass;
    * array_max over (hits, lang) structs ties to the lexicographically
    * largest lang, mirrored by the oracle's CASE order fr>es>en>de. */
  private def predictedLang: Column = {
    val langs = LangMarkers.toSeq.sortBy(_._1)
    val stats = graft.functions.TokenStats.token_stats(
      tokens(col("text")), langs.map(_._2))
    val scored = langs.zipWithIndex.map { case ((lang, _), i) =>
      struct(stats.getField("hits").getItem(i).as("hits"),
        lit(lang).as("lang"))
    }
    when(array_max(array(scored: _*)).getField("hits") > 0,
      array_max(array(scored: _*)).getField("lang"))
      .otherwise("und")
  }

  /** The keep/drop rule stack shared by text_quality_filter and the
    * corpus_curation pipeline (ONE definition, like qualityStats — the
    * filter report and the pipeline gate can never silently diverge).
    * Bounds tuned to discriminate on this corpus (tokens 10-99, mean
    * length 3.7-5.3, symbol-free): the short-doc and no-stopword rules
    * actually fire; the others guard the degenerate directions. */
  private def qualityRule: Column = {
    val q = qualityStats
    when(q.nTok < 20, "too_few_tokens")
      .when(q.nTok > 5000, "too_many_tokens")
      .when(q.meanLen < 2.0, "mean_token_too_short")
      .when(q.meanLen > 12.0, "mean_token_too_long")
      .when(q.symbolRatio > 0.3, "too_many_symbols")
      .when(q.nStop === 0, "no_stopwords")
      .otherwise("pass")
  }

  /** Shared 8-round BPE learner (bpe_train_merges / bpe_apply_encode —
    * one recurrence, so the trainer and the encoder cannot drift):
    * returns (merges, finalTypes) where merges = (step, lhs, rhs, cnt)
    * and finalTypes = (w, c, seg) with seg the space-delimited symbol
    * string after all 8 merges. Word types are filtered to ^[a-z]+$ (the
    * documented segmentation contract — the delimiter can then never
    * occur inside a symbol). Lineage discipline (r18): the base type table
    * is checkpointed once and each round checkpoints only its 1-row
    * argmax; the re-segmentation chain stays lazy (see the loop note). */
  private def bpeLearn(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val words = documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // r18: ONE scheduled job per merge round instead of two. The previous
    // spelling eagerly checkpointed the 1-row argmax AND the re-segmented
    // type table separately (16 jobs per bpeLearn); on a Heaps-law-
    // sublinear type table the per-job scheduling floor, not data,
    // dominated. The argmax now stays lazy and rides INTO the vocab
    // checkpoint as three constant columns (a, b, cnt — ~a dozen bytes per
    // vocab row): the broadcast executes exactly once, inside that round's
    // checkpoint job, and the merge report reads the constants back from
    // the materialized table (limit(1) on a checkpoint — no recompute, no
    // broadcast replay). A lazy-chain variant (no vocab checkpoints at
    // all) measured SLOWER: every later round re-executed every earlier
    // round's broadcast exchange (~28 tiny collect jobs per learn).
    var v = words.select(col("w"), col("c"),
      concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("seg"))
      .localCheckpoint()
    val merges = (0 until 8).map { k =>
      val best = v
        .select(col("c"), split(trim(col("seg")), " ").as("l"))
        .filter(size(col("l")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(0, size(l)-2), " +
            "i -> named_struct('a', l[i], 'b', l[i+1]))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("c").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
      // drop the previous round's constants before the next crossJoin so
      // (a, b, cnt) stay unambiguous
      v = v.select("w", "c", "seg").crossJoin(broadcast(best))
        .select(col("w"), col("c"), expr(
          "replace(seg, concat(' ', a, ' ', b, ' '), " +
            "concat(' ', a, b, ' '))").as("seg"),
          col("a"), col("b"), col("cnt"))
        .localCheckpoint()
      v.limit(1).select(lit(k).as("step"), col("a").as("lhs"),
        col("b").as("rhs"), col("cnt"))
    }
    (merges.reduce(_ unionAll _), v.select("w", "c", "seg"))
  }

  def queries: Seq[Query] = Seq(
    // E6 — corpus stats per (lang, source): doc counts, token counts, exact
    // char sums, stable mean chars (int sums + one double division).
    Query("text_stats", (s, d) => {
      documents(s, d)
        .withColumn("n_tokens", size(tokens(col("text"))))
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("lang", "source")
    }, oracle =
      """SELECT lang, source, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    // E7 — multimodal equi-join: text table × vector table, predicates on
    // both modalities. doc_id=vec_id is the co-partitioning key at scale.
    Query("multimodal_join", (s, d) => {
      val doc = documents(s, d); val emb = embeddings(s, d)
      doc.join(emb, doc("doc_id") === emb("vec_id"))
        .filter(col("lang").isin("es", "de") && col("label") < 5)
        .select(doc("doc_id"), col("lang"), col("label"), col("n_chars"),
          size(col("embedding")).as("dim"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, lang, label, n_chars,
        |       CAST(len(embedding) AS INT) AS dim
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |WHERE lang IN ('es','de') AND label < 5
        |ORDER BY doc_id""".stripMargin),
    // Quality scoring (builder mandate): length/punctuation/stopword ratios
    // + mean token length, all exact-int or single-division arithmetic.
    Query("text_quality", (s, d) => {
      val q = qualityStats
      documents(s, d).select(
          col("doc_id"),
          col("n_chars"),
          q.nTok.as("n_tokens"),
          q.meanLen.as("mean_token_len"),
          (q.nStop.cast("double") / q.nTok).as("stopword_ratio"),
          q.symbolRatio.as("non_alnum_ratio"))
        .orderBy("doc_id")
    }, oracle =
      s"""SELECT doc_id, n_chars,
        |       CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
        |       CAST(list_aggregate(list_transform(str_split(text, ' '), t -> length(t)), 'sum') AS DOUBLE)
        |         / len(str_split(text, ' ')) AS mean_token_len,
        |       CAST(len(list_filter(str_split(text, ' '),
        |                t -> list_contains($OracleStopwords, t))) AS DOUBLE)
        |         / len(str_split(text, ' ')) AS stopword_ratio,
        |       CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        |         / length(text) AS non_alnum_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Token counting, whitespace + BPE-ish estimate (~4 chars/subword,
    // ceil per token — deterministic integer math, fused into the
    // TokenStats kernel: ceil(len/4.0) == (len+3)/4 for int lengths).
    Query("text_tokens_bpe", (s, d) => {
      val stats = graft.functions.TokenStats.token_stats(
        tokens(col("text")), Seq.empty)
      documents(s, d).select(
          col("doc_id"),
          stats.getField("n_tok").as("ws_tokens"),
          stats.getField("bpe_sum").as("bpe_tokens"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |       CAST(len(str_split(text, ' ')) AS INT) AS ws_tokens,
        |       CAST(list_aggregate(list_transform(str_split(text, ' '),
        |                t -> CAST(ceil(length(t) / 4.0) AS BIGINT)), 'sum') AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    // BPE merge TRAINING (round 12) — the vocabulary LEARNER behind
    // text_tokens_bpe's counting heuristic (Sennrich/Haddow/Birch 2016):
    // greedily merge the most frequent adjacent symbol pair, 8 rounds.
    // The scale move (also how HF tokenizers train): BPE statistics are a
    // function of WORD TYPES × frequency, not corpus positions — one
    // corpus scan folds 100 TB into a vocabulary-sized (Heaps-law
    // sublinear) type table, and every round after that touches only the
    // type table: one map-side-combinable pair count, a 1-row argmax
    // broadcast, and a map-only merge apply. Segmentations are
    // space-delimited symbol strings (' l o w '); applying merge (a,b) is
    // replace(' a b ' → ' ab ') — leftmost non-overlapping in BOTH
    // engines, and a symbol's inner characters can never false-match
    // because they lack the surrounding delimiters. Restricted to
    // ^[a-z]+$ word types so the delimiter cannot occur inside a symbol
    // (the documented segmentation contract; production swaps in a
    // byte-level pre-tokenizer). Ties break (cnt DESC, lhs, rhs) — fully
    // deterministic; the oracle unrolls the identical 8-round recurrence
    // (the HITS/pagerank precedent) and the fixture yields genuine
    // compositional merges (e+r→er, then m+er→mer).
    Query("bpe_train_merges", (s, d) => bpeLearn(s, d)._1.orderBy("step"), oracle = {
      val union = (0 until 8).map(k => s"SELECT * FROM m$k")
        .mkString(" UNION ALL ")
      s"""WITH $bpeOracleCtes
         |SELECT step, lhs, rhs, cnt FROM ($union) ORDER BY step""".stripMargin
    }),
    // BPE ENCODE (round 12) — the inference half of bpe_train_merges,
    // sharing the SAME bpeLearn recurrence (the retrieval_eval_ndcg
    // cannot-drift principle): re-segment every corpus token under the 8
    // learned merges and report per-document whitespace vs BPE token
    // counts. The apply is a vocabulary-sized lookup, never a per-token
    // re-derivation: the learner's final type table carries each word
    // type's symbol count, and the corpus pass is explode → type-table
    // equi-join → per-doc sum (map-side-combinable). Tokens outside the
    // ^[a-z]+$ segmentation contract count 1 unsegmented (the byte-level
    // pre-tokenizer's job in production).
    Query("bpe_apply_encode", (s, d) =>
      bpeDocEncode(s, d).select("doc_id", "n_ws", "n_bpe")
        .orderBy("doc_id"), oracle =
      s"""WITH $bpeOracleCtes,
         |seg8 AS (SELECT w, len(str_split(trim(seg), ' ')) AS n_sub FROM v8),
         |tok AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> '')
         |SELECT t.doc_id, COUNT(*) AS n_ws,
         |       CAST(SUM(CASE WHEN s.n_sub IS NOT NULL THEN s.n_sub
         |                     ELSE 1 END) AS BIGINT) AS n_bpe
         |FROM tok t LEFT JOIN seg8 s ON t.w = s.w
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
    // Tokenizer fertility by language (round 14b): tokens-per-word and
    // OOV share per lang under the corpus's own BPE — THE audit that
    // exposes tokenizer bias before training (a language at fertility 2×
    // pays 2× the compute per word and fits half the content per
    // context window; the vocab here learns on ^[a-z]+$ types, so
    // non-Latin text surfaces as the high OOV share this report exists
    // to catch). Shares bpeDocEncode with bpe_apply_encode — the audit
    // describes exactly the encoder the engine ships. q6 ratios by
    // integer DIV on exact sums. 100 TB: the per-doc table re-aggregates
    // map-side-combinably to |langs| rows; nothing new scans the corpus.
    Query("tokenizer_fertility", (s, d) =>
      bpeDocEncode(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_ws")).as("n_words"),
          sum(col("n_bpe")).as("n_tokens"),
          sum(col("n_oov")).as("n_oov"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
          expr("n_tokens * 1000000 DIV n_words").as("fertility_q6"),
          expr("n_oov * 1000000 DIV n_words").as("oov_q6"))
        .orderBy("lang"), oracle =
      // the same vocab/encode CTEs re-aggregated per language; the q6
      // ratios divide exact sums
      s"""WITH $bpeOracleCtes,
         |seg8 AS (SELECT w, len(str_split(trim(seg), ' ')) AS n_sub FROM v8),
         |tok AS (
         |  SELECT doc_id, lang, w FROM (
         |    SELECT doc_id, lang, unnest(str_split(text, ' ')) AS w
         |    FROM documents)
         |  WHERE w <> ''),
         |perdoc AS (
         |  SELECT doc_id, lang, COUNT(*) AS n_ws,
         |         SUM(CASE WHEN s.n_sub IS NOT NULL THEN s.n_sub
         |                  ELSE 1 END) AS n_bpe,
         |         SUM(CASE WHEN s.n_sub IS NULL THEN 1 ELSE 0 END) AS n_oov
         |  FROM tok t LEFT JOIN seg8 s ON t.w = s.w
         |  GROUP BY doc_id, lang)
         |SELECT lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_ws) AS BIGINT) AS n_words,
         |       CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
         |       CAST(SUM(n_bpe) * 1000000 // SUM(n_ws) AS BIGINT)
         |         AS fertility_q6,
         |       CAST(SUM(n_oov) * 1000000 // SUM(n_ws) AS BIGINT)
         |         AS oov_q6
         |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin),
    // Language-ID heuristic: argmax of marker-hit counts, 'und' when nothing
    // matches. Oracle-checked — the oracle's hit columns come from the same
    // marker lexicon, and array_max over (hits, lang) structs ties to the
    // lexicographically-largest lang, mirrored by the CASE order fr>es>en>de.
    Query("text_langid", (s, d) => {
      documents(s, d).select(
          col("doc_id"), col("lang").as("actual_lang"),
          predictedLang.as("predicted_lang"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH h AS (
        |  SELECT doc_id, lang AS actual_lang,
        |$OracleLangHits
        |  FROM documents)
        |SELECT doc_id, actual_lang,
        |  CASE WHEN greatest(h_en,h_es,h_de,h_fr) = 0 THEN 'und'
        |       WHEN h_fr = greatest(h_en,h_es,h_de,h_fr) THEN 'fr'
        |       WHEN h_es = greatest(h_en,h_es,h_de,h_fr) THEN 'es'
        |       WHEN h_en = greatest(h_en,h_es,h_de,h_fr) THEN 'en'
        |       ELSE 'de' END AS predicted_lang
        |FROM h ORDER BY doc_id""".stripMargin),
    // Language-ID CONFUSION MATRIX (round 12): the model-eval readout for
    // the langid heuristic — per (actual, predicted) cell counts plus the
    // row share n·10⁶ DIV actual-total in q6 integer fixed point (the
    // diagonal cells' share IS per-language recall). Predicted comes from
    // the SAME factored predictedLang expression text_langid ships, so
    // the eval can never drift from the classifier it grades (the
    // retrieval_eval_ndcg principle applied to the text surface).
    // 100 TB: one TokenStats scan + a |langs|²-bounded map-side agg; row
    // totals via a window over that tiny aggregate.
    Query("text_lang_confusion", (s, d) => {
      val cells = documents(s, d)
        .select(col("lang").as("actual_lang"),
          predictedLang.as("predicted_lang"))
        .groupBy("actual_lang", "predicted_lang")
        .agg(count(lit(1)).as("n"))
      cells
        .withColumn("actual_total",
          sum(col("n")).over(Window.partitionBy("actual_lang")))
        .select(col("actual_lang"), col("predicted_lang"), col("n"),
          expr("n * 1000000 DIV actual_total").as("share_q6"))
        .orderBy("actual_lang", "predicted_lang")
    }, oracle =
      // same CASE-chain classifier as text_langid's oracle, grouped into
      // the confusion matrix with q6 row shares
      s"""WITH h AS (
        |  SELECT lang AS actual_lang,
        |$OracleLangHits
        |  FROM documents),
        |p AS (
        |  SELECT actual_lang,
        |    CASE WHEN greatest(h_en,h_es,h_de,h_fr) = 0 THEN 'und'
        |         WHEN h_fr = greatest(h_en,h_es,h_de,h_fr) THEN 'fr'
        |         WHEN h_es = greatest(h_en,h_es,h_de,h_fr) THEN 'es'
        |         WHEN h_en = greatest(h_en,h_es,h_de,h_fr) THEN 'en'
        |         ELSE 'de' END AS predicted_lang
        |  FROM h),
        |cells AS (
        |  SELECT actual_lang, predicted_lang, COUNT(*) AS n
        |  FROM p GROUP BY 1, 2)
        |SELECT actual_lang, predicted_lang, n,
        |       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY actual_lang)
        |            AS BIGINT) AS share_q6
        |FROM cells ORDER BY actual_lang, predicted_lang""".stripMargin),
    // Document fingerprint via the custom codegen'd rolling-hash expression
    // (also cross-checked against the interpreted path in a spec). The
    // polynomial-mod-2^64 fold is spelled out in the DuckDB oracle with
    // HUGEINT arithmetic, so even the custom hash is differentially checked.
    Query("doc_fingerprint", (s, d) => {
      documents(s, d)
        .select(col("doc_id"), rolling_hash(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }, oracle =
      // h = fold (h*31 + byte) over bytes last-to-first, mod 2^64 via natural
      // long wraparound — replicated with HUGEINT modular arithmetic and
      // mapped back to the signed BIGINT range.
      """SELECT doc_id,
        |  CAST(CASE WHEN m > 9223372036854775807::HUGEINT
        |            THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT) AS fingerprint
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(0::HUGEINT,
        |        list_transform(range(length(text), 0, -1), i -> ord(text[i:i])::HUGEINT)),
        |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS m
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin),
    // Within-doc repetition (the Gopher repetition signal): the share of
    // word-3-gram occurrences that are repeats of an earlier window.
    // Boilerplate/templated docs score high and are drop candidates.
    // Native window hashing (TokenNgramHashes); counts are exact integers,
    // the ratio one IEEE division — fully hashable.
    Query("text_repetition", (s, d) => {
      val grams = wordNgramHashes(3)
      documents(s, d)
        .select(col("doc_id"), size(grams).as("n_grams"),
          size(array_distinct(grams)).as("n_distinct"))
        .withColumn("dup_ratio",
          (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
        .orderBy("doc_id")
    }, oracle =
      // The oracle counts distinct PLAIN 3-gram strings; the engine counts
      // distinct window hashes — equal absent a 64-bit collision.
      """WITH g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, greatest(len(str_split(text,' ')) - 2, 1) + 1),
        |                        i -> array_to_string(str_split(text,' ')[i:i+2], ' ')) AS grams
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(grams) AS INT) AS n_grams,
        |       CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
        |       CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams) AS dup_ratio
        |FROM g ORDER BY doc_id""".stripMargin),
    // Quality-FILTER verdicts (training-data pipeline op): the keep/drop
    // decision layered on the raw stats, Gopher/C4-style rule stack — token
    // count bounds, mean token length bounds, stopword presence, symbol
    // ratio cap. Emits keep + the first failing rule (the triage a corpus
    // card reports). Rules are exact integer/single-division arithmetic so
    // the verdict is oracle-hashable.
    Query("text_quality_filter", (s, d) => {
      val rule = qualityRule
      documents(s, d)
        .select(col("doc_id"), rule.as("verdict"),
          (rule === "pass").as("keep"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH $OracleQualityCte,
        |v AS (
        |  SELECT doc_id,
        |         CASE WHEN n_tok < 20 THEN 'too_few_tokens'
        |              WHEN n_tok > 5000 THEN 'too_many_tokens'
        |              WHEN mean_len < 2.0 THEN 'mean_token_too_short'
        |              WHEN mean_len > 12.0 THEN 'mean_token_too_long'
        |              WHEN symbol_ratio > 0.3 THEN 'too_many_symbols'
        |              WHEN n_stop = 0 THEN 'no_stopwords'
        |              ELSE 'pass' END AS verdict
        |  FROM q)
        |SELECT doc_id, verdict, verdict = 'pass' AS keep
        |FROM v ORDER BY doc_id""".stripMargin),
    // Deterministic train/val/test split (training-data pipeline op): the
    // split must be a pure function of the stable document id — never
    // rand() — so reruns, retries, and engines agree row-for-row and a doc
    // can never migrate between splits as the corpus grows (splitRule);
    // output is the per-language stratification report a dataset card
    // needs.
    Query("sample_split", (s, d) =>
      documents(s, d)
        .withColumn("split", splitRule)
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split"), oracle =
      s"""WITH h AS (
        |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |b AS (
        |  SELECT doc_id, lang,
        |    $OracleSplitBucket
        |  FROM h)
        |SELECT lang,
        |       $OracleSplitCase,
        |       COUNT(*) AS n_docs
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin),
    // Decontamination (training-data pipeline op): flag corpus docs sharing
    // any word 8-gram with a benchmark set (docs 0-49 stand in for an eval
    // benchmark). 100 TB shape: the benchmark gram set is small and
    // BROADCAST, so the corpus is never shuffled for the match — only the
    // per-doc count aggregates. 8-gram overlap is the standard
    // contamination test; short docs fall back to their full token string.
    Query("text_decontaminate", (s, d) => {
      // grams travel as 64-bit window hashes (one fused native pass), never
      // as strings — the string form allocates n× the corpus bytes per scan.
      // The DuckDB oracle intersects the plain string grams; counts agree
      // absent a 64-bit collision (same discipline as dedup_ngram_jaccard).
      val grams = documents(s, d).select(col("doc_id"),
        explode(wordNgramHashes(8)).as("g"))
      val bench = grams.filter(col("doc_id") < 50).select("g").distinct()
      val corpus = grams.filter(col("doc_id") >= 50)
      corpus.join(broadcast(bench), Seq("g"))
        .groupBy("doc_id").agg(countDistinct(col("g")).as("n_shared"))
        .orderBy("doc_id")
    }, oracle =
      """WITH toks AS (
        |  SELECT doc_id, str_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, greatest(len(t) - 7, 1) + 1),
        |                               i -> array_to_string(t[i:i+7], ' '))) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 50),
        |corpus AS (SELECT doc_id, g FROM grams WHERE doc_id >= 50)
        |SELECT c.doc_id, COUNT(DISTINCT c.g) AS n_shared
        |FROM corpus c JOIN bench b ON c.g = b.g
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),
    // PII / deny-list scrub (training-data pipeline op): redact emails,
    // long digit runs (phone/account-number shapes) and a configurable
    // deny-list of terms, reporting per-doc match counts + the scrubbed
    // length. Patterns are kept to the regex dialect Java and RE2 share so
    // the DuckDB oracle replays them verbatim. This corpus contains no
    // digits or '@' (PII counts oracle-match at 0 — LlmSpec exercises the
    // email/number paths on planted PII); the deny-list terms DO occur, so
    // the scrub itself is non-vacuous. One scan, all codegen'd built-ins.
    Query("text_scrub_pii", (s, d) => {
      val email = TextScrub.EmailPattern
      val num = TextScrub.NumberPattern
      val deny = TextScrub.denyPattern(TextScrub.DefaultDenyList)
      documents(s, d).select(
          col("doc_id"),
          regexp_count(col("text"), lit(email)).as("n_email"),
          regexp_count(col("text"), lit(num)).as("n_number"),
          regexp_count(col("text"), lit(deny)).as("n_denied"),
          length(TextScrub.scrub(col("text"))).as("n_chars_scrubbed"))
        .orderBy("doc_id")
    }, oracle =
      // Same patterns as TextScrub verbatim (Java and RE2 agree on this
      // subset); DuckDB regexp_replace needs the 'g' flag to match Spark's
      // replace-all default. Sequential email→number→deny order preserved.
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '[0-9][0-9 -]{6,}[0-9]')) AS INT) AS n_number,
        |  CAST(len(regexp_extract_all(text, '\b(customer|dup)\b')) AS INT) AS n_denied,
        |  CAST(length(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |        '[0-9][0-9 -]{6,}[0-9]', '[NUM]', 'g'),
        |      '\b(customer|dup)\b', '[TERM]', 'g')) AS INT) AS n_chars_scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Stratified sampling (training-data pipeline op): per-language keep
    // rates applied as a pure function of doc_id (the digits-5-8 draw) —
    // never rand(), so reruns/engines agree row-for-row and rates can be
    // audited. 100 TB shape: one scan, the verdict is per-row arithmetic
    // with no shuffle before the final small report aggregation.
    Query("stratified_sample", (s, d) => {
      val rate = when(col("lang") === "en", 60)
        .when(col("lang").isin("es", "de"), 30)
        .when(col("lang") === "zh", 45)
        .when(col("lang") === "fr", 15)
        .otherwise(20)
      val kept = md5Fold(col("doc_id"), 5) % 100 < rate
      documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(kept.cast("long")).as("n_kept"))
        .orderBy("lang")
    }, oracle =
      // rates must match the Spark when-chain exactly
      s"""WITH h AS (
        |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |b AS (
        |  SELECT lang,
        |    ${oracleMd5Fold(5)} % 100 AS pct,
        |    CASE WHEN lang = 'en' THEN 60
        |         WHEN lang IN ('es','de') THEN 30
        |         WHEN lang = 'zh' THEN 45
        |         WHEN lang = 'fr' THEN 15
        |         ELSE 20 END AS rate
        |  FROM h)
        |SELECT lang, COUNT(*) AS n_total,
        |       CAST(SUM(CASE WHEN pct < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM b GROUP BY lang ORDER BY lang""".stripMargin),
    // Sequence packing (training-data pipeline op): the standard pretraining
    // concat-and-chunk — documents are laid out in a deterministic stream
    // per shard and cut into fixed 512-token blocks; a doc is addressed by
    // its (shard, stream offset, first/last block). 100 TB shape: the
    // running sum is a window WITHIN a shard (8 shards here; thousands in
    // production), never a global orderBy — the packing of each shard is
    // independent, so parallelism scales with the shard count while the
    // layout stays a pure function of doc ids.
    Query("pack_sequences", (s, d) => packedLayout(s, d).orderBy("doc_id"), oracle =
      // '//' is DuckDB's integer floor division
      s"""WITH $OraclePackedLayoutCtes
        |SELECT doc_id, shard, n_tok,
        |       stream_end - n_tok AS "offset",
        |       CAST((stream_end - n_tok) // 512 AS BIGINT) AS block_first,
        |       CAST((stream_end - 1) // 512 AS BIGINT) AS block_last
        |FROM w ORDER BY doc_id""".stripMargin),
    // Packing-efficiency report (round 13) — the QA readout run after
    // `pack_sequences` decides the layout (one shared packedLayout
    // derivation, so the report can never describe a different packing
    // than the one shipped): per shard, the doc/token volume, the block
    // count the concat-and-chunk layout produces, the fill rate
    // tokens/(blocks·512) in q6 (how much of the context-window budget
    // is paid to the final ragged block) and the number of documents
    // straddling a block boundary (the fragmentation a sequence-aware
    // loader masks out). All integers from the layout's own columns.
    // 100 TB shape: one shard-keyed map-side-combinable agg over the
    // layout — 8 result rows; the layout itself is the pack_sequences
    // per-shard window.
    Query("pack_efficiency_report", (s, d) =>
      packedLayout(s, d)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          (max(col("block_last")) + 1).as("n_blocks"),
          sum((col("block_first") =!= col("block_last")).cast("long"))
            .as("n_straddle"))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          col("n_blocks"), (col("n_blocks") * 512).as("capacity"),
          expr("n_tokens * 1000000L DIV (n_blocks * 512)").as("fill_q6"),
          col("n_straddle"))
        .orderBy("shard"), oracle =
      // the pack_sequences CTEs, aggregated per shard
      s"""WITH $OraclePackedLayoutCtes,
        |lay AS (
        |  SELECT shard, n_tok,
        |         CAST((stream_end - n_tok) // 512 AS BIGINT) AS block_first,
        |         CAST((stream_end - 1) // 512 AS BIGINT) AS block_last
        |  FROM w)
        |SELECT shard, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |       CAST(MAX(block_last) + 1 AS BIGINT) AS n_blocks,
        |       CAST((MAX(block_last) + 1) * 512 AS BIGINT) AS capacity,
        |       CAST(SUM(n_tok) * 1000000 // ((MAX(block_last) + 1) * 512)
        |         AS BIGINT) AS fill_q6,
        |       CAST(SUM(CASE WHEN block_first <> block_last THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_straddle
        |FROM lay GROUP BY shard ORDER BY shard""".stripMargin),
    // Data-mix rebalancing (the "sampling weights" step of training-data
    // assembly): given the per-language corpus histogram and a uniform
    // target mix, derive each language's keep rate and expected post-
    // sampling count. Deliberately INTEGER-only arithmetic (percent rates
    // via `div`), so the plan is exact in both engines with no float
    // discipline at all. Shape: one vocabulary-sized aggregate + a 1-row
    // broadcast of the totals — the corpus is scanned once regardless of
    // scale; the actual row sampling would then reuse weighted_sample's
    // md5-digit machinery with these rates.
    Query("corpus_mix_rebalance", (s, d) => {
      val counts = documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val totals = counts.agg(sum(col("n_docs")).as("total_docs"),
        count(lit(1)).as("n_langs"))
      counts.crossJoin(broadcast(totals))
        .withColumn("rate_pct", least(lit(100L),
          expr("(total_docs * 100) div (n_langs * n_docs)")))
        .select(col("lang"), col("n_docs"), col("n_chars"), col("rate_pct"),
          expr("(n_docs * rate_pct) div 100").as("n_expected"))
        .orderBy("lang")
    }, oracle =
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY lang),
        |t AS (
        |  SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
        |         COUNT(*) AS n_langs FROM c),
        |r AS (
        |  SELECT lang, n_docs, n_chars,
        |         CAST(least(100, (total_docs * 100) // (n_langs * n_docs)) AS BIGINT) AS rate_pct
        |  FROM c, t)
        |SELECT lang, n_docs, n_chars, rate_pct,
        |       CAST((n_docs * rate_pct) // 100 AS BIGINT) AS n_expected
        |FROM r ORDER BY lang""".stripMargin),
    // Temperature-scaled language sampling weights (round 12): the data-mix
    // rule multilingual pretraining actually uses (mC4 / XLM-R: p_l ∝
    // (n_l/N)^α flattens the head so low-resource languages survive) —
    // corpus_mix_rebalance's uniform target is the α=0 extreme; this is
    // the production middle. α is pinned at 1/2 because sqrt is IEEE
    // CORRECTLY ROUNDED (deterministic bit-for-bit across engines — the
    // only α family with a transcendental-free implementation; pow(x,0.3)
    // would need the margin discipline). Weight w_l = ⌊√n_l·10⁶⌋ is then
    // exact, and share/quota/factor are pure integer fixed point on the
    // integer Σw — zero floats end-to-end. Budget = N DIV 2 docs. Output:
    // per-language weights, share, quota, and the up/down-sampling factor
    // a sampler would apply (rate machinery = weighted_sample's md5
    // digits). 100 TB shape: one vocabulary-sized aggregate + a 1-row
    // totals broadcast — the corpus is scanned once.
    Query("sample_temperature", (s, d) => {
      val counts = documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w_q6", floor(sqrt(col("n_docs").cast("double"))
          * lit(1.0e6)).cast("long"))
      val totals = counts.agg(sum(col("w_q6")).as("w_sum"),
        sum(col("n_docs")).as("total_docs"))
      counts.crossJoin(broadcast(totals))
        .select(col("lang"), col("n_docs"), col("w_q6"),
          expr("w_q6 * 1000000 DIV w_sum").as("share_q6"),
          expr("(total_docs DIV 2) * w_q6 DIV w_sum").as("quota"),
          expr("((total_docs DIV 2) * w_q6 DIV w_sum) * 1000000 DIV n_docs")
            .as("factor_q6"))
        .orderBy("lang")
    }, oracle =
      // sqrt is IEEE correctly rounded in both engines, so w_q6 is exact;
      // everything downstream is integer // arithmetic
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |         CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT)
        |           AS w_q6
        |  FROM documents GROUP BY lang),
        |t AS (SELECT SUM(w_q6) AS w_sum, SUM(n_docs) AS total_docs FROM c)
        |SELECT lang, n_docs, w_q6,
        |       CAST(w_q6 * 1000000 // w_sum AS BIGINT) AS share_q6,
        |       CAST((total_docs // 2) * w_q6 // w_sum AS BIGINT) AS quota,
        |       CAST(((total_docs // 2) * w_q6 // w_sum) * 1000000 // n_docs
        |            AS BIGINT) AS factor_q6
        |FROM c, t ORDER BY lang""".stripMargin),
    // Gopher-style per-document quality rules (round 13; Rae et al. 2021
    // §A1.1) — the RULE-SET form of quality filtering next to
    // text_quality's raw ratios and text_quality_filter's composite
    // score: each document gets a verdict per named rule at the paper's
    // own thresholds (50 ≤ words ≤ 100k; mean word length in [3, 10];
    // ≥ 2 stopword instances; ≥ 80% alphabetic tokens — the symbol-ratio
    // rules need symbols the whitespace-token fixture cannot carry and
    // are the pre-tokenizer's job). DEVIATION from Rae et al.'s alpha
    // rule, stated: the paper requires ≥80% of words to CONTAIN an
    // alphabetic character; this fixture's tokens are fully-lowercase
    // whitespace words by construction, so the predicate here is the
    // stricter ^[a-z]+$ (fully-alphabetic) — identical verdicts on this
    // corpus, but real-world mixed-case/punctuated tokens would need the
    // contains-alpha form in BOTH engines. ALL integers: the length bound
    // cross-multiplies (3·n ≤ chars ≤ 10·n), the alpha bound likewise
    // (5·alpha ≥ 4·n) — no ratio is ever materialized. n_tok/char_sum/
    // stopword hits come from ONE fused TokenStats pass; the alpha count
    // is the one per-token regex (array filter — bounded by tokens per
    // doc, map-only). 100 TB shape: zero shuffles before the final sort —
    // the whole rule set is a projection.
    Query("quality_gopher_rules", (s, d) => {
      val stopLex = Seq("the", "and", "of", "to", "in",
        "is", "on", "for", "with", "a")
      val st = graft.functions.TokenStats.token_stats(
        tokens(col("text")), Seq(stopLex))
      documents(s, d)
        .select(col("doc_id"),
          st.getField("n_tok").cast("long").as("n_tok"),
          st.getField("char_sum").as("char_sum"),
          element_at(st.getField("hits"), 1).cast("long").as("stop_hits"),
          size(filter(tokens(col("text")), t => t.rlike("^[a-z]+$")))
            .cast("long").as("n_alpha"))
        .select(col("doc_id"), col("n_tok"), col("char_sum"),
          col("stop_hits"), col("n_alpha"),
          (col("n_tok") >= 50 && col("n_tok") <= 100000).cast("int")
            .as("wc_ok"),
          (lit(3) * col("n_tok") <= col("char_sum") &&
            col("char_sum") <= lit(10) * col("n_tok")).cast("int")
            .as("mwl_ok"),
          (col("stop_hits") >= 2).cast("int").as("stop_ok"),
          (lit(5) * col("n_alpha") >= lit(4) * col("n_tok")).cast("int")
            .as("alpha_ok"))
        .withColumn("gopher_pass",
          col("wc_ok") * col("mwl_ok") * col("stop_ok") * col("alpha_ok"))
        .orderBy("doc_id")
    }, oracle =
      // one fused token pass per doc; every rule is an integer
      // cross-multiplication — no ratio is materialized in either engine
      """WITH s AS (
        |  SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_tok,
        |         CAST(list_aggregate(list_transform(toks, x -> length(x)),
        |           'sum') AS BIGINT) AS char_sum,
        |         CAST(len(list_filter(toks, x -> list_contains(
        |           ['the','and','of','to','in','is','on','for','with','a'],
        |           x))) AS BIGINT) AS stop_hits,
        |         CAST(len(list_filter(toks,
        |           x -> regexp_matches(x, '^[a-z]+$'))) AS BIGINT) AS n_alpha
        |  FROM s)
        |SELECT doc_id, n_tok, char_sum, stop_hits, n_alpha,
        |       CAST(CASE WHEN n_tok BETWEEN 50 AND 100000
        |            THEN 1 ELSE 0 END AS INT) AS wc_ok,
        |       CAST(CASE WHEN 3 * n_tok <= char_sum
        |                  AND char_sum <= 10 * n_tok
        |            THEN 1 ELSE 0 END AS INT) AS mwl_ok,
        |       CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS INT)
        |         AS stop_ok,
        |       CAST(CASE WHEN 5 * n_alpha >= 4 * n_tok
        |            THEN 1 ELSE 0 END AS INT) AS alpha_ok,
        |       CAST((CASE WHEN n_tok BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)
        |          * (CASE WHEN 3 * n_tok <= char_sum
        |                   AND char_sum <= 10 * n_tok THEN 1 ELSE 0 END)
        |          * (CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END)
        |          * (CASE WHEN 5 * n_alpha >= 4 * n_tok THEN 1 ELSE 0 END)
        |         AS INT) AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin),
    // Per-source epoch schedule under a token budget (round 13) — the
    // step AFTER sample_temperature's weights: production mixes don't
    // just weight sources, they decide how many EPOCHS of each source a
    // run consumes under a fixed total budget, with a max-epoch cap so a
    // tiny high-weight source isn't repeated into memorization (the
    // ~4-epoch rule of thumb multilingual/code mixes use). Budget = one
    // pass over the corpus (total_chars); weights are the α = 1/2
    // temperature family on CHARS (w = ⌊√n_chars·10⁶⌋ — sqrt is IEEE
    // correctly rounded, the sample_temperature discipline); everything
    // after is integer fixed point: share_q6, quota_chars = B·w DIV Σw,
    // epochs_q6 = min(4·10⁶, quota·10⁶ DIV n_chars), effective_chars.
    // Magnitude (round 14, ADVICE fix): B·w_q6 ≈ B^1.5·10⁶ with a
    // dominant source, which leaves a long near B ≈ 10⁹ chars — NOT the
    // 10¹² a B·w reading suggests — so every product below runs in
    // DECIMAL(38,0) now (the oracle mirrors with HUGEINT): Spark would
    // wrap a long silently where DuckDB raises, the worst cross-engine
    // divergence class. DIV on decimals still yields an exact BIGINT.
    // 100 TB shape: one vocabulary-sized agg +
    // a 1-row totals broadcast — the corpus is scanned once.
    Query("mix_epochs_schedule", (s, d) => epochSchedule(s, d).orderBy("lang"), oracle =
      // the sample_temperature sqrt discipline on CHARS + integer fixed
      // point for quota/epochs/effective
      s"""WITH $MixScheduleCtes
         |SELECT lang, n_docs, n_chars, share_q6, quota_chars, epochs_q6,
         |       effective_chars
         |FROM sched ORDER BY lang""".stripMargin),
    // MATERIALIZE the epoch schedule into per-document repeat counts
    // (round 14) — the step between mix_epochs_schedule's per-source
    // epochs_q6 and an actual training shard list: each doc repeats
    // ⌊epochs⌋ times plus one more with probability frac(epochs),
    // decided DETERMINISTICALLY by the doc's digits-29-32 draw.
    // The fractional draw is an exact integer cross-multiply —
    // u16·10⁶ < frac_q6·2¹⁶ — so both engines agree bit-for-bit; the
    // acceptance rate is the 2⁻¹⁶-dyadic floor of frac (bias ≤ 1.6e-5,
    // documented — production widens the digit window for finer grain).
    // Shares epochSchedule with the schedule key — the materialization
    // can never disagree with the published mix. 100 TB: one broadcast
    // |langs|-row schedule join + a per-row hash, zero extra shuffles.
    Query("mix_materialize_repeats", (s, d) =>
      materializedRepeats(s, d)
        .select("doc_id", "lang", "n_repeats")
        .orderBy("doc_id"), oracle =
      // the same sched CTE (one spelling) joined onto docs; the fractional
      // draw is the exact integer cross-multiply
      s"""WITH $MaterializeRepeatsCtes
         |SELECT doc_id, lang, n_repeats FROM rep
         |ORDER BY doc_id""".stripMargin),
    // SHARD the materialized instances (round 14b) — the last step to an
    // actual training shard list: each (doc, copy) instance lands in one
    // of 8 shards by the digits-1-4 draw of 'doc_id#copy' mod 8, so a
    // document's repeats SPREAD across shards (an epoch-major layout
    // would put copy k of everything in shard k and shard sizes would
    // inherit the fractional-draw skew). The report is the per-shard
    // balance audit (instances, distinct docs, chars) a capacity planner
    // reads before launching; the gate's hash match proves both engines
    // materialize AND shard identically. 100 TB: the explode is
    // expression-level fan-out (≤4 copies/doc by the epoch cap), the
    // shard hash is per-row, and the only shuffles are the 8-group agg
    // and its exact distinct — no instance-level global ordering anywhere.
    Query("mix_shard_assignment", (s, d) => {
      val inst = materializedRepeats(s, d)
        .filter(col("n_repeats") >= 1)
        .withColumn("copy", explode(sequence(lit(1L), col("n_repeats"))))
      inst.withColumn("shard",
          (md5Fold(concat(col("doc_id").cast("string"), lit("#"),
            col("copy").cast("string")), 1) % 8).cast("long"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_instances"),
          count_distinct(col("doc_id")).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("shard")
    }, oracle =
      // the same rep CTE fanned out by generate_series; the shard hash is
      // md5 of the NEW 'doc_id#copy' domain, digits 1-4 mod 8
      s"""WITH $MaterializeRepeatsCtes,
         |inst AS (
         |  SELECT doc_id, n_chars, CAST(t.copy AS BIGINT) AS copy
         |  FROM rep, UNNEST(range(1, CAST(n_repeats AS BIGINT) + 1)) AS t(copy)
         |  WHERE n_repeats >= 1)
         |SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
         |         CAST(copy AS VARCHAR)), 1, 4)) AS BIGINT) % 8 AS shard,
         |       COUNT(*) AS n_instances,
         |       COUNT(DISTINCT doc_id) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM inst GROUP BY shard ORDER BY shard""".stripMargin),
    // Per-document bigram log-likelihood (round 12): the CCNet filter
    // SIGNAL — score every doc under the corpus's own add-one-smoothed
    // bigram LM (the text_bigram_lm table, trained on the full corpus) and
    // low-likelihood docs become drop/tail candidates
    // (quality_buckets_lang then cuts per-language). Each bigram TYPE's
    // log-prob ln((c12+1)/(c1+V)) is one ln of an exact rational, half-up
    // quantized to q6 (spacing 1e-6: measured min boundary distance
    // ~1.1e-9 across all types × SFs, ~6 orders above libm ulp noise —
    // PropertySpec pins it; q8 measured too tight at ~2.8e-12), so the
    // per-doc score Σ lp_q6 over its bigram INSTANCES is an
    // order-independent exact long. 100 TB shape: bigram instances expand
    // map-side (bigramPairs); the type table is vocab²-bounded and
    // broadcast onto the instance stream; the doc sum is one
    // map-side-combinable agg keyed by doc_id. Docs shorter than 2 tokens
    // surface as n_bigrams = 0 / ll_q6 = 0 rather than dropping out.
    Query("perplexity_bigram_doc", (s, d) => {
      // The instance table is checkpointed once for its three consumers
      // (c12, c1, the per-doc sum join) instead of re-deriving per
      // consumer (r17, with the map-side pairs: warm sf0.1 noop
      // 1.8-2.0 s → ~0.6 s).
      val big = bigramPairs(documents(s, d)).localCheckpoint()
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
      val vocab = documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .agg(count_distinct(col("w")).as("v"))
      val lp = c12.join(c1, "w1").crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"),
          floor(log((col("c12") + 1).cast("double") /
              (col("c1") + col("v")).cast("double")) * lit(1.0e6) + lit(0.5))
            .cast("long").as("lp_q6"))
      documents(s, d).select(col("doc_id"))
        .join(big.join(broadcast(lp), Seq("w1", "w2"))
            .groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"),
              sum(col("lp_q6")).as("ll_q6")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("ll_q6"), lit(0L)).as("ll_q6"))
        .orderBy("doc_id")
    }, oracle =
      // per-TYPE ln of an exact rational, q6 half-up (floor(x·1e6+0.5)),
      // then an integer sum over the doc's bigram instances
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
        |big AS (
        |  SELECT doc_id, ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2
        |  FROM d, UNNEST(range(1, len(ws))) AS t(i)),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w) AS v
        |      FROM (SELECT unnest(ws) AS w FROM d) t),
        |lp AS (
        |  SELECT w1, w2,
        |         CAST(floor(ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))
        |                    * 1e6 + 0.5) AS BIGINT) AS lp_q6
        |  FROM c12 JOIN c1 USING (w1) CROSS JOIN v),
        |score AS (
        |  SELECT big.doc_id, COUNT(*) AS n_bigrams, SUM(lp.lp_q6) AS ll_q6
        |  FROM big JOIN lp USING (w1, w2) GROUP BY big.doc_id)
        |SELECT d.doc_id,
        |       COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |       CAST(COALESCE(s.ll_q6, 0) AS BIGINT) AS ll_q6
        |FROM d LEFT JOIN score s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // Context-window chunking with overlap (the other pretraining layout,
    // besides pack_sequences' concat-and-chunk): each document's token
    // stream is cut into windows of 64 tokens advancing by a 48-token
    // stride, so consecutive chunks share a 16-token overlap — the RAG /
    // long-doc-training shape. The fan-out is a sequence() explode over
    // per-row arithmetic: expression-level, zero shuffle before the final
    // sort, and chunk count/boundaries are a pure function of the token
    // count (ceil division spelled as `div` so no float enters).
    Query("text_chunk_overlap", (s, d) => {
      val W = 64; val S = 48
      documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("n_chunks", when(col("n") <= W, lit(1))
          .otherwise(lit(1) + expr(s"(n - $W + ${S - 1}) div $S")))
        .withColumn("chunk_idx", explode(sequence(lit(0), col("n_chunks") - 1)))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * S + 1).as("start_tok"),
          least(lit(W), col("n") - col("chunk_idx") * S).as("chunk_len"),
          array_join(slice(col("toks"), col("chunk_idx") * S + 1, lit(W)), " ")
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    }, oracle =
      // DuckDB list slicing toks[a:b] is 1-based inclusive and clamps at the
      // list end — the same semantics as Spark's slice(toks, start, 64)
      """WITH t AS (
        |  SELECT doc_id, str_split(text, ' ') AS toks,
        |         len(str_split(text, ' ')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n,
        |         CASE WHEN n <= 64 THEN 1 ELSE 1 + (n - 64 + 47) // 48 END AS n_chunks
        |  FROM t),
        |x AS (
        |  SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |       chunk_idx * 48 + 1 AS start_tok,
        |       least(64, n - chunk_idx * 48) AS chunk_len,
        |       array_to_string(toks[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)], ' ') AS chunk_text
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin),
    // Sub-document dedup (the RefinedWeb line/paragraph-level shape):
    // whole-doc dedup misses the boilerplate CASE — documents that are
    // unique overall but share repeated blocks (headers, nav, license
    // text). Cut every doc into non-overlapping 64-token chunks
    // (text_chunk_overlap's arithmetic with stride = width), hash each
    // chunk, and a chunk is boilerplate iff its hash repeats anywhere in
    // the corpus. Per-doc verdict: chunk counts + an integer boilerplate
    // percentage. Scale shape: three exchanges — hash on chunk_hash for
    // the dup window, hash on doc_id for the verdict aggregate, range for
    // the contract sort — and every row crossing them is (doc_id, 32-byte
    // digest), never text; hashing BEFORE anything moves is what makes
    // sub-document dedup affordable at 100 TB.
    Query("dedup_chunk_boilerplate", (s, d) => {
      val W = 64
      val wHash = Window.partitionBy("chunk_hash")
      documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("n_chunks", expr(s"(n + ${W - 1}) div $W"))
        .withColumn("idx", explode(sequence(lit(0), col("n_chunks") - 1)))
        .select(col("doc_id"),
          sha2(array_join(
            slice(col("toks"), col("idx") * W + 1, lit(W)), " "), 256)
            .as("chunk_hash"))
        .withColumn("dup", (count(lit(1)).over(wHash) > 1).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"), sum(col("dup")).as("n_dup_chunks"))
        .withColumn("boilerplate_pct",
          expr("(100 * n_dup_chunks) div n_chunks"))
        .orderBy("doc_id")
    }, oracle =
      """WITH t AS (
        |  SELECT doc_id, str_split(text, ' ') AS toks,
        |         len(str_split(text, ' ')) AS n
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, toks,
        |         unnest(range(0, (n + 63) // 64)) AS idx
        |  FROM t),
        |h AS (
        |  SELECT doc_id,
        |         sha256(array_to_string(toks[(idx*64 + 1):(idx*64 + 64)], ' ')) AS chunk_hash
        |  FROM x),
        |m AS (
        |  SELECT doc_id, chunk_hash,
        |         CASE WHEN COUNT(*) OVER (PARTITION BY chunk_hash) > 1
        |              THEN 1 ELSE 0 END AS dup
        |  FROM h)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |       CAST(SUM(dup) AS BIGINT) AS n_dup_chunks,
        |       (100 * CAST(SUM(dup) AS BIGINT)) // COUNT(*) AS boilerplate_pct
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // The capstone: the whole training-data curation pipeline as ONE
    // composed dataflow — quality gate → exact dedup → benchmark
    // decontamination → deterministic split — ending in the (lang, split)
    // dataset-card report. Every stage reuses the SAME shared definition
    // its standalone query uses (qualityRule, sha2 min-per-hash, broadcast
    // 8-gram benchmark set, splitRule), so the pipeline is exactly the
    // composition of the audited operators. 100 TB shape: three scans of
    // the corpus (stats+gate, gram explode, report), one window shuffle
    // keyed by content hash, one broadcast semi-join — no quadratic stage.
    Query("corpus_curation", (s, d) => {
      val docs = documents(s, d)
      // stage 1: quality gate
      val kept = docs.filter(qualityRule === "pass")
      // stage 2: exact dedup — keep the smallest doc_id per content hash
      val wHash = Window.partitionBy("cc_h").orderBy("doc_id")
      val deduped = kept.withColumn("cc_h", sha2(col("text"), 256))
        .withColumn("cc_rn", row_number().over(wHash))
        .filter(col("cc_rn") === 1).drop("cc_h", "cc_rn")
      // stage 3: decontamination vs the benchmark docs (0-49, full corpus —
      // a benchmark doc that failed quality is still contamination)
      val grams8 = wordNgramHashes(8)
      val bench = docs.filter(col("doc_id") < 50)
        .select(explode(grams8).as("g")).distinct()
      val corpusGrams = deduped.filter(col("doc_id") >= 50)
        .select(col("doc_id"), explode(grams8).as("g"))
      val contaminated = corpusGrams.join(broadcast(bench), Seq("g"))
        .select("doc_id").distinct()
      val clean = deduped.filter(col("doc_id") >= 50)
        .join(contaminated, Seq("doc_id"), "left_anti")
      // stage 4: deterministic split
      clean
        .withColumn("split", splitRule)
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast("long")).as("sum_tokens"))
        .orderBy("lang", "split")
    }, oracle =
      // Each CTE replays the corresponding standalone oracle verbatim:
      // quality rule stack (text_quality_filter), sha256 min-per-hash
      // (dedup_exact_text), string 8-grams vs the engine's 64-bit window
      // hashes (text_decontaminate — equal absent a collision), the split
      // (sample_split).
      s"""WITH $OracleQualityCte,
        |kept AS (
        |  SELECT d.* FROM documents d JOIN q USING (doc_id)
        |  WHERE NOT (q.n_tok < 20 OR q.n_tok > 5000 OR q.mean_len < 2.0
        |             OR q.mean_len > 12.0 OR q.symbol_ratio > 0.3 OR q.n_stop = 0)),
        |dd AS (
        |  SELECT * FROM (
        |    SELECT k.*, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |    FROM kept k) t
        |  WHERE rn = 1),
        |grams AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, greatest(len(str_split(text,' ')) - 7, 1) + 1),
        |                               i -> array_to_string(str_split(text,' ')[i:i+7], ' '))) AS g
        |  FROM documents),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 50),
        |contaminated AS (
        |  SELECT DISTINCT gr.doc_id
        |  FROM grams gr JOIN bench b ON gr.g = b.g
        |  WHERE gr.doc_id >= 50 AND gr.doc_id IN (SELECT doc_id FROM dd)),
        |clean AS (
        |  SELECT * FROM dd
        |  WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |b AS (
        |  SELECT doc_id, lang, text,
        |    $OracleSplitBucket
        |  FROM (SELECT doc_id, lang, text, md5(CAST(doc_id AS VARCHAR)) AS hx FROM clean))
        |SELECT lang,
        |       $OracleSplitCase,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin),
    // Vocabulary extraction (training-data pipeline op): the corpus's top-50
    // tokens by occurrence count with document frequency — the first step of
    // any tokenizer/vocab build. 100 TB shape: one explode → one hash agg
    // with map-side combine (vocab-sized, not corpus-sized, crosses the
    // shuffle), then TakeOrdered per-partition heaps for the top-k — never a
    // global sort of the vocabulary. Ranks are (count desc, token asc) so
    // ties are deterministic.
    Query("vocab_topk", (s, d) => {
      val tok = documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val counts = tok.groupBy("token")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.orderBy(desc("n_occurrences"), asc("token"))
      counts.orderBy(desc("n_occurrences"), asc("token")).limit(50)
        .withColumn("rank", row_number().over(w))
        .select("rank", "token", "n_occurrences", "n_docs")
        .orderBy("rank")
    }, oracle =
      """WITH tok AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
        |c AS (
        |  SELECT token, COUNT(*) AS n_occurrences,
        |         COUNT(DISTINCT doc_id) AS n_docs
        |  FROM tok GROUP BY token)
        |SELECT CAST(rank AS INT) AS rank, token, n_occurrences, n_docs FROM (
        |  SELECT token, n_occurrences, n_docs,
        |         row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank
        |  FROM c) t
        |WHERE rank <= 50 ORDER BY rank""".stripMargin),
    // Vocabulary coverage curve (round 6) — the "how many tokens does a
    // k-word vocab cover" readout tokenizer sizing is decided from.
    // Coverage at rank k is the EXACT RATIONAL (cum_freq, total_tokens):
    // a running sum over the top-30 slice divided (by the consumer) into
    // the broadcast 1-row corpus total — no floats. Discipline note: the
    // running-sum window runs AFTER the top-30 TakeOrdered, so it numbers
    // 30 rows, not |V| (the k-bounded global-window shape, §7.4); the
    // total comes from the pre-limit counts so the rational's denominator
    // is the true corpus size.
    Query("vocab_coverage", (s, d) => {
      val tok = documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
      val counts = tok.groupBy("token").agg(count(lit(1)).as("freq"))
      val total = counts.agg(sum(col("freq")).as("total_tokens"))
      val w = Window.orderBy(desc("freq"), asc("token"))
      counts.orderBy(desc("freq"), asc("token")).limit(30)
        .withColumn("rank", row_number().over(w))
        .withColumn("cum_freq",
          sum(col("freq")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .crossJoin(broadcast(total))
        .select("rank", "token", "freq", "cum_freq", "total_tokens")
        .orderBy("rank")
    }, oracle =
      // coverage as the exact rational (cum_freq, total_tokens); the
      // denominator comes from the pre-limit counts
      """WITH tok AS (
        |  SELECT unnest(str_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
        |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total_tokens FROM c),
        |r AS (
        |  SELECT token, freq,
        |         row_number() OVER (ORDER BY freq DESC, token) AS rank,
        |         CAST(SUM(freq) OVER (ORDER BY freq DESC, token
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum_freq
        |  FROM c)
        |SELECT CAST(rank AS INT) AS rank, token, freq, cum_freq,
        |       total_tokens
        |FROM r CROSS JOIN t WHERE rank <= 30 ORDER BY rank""".stripMargin),
    // Heaps-law vocabulary growth curve (round 12e): how fast the TYPE
    // vocabulary grows as the corpus is consumed in doc_id order — the
    // readout that sizes tokenizer vocabularies and tells a crawl when new
    // data has stopped contributing new types (the curve flattening is the
    // exhaustion signal; Heaps' law V(n) ≈ K·n^β predicts the sub-linear
    // shape the bpe_train_merges scaladoc leans on). The corpus is cut
    // into 10 equal doc_id bands of width ceil((max_id+1)/10) — an exact
    // integer from the 1-row max aggregate, never a global ntile window
    // over docs — and each token contributes one new type to the band of
    // its FIRST occurrence, min(doc_id) DIV width (the
    // dedup_ngram_novelty first-occurrence shape, one vocab-sized
    // map-side-combinable agg over the instance stream). new_types per
    // band plus the running cum_types reproduce the vocabulary-vs-corpus
    // curve exactly; all integers, and the running sum windows the 10-row
    // band table. 100 TB shape: one explode pass + vocab/band-sized aggs
    // — only (token, min-doc) partials cross the shuffle; the width rides
    // a broadcast 1-row crossJoin.
    Query("vocab_growth_curve", (s, d) => {
      val docs = documents(s, d)
      val wdt = docs.agg(expr("(MAX(doc_id) + 10) DIV 10").as("w"))
      val tok = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("token"))
      val nd = docs.crossJoin(broadcast(wdt))
        .groupBy(expr("doc_id DIV w").as("band"))
        .agg(count(lit(1)).as("n_docs"))
      val inst = tok.crossJoin(broadcast(wdt))
        .groupBy(expr("doc_id DIV w").as("band"))
        .agg(count(lit(1)).as("n_tokens"))
      val firsts = tok.groupBy("token").agg(min(col("doc_id")).as("fd"))
        .crossJoin(broadcast(wdt))
        .groupBy(expr("fd DIV w").as("band"))
        .agg(count(lit(1)).as("new_types"))
      val wCum = Window.orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nd.join(inst, Seq("band"), "left")
        .join(firsts, Seq("band"), "left")
        .select(col("band"), col("n_docs"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
        .withColumn("cum_types", sum(col("new_types")).over(wCum))
        .orderBy("band")
    }, oracle =
      // same band arithmetic ((max+10)//10 width, first-occurrence band via
      // MIN(doc_id)//w) — every value an exact integer; non-negative ids
      // keep // and DIV in agreement
      """WITH w AS (SELECT (MAX(doc_id) + 10) // 10 AS w FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS token
        |  FROM documents),
        |nd AS (
        |  SELECT doc_id // w AS band, COUNT(*) AS n_docs
        |  FROM documents, w GROUP BY 1),
        |inst AS (
        |  SELECT doc_id // w AS band, COUNT(*) AS n_tokens
        |  FROM tok, w GROUP BY 1),
        |fv AS (SELECT token, MIN(doc_id) AS fd FROM tok GROUP BY token),
        |nt AS (
        |  SELECT fd // w AS band, COUNT(*) AS new_types
        |  FROM fv, w GROUP BY 1)
        |SELECT nd.band, nd.n_docs,
        |       COALESCE(inst.n_tokens, 0) AS n_tokens,
        |       COALESCE(nt.new_types, 0) AS new_types,
        |       CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY nd.band
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cum_types
        |FROM nd LEFT JOIN inst USING (band) LEFT JOIN nt USING (band)
        |ORDER BY nd.band""".stripMargin),
    // Cross-source quantile normalization (round 12f) — the distribution
    // aligner (Bolstad et al., Bioinformatics 2003, the microarray
    // workhorse) corpus mixing needs when per-source length/quality scales
    // disagree: replace each doc's n_chars by the CROSS-SOURCE mean of its
    // within-source quantile bucket, so every source ends up with the
    // same marginal distribution and mixture weights compare like with
    // like. Exact integers throughout: within-source rank (n_chars,
    // doc_id total order), percent bucket q = ((rnk−1)·100) DIV ns, and
    // the bucket reference mean as (Σ·10⁶) DIV count fixed point — the
    // jac_q6 recipe, zero floats. 100 TB shape: the within-source ranking
    // window is partition-parallel across sources (at extreme per-source
    // cardinality, range-partition the per-source sort and carry partition
    // row-count offsets — the standard distributed-rank move); the bucket
    // table is ≤100 rows × sources and the reference ≤100 rows, joined
    // back by an explicit broadcast.
    Query("quantile_normalize_source", (s, d) => {
      val docs = documents(s, d)
      val wSrc = Window.partitionBy("source").orderBy("n_chars", "doc_id")
      val ranked = docs.select("doc_id", "source", "n_chars")
        .withColumn("rnk", row_number().over(wSrc))
      val cnt = docs.groupBy("source").agg(count(lit(1)).as("ns"))
      val bucketed = ranked.join(cnt, Seq("source"))
        .withColumn("q", expr("((rnk - 1) * 100) DIV ns"))
      val ref = bucketed.groupBy("q")
        .agg(sum(col("n_chars")).as("qs"), count(lit(1)).as("qc"))
      bucketed.join(broadcast(ref), Seq("q"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("q"),
          expr("(qs * 1000000) DIV qc").as("norm_q6"))
        .orderBy("doc_id")
    }, oracle =
      // same integer rank/bucket/fixed-point arithmetic; the within-source
      // count rides a window here vs the engine's groupBy join — same values
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY n_chars, doc_id) AS rnk,
        |         COUNT(*) OVER (PARTITION BY source) AS ns
        |  FROM documents),
        |b AS (SELECT doc_id, source, n_chars,
        |             ((rnk - 1) * 100) // ns AS q
        |      FROM r),
        |ref AS (SELECT q, CAST(SUM(n_chars) AS BIGINT) AS qs,
        |               COUNT(*) AS qc
        |        FROM b GROUP BY q)
        |SELECT b.doc_id, b.source, b.n_chars, b.q,
        |       (ref.qs * 1000000) // ref.qc AS norm_q6
        |FROM b JOIN ref ON b.q = ref.q
        |ORDER BY b.doc_id""".stripMargin),
    // KMV distinct-intersection sketch (round 12f) — per-source k-minimum-
    // values sketches of the token-hash space (operators.KmvSketch
    // scaladoc: Bar-Yossef et al. 2002; Beyer et al. SIGMOD 2007), the
    // sketch that gives the mergeable family SET ALGEBRA: every source
    // pair gets distinct estimates, a union estimate, and the Jaccard /
    // INTERSECTION estimates two HLLs cannot produce — cross-source token
    // overlap accounting at 100 TB without `corpus_overlap_ngram`'s exact
    // posting join. The sketch is a pure function of the token SET (k
    // smallest distinct hashes — merge-tree-independent, unlike
    // Space-Saving), but the hashes are engine-local xxhash64 → unit
    // tier; KmvSketchSpec asserts the determinism, the error bound, the
    // union-containment law and the planted-overlap Jaccard. Estimator:
    // u_k = (h_k + 2^63)/2^64 (signed order IS unsigned order under the
    // shift), D̂ = (k−1)/u_k when saturated, exact size below k; pair
    // stats from the trimmed merged sketch (un), J ≈ |un ∩ A ∩ B|/|un|,
    // |A∩B| ≈ J·D̂(un). 100 TB shape: the k-bounded buffer rides partial
    // aggregation (k longs per source per partition cross the shuffle;
    // after warm-up an insert costs one compare), and the pair matrix is
    // a broadcast theta self-join of the SOURCES-sized sketch table —
    // never the corpus.
    Query("sketch_kmv_intersect", (s, d) => {
      import s.implicits._
      val k = 128
      val agg = new graft.operators.KmvAggregator(k).toColumn
      val sk = documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .select(col("source"), xxhash64(col("token")).as("h"))
        .as[(String, Long)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(agg)
        .toDF("source", "sketch")
      def est(arr: String) =
        s"""CASE WHEN size($arr) < $k THEN CAST(size($arr) AS DOUBLE)
           |ELSE ${k - 1}.0 /
           |  ((CAST(element_at($arr, $k) AS DOUBLE)
           |    + 9.223372036854775808E18) / 1.8446744073709551616E19)
           |END""".stripMargin
      val a = sk.select(col("source").as("s1"), col("sketch").as("k1"))
      val b = sk.select(col("source").as("s2"), col("sketch").as("k2"))
      a.join(broadcast(b), col("s1") < col("s2"))
        .withColumn("un",
          expr(s"slice(array_sort(array_distinct(concat(k1, k2))), 1, $k)"))
        .withColumn("overlap_k",
          expr("size(array_intersect(array_intersect(un, k1), k2))"))
        .select(col("s1"), col("s2"),
          expr(est("k1")).as("est_d1"),
          expr(est("k2")).as("est_d2"),
          expr(est("un")).as("est_union"),
          col("overlap_k"),
          expr("(CAST(overlap_k AS BIGINT) * 1000000) DIV size(un)")
            .as("jaccard_q6"),
          (col("overlap_k").cast("double") / expr("size(un)")
            * expr(est("un"))).as("est_intersect"))
        .orderBy("s1", "s2")
    }),
    // TF-IDF top terms per document (training-data pipeline op): the
    // classic relevance weighting — tf(doc, term) × ln(N / df(term)) — kept
    // oracle-hashable by quantizing the score to 1e-4 before ranking (ties
    // fall to the token tiebreak, the same discipline as the knn queries).
    // ln is the one transcendental in any oracle-checked query; JVM and
    // DuckDB libm may differ in the last ulp, so the margin is MEASURED
    // like the cosine thresholds: the closest tf·ln(N/df) to a 5e-5
    // rounding boundary is ~4e-8 away at sf0.001/0.01/0.1 — ~10^6× the
    // cross-engine noise floor.
    // 100 TB shape: tf is one explode+agg; df derives from tf (one more
    // vocab-sized agg); N arrives as a broadcast 1-row cross join, never a
    // collected driver constant; the final per-doc top-3 windows on doc_id
    // (high cardinality — no funnel).
    Query("tfidf_topk", (s, d) => {
      val docs = documents(s, d)
      val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_total"))
      val scored = tf.join(dfreq, "token").crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          round(col("tf") * log(col("n_total").cast("double") / col("df")), 4)
            .as("tfidf"))
      val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("token"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("doc_id", "rn", "token", "tfidf")
        .orderBy("doc_id", "rn")
    }, oracle =
      """WITH tok AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |         round(tf.tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
        |                          / df.df), 4) AS tfidf
        |  FROM tf JOIN df USING (token))
        |SELECT doc_id, CAST(rn AS INT) AS rn, token, tfidf FROM (
        |  SELECT doc_id, token, tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY tfidf DESC, token) AS rn
        |  FROM scored) t
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin),
    // χ² term-source association (round 12g) — the classic feature-
    // selection statistic (Yang & Pedersen, ICML 1997 rank it top with IG
    // for text): for every (source, token), the 2×2 document-presence
    // contingency chi-square — which tokens are DISTINCTIVE of a source
    // vs the rest of the corpus, the per-source signature tfidf (per-doc)
    // and PMI (pair-level) don't give. Top-5 per source. Float
    // discipline: the determinant det = a·d − b·c and both χ² factors
    // are EXACT longs (n·det² ≤ 3.1e18 at sf0.1 — ~3× under 2⁶³;
    // beyond sf0.3 move the products to DECIMAL(38,0)); χ² itself is ONE
    // double division of the two exact casts, identical in both engines,
    // and the ranking orders that deterministic double with token
    // tie-break. Tokens present in every document carry no signal and a
    // zero denominator — filtered (nt < n) in both engines. 100 TB
    // shape: the presence explode+distinct is the only corpus-sized
    // shuffle; everything after is vocab-sized (a, nt), 3-row (ns)
    // broadcast, and the 1-row n crossJoin; the top-5 window partitions
    // by source over ≤|vocab| rows.
    Query("text_chisq_terms", (s, d) => {
      val docs = documents(s, d)
      val dt = docs.select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("token")).distinct()
      val a = dt.groupBy("source", "token").agg(count(lit(1)).as("a"))
      val srcN = docs.groupBy("source").agg(count(lit(1)).as("ns"))
      val tokN = dt.groupBy("token").agg(count(lit(1)).as("nt"))
      val n = docs.agg(count(lit(1)).as("n"))
      val det = col("a") * (col("n") - col("ns") - col("nt") + col("a")) -
        (col("ns") - col("a")) * (col("nt") - col("a"))
      val chi2 = (col("n") * det * det).cast("double") /
        (col("ns") * (col("n") - col("ns")) * col("nt") *
          (col("n") - col("nt"))).cast("double")
      val scored = a.join(broadcast(srcN), "source").join(tokN, "token")
        .crossJoin(broadcast(n))
        .filter(col("nt") < col("n"))
        .select(col("source"), col("token"), col("a").as("df_in"),
          col("nt"), chi2.as("chi2"))
      val w = Window.partitionBy("source").orderBy(desc("chi2"), asc("token"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("source"), col("rn"), col("token"), col("df_in"),
          col("nt"), round(col("chi2"), 6).as("chi2"))
        .orderBy("source", "rn")
    }, oracle =
      // exact-integer contingency factors (BIGINT products, HUGEINT-safe
      // sums), ONE double division — the identical deterministic value the
      // Spark side ranks; the rn window mirrors the tie-break
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, source, token FROM (
        |    SELECT doc_id, source, unnest(str_split(text, ' ')) AS token
        |    FROM documents) t),
        |a AS (SELECT source, token, COUNT(*) AS a FROM dt GROUP BY 1, 2),
        |srcn AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY 1),
        |tokn AS (SELECT token, COUNT(*) AS nt FROM dt GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |sc AS (
        |  SELECT a.source, a.token, a.a, ns, nt, n.n,
        |         a.a * (n.n - ns - nt + a.a) - (ns - a.a) * (nt - a.a)
        |           AS det
        |  FROM a JOIN srcn USING (source) JOIN tokn USING (token)
        |  CROSS JOIN n
        |  WHERE nt < n.n),
        |scored AS (
        |  SELECT source, token, a AS df_in, nt,
        |         CAST(n * det * det AS DOUBLE)
        |           / CAST(ns * (n - ns) * nt * (n - nt) AS DOUBLE) AS chi2
        |  FROM sc)
        |SELECT source, CAST(rn AS INT) AS rn, token, df_in, nt,
        |       round(chi2, 6) AS chi2
        |FROM (
        |  SELECT source, token, df_in, nt, chi2,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY chi2 DESC, token) AS rn
        |  FROM scored) t
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin),
    // BM25 retrieval (round 6) — the lexical ranking function every search/
    // RAG pipeline runs before (or fused with) vector retrieval: top-20
    // docs for a fixed 3-term query, Okapi BM25 with k1=1.2, b=0.75,
    // idf = ln((N-df+0.5)/(df+0.5)+1) (the Lucene-style always-positive
    // variant). Float discipline: the per-term contributions are PIVOTED
    // to fixed columns and added in one spelled-out order (c1+c2+c3 in
    // both engines) — a float sum() aggregate would be partition-order-
    // dependent and not even Spark-deterministic. Scores round to 4
    // decimals BEFORE ranking (both engines rank the same values; doc_id
    // breaks ties); measured min distance of any doc's score to a 5e-5
    // rounding boundary: 8.9e-9 / 2.7e-8 / 7.7e-9 at sf0.001/0.01/0.1 —
    // ~10^7× the cross-engine libm ulp noise (re-measure if the fixture
    // or the term set changes).
    // 100 TB shape: tf explode+agg restricted to the 3 query terms BEFORE
    // the shuffle (the filter prunes ~99% of token rows at the map side),
    // df and corpus stats are broadcast 1-to-3-row aggregates, and the
    // global top-20 is a TakeOrdered, never a full sort.
    Query("retrieval_bm25", (s, d) => bm25Top20(s, d), oracle =
      // same float shape as the Spark plan, operation for operation; every
      // numeric literal CAST to DOUBLE (a bare 2.2 is DECIMAL in DuckDB and
      // would run the formula in decimal arithmetic — the §7.4c trap);
      // fixed-order c1+c2+c3 addition mirrors the pivoted Spark aggregate
      s"""WITH ${oracleBm25("agg")}
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
        |       doc_id, score
        |FROM agg ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // Reciprocal-rank fusion (round 8) — the standard hybrid-retrieval
    // merge (RRF: score = Σ 1/(k0 + rank), k0 = 60) of the two ranking
    // modalities the engine already serves: lexical BM25 (bm25Top20,
    // ranked on round-4 scores) and the quantized-embedding integer dot
    // ranking (Similarity.quantizedScores; doc_id ≡ vec_id in the fixture
    // corpus). RRF consumes only the RANKS — both input orders are already
    // engine-deterministic — so the fused score is INTEGER FIXED POINT:
    // rrf_q9 = 1e9 DIV (60+r_text) + 1e9 DIV (60+r_vec), with a ranking
    // that misses a doc contributing 0 (standard RRF over top-k lists) —
    // zero floats end to end. 100 TB shape: each ranking is a TakeOrdered
    // top-20, the fusion is a full-outer join of two 20-row lists —
    // constant work regardless of corpus size; the rank window over the
    // vector list runs AFTER the limit (k-bounded, the vocab_coverage
    // pattern).
    Query("retrieval_rrf", (s, d) => {
      val text = bm25Top20(s, d).select(col("doc_id"), col("rank").as("r_text"))
      val vec = Similarity.quantizedScores(s, d)
        .orderBy(desc("score"), asc("vec_id")).limit(20)
        .withColumn("r_vec",
          row_number().over(Window.orderBy(desc("score"), asc("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("r_vec"))
      text.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_text"), col("r_vec"),
          (coalesce(expr("1000000000L DIV (60 + r_text)"), lit(0L)) +
            coalesce(expr("1000000000L DIV (60 + r_vec)"), lit(0L)))
            .as("rrf_q9"))
        .orderBy(desc("rrf_q9"), asc("doc_id")).limit(15)
    }, oracle =
      // the two component rankings replay their own proven oracles (the
      // bm25 CTEs, the quantized dot of knn_quantized_topk); the fusion
      // itself is pure integer arithmetic — // and DIV agree on positives
      s"""WITH ${oracleBm25("bm")},
        |atop AS (
        |  SELECT doc_id,
        |         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
        |           AS r_text
        |  FROM (SELECT doc_id, score FROM bm
        |        ORDER BY score DESC, doc_id LIMIT 20)),
        |$OracleInt8ProbeScores,
        |btop AS (
        |  SELECT vec_id AS doc_id,
        |         CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INT)
        |           AS r_vec
        |  FROM (SELECT vec_id, score FROM vs
        |        ORDER BY score DESC, vec_id LIMIT 20))
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.r_text, b.r_vec,
        |       CAST(COALESCE(CAST(1000000000 AS BIGINT) // (60 + a.r_text), 0)
        |          + COALESCE(CAST(1000000000 AS BIGINT) // (60 + b.r_vec), 0)
        |            AS BIGINT) AS rrf_q9
        |FROM atop a FULL OUTER JOIN btop b ON a.doc_id = b.doc_id
        |ORDER BY rrf_q9 DESC, doc_id LIMIT 15""".stripMargin),
    // Weighted score fusion (round 11) — the OTHER standard hybrid next to
    // retrieval_rrf's rank fusion: each modality's top-20 scores are
    // min-max normalized WITHIN the retrieved list, then blended at
    // α = 0.7 text / 0.3 vector (score fusion preserves score GAPS that
    // rank fusion flattens — two near-tied docs fuse near-tied here, 1/61
    // vs 1/62 apart under RRF). Zero floats cross the engines: the
    // 4dp-rounded BM25 score becomes an exact integer via
    // floor(s·10⁴ + 0.5) (the embed_quantize half-up idiom — identical
    // doubles in, identical longs out, no decimal-cast dialect exposure),
    // the vector score is already an exact integer, min-max and the
    // α-blend are integer fixed point (q6; DIV ≡ // on non-negatives),
    // constant lists degenerate to 1e6 rather than divide by zero.
    // Missing-in-one-list contributes 0, as in RRF. 100 TB shape: both
    // inputs are TakeOrdered top-20s, the stats are broadcast 1-row aggs
    // over 20 rows, fusion is a full-outer join of two 20-row lists —
    // constant work regardless of corpus size.
    Query("retrieval_hybrid_weighted", (s, d) => {
      val text = bm25Top20(s, d)
        .select(col("doc_id"),
          floor(col("score") * 10000 + 0.5).cast("long").as("t"))
      val tStats = text.agg(min("t").as("tmin"), max("t").as("tmax"))
      val tn = text.crossJoin(broadcast(tStats))
        .select(col("doc_id"),
          when(col("tmax") > col("tmin"),
            expr("(t - tmin) * 1000000 DIV (tmax - tmin)"))
            .otherwise(1000000L).as("nt_q6"))
      val vec = Similarity.quantizedScores(s, d)
        .orderBy(desc("score"), asc("vec_id")).limit(20)
        .select(col("vec_id").as("doc_id"), col("score").as("v"))
      val vStats = vec.agg(min("v").as("vmin"), max("v").as("vmax"))
      val vn = vec.crossJoin(broadcast(vStats))
        .select(col("doc_id"),
          when(col("vmax") > col("vmin"),
            expr("(v - vmin) * 1000000 DIV (vmax - vmin)"))
            .otherwise(1000000L).as("nv_q6"))
      tn.join(vn, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("nt_q6"), col("nv_q6"),
          expr("(coalesce(nt_q6, 0L) * 7 + coalesce(nv_q6, 0L) * 3) DIV 10")
            .as("hybrid_q6"))
        .orderBy(desc("hybrid_q6"), asc("doc_id")).limit(15)
    }, oracle =
      // the two component scorers replay their proven oracles; quantization
      // is the floor(s*1e4 + 0.5) half-up idiom (identical doubles in both
      // engines), normalization and blend are pure integer arithmetic
      s"""WITH ${oracleBm25("bm")},
        |atop AS (
        |  SELECT doc_id,
        |         CAST(floor(score * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS t
        |  FROM (SELECT doc_id, score FROM bm
        |        ORDER BY score DESC, doc_id LIMIT 20)),
        |ts AS (SELECT MIN(t) AS tmin, MAX(t) AS tmax FROM atop),
        |tn AS (SELECT doc_id,
        |              CASE WHEN tmax > tmin
        |                   THEN (t - tmin) * 1000000 // (tmax - tmin)
        |                   ELSE 1000000 END AS nt_q6
        |       FROM atop, ts),
        |$OracleInt8ProbeScores,
        |btop AS (
        |  SELECT vec_id AS doc_id, score AS v
        |  FROM (SELECT vec_id, score FROM vs
        |        ORDER BY score DESC, vec_id LIMIT 20)),
        |vsx AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM btop),
        |vn AS (SELECT doc_id,
        |              CASE WHEN vmax > vmin
        |                   THEN (v - vmin) * 1000000 // (vmax - vmin)
        |                   ELSE 1000000 END AS nv_q6
        |       FROM btop, vsx)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.nt_q6, b.nv_q6,
        |       CAST((COALESCE(a.nt_q6, 0) * 7 + COALESCE(b.nv_q6, 0) * 3) // 10
        |            AS BIGINT) AS hybrid_q6
        |FROM tn a FULL OUTER JOIN vn b ON a.doc_id = b.doc_id
        |ORDER BY hybrid_q6 DESC, doc_id LIMIT 15""".stripMargin),
    // Bigram language-model estimation (round 6) — the n-gram-LM counting
    // pass quality filters build their perplexity proxies from. Add-one
    // smoothed conditional probabilities are emitted as EXACT RATIONALS
    // (p_num = c12+1, p_den = c1+V): the full estimate with zero float
    // discipline — consumers divide at read time; the count table is the
    // artifact that matters at scale anyway. Top-30 bigrams by count with
    // the (w1, w2) total-order tiebreak. 100 TB shape: bigram instances
    // expand map-side (bigramPairs), counts are map-side-combinable long
    // aggs on the bigram key, V rides as a broadcast 1-row aggregate.
    Query("text_bigram_lm", (s, d) => {
      val docs = documents(s, d)
      val big = bigramPairs(docs)
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
      val vocab = docs.select(explode(tokens(col("text"))).as("w"))
        .agg(count_distinct(col("w")).as("v"))
      c12.join(c1, "w1").crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"), col("c12"),
          (col("c12") + 1).as("p_num"),
          (col("c1") + col("v")).as("p_den"))
        .orderBy(desc("c12"), asc("w1"), asc("w2")).limit(30)
    }, oracle =
      s"""WITH $OracleBigramCtes,
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w) AS v
        |      FROM (SELECT unnest(ws) AS w FROM d) t)
        |SELECT w1, w2, c12, c12 + 1 AS p_num, c1 + v AS p_den
        |FROM c12 JOIN c1 USING (w1) CROSS JOIN v
        |ORDER BY c12 DESC, w1, w2 LIMIT 30""".stripMargin),
    // Collocation extraction by pointwise mutual information (round 6) —
    // the phrase-mining pass behind tokenizer-vocabulary merges and
    // stop-phrase lists. PMI = log lift; log is monotone, so ranking by
    // the lift ratio c12·N/(c1·c2) IS ranking by PMI, and the ratio is
    // emitted as an EXACT RATIONAL (lift_num, lift_den) plus the
    // integer-fixed-point quantization lift_q6 = num·1e6 DIV den (the
    // PageRank recipe) used only for the total order — zero float
    // discipline. c12 >= 5 is the standard collocation min-count cut,
    // applied before any join so the pair table shrinks first. 100 TB
    // shape: identical to text_bigram_lm (map-side bigram instances,
    // map-side-combinable counts); marginals c1/c2 join back on the
    // skew-free token keys; N rides as a broadcast 1-row aggregate.
    // (lift_num·1e6 needs N·c12·1e6 < 2^63 — at corpus scale swap the
    // 1e6 quantizer for DECIMAL(38) or rank on log-space doubles.)
    Query("collocation_pmi", (s, d) => {
      val big = bigramPairs(documents(s, d))
      val n = big.agg(count(lit(1)).as("n"))
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
      val c2 = big.groupBy("w2").agg(count(lit(1)).as("c2"))
      c12.join(c1, "w1").join(c2, "w2").crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c12"),
          (col("c12") * col("n")).as("lift_num"),
          // checked multiplies on BOTH sides of the ratio: c12·N·1e6 wraps
          // silently past long range (N·c12 > ~9.2e12), and so does the
          // denominator c1·c2 at the same corpus scales (c1·c2 > ~9.2e18) —
          // while DuckDB's HUGEINT stays exact on both. The guards turn a
          // silent engine divergence into a loud failure (r7 ADVICE).
          expr("coalesce(try_multiply(c1, c2), " +
            "raise_error('collocation_pmi: lift_den long overflow'))")
            .as("lift_den"),
          expr("coalesce(try_multiply(try_multiply(c12, n), 1000000L), " +
            "raise_error('collocation_pmi: lift_q6 long overflow')) " +
            "DIV coalesce(try_multiply(c1, c2), " +
            "raise_error('collocation_pmi: lift_q6 denominator overflow'))")
            .as("lift_q6"))
        .orderBy(desc("lift_q6"), asc("w1"), asc("w2")).limit(25)
    }, oracle =
      // lift as an exact rational + the 1e6 fixed-point quantization used
      // for the order — DuckDB's // and Spark's DIV agree on non-negative
      // integer floor division
      s"""WITH $OracleBigramCtes,
        |n AS (SELECT COUNT(*) AS n FROM big),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big
        |        GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
        |c2 AS (SELECT w2, COUNT(*) AS c2 FROM big GROUP BY 1)
        |SELECT w1, w2, c12, c12 * n AS lift_num, c1 * c2 AS lift_den,
        |       (c12 * n * 1000000) // (c1 * c2) AS lift_q6
        |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
        |ORDER BY lift_q6 DESC, w1, w2 LIMIT 25""".stripMargin),
    // Importance-weighted sampling (training-data pipeline op): per-doc keep
    // rate proportional to length (clamped 10-90%), applied as a pure
    // function of doc_id (the digits-9-12 draw). Length buckets stand in for the model-scored quality
    // weights a production pipeline would use; the mechanism (deterministic
    // hash vs per-row rate, never rand()) is the point. Integer floor
    // division only — a double→int cast would round in DuckDB but truncate
    // in Spark.
    Query("weighted_sample", (s, d) => {
      val rate = least(lit(90L), greatest(lit(10L), floor(col("n_chars") / 20)))
      val kept = md5Fold(col("doc_id"), 9) % 100 < rate
      documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(kept.cast("long")).as("n_kept"),
          sum(when(kept, col("n_chars")).otherwise(0).cast("long")).as("kept_chars"))
        .orderBy("lang")
    }, oracle =
      // floor division for the rate (CAST would round in DuckDB, truncate
      // in Spark)
      s"""WITH h AS (
        |  SELECT doc_id, lang, n_chars,
        |         md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |b AS (
        |  SELECT lang, n_chars,
        |    ${oracleMd5Fold(9)} % 100 AS pct,
        |    least(90, greatest(10, CAST(floor(n_chars / 20.0) AS BIGINT))) AS rate
        |  FROM h)
        |SELECT lang, COUNT(*) AS n_total,
        |       CAST(SUM(CASE WHEN pct < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN pct < rate THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM b GROUP BY lang ORDER BY lang""".stripMargin),
    // URL/domain extraction (web-corpus pipeline op): host, path and query
    // params pulled out of URL strings — the inputs to per-domain quotas,
    // domain-level dedup and source filtering. The corpus has no URL
    // column, so URLs are synthesized deterministically from supplier rows
    // and parsed BACK with Spark's parse_url; the oracle re-parses the
    // same strings with anchored regexes (an independent parser). Pure
    // per-row string work — zero shuffle before the contract orderBy.
    Query("url_extract", (s, d) => {
      val url = concat(lit("https://www."),
        lower(regexp_replace(col("s_name"), "#", "-")),
        lit(".example.com/item/"), col("s_suppkey").cast("string"),
        lit("?region="), col("s_nationkey").cast("string"), lit("&ok=1"))
      supplier(s, d).select(
          col("s_suppkey"), url.as("url"),
          parse_url(url, lit("HOST")).as("host"),
          parse_url(url, lit("PATH")).as("path"),
          parse_url(url, lit("QUERY"), lit("region")).as("region_param"))
        .orderBy("s_suppkey")
    }, oracle =
      // an independent parser on the same strings: anchored regexes vs
      // Spark's parse_url
      """WITH t AS (
        |  SELECT s_suppkey,
        |         'https://www.' || lower(replace(s_name, '#', '-'))
        |           || '.example.com/item/' || CAST(s_suppkey AS VARCHAR)
        |           || '?region=' || CAST(s_nationkey AS VARCHAR) || '&ok=1' AS url
        |  FROM supplier)
        |SELECT s_suppkey, url,
        |       regexp_extract(url, '^https?://([^/]+)', 1) AS host,
        |       regexp_extract(url, '^https?://[^/]+([^?#]*)', 1) AS path,
        |       regexp_extract(url, '[?&]region=([^&#]*)', 1) AS region_param
        |FROM t ORDER BY s_suppkey""".stripMargin),
    // User-level holdout (the leakage-free eval split): the hash decision
    // is taken on the USER, not the event, so every event of a user lands
    // in the same split — a per-event hash would leak a held-out user's
    // behavior into training, the classic eval-contamination bug that
    // per-doc sample_split cannot prevent for grouped data. ~20% of users
    // held out by the user's digits-17-20 draw.
    Query("sample_user_holdout", (s, d) => {
      val hold = md5Fold(col("user_id"), 17) % 100 < 20
      events(s, d)
        .withColumn("split", when(hold, "holdout").otherwise("train"))
        .groupBy("split")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          decSum(col("value")).as("sum_value"))
        .orderBy("split")
    }, oracle =
      // split is a pure function of user_id
      s"""WITH h AS (
        |  SELECT user_id, value, md5(CAST(user_id AS VARCHAR)) AS hx
        |  FROM events),
        |b AS (
        |  SELECT user_id, value,
        |    ${oracleMd5Fold(17)} % 100 AS pct
        |  FROM h)
        |SELECT CASE WHEN pct < 20 THEN 'holdout' ELSE 'train' END AS split,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin),
    // A/B experiment readout (round 6) — deterministic variant assignment
    // + funnel conversion, the analysis pass every event pipeline ends in.
    // Assignment hashes the USER (abVariant), never the event, for the
    // same leakage reason as the holdout split; conversion = a purchase event
    // AFTER the user's first click (event_id order — the fixture's
    // ns-timestamp ordering trap, §7.4e). The conversion rate is the
    // EXACT RATIONAL (n_converted, n_clickers) — no division, no floats;
    // the z-test the analyst runs on top is driver-side arithmetic over
    // these four longs, not a distributed op. One user_id groupBy, then a
    // 2-key aggregate: the 100 TB shape is a straight two-level rollup.
    Query("abtest_conversion", (s, d) => {
      val per = events(s, d).groupBy("user_id")
        .agg(min(when(col("event_type") === "click", col("event_id")))
            .as("first_click"),
          max(when(col("event_type") === "purchase", col("event_id")))
            .as("last_purchase"))
      per
        .withColumn("variant", abVariant)
        .groupBy("variant")
        .agg(count(lit(1)).as("n_users"),
          sum(col("first_click").isNotNull.cast("long")).as("n_clickers"),
          sum((col("first_click").isNotNull &&
            col("last_purchase") > col("first_click")).cast("long"))
            .as("n_converted"))
        .orderBy("variant")
    }, oracle =
      // conversion compares event_ids (never the ns timestamps); the rate
      // is the exact rational (n_converted, n_clickers)
      s"""WITH per AS (
        |  SELECT user_id,
        |         MIN(CASE WHEN event_type = 'click' THEN event_id END)
        |           AS first_click,
        |         MAX(CASE WHEN event_type = 'purchase' THEN event_id END)
        |           AS last_purchase
        |  FROM events GROUP BY user_id),
        |h AS (
        |  SELECT *, md5(CAST(user_id AS VARCHAR)) AS hx FROM per),
        |v AS (
        |  SELECT first_click, last_purchase,
        |    CASE WHEN ${oracleMd5Fold(21)} % 2 = 0
        |      THEN 'A' ELSE 'B' END AS variant
        |  FROM h)
        |SELECT variant, COUNT(*) AS n_users,
        |       CAST(SUM(CASE WHEN first_click IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clickers,
        |       CAST(SUM(CASE WHEN first_click IS NOT NULL
        |                      AND last_purchase > first_click
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM v GROUP BY variant ORDER BY variant""".stripMargin),
    // Training token budget per language (round 14c) — the number the
    // mix actually buys: whitespace tokens per lang × the published
    // epoch factor = effective training tokens, the readout a compute
    // plan is costed from (chars fund the schedule, tokens fund the GPU
    // bill — the two differ by per-language token length, which is why
    // this key exists next to mix_epochs_schedule's chars view). Shares
    // epochSchedule — the budget prices exactly the published mix;
    // products ride DECIMAL(38,0) (tokens×epochs_q6 passes 2⁶³ near
    // 10¹³ corpus tokens). One size() pass (no explode) + a |langs| agg
    // + the broadcast schedule join.
    Query("mix_token_budget", (s, d) => {
      // filter empty segments so the budget's token unit matches
      // tokenizer_fertility's n_words on identical text (review find:
      // a bare split() counts phantom tokens on doubled spaces)
      val toks = documents(s, d)
        .select(col("lang"),
          size(filter(tokens(col("text")), x => x =!= ""))
            .cast("long").as("n_tok"))
        .groupBy("lang").agg(sum(col("n_tok")).as("n_tokens"))
      val sched = epochSchedule(s, d).select(col("lang"), col("epochs_q6"))
      toks.join(broadcast(sched), Seq("lang"))
        .select(col("lang"), col("n_tokens"), col("epochs_q6"),
          expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * epochs_q6" +
            " DIV 1000000 AS BIGINT)").as("effective_tokens"))
        .orderBy("lang")
    }, oracle =
      // the same sched CTE joined onto per-lang token sums; the product
      // rides HUGEINT
      s"""WITH $MixScheduleCtes,
         |tk AS (
         |  SELECT lang,
         |         CAST(SUM(len(list_filter(str_split(text, ' '),
         |                                  x -> x <> ''))) AS BIGINT)
         |           AS n_tokens
         |  FROM documents GROUP BY lang)
         |SELECT tk.lang, tk.n_tokens, sched.epochs_q6,
         |       CAST(CAST(tk.n_tokens AS HUGEINT) * sched.epochs_q6
         |            // 1000000 AS BIGINT) AS effective_tokens
         |FROM tk JOIN sched ON tk.lang = sched.lang
         |ORDER BY tk.lang""".stripMargin),
    // Sample-ratio-mismatch check (round 14c) — the FIRST gate every
    // experimentation platform runs before reading abtest_conversion's
    // funnel: if the observed A/B user split deviates from the designed
    // 50/50 beyond chance, the assignment itself is broken (bot
    // filtering, redirect loss, a biased hash) and the conversion
    // readout is meaningless. Shares the abVariant assignment with
    // abtest_conversion — the SRM check audits exactly the split the
    // readout uses. For two equal cells the chi-square statistic reduces
    // to (n_A − n_B)²/n — an exact rational, q6 by integer DIV on the
    // non-negative square; the verdict compares against the χ²₁ 95%
    // critical value 3.841459 carried as the q6 literal 3841459. One
    // distinct pass + a 2-row rollup.
    Query("abtest_srm_check", (s, d) => {
      val counts = events(s, d).select("user_id").distinct()
        .withColumn("variant", abVariant)
        .groupBy("variant").agg(count(lit(1)).as("n"))
      counts.agg(
          sum(when(col("variant") === "A", col("n")).otherwise(0L))
            .as("n_a"),
          sum(when(col("variant") === "B", col("n")).otherwise(0L))
            .as("n_b"))
        .select(col("n_a"), col("n_b"),
          // DECIMAL(38,0): a maximally-broken split — the one case the
          // detector exists for — has (n_a−n_b)²·10⁶ past 2⁶³ at ~3·10⁶
          // users; a long would wrap silently exactly then (review find)
          expr("CAST(CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b)" +
            " * 1000000 DIV (n_a + n_b) AS BIGINT)")
            .as("chi2_q6"))
        .withColumn("srm_detected", col("chi2_q6") > 3841459L)
    }, oracle =
      // the variant draw over DISTINCT users; chi2 as the exact
      // two-equal-cell rational with the q6 critical-value literal
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |h AS (SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM u),
         |v AS (SELECT CASE WHEN ${oracleMd5Fold(21, " + ")} % 2 = 0 THEN 'A' ELSE 'B' END
         |        AS variant FROM h),
         |c AS (SELECT
         |        SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
         |        SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b
         |      FROM v)
         |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |       CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000
         |            // (n_a + n_b) AS BIGINT) AS chi2_q6,
         |       CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000
         |         // (n_a + n_b) > 3841459 AS srm_detected
         |FROM c""".stripMargin),
    // Mix-diversity profile per language: Gini impurity and Shannon
    // entropy of the source distribution — the "is this slice dominated by
    // one crawler?" diagnostic next to corpus_mix_rebalance. Gini is EXACT
    // (1 - Σc²/n² from integer sums, one shared IEEE chain). Entropy's
    // p·ln(p) is the only transcendental here, so each term is half-up
    // scaled to an INTEGER at 1e-8 before the (order-independent) sum —
    // the tfidf_topk discipline; measured min distance to a rounding
    // boundary across all terms and SFs is ~2.6e-11, ~5 orders above libm
    // ulp noise (re-measure if the fixture changes). floor(x+0.5), never
    // round(): SURVEY §7.4c.
    Query("profile_entropy", (s, d) => {
      val c = documents(s, d).groupBy("lang", "source")
        .agg(count(lit(1)).as("c"))
      val n = sum(col("c")).over(Window.partitionBy("lang"))
      val p = col("c").cast("double") / col("n").cast("double")
      c.withColumn("n", n)
        .withColumn("term",
          floor(p * log(p) * lit(1.0e8) + lit(0.5)).cast("long"))
        .groupBy("lang")
        .agg(max(col("n")).as("n_docs"), count(lit(1)).as("k_sources"),
          (lit(1.0) - sum(col("c") * col("c")).cast("double") /
            (max(col("n")).cast("double") * max(col("n")).cast("double")))
            .as("gini"),
          (-sum(col("term")).cast("double") / lit(1.0e8)).as("entropy"))
        .orderBy("lang")
    }, oracle =
      """WITH c AS (
        |  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT lang, c,
        |         CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM c),
        |u AS (
        |  SELECT lang, c, n,
        |         CAST(floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
        |           * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |           * 100000000.0 + 0.5) AS BIGINT) AS term
        |  FROM t)
        |SELECT lang, MAX(n) AS n_docs, COUNT(*) AS k_sources,
        |       1.0 - CAST(SUM(c * c) AS DOUBLE)
        |             / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) AS DOUBLE)) AS gini,
        |       -CAST(SUM(term) AS DOUBLE) / 100000000.0 AS entropy
        |FROM u GROUP BY lang ORDER BY lang""".stripMargin),
    // URL canonicalization + dedup (the step BEFORE url-based web-corpus
    // dedup: the same page arrives as http/https, WWW-cased, :443-ported,
    // utm-tagged, fragment-suffixed and trailing-slashed variants).
    // Deterministic messy variants are synthesized per order row, then
    // canonicalized by a regex chain shared verbatim with the oracle
    // (Java/RE2-common subset, the text_scrub_pii discipline): strip
    // fragment, lowercase, http→https, drop www., drop :443, drop utm_*
    // params, strip trailing slash. Pure per-row string work + one
    // canonical-key aggregate; non-utm query params (ref=) survive and
    // keep those variants distinct — canonicalization must never merge
    // genuinely different resources.
    Query("dedup_url_canonical", (s, d) => {
      val item = (col("o_custkey") % 500).cast("string")
      val raw = when(col("o_orderkey") % 5 === 0,
          concat(lit("https://www.shop.example.com/item/"), item))
        .when(col("o_orderkey") % 5 === 1,
          concat(lit("HTTPS://WWW.SHOP.EXAMPLE.COM/item/"), item, lit("/")))
        .when(col("o_orderkey") % 5 === 2,
          concat(lit("https://shop.example.com:443/item/"), item,
            lit("?utm_source=x&utm_campaign=y")))
        .when(col("o_orderkey") % 5 === 3,
          concat(lit("http://shop.example.com/item/"), item,
            lit("?ref=abc&utm_medium=z#frag")))
        .otherwise( // utm FIRST, survivor after — exercises the &→? repair
          concat(lit("https://shop.example.com/item/"), item,
            lit("?utm_source=q&ref=abc")))
      // one fused scanner pass (graft.functions.CanonicalUrl) instead of 8
      // chained regex passes — benched 2.3s → the regex chain's semantics
      // are preserved step for step (PropertySpec fuzzes parity, and the
      // DuckDB oracle still runs the regex chain as the independent
      // implementation). Includes the '&'→'?' repair: after dropping utm_*
      // params a surviving param must not dangle on '&', or equal
      // resources fail to merge.
      val canon = graft.functions.CanonicalUrl.canonical_url(raw)
      orders(s, d).select(col("o_orderkey"), canon.as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_raw"), min(col("o_orderkey")).as("first_key"))
        .orderBy("canonical_url")
    }, oracle =
      // same regex chain; DuckDB needs the 'g' flag where Spark's
      // regexp_replace is global by default
      """WITH raw AS (
        |  SELECT o_orderkey,
        |         CASE CAST(o_orderkey % 5 AS INT)
        |           WHEN 0 THEN 'https://www.shop.example.com/item/' || CAST(o_custkey % 500 AS VARCHAR)
        |           WHEN 1 THEN 'HTTPS://WWW.SHOP.EXAMPLE.COM/item/' || CAST(o_custkey % 500 AS VARCHAR) || '/'
        |           WHEN 2 THEN 'https://shop.example.com:443/item/' || CAST(o_custkey % 500 AS VARCHAR) || '?utm_source=x&utm_campaign=y'
        |           WHEN 3 THEN 'http://shop.example.com/item/' || CAST(o_custkey % 500 AS VARCHAR) || '?ref=abc&utm_medium=z#frag'
        |           ELSE 'https://shop.example.com/item/' || CAST(o_custkey % 500 AS VARCHAR) || '?utm_source=q&ref=abc'
        |         END AS u
        |  FROM orders),
        |canon AS (
        |  SELECT o_orderkey,
        |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |           regexp_replace(regexp_replace(regexp_replace(lower(
        |             regexp_replace(u, '#.*$', '')),
        |           '^http://', 'https://'),
        |           '://www\.', '://', 'g'),
        |           ':443/', '/', 'g'),
        |           '[?&]utm_[^&#]*', '', 'g'),
        |           '^([^?&]*)&', '\1?'),
        |           '/$', ''),
        |           '\?$', '') AS canonical_url
        |  FROM raw)
        |SELECT canonical_url, COUNT(*) AS n_raw, MIN(o_orderkey) AS first_key
        |FROM canon GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin),
    // Per-source quota capping (web-corpus pipeline op): every web corpus
    // caps documents per domain so one crawler-friendly site can't swamp
    // the mix. Keep the first 5 docs per source (rank by doc_id — a pure
    // function of stable ids); the report carries kept char mass so the
    // verdict depends on WHICH docs survive, not just how many. At scale
    // the rank window shuffles by source — a hot domain serializes into
    // one task, and the production mitigation is a per-partition
    // pre-count pass that short-circuits sources already over quota.
    Query("source_quota_cap", (s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      documents(s, d)
        .withColumn("rn", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum((col("rn") <= 5).cast("long")).as("n_kept"),
          sum(when(col("rn") <= 5, col("n_chars")).otherwise(0).cast("long"))
            .as("kept_chars"))
        .orderBy("source")
    }, oracle =
      """WITH r AS (
        |  SELECT source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_total,
        |       CAST(SUM(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN rn <= 5 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin),
    // Deterministic negative-pair sampling (contrastive-training op): each
    // anchor doc pairs with a pseudo-random partner — the digits-13-16 draw
    // mod the corpus size, never rand(),
    // so the pairing is reproducible and auditable. The corpus size
    // arrives as a broadcast 1-row cross join; the partner fetch is a
    // plain equi join on the computed id. same_lang marks in-language vs
    // cross-language negatives (the hard/easy split a trainer weights).
    Query("negative_pairs", (s, d) => {
      val docs = documents(s, d)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val a = docs.select(col("doc_id"), col("lang"))
        .crossJoin(broadcast(n))
        .withColumn("neg_id",
          (md5Fold(col("doc_id"), 13) % col("n_docs")).cast("long"))
        .filter(col("neg_id") =!= col("doc_id"))
      val b = docs.select(col("doc_id").as("neg_id"), col("lang").as("neg_lang"))
      a.join(b, "neg_id")
        .select(col("doc_id"), col("neg_id"),
          (col("lang") === col("neg_lang")).as("same_lang"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH h AS (
        |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |a AS (
        |  SELECT doc_id, lang,
        |    CAST(${oracleMd5Fold(13)}
        |      % (SELECT COUNT(*) FROM documents) AS BIGINT) AS neg_id
        |  FROM h)
        |SELECT a.doc_id, a.neg_id, a.lang = b.lang AS same_lang
        |FROM a JOIN documents b ON a.neg_id = b.doc_id
        |WHERE a.neg_id <> a.doc_id
        |ORDER BY a.doc_id""".stripMargin),
    // Multimodal binary-column plumbing (builder mandate): payloads as
    // opaque binary + typed metadata; "decode" is a deterministic stub
    // (real image/audio libs absent by design) but schema, batching and
    // partition shape are real. See Multimodal.featurize.
    Query("multimodal_meta", (s, d) => Multimodal.pipeline(s, d), oracle =
      // Stub features are (byte & 0xff)/256 — exact dyadic rationals, so the
      // 8-element sum is order-independent and oracle-safe; ord() == byte on
      // this ASCII corpus.
      """SELECT doc_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
        |       CAST(least(length(text), 64) AS BIGINT) AS n_bytes,
        |       CAST(8 AS INT) AS n_features,
        |       list_aggregate(list_transform(range(1, 9), i -> ord(text[i:i]) / 256.0), 'sum') AS feature_sum
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Frame-sampling over "video" payloads: one row fans out to n frames
    // (stubbed decode; real explode-shaped batched plumbing).
    Query("multimodal_frames", (s, d) => {
      val media = documents(s, d).filter(col("doc_id") < 500).select(
        col("doc_id"),
        encode(substring(col("text"), 1, 64), "UTF-8").as("payload"),
        lit("video/mp4").as("mime"),
        length(substring(col("text"), 1, 64)).cast("long").as("n_bytes"))
      Multimodal.frameSample(s, media, stride = 16, frameLen = 8)
        .orderBy("doc_id", "frame")
    }, oracle =
      // Stub frame features are sums of (byte&0xff)/256 dyadic rationals —
      // exact and order-independent, so the fan-out is fully hashable; ord()
      // == byte on this ASCII corpus (same assumption as multimodal_meta).
      """WITH m AS (
        |  SELECT doc_id, least(length(text), 64) AS L, text
        |  FROM documents WHERE doc_id < 500),
        |frames AS (
        |  SELECT doc_id, CAST(f.i AS INT) AS frame,
        |         list_aggregate(list_transform(range(1, least(8, L - 16*f.i) + 1),
        |             j -> ord(text[CAST(16*f.i + j AS INT):CAST(16*f.i + j AS INT)]) / 256.0), 'sum') AS feature_sum
        |  FROM m CROSS JOIN range(0, 4) AS f(i)
        |  WHERE f.i < ceil(L / 16.0))
        |SELECT doc_id, frame, feature_sum FROM frames ORDER BY doc_id, frame""".stripMargin),
    // Byte-exact payload dedup — the FIRST pass of any multimodal dedup at
    // 100 TB (identical image/audio files re-crawled under different URLs
    // dominate raw-crawl duplication; perceptual hashing only runs on what
    // survives this). Digest-only shuffle (32-byte sha256 per payload —
    // the dedup_exact_text discipline applied to the binary column): the
    // payloads themselves never move, keeper = min doc_id per digest,
    // bytes_saved = what deleting the copies reclaims. Payloads are the
    // staged first-64-byte stand-ins the other multimodal keys use
    // (fixtures carry no real media by design).
    Query("multimodal_dedup_bytes", (s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          sha2(encode(substring(col("text"), 1, 64), "UTF-8"), 256).as("h"),
          length(encode(substring(col("text"), 1, 64), "UTF-8"))
            .cast("long").as("n_bytes"))
        .groupBy("h")
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_copies"),
          max(col("n_bytes")).as("n_bytes"))
        .select(col("keeper"), col("h"), col("n_copies"),
          ((col("n_copies") - 1) * col("n_bytes")).as("bytes_saved"))
        .orderBy("keeper")
    }, oracle =
      // same staged payload bytes (ASCII corpus: chars == bytes, so the
      // VARCHAR-side sha256/length agree with Spark's binary-side ones)
      """WITH m AS (
        |  SELECT doc_id, sha256(text[1:64]) AS h,
        |         CAST(length(text[1:64]) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT MIN(doc_id) AS keeper, h, COUNT(*) AS n_copies,
        |       (COUNT(*) - 1) * MAX(n_bytes) AS bytes_saved
        |FROM m GROUP BY h ORDER BY keeper""".stripMargin),
    // Perceptual-hash near-dup dedup over the staged payloads (round 11) —
    // the SECOND pass of multimodal dedup, after multimodal_dedup_bytes
    // removes byte-exact copies: re-encoded / slightly-corrupted files
    // share most local content but no bytes, so they're caught by a
    // locality-sensitive fingerprint compared under Hamming distance.
    // The fingerprint is a 48-bit SimHash over payload byte 4-grams with
    // md5 gram hashes (the dedup_minhash_banded discipline: md5 makes
    // every intermediate a cross-engine-reproducible function of the
    // bytes; the xxhash64 simhash64 kernel stays the fast path for the
    // engine-local dedup_simhash key). Pairing is EXACT by pigeonhole
    // banding — 3 disjoint 16-bit bands: two hashes within Hamming
    // distance 2 differ in ≤2 bands, so they MATCH exactly in ≥1 band;
    // candidates are band-equality join hits only, verified by
    // bit_count(xor) ≤ 2. Unlike sign-LSH this loses NOTHING — the band
    // join is a complete cover of the ≤2-ball. 100 TB shape: only
    // (doc_id, band, band_value) rows shuffle for candidates (id pairs
    // come back for one hash re-join), and the scale lever is CODE WIDTH,
    // not recall: wider fingerprints (e.g. 256-bit, 64-bit bands) keep
    // bucket occupancy flat as the corpus grows — the multi-index-hashing
    // layout. Verdict output (keeper = smallest close earlier doc) keeps
    // rows linear in docs however large a near-dup cluster is.
    Query("multimodal_dedup_phash", (s, d) =>
      // exact pigeonhole pairing — operators.HammingBanding (planted
      // completeness/exclusion fuzz in HammingBandingSpec)
      graft.operators.HammingBanding
        .closeVerdicts(payloadPhash(s, d), "doc_id", "ph",
          bandBits = 16, nBands = 3, maxDist = 2)
        .orderBy("doc_id"), oracle =
      // The phash recurrence is replayed md5-for-md5 (the dedup_minhash_banded
      // caveat: no independent minwise/majority construction exists), but the
      // PAIRING is genuinely independent: brute-force all-pairs Hamming —
      // no bands, no pigeonhole — so the gate proves the banded cover finds
      // exactly the <=2-ball the quadratic scan finds.
      // close pairs via the FULL n² cover — the oracle independently
      // proves the pigeonhole banding loses nothing
      s"""WITH $PhashOracleCtes,
         |close_pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ph, b.ph)) <= 2)
         |SELECT d2 AS doc_id, MIN(d1) AS keeper, COUNT(*) AS n_close
         |FROM close_pairs GROUP BY d2 ORDER BY doc_id""".stripMargin),
    // Hamming-banding calibration audit (round 14c) — the phash family's
    // twin of dedup_minhash_calibration: the exact Hamming-distance
    // histogram of every band-collision candidate pair, on the SAME
    // payloadPhash fingerprints and the SAME HammingBanding candidate
    // generator the dedup key ships (shared builders — the audit cannot
    // describe different production signatures). The readout: how much
    // 2⁻¹⁶-band background noise the banding admits (the candidates with
    // hd > maxDist that verification discards) vs the ≤2-ball it covers
    // completely — the number that justifies, or re-sizes, the code/band
    // width before trusting the layout at a bigger corpus. Candidates
    // are band-bounded (3·n²/2¹⁶ background), the histogram is
    // ≤49 rows, one map-side count agg.
    Query("dedup_phash_calibration", (s, d) =>
      graft.operators.HammingBanding
        .candidatePairs(payloadPhash(s, d), "doc_id", "ph",
          bandBits = 16, nBands = 3)
        .groupBy("hd")
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("hd"), col("n_pairs"),
          (col("hd") <= 2).as("within_ball"))
        .orderBy("hd"), oracle =
      // the calibration REPLAYS the banding (an audit describes the
      // production candidate generator), over the same shared ph CTEs
      s"""WITH $PhashOracleCtes,
         |banded AS (
         |  SELECT doc_id, t.k AS band,
         |         (ph >> (CAST(t.k AS INT) * 16)) & 65535 AS bv
         |  FROM ph, UNNEST(range(0, 3)) AS t(k)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
         |hds AS (
         |  SELECT bit_count(xor(a.ph, b.ph)) AS hd
         |  FROM cand JOIN ph a ON cand.d1 = a.doc_id
         |            JOIN ph b ON cand.d2 = b.doc_id)
         |SELECT CAST(hd AS INT) AS hd, COUNT(*) AS n_pairs,
         |       hd <= 2 AS within_ball
         |FROM hds GROUP BY hd ORDER BY hd""".stripMargin),
    // CROSS-CORPUS overlap matrix (round 11): distinct-word-3-gram Jaccard
    // between every pair of sources — the dataset-level contamination /
    // redundancy measurement run before mixing corpora (is source X
    // largely a re-crawl of source Y?). Distinct from text_decontaminate
    // (docs vs a small broadcast benchmark set) and the dedup family
    // (doc-granular verdicts): this is source-granular, all-pairs over a
    // HANDFUL of sources. 100 TB shape: the expensive step collapses the
    // corpus to DISTINCT (source, gram-hash) rows — grams travel as 64-bit
    // hashes from the fused native pass, text never shuffles; everything
    // after is |distinct grams| × |sources|-bounded: the pair counts come
    // from a self-equi-join on the hash (each posting meets only its own
    // bucket, ≤ |sources| rows) and the per-source totals are a
    // vocabulary-sized broadcast. jaccard_q6 is exact integer fixed point.
    Query("corpus_overlap_ngram", (s, d) => {
      val grams = documents(s, d).select(col("source"),
          explode(wordNgramHashes(3)).as("g"))
        .distinct()
      val counts = grams.groupBy("source").agg(count(lit(1)).as("n"))
      val a = grams.select(col("source").as("src_a"), col("g"))
      val b = grams.select(col("source").as("src_b"), col("g"))
      val common = a.join(b, "g").filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
      common
        .join(broadcast(counts.select(col("source").as("src_a"),
          col("n").as("n_a"))), "src_a")
        .join(broadcast(counts.select(col("source").as("src_b"),
          col("n").as("n_b"))), "src_b")
        .withColumn("jaccard_q6",
          expr("n_common * 1000000 DIV (n_a + n_b - n_common)"))
        .select("src_a", "src_b", "n_common", "n_a", "n_b", "jaccard_q6")
        .orderBy("src_a", "src_b")
    }, oracle =
      // independent construction over PLAIN string word-3-grams (no hashing);
      // the sub-3-token clamp mirrors the kernel's max(len-n+1, 1) fallback
      // (same slice-clamp idiom as the text_decontaminate oracle); counts
      // agree absent a 64-bit collision; // matches DIV on non-negatives
      """WITH toks AS (
        |  SELECT source, str_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT DISTINCT source,
        |         unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
        |                               i -> array_to_string(t[i:i+2], ' '))) AS gram
        |  FROM toks),
        |c AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
        |common AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common, ca.n AS n_a, cb.n AS n_b,
        |       n_common * 1000000 // (ca.n + cb.n - n_common) AS jaccard_q6
        |FROM common
        |JOIN c ca ON ca.source = src_a
        |JOIN c cb ON cb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin),
    // CCNet-style per-language quality tertiles (round 12): CCNet (Wenzek
    // et al. 2020) buckets each language's crawl into head/middle/tail by
    // per-language perplexity percentile, and trains on head+middle —
    // thresholds must be PER LANGUAGE because absolute scores are not
    // comparable across languages. Fluency proxy here: stopword-hit ratio
    // as exact integer fixed point fl_q6 = hits·10⁶ DIV tokens (the
    // corpus marker lexicon — higher = more fluent = head). Bucket
    // boundary is defined by STRICT-GREATER counts, not ntile: with
    // hi = |{docs in lang with fl_q6 > mine}| and n = |lang|, bucket =
    // head if 3·hi < n, middle if 3·hi < 2n, else tail — ties share a
    // bucket (a doc never outranks an equal-scoring doc), and the rule is
    // all-integer. 100 TB shape: NO per-language global sort — the doc
    // pass is one map-side TokenStats scan; ranking runs on the
    // (lang, fl_q6) HISTOGRAM (domain ≤ |langs|·10⁶ rows, counting-sort
    // style) with a window over that compact table, then joins back on
    // (lang, fl_q6). The DuckDB oracle is an INDEPENDENT construction —
    // rank()-1 over raw docs — so the gate cross-checks the histogram
    // derivation itself.
    Query("quality_buckets_lang", (s, d) => {
      val q = qualityStats
      val scored = documents(s, d).select(col("doc_id"), col("lang"),
          q.nStop.cast("long").as("n_stop"), q.nTok.cast("long").as("n_tok"))
        // split("", " ") yields [""], so n_tok >= 1 — the DIV cannot be /0
        .select(col("doc_id"), col("lang"),
          expr("n_stop * 1000000L DIV n_tok").as("fl_q6"))
      val hist = scored.groupBy("lang", "fl_q6").agg(count(lit(1)).as("c"))
      val wDesc = Window.partitionBy("lang").orderBy(desc("fl_q6"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wLang = Window.partitionBy("lang")
      val ranked = hist
        .withColumn("hi", coalesce(sum(col("c")).over(wDesc), lit(0L)))
        .withColumn("n", sum(col("c")).over(wLang))
        .select(col("lang"), col("fl_q6"), col("hi"), col("n"))
      scored.join(ranked, Seq("lang", "fl_q6"))
        .select(col("doc_id"), col("lang"), col("fl_q6"),
          when(col("hi") * 3 < col("n"), 1)
            .when(col("hi") * 3 < col("n") * 2, 2)
            .otherwise(3).as("bucket"))
        .orderBy("doc_id")
    }, oracle =
      // INDEPENDENT construction: rank()-1 over the raw docs per language
      // (the engine derives strict-greater counts from the (lang, fl_q6)
      // histogram instead — the gate cross-checks the two)
      s"""WITH s AS (
        |  SELECT doc_id, lang,
        |         CAST(len(list_filter(str_split(text, ' '),
        |                t -> list_contains($OracleStopwords, t))) AS BIGINT)
        |           * 1000000 // len(str_split(text, ' ')) AS fl_q6
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, fl_q6,
        |         rank() OVER (PARTITION BY lang ORDER BY fl_q6 DESC) - 1 AS hi,
        |         COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM s)
        |SELECT doc_id, lang, CAST(fl_q6 AS BIGINT) AS fl_q6,
        |       CAST(CASE WHEN hi * 3 < n THEN 1
        |                 WHEN hi * 3 < 2 * n THEN 2 ELSE 3 END AS INT) AS bucket
        |FROM r ORDER BY doc_id""".stripMargin),
    // DSIR importance weighting (round 12): Data Selection via Importance
    // Resampling (Xie et al. 2023) — score every raw doc by how
    // target-like its hashed-ngram feature distribution is, then sample
    // proportionally. Features: unigram occurrences hashed into B = 256
    // buckets (the digits-25-28 draw of the TOKEN). Target
    // distribution = the lang='en' slice; raw = the whole corpus. Bucket
    // log-ratio lr(b) = ln((n_t(b)+1)/(T+B)) − ln((n_r(b)+1)/(R+B))
    // (add-one smoothing) is computed as ONE ln of the exact rational
    // (n_t+1)(R+B) / ((n_r+1)(T+B)) — both operands exact in double
    // (≪ 2⁵³) — then half-up scaled to an INTEGER at 1e-8
    // (floor(x·1e8+0.5), the profile_entropy/tfidf transcendental
    // discipline; measured min distance to a rounding boundary across all
    // occupied buckets × SFs is ~2.9e-11, ~5 orders above libm ulp noise
    // — PropertySpec re-measures it against the live fixture). The
    // per-doc score
    // Σ_tokens lr_q8(bucket(token)) is then an ORDER-INDEPENDENT exact
    // long — no float sum ever crosses engines. 100 TB shape: one explode
    // pass → B-row count table (map-side-combinable, two counts in one
    // agg); the 256-row lr table and the 1-row totals ride broadcasts;
    // the doc score is one map-side-combinable sum keyed by doc_id. The
    // log-ratio table is tiny and static — in production it would be fit
    // once and reused across corpus shards.
    Query("dsir_importance", (s, d) => {
      val B = 256
      // ONE tokenize+hash pass feeds both the bucket-count agg and the
      // per-doc score join (r17 optimization: without the lineage cut the
      // explode+md5Fold subtree ran twice — measured 4.2 s warm at sf0.1
      // under noop; checkpointing the 3-narrow-column (doc_id, lang, b)
      // projection, with the token string dropped, tokenizes once). The
      // materialized rows are 3 small values per token — the §2.3
      // "shuffle keys, not payloads" discipline applied to a reuse point.
      val toks = documents(s, d).select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("tok"))
        .withColumn("b", md5Fold(col("tok"), 25) % B)
        .select("doc_id", "lang", "b")
        .localCheckpoint()
      val counts = toks.groupBy("b").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"),
        count(lit(1)).as("n_r"))
      val totals = counts.agg(sum("n_t").as("tt"), sum("n_r").as("rr"))
      val lr = counts.crossJoin(broadcast(totals))
        .select(col("b"),
          floor(log((col("n_t") + 1).cast("double") *
              (col("rr") + B).cast("double") /
              ((col("n_r") + 1).cast("double") *
                (col("tt") + B).cast("double"))) * lit(1.0e8) + lit(0.5))
            .cast("long").as("lr_q8"))
      toks.join(broadcast(lr), "b")
        .groupBy("doc_id").agg(max(col("lang")).as("lang"),
          count(lit(1)).as("n_tok"), sum(col("lr_q8")).as("dsir_q8"))
        .orderBy("doc_id")
    }, oracle =
      // the token-bucket draw; the bucket log-ratio is one ln of an exact
      // rational, half-up quantized to q8 BEFORE the per-doc integer sum
      s"""WITH toks AS (
        |  SELECT doc_id, lang, unnest(str_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang, md5(tok) AS hx FROM toks),
        |bk AS (
        |  SELECT doc_id, lang,
        |    ${oracleMd5Fold(25)} % 256 AS b
        |  FROM h),
        |counts AS (
        |  SELECT b, SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t,
        |         COUNT(*) AS n_r
        |  FROM bk GROUP BY b),
        |tot AS (SELECT SUM(n_t) AS tt, SUM(n_r) AS rr FROM counts),
        |lr AS (
        |  SELECT b,
        |         CAST(floor(ln(CAST((n_t + 1) * (rr + 256) AS DOUBLE)
        |                       / CAST((n_r + 1) * (tt + 256) AS DOUBLE))
        |                    * 1e8 + 0.5) AS BIGINT) AS lr_q8
        |  FROM counts, tot)
        |SELECT bk.doc_id, MAX(bk.lang) AS lang, COUNT(*) AS n_tok,
        |       CAST(SUM(lr.lr_q8) AS BIGINT) AS dsir_q8
        |FROM bk JOIN lr USING (b)
        |GROUP BY bk.doc_id ORDER BY bk.doc_id""".stripMargin)
  )

  /** Hex digit i (1-based) of the DuckDB md5 hex column `hx`, as its
    * value 0-15. */
  private def oracleHexDigit(i: Int): String =
    s"(CASE WHEN ord(hx[$i:$i]) >= 97 THEN ord(hx[$i:$i]) - 87 " +
      s"ELSE ord(hx[$i:$i]) - 48 END)"

  /** DuckDB spelling of [[md5Fold]] over the md5 hex column `hx`: digits
    * [from, from+3] folded base 16, one digit per line unless `plus` joins
    * them on one. */
  private def oracleMd5Fold(from: Int, plus: String = "\n      + "): String =
    (from + 1 to from + 3).foldLeft(s"(((${oracleHexDigit(from)}")(
      (acc, i) => s"$acc * 16$plus${oracleHexDigit(i)})")

  /** A word list as a DuckDB list literal. */
  private def sqlList(words: Iterable[String]): String =
    words.map(w => s"'$w'").mkString("[", ",", "]")

  /** The [[qualityStats]] stopword lexicon (the distinct marker words). */
  private val OracleStopwords: String =
    sqlList(LangMarkers.values.flatten.toSeq.distinct)

  /** The marker-hit columns `h_<lang>` of [[predictedLang]], one per line. */
  private val OracleLangHits: String = LangMarkers.map { case (lang, words) =>
    s"    len(list_filter(str_split(text,' '), x -> list_contains(" +
      s"${sqlList(words)}, x))) AS h_$lang"
  }.mkString(",\n")

  /** DuckDB spelling of [[qualityStats]] as the CTE
    * `q(doc_id, n_tok, mean_len, n_stop, symbol_ratio)`. */
  private val OracleQualityCte: String =
    s"""q AS (
       |  SELECT doc_id,
       |         len(str_split(text, ' ')) AS n_tok,
       |         CAST(list_aggregate(list_transform(str_split(text, ' '), t -> length(t)), 'sum') AS DOUBLE)
       |           / len(str_split(text, ' ')) AS mean_len,
       |         len(list_filter(str_split(text, ' '),
       |              t -> list_contains($OracleStopwords, t))) AS n_stop,
       |         CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
       |           / length(text) AS symbol_ratio
       |  FROM documents)""".stripMargin

  /** DuckDB spelling of [[splitRule]]: the bucket column over `hx`, and
    * the CASE that names its split. */
  private val OracleSplitBucket: String = s"${oracleMd5Fold(1)} % 10 AS bucket"
  private val OracleSplitCase: String =
    """CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val'
      |            ELSE 'test' END AS split""".stripMargin

  /** DuckDB spelling of [[packedLayout]] as CTEs `t` (shard, n_tok) and
    * `w` (the per-shard running stream_end). */
  private val OraclePackedLayoutCtes: String =
    s"""t AS (
       |  SELECT doc_id,
       |    CAST(${oracleMd5Fold(1)} % 8 AS INT) AS shard,
       |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents)),
       |w AS (
       |  SELECT doc_id, shard, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS stream_end
       |  FROM t)""".stripMargin

  /** DuckDB spelling of [[bm25Top20]]'s scores: the tok … contrib CTEs,
    * then `<score>(doc_id, score)` with the pivoted c1+c2+c3 sum. */
  private def oracleBm25(score: String): String =
    s"""tok AS (
       |  SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
       |corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS n_tok FROM dl),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
       |       WHERE token IN ('join','filter','stream') GROUP BY doc_id, token),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
       |contrib AS (
       |  SELECT tf.doc_id, tf.token,
       |         ln((CAST(n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
       |            / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |            + CAST(1.0 AS DOUBLE))
       |         * (tf * CAST(2.2 AS DOUBLE))
       |         / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
       |            + CAST(0.75 AS DOUBLE)
       |              * (CAST(dl.dl AS DOUBLE) * n_docs) / n_tok)) AS c
       |  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN corpus),
       |$score AS (
       |  SELECT doc_id,
       |         round(coalesce(max(CASE WHEN token = 'join' THEN c END), CAST(0 AS DOUBLE))
       |             + coalesce(max(CASE WHEN token = 'filter' THEN c END), CAST(0 AS DOUBLE))
       |             + coalesce(max(CASE WHEN token = 'stream' THEN c END), CAST(0 AS DOUBLE)),
       |           4) AS score
       |  FROM contrib GROUP BY doc_id)""".stripMargin

  /** DuckDB spelling of `Similarity.quantizedScores`: the int8 vectors,
    * the probe `p` (vec 0) and `vs(vec_id, score)`. */
  private val OracleInt8ProbeScores: String =
    s"""${Similarity.OracleInt8Vectors},
       |p AS (SELECT qv AS pv FROM q WHERE vec_id = 0),
       |vs AS (SELECT q.vec_id, CAST(list_dot_product(q.qv, p.pv) AS BIGINT) AS score
       |       FROM q, p WHERE q.vec_id <> 0)""".stripMargin

  /** DuckDB spelling of [[bigramPairs]] without doc_id: `d` (token lists)
    * and `big(w1, w2)`. */
  private val OracleBigramCtes: String =
    """d AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
      |big AS (
      |  SELECT ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2
      |  FROM d, UNNEST(range(1, len(ws))) AS t(i))""".stripMargin

  /** The bpeLearn recurrence as a DuckDB CTE prefix (words → v0 → … → v8
    * with per-round b$k argmax and m$k merge rows), shared by BOTH bpe
    * oracles so the trainer's and encoder's replays cannot drift — the
    * same leftmost non-overlapping space-delimited replace, the same
    * (cnt DESC, a, b) tie-break (the HITS/pagerank unrolled-recurrence
    * precedent). */
  private def bpeOracleCtes: String = {
    val rounds = (0 until 8).map { k =>
      s"""p$k AS (
         |  SELECT l[x] AS a, l[x+1] AS b, SUM(c) AS cnt
         |  FROM (SELECT c, str_split(trim(seg), ' ') AS l FROM v$k),
         |       unnest(range(1, len(l))) AS t(x)
         |  GROUP BY 1, 2),
         |b$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |m$k AS (SELECT $k AS step, a AS lhs, b AS rhs,
         |        CAST(cnt AS BIGINT) AS cnt FROM b$k),
         |v${k + 1} AS (
         |  SELECT w, c, replace(seg, ' ' || a || ' ' || b || ' ',
         |                       ' ' || a || b || ' ') AS seg
         |  FROM v$k, b$k)""".stripMargin
    }.mkString(",\n")
    s"""words AS (
       |  SELECT w, COUNT(*) AS c FROM (
       |    SELECT unnest(str_split(text, ' ')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$')
       |  GROUP BY w),
       |v0 AS (
       |  SELECT w, c, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seg
       |  FROM words),
       |$rounds""".stripMargin
  }

  /** DuckDB spelling of [[epochSchedule]] as CTEs ending in `sched` —
    * interpolated into BOTH mix oracles (one definition, cannot drift). */
  private val MixScheduleCtes: String =
    """c AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |         CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |  FROM documents GROUP BY lang),
      |w AS (
      |  SELECT lang, n_docs, n_chars,
      |         CAST(floor(sqrt(CAST(n_chars AS DOUBLE)) * 1e6) AS BIGINT)
      |           AS w_q6
      |  FROM c),
      |t AS (SELECT CAST(SUM(w_q6) AS BIGINT) AS w_sum,
      |             CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM w),
      |sched AS (
      |  SELECT lang, n_docs, n_chars,
      |         CAST(w_q6 * 1000000 // w_sum AS BIGINT) AS share_q6,
      |         CAST(CAST(total_chars AS HUGEINT) * w_q6 // w_sum AS BIGINT)
      |           AS quota_chars,
      |         CAST(least(4000000,
      |                (CAST(total_chars AS HUGEINT) * w_q6 // w_sum)
      |                * 1000000 // n_chars) AS BIGINT) AS epochs_q6,
      |         CAST(CAST(n_chars AS HUGEINT) * least(4000000,
      |                (CAST(total_chars AS HUGEINT) * w_q6 // w_sum)
      |                * 1000000 // n_chars) // 1000000 AS BIGINT)
      |           AS effective_chars
      |  FROM w, t)""".stripMargin

  /** DuckDB spelling of [[payloadPhash]] as CTEs ending in `ph` —
    * interpolated into both the dedup and the calibration oracles (one
    * SQL definition of the fingerprint, mirroring the shared Scala
    * builder). ((...(d1·16+d2)·16...)+d12): the 12-hex-digit fold of
    * md5(g), matching Spark's base-16 conversion of the same 12 digits;
    * the fold seeds in BIGINT — 12 hex digits overflow INT32 arithmetic. */
  private val PhashOracleCtes: String = {
    val fold = (2 to 12).foldLeft(s"CAST(${oracleHexDigit(1)} AS BIGINT)")(
      (acc, i) => s"($acc * 16 + ${oracleHexDigit(i)})")
    s"""pay AS (SELECT doc_id, text[1:64] AS p FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(length(p) - 3, 1) + 1),
       |                               i -> p[i:i+3])) AS g
       |  FROM pay),
       |gh AS (
       |  SELECT doc_id, CAST($fold AS BIGINT) AS gh
       |  FROM (SELECT doc_id, md5(g) AS hx FROM g)),
       |bits AS (
       |  SELECT doc_id, b,
       |         SUM(CASE WHEN (gh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM gh CROSS JOIN (SELECT unnest(range(0, 48)) AS b) bb
       |  GROUP BY doc_id, b),
       |ph AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
       |                       ELSE 0 END) AS BIGINT) AS ph
       |  FROM bits GROUP BY doc_id)""".stripMargin
  }

  /** [[MixScheduleCtes]] extended to the `rep` CTE — the DuckDB spelling
    * of [[materializedRepeats]], interpolated into both the repeats and
    * the shard-assignment oracles (one definition on the SQL side too). */
  private val MaterializeRepeatsCtes: String =
    s"""$MixScheduleCtes,
       |h AS (
       |  SELECT doc_id, lang, n_chars,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 29, 4))
       |              AS BIGINT) AS u16
       |  FROM documents),
       |rep AS (
       |  SELECT h.doc_id, h.lang, h.n_chars,
       |         CAST(epochs_q6 // 1000000
       |              + (CASE WHEN u16 * 1000000
       |                           < (epochs_q6 % 1000000) * 65536
       |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_repeats
       |  FROM h JOIN sched ON h.lang = sched.lang)""".stripMargin
}
