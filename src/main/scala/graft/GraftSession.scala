package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** The one registry of graft's native SQL functions, shared by the
  * extensions path (`spark.sql.extensions=graft.GraftExtensions`) and the
  * late-registration path (`GraftSession.register`). Every builder
  * validates arity — and foldability where a literal is required — via
  * [[SqlArgs]], so a misuse fails at plan time with the function name
  * rather than deep inside `eval()` on an unresolved expression.
  */
private[graft] object GraftFunctions {

  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", classOf[RollingHash], { exprs: Seq[Expression] =>
      SqlArgs.arity("rolling_hash", exprs, 1, 1)
      RollingHash(exprs.head)
    }),
    ("dot_product", classOf[DotProduct], { exprs: Seq[Expression] =>
      SqlArgs.arity("dot_product", exprs, 2, 2)
      DotProduct(exprs(0), exprs(1))
    }),
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      { exprs: Seq[Expression] =>
        SqlArgs.arity("sorted_intersect_count", exprs, 2, 2)
        SortedIntersectCount(exprs(0), exprs(1))
      }),
    ("ngram_hashes", classOf[CharNgramHashes], { exprs: Seq[Expression] =>
      SqlArgs.arity("ngram_hashes", exprs, 2, 2)
      CharNgramHashes(exprs(0), SqlArgs.foldableInt("ngram_hashes", exprs, 1, "n"))
    }),
    ("minhash_array", classOf[MinHashArray], { exprs: Seq[Expression] =>
      SqlArgs.arity("minhash_array", exprs, 2, 2)
      MinHashArray(exprs(0), SqlArgs.foldableInt("minhash_array", exprs, 1, "k"))
    }),
    ("md5_minhashes", classOf[Md5MinHashes], { exprs: Seq[Expression] =>
      SqlArgs.arity("md5_minhashes", exprs, 2, 2)
      Md5MinHashes(exprs(0),
        SqlArgs.foldableInt("md5_minhashes", exprs, 1, "k"))
    }),
    ("token_ngram_hashes", classOf[TokenNgramHashes], { exprs: Seq[Expression] =>
      SqlArgs.arity("token_ngram_hashes", exprs, 2, 2)
      TokenNgramHashes(exprs(0),
        SqlArgs.foldableInt("token_ngram_hashes", exprs, 1, "n"))
    }),
    ("token_stats", classOf[TokenStats], { exprs: Seq[Expression] =>
      TokenStats.fromSql(exprs) // arity/foldability checked inside
    }),
    ("simhash64", classOf[SimHash64], { exprs: Seq[Expression] =>
      SqlArgs.arity("simhash64", exprs, 1, 1)
      SimHash64(exprs.head)
    }),
    ("sign_band_buckets", classOf[SignBandBuckets], { exprs: Seq[Expression] =>
      SqlArgs.arity("sign_band_buckets", exprs, 4, 4)
      SignBandBuckets.seeded(exprs(0),
        SqlArgs.foldableInt("sign_band_buckets", exprs, 1, "bands"),
        SqlArgs.foldableInt("sign_band_buckets", exprs, 2, "bitsPerBand"),
        SqlArgs.foldableInt("sign_band_buckets", exprs, 3, "seed"))
    }),
    ("canonical_url", classOf[CanonicalUrl], { exprs: Seq[Expression] =>
      SqlArgs.arity("canonical_url", exprs, 1, 1)
      CanonicalUrl(exprs.head)
    }),
    ("winnow_fps", classOf[WinnowFingerprints], { exprs: Seq[Expression] =>
      SqlArgs.arity("winnow_fps", exprs, 3, 3)
      WinnowFingerprints(exprs.head,
        SqlArgs.foldableInt("winnow_fps", exprs, 1, "k"),
        SqlArgs.foldableInt("winnow_fps", exprs, 2, "w"))
    }),
    // runtime-filter surface (wrappers over Spark's internal
    // BloomFilterAggregate / BloomFilterMightContain — see BloomPrefilter)
    ("bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      BloomPrefilter.aggBuilder _),
    ("bloom_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      BloomPrefilter.containsBuilder _),
  )
}

/** Session extensions: registers graft's native expressions as SQL
  * functions so the whole library surface is reachable from `spark.sql`:
  *
  *   SELECT doc_id, rolling_hash(text)          FROM documents
  *   SELECT dot_product(a.embedding, b.embedding) ...
  *   SELECT sorted_intersect_count(t1, t2) ...
  *   SELECT ngram_hashes(text, 3) ...
  *
  * Activate via `GraftSession.builder(...)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, clazz, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
}

/** The library's front door: a SparkSession tuned the way every graft
  * operator expects (UTC, AQE, right-sized shuffle partitions, native
  * functions registered). A user of the reference pipeline starts here.
  * [[builder]] is the ONE place a session is configured: the graft mains
  * (via [[forMain]]), the benchmark harness and the test suite all build
  * through it, so the plans the tests pin are the plans the mains run.
  */
object GraftSession {
  /** Broadcast-decision calibration (r16 verdict #1). Spark decides
    * BroadcastHashJoin from the ESTIMATED build size = file bytes ×
    * column-pruning ratio, but the build that actually lands on the
    * driver and every executor is the row-format serialized relation —
    * the BroadcastAudit study measured the gap at 6.3× on the star
    * join's pruned customer dim (actual ≈ 43 B/row vs the pruned
    * estimate's ≈ 6.8 B/row, SCALING.md `join_multiway`), so the
    * estimate crossed the 10 MB threshold at m≈103 while the actual
    * bytes crossed at m≈16 — a 1-4× over-threshold build shipped
    * across the whole window. `fileCompressionFactor` is Spark's own
    * knob for exactly this bias: it multiplies every file-scan size
    * estimate (the pruning ratio composes on top), moving the
    * broadcast flip to where the ACTUAL bytes cross the threshold.
    * Erring high is safe — broadcast is an optimization; a shuffle
    * join of a genuinely small side costs little, while an oversize
    * broadcast is a driver/executor OOM at scale. */
  val FileCompressionFactor = "6.3"

  /** Tungsten memory page size (r17, BroadcastAudit fidelity + memory
    * pressure). Spark's default page size scales with heap/cores and on a
    * big-heap driver reaches 32-64 MiB; `BytesToBytesMap` allocates a
    * full first page, so every broadcast build's `dataSize` metric — the
    * number BroadcastAudit reads — has a 32 MiB allocation FLOOR there,
    * drowning the 10 MB threshold in false 2x violations (measured:
    * 61/61 builds of a bench sweep read 32 MiB + real bytes). 2 MiB is
    * what Spark's own formula yields on a production executor shape
    * (heap/cores/16 with many cores sharing the heap); it makes
    * `dataSize` faithful to ±2 MiB and caps per-task first-page waste at
    * 32 threads × 2 MiB instead of × 32 MiB. Page acquisition is
    * bookkeeping-cheap, so sort/agg hot paths are unaffected. */
  val BufferPageSize = "2m"

  /** Janino codegen cache size (`spark.sql.codegen.cache.maxEntries`).
    * Spark's default of 100 entries is far below what one graft session
    * generates, so a plan shape run again (the next trigger firing, the
    * next bench or verify pass) recompiles its classes and then runs them
    * unoptimized until the JIT catches up. The value holds one full pass
    * over the query registry, the working set of the largest in-repo
    * sessions (`graft.Verify`, `graft.Bench`). Measured over all 325
    * keys at sf0.001 (noop writes, `local[4]` on a 4-vCPU VM, one cold
    * pass, then one warm pass):
    *
    *  - a cold pass generates 3,948 distinct classes;
    *  - at 100 entries the cold pass compiles 6,045 and the warm pass
    *    5,996 (79 s of Janino, 266 s pass wall);
    *  - at 8,192 the warm pass compiles 421 (5.5 s, 176 s wall): plans
    *    whose generated code differs from call to call;
    *  - metaspace and code cache at the end of the warm pass hold
    *    254 + 161 MB at 8,192 and 258 + 161 MB at 100, because the small
    *    cache keeps loading fresh copies of the classes it evicts.
    *
    * 8,192 holds the pass about twice over, so classes made fresh on
    * every pass are evicted before the reused ones. The conf is static:
    * `CodeGenerator` reads it once, at the first codegen in the JVM, to
    * size its JVM-wide cache, so it can only live here, where the session
    * is first configured. */
  val CodegenCacheEntries = 8192

  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce post-shuffle partitions to the advisory size rather than
      // to max parallelism — at cluster scale (and at local[32]) the
      // default parallelismFirst=true pins every small shuffle to one tiny
      // partition per core; sizing to data is the scale-correct default
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.sources.fileCompressionFactor", FileCompressionFactor)
      // faithful broadcast dataSize metrics + bounded first-page waste
      // (see [[BufferPageSize]])
      .config("spark.buffer.pageSize", BufferPageSize)
      // repeated plans reuse their compiled classes (see [[CodegenCacheEntries]])
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts shipped as INT64 TIMESTAMP(NANOS) in one vintage: read it
      // as raw longs, which Tables.events truncates to µs (set here, not
      // per read, so query functions never write the session's conf)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // local files without a forked chmod/readlink per write (see
      // graft.core.ForkFreeRawLocalFileSystem): one class for the
      // FileSystem API, one for FileContext (Spark's checkpoint logs)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.core.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.core.ForkFreeLocalFs].getName)

  def build(): SparkSession = builder().getOrCreate()

  /** Local cores the graft mains run on: `SPARK_GRAFT_CPUS`, else the
    * builder's own default (every available processor). */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session of every graft main: `local[cpus]`, `cpus` shuffle
    * partitions. Log level ERROR, not WARN: a run is read from a bounded
    * stdout/stderr tail, and benign per-query WARNs (e.g.
    * WindowExec's "No Partition Defined" on the k-bounded global-window
    * keys) crowd real signal out of it. The mains' own diagnostics go
    * through System.err directly, so they survive the raised level. */
  def forMain(): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Register the native functions on an already-running session (e.g. a
    * shell or notebook session built without `spark.sql.extensions`). */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.GraftBridge.registerFunction
    GraftFunctions.builders.foreach { case (name, _, builder) =>
      registerFunction(spark, name, builder)
    }
  }
}
