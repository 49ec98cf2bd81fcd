package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loading + cross-engine determinism helpers.
  *
  * The reference pipeline's data surface is "files in a store become named
  * tables" (reference README.md:104-119: a Glue crawler turns an S3 path into
  * a catalog table). Here the analogue is a parquet directory per table
  * (driver layout, /root/repo/TESTDATA.md): `<sfDir>/<name>.parquet`.
  *
  * Determinism discipline (SURVEY.md §7.4): every oracle-checked query goes
  * through [[Tables.dec]] / [[Tables.decSum]] before double aggregation so the
  * Spark result is bit-identical to the DuckDB oracle regardless of addition
  * order, and ends in a total ORDER BY.
  */
object Tables {

  /** Scratch dir for checkpoints/staging; prefers tmpfs (/dev/shm) so
    * streaming state-store commits don't pay disk fsync in local runs. On a
    * real cluster these would live on the DFS. Every dir handed out is
    * deleted on JVM exit — scratch must not outlive the process (a day of
    * repeated runs otherwise strands thousands of checkpoint dirs in
    * tmpfs). */
  def scratchDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = java.nio.file.Files.createTempDirectory(base, prefix)
    scratchCreated.add(dir)
    dir.toString
  }

  private val scratchCreated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  Runtime.getRuntime.addShutdownHook(
    new Thread(() => {
      import scala.jdk.CollectionConverters._
      scratchCreated.asScala.foreach { p =>
        // per-path try/catch: one undeletable file (e.g. a state-store file
        // a still-stopping streaming query holds open) must not abandon the
        // rest of this dir, and a failed walk must not abandon other dirs
        try {
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach { f =>
              try { java.nio.file.Files.deleteIfExists(f); () }
              catch { case _: Throwable => () }
            }
        } catch { case _: Throwable => () } // best-effort; never block exit
      }
    }, "graft-scratch-cleanup"))

  /** Read one driver table. Path layout per /root/repo/TESTDATA.md. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.ts has shipped in two physical vintages: INT64 TIMESTAMP(NANOS)
    * (read as raw nanos via the `nanosAsLong` flag that GraftSession.builder
    * sets, then floor-truncated to µs —
    * the same floor DuckDB applies casting TIMESTAMP_NS → TIMESTAMP) and
    * TIMESTAMP_MICROS with isAdjustedToUTC=0 (arrives as TIMESTAMP_NTZ;
    * with the session pinned to UTC the NTZ→LTZ cast is instant-preserving,
    * matching DuckDB's CAST(ts AS TIMESTAMP) exactly). Dispatch on the
    * post-read type so both vintages work (SURVEY §7.4.3). */
  private def tsToTimestamp(dt: DataType): Column = dt match {
    case LongType => expr("timestamp_micros(ts div 1000)") // NANOS-as-long
    case TimestampNTZType | TimestampType => col("ts").cast(TimestampType)
    case other =>
      throw new IllegalStateException(
        s"events.ts read as unsupported type $other; expected INT64 nanos " +
          "(with nanosAsLong) or a µs timestamp")
  }

  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    raw.withColumn("ts", tsToTimestamp(raw.schema("ts").dataType))
  }

  /** Streaming view of the events table (file source), same ts conversion.
    * The file source wants a directory; stage a symlink dir over the single
    * driver-generated file and read it through [[eventsStreamFromDir]] —
    * one file at one file per trigger is still one micro-batch. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Paths.get(scratchDir("graft_events_src"))
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    eventsStreamFromDir(s, dir.toString)
  }
  /** Streaming view of the events table staged as `chunks` event-time-
    * ordered files, for gate queries that must exercise REAL multi-batch
    * execution (r10 verdict #2: the stateful keys ran AvailableNow
    * single-batch, so the cross-batch state carry was proven only in
    * MemoryStream unit tests). With `maxFilesPerTrigger=1` an AvailableNow
    * run executes exactly `chunks` micro-batches, oldest file first.
    *
    * The split is by global (ts, event_id) rank, so each user's events are
    * non-decreasing in event time ACROSS batches — the ordering contract a
    * production source (kafka per-key, or time-partitioned file drops)
    * provides, and the one under which a stateful operator's cross-batch
    * carry must reproduce the batch result. File order is pinned twice:
    * zero-padded names and strictly increasing mtimes (the file source
    * sorts by modification time). The ntile global sort is staging-only
    * work at gate scale, not part of the measured operator.
    *
    * Staged chunk dirs are CACHED per (sfDir, chunks) for the JVM's life
    * (round 12: with five streaming gates each re-staging the same
    * files, staging was ~40% of the bench's streaming floor; the files
    * are immutable once written and readers are concurrent-safe, so one
    * staging serves every gate — scratch dirs die with the JVM as
    * before). */
  def eventsStreamChunked(s: SparkSession, d: String, chunks: Int): DataFrame =
    eventsStreamFromDir(s, chunkedEventsDir(s, d, chunks))

  /** The staged event-time-ordered chunk directory backing
    * [[eventsStreamChunked]] — exposed package-private so the streaming
    * crash-recovery spec can stage a PARTIAL copy of the same files and
    * exercise restart-from-checkpoint over them. */
  private[graft] def chunkedEventsDir(s: SparkSession, d: String,
      chunks: Int): String =
    chunkDirCache.computeIfAbsent(s"$d#$chunks", _ => stageChunks(s, d, chunks))

  /** One-file-per-trigger streaming source over a staged events dir — the
    * one events stream reader, behind [[eventsStream]] and
    * [[eventsStreamChunked]], and the one the recovery spec streams. The
    * explicit schema comes from a batch read of the files on disk, so it
    * tracks whichever physical vintage is there. */
  private[graft] def eventsStreamFromDir(s: SparkSession, dir: String)
      : DataFrame = {
    val schema = s.read.parquet(dir).schema
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withColumn("ts", tsToTimestamp(schema("ts").dataType))
  }

  private val chunkDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private def stageChunks(s: SparkSession, d: String, chunks: Int): String = {
    val raw = t(s, d, "events")
    val dir = java.nio.file.Paths.get(scratchDir("graft_events_chunks"))
    val byTime = org.apache.spark.sql.expressions.Window
      .orderBy("ts", "event_id")
    val chunked = raw.withColumn("graft_chunk", ntile(chunks).over(byTime))
    (1 to chunks).foreach { i =>
      val part = java.nio.file.Paths.get(scratchDir("graft_events_part"))
      chunked.filter(col("graft_chunk") === i).drop("graft_chunk")
        .coalesce(1).write.mode("overwrite").parquet(part.toString)
      val listing = java.nio.file.Files.list(part)
      val partFile =
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala
            .find(_.toString.endsWith(".parquet"))
        } finally listing.close() // close the directory-stream fd
      require(partFile.isDefined, s"no parquet part written for chunk $i")
      val target = dir.resolve(f"chunk_$i%02d.parquet")
      java.nio.file.Files.move(partFile.get, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    dir.toString
  }

  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Exact 2-decimal view of a ~2-decimal double (prices, quantities).
    * Decimal addition is associative, so SUM(dec(x)) is engine- and
    * partition-order-independent — unlike SUM(double). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact 4-decimal view — for products of two 2-decimal doubles, e.g.
    * l_extendedprice * (1 - l_discount), whose true value has <= 4 decimals
    * so the nearest-1e-4 decimal recovers it exactly in both engines. */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-independent exact sum of a ~2-decimal double, surfaced as DOUBLE
    * (both engines produce the identical IEEE value from the exact decimal). */
  def decSum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Exact sum of a 4-decimal product, surfaced as DOUBLE. */
  def dec4Sum(c: Column): Column = sum(dec4(c)).cast(DoubleType)

  /** Cross-engine-stable mean: exact decimal sum cast to double, divided by
    * the bigint count — one IEEE division, identical bits in Spark & DuckDB.
    * (Never use built-in AVG(double) in an oracle-checked query.) */
  def decAvg(c: Column): Column = decSum(c) / count(lit(1))

  /** Exact order statistic by explicit sort-and-select: the value at rank
    * ceil(p·n), 1-based, floored at rank 1. ONE definition for every
    * percentile/median/MAD pick (agg_percentile_disc, anomaly_mad,
    * profile_skew): the ceil + greatest guard is load-bearing — it pins the
    * identical index formula in both engines AND prevents an ANSI
    * element_at(0) error when p·n < 1. Buffers the group's values; the
    * scale path is the GK sketch (agg_approx_percentile). */
  def sortedPick(c: Column, p: Double): Column =
    element_at(sort_array(collect_list(c)),
      greatest(ceil(lit(p) * count(lit(1))), lit(1)).cast("int"))
}
