package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Crash-recovery gate (round 14 — r13 verdict #6): the 3-batch streaming
  * gates exercise cross-batch state but never a RESTART. This spec stops a
  * stateful stream-stream outer join after exactly 2 of its 3 micro-batches,
  * restarts a NEW query from the same checkpoint over the remaining file,
  * and asserts the combined output equals the single-run output
  * byte-for-byte — the recovery property the reference's bookmarks
  * (README.md:145) promise: processed files are never re-read, join/outer
  * state and the event-time watermark survive the restart, and no emitted
  * row is duplicated or lost across the crash boundary.
  *
  * The pipeline under test is the SHIPPED one: TierD.ssojJoined (the
  * stream_stream_outer_join key's join, single-sourced) over
  * Tables.eventsStreamFromDir (the same chunk-file source the gated keys
  * stream). The sink is the parquet FILE sink — the fault-tolerant sink
  * whose metadata log makes restart exactly-once (the memory sink refuses
  * checkpoint recovery by design). The "crash" is exact, not raced: the
  * source dir holds chunks 1-2 only, AvailableNow drains them (2 data
  * batches) and terminates — state checkpointed, output flushed — then
  * chunk 3 appears and the restarted query resumes from the checkpoint.
  */
class RecoverySpec extends SparkSpec {

  private def drain(srcDir: String, ckpt: String, outDir: String)
      : Array[Row] = {
    val joined = graft.queries.TierD.ssojJoined(
      graft.core.Tables.eventsStreamFromDir(spark, srcDir))
    val q = joined
      .select(col("c_user"), col("c_id"), col("c_ts"), col("p_ts"))
      .writeStream.format("parquet")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .option("path", outDir)
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).collect()
  }

  test("stateful outer join restarted from checkpoint after batch 2 " +
    "reproduces the single-run output exactly") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      // the same staged event-time-ordered chunks the gated key streams
      val allDir = Paths.get(
        graft.core.Tables.chunkedEventsDir(spark, sf, chunks = 3))
      val chunkFiles = {
        val l = Files.list(allDir)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.filter(_.toString.endsWith(".parquet"))
            .toSeq.sortBy(_.getFileName.toString)
        } finally l.close()
      }
      assert(chunkFiles.size == 3, s"expected 3 staged chunks: $chunkFiles")

      // reference: one uninterrupted 3-batch run (own checkpoint + sink)
      val full = drain(allDir.toString, tmpDir("rec_ckpt_full"),
        tmpDir("rec_out_full"))

      // crashed run: chunks 1-2 visible, drain to termination (the "stop
      // after batch 2"), then chunk 3 lands and a NEW query restarts from
      // the SAME checkpoint into the SAME sink
      val partDir = Paths.get(tmpDir("rec_stream_dir"))
      copyChunks(chunkFiles.take(2), partDir) // monotone-mtime copies
      val ckpt = tmpDir("rec_ckpt_split")
      val out = tmpDir("rec_out_split")
      val run1 = drain(partDir.toString, ckpt, out)
      copyChunks(chunkFiles.drop(2), partDir)
      val combined = drain(partDir.toString, ckpt, out)

      // the restart must actually resume, not replay: batches 1-2 are
      // committed in the checkpoint, so run 2 reads ONLY chunk 3 — if it
      // re-read chunks 1-2 the inner matches they formed would duplicate
      // (caught by the exact-count assertion below)
      assert(run1.nonEmpty, "run 1 emitted nothing — 2-batch drain failed")
      assert(combined.length > run1.length,
        "restart emitted nothing — chunk 3 was not processed")
      val key = (r: Row) => (r.getLong(0), r.getLong(1),
        String.valueOf(r.get(2)), String.valueOf(r.get(3)))
      val fullSorted = full.map(key).sorted.toSeq
      val combSorted = combined.map(key).sorted.toSeq
      assert(combSorted.size == fullSorted.size,
        s"row count across the crash boundary: combined=${combSorted.size} " +
          s"single-run=${fullSorted.size} (dupes or losses)")
      assert(combSorted == fullSorted,
        "restarted output diverged from the uninterrupted run")
      // and the outer (null p_ts) rows — the watermark-gated emissions
      // whose timing straddles the crash — survive exactly
      assert(combSorted.count(_._4 == "null") ==
        fullSorted.count(_._4 == "null"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def drainDedup(srcDir: String, ckpt: String, outDir: String)
      : Array[Row] = {
    val dd = graft.queries.TierD.dedupedEvents(
      graft.core.Tables.eventsStreamFromDir(spark, srcDir))
    val q = dd.select(col("event_id"), col("user_id"), col("ts"))
      .writeStream.format("parquet")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .option("path", outDir)
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).collect()
  }

  test("dedup state restarted from checkpoint suppresses planted " +
    "cross-restart duplicates exactly like the uninterrupted run") {
    // Round 15 (r14 verdict #8): the second stateful-operator class under
    // the crash gate — the DEDUP state store. The fixture's event_ids are
    // unique, so a plain chunk replay would never touch the state across
    // the restart; this test PLANTS duplicates: chunk 3' = (the 50
    // latest-ts rows of chunk 2, byte-identical) ∪ chunk 3. Those rows'
    // event time is chunk 2's max, which sits ABOVE the batch-3 watermark
    // (global max of batches 1-2 minus the 1 h delay), so the late-data
    // filter can NOT be what drops them — only the recovered dedup state
    // can. A restart that lost state re-emits all 50 and fails the
    // duplicate-free assertion below.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val allDir = Paths.get(
        graft.core.Tables.chunkedEventsDir(spark, sf, chunks = 3))
      val chunkFiles = {
        val l = Files.list(allDir)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.filter(_.toString.endsWith(".parquet"))
            .toSeq.sortBy(_.getFileName.toString)
        } finally l.close()
      }
      assert(chunkFiles.size == 3, s"expected 3 staged chunks: $chunkFiles")

      // synthesize chunk 3' with the planted duplicates (raw schema —
      // eventsStreamFromDir applies the ts dispatch on read)
      val c2 = spark.read.parquet(chunkFiles(1).toString)
      val c3 = spark.read.parquet(chunkFiles(2).toString)
      val planted = c2.orderBy(desc("ts"), desc("event_id")).limit(50)
      val plantedIds = planted.select("event_id").collect()
        .map(_.getLong(0)).toSet
      assert(plantedIds.size == 50, "planted-duplicate staging failed")
      val synthPart = Paths.get(tmpDir("rec_dedup_part"))
      planted.unionByName(c3).coalesce(1)
        .write.mode("overwrite").parquet(synthPart.toString)
      val synthFile = {
        val l = Files.list(synthPart)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
        } finally l.close()
      }

      def stage(files: Seq[java.nio.file.Path]): String = {
        val d = Paths.get(tmpDir("rec_dedup_dir"))
        files.zipWithIndex.foreach { case (f, i) =>
          val t = d.resolve(f"chunk_${i + 1}%02d.parquet")
          Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
          // the file source orders by mtime — keep arrival order pinned
          Files.setLastModifiedTime(t, java.nio.file.attribute.FileTime
            .fromMillis(1000000L + (i + 1) * 60000L))
        }
        d.toString
      }

      // reference: one uninterrupted 3-batch run over chunks 1, 2, 3'
      val full = drainDedup(
        stage(Seq(chunkFiles(0), chunkFiles(1), synthFile)),
        tmpDir("rec_dd_ckpt_full"), tmpDir("rec_dd_out_full"))

      // crashed run: chunks 1-2 drain, then 3' lands, restart resumes
      val partDir = stage(Seq(chunkFiles(0), chunkFiles(1)))
      val ckpt = tmpDir("rec_dd_ckpt_split")
      val out = tmpDir("rec_dd_out_split")
      val run1 = drainDedup(partDir, ckpt, out)
      val t3 = Paths.get(partDir).resolve("chunk_03.parquet")
      Files.copy(synthFile, t3, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(t3, java.nio.file.attribute.FileTime
        .fromMillis(1000000L + 3 * 60000L))
      val combined = drainDedup(partDir, ckpt, out)

      assert(run1.nonEmpty, "run 1 emitted nothing — 2-batch drain failed")
      assert(combined.length > run1.length,
        "restart emitted nothing — chunk 3' was not processed")
      // the planted ids were emitted BEFORE the crash...
      val run1Ids = run1.map(_.getLong(0)).toSet
      assert(plantedIds.subsetOf(run1Ids),
        "planted duplicates not present in the pre-crash output")
      // ...and across the restart NO event_id is ever emitted twice —
      // the recovered state, not the late filter, suppressed the replant
      val dupIds = combined.groupBy(_.getLong(0))
        .filter(_._2.length > 1).keys.toSeq
      assert(dupIds.isEmpty,
        s"${dupIds.size} event_ids emitted twice across the restart " +
          s"(state lost): ${dupIds.take(5)}")
      // byte-for-byte: restarted output equals the uninterrupted run
      val key = (r: Row) =>
        (r.getLong(0), r.getLong(1), String.valueOf(r.get(2)))
      assert(combined.map(key).sorted.toSeq == full.map(key).sorted.toSeq,
        "restarted dedup output diverged from the uninterrupted run")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  private def drainSessions(srcDir: String, ckpt: String, outDir: String)
      : Array[Row] = {
    val agg = graft.queries.TierD.sessionCounts(
      graft.core.Tables.eventsStreamFromDir(spark, srcDir)
        .withWatermark("ts", "1 hour"))
    val q = agg
      .select(col("user_id"), col("w.start").as("s_start"),
        col("w.end").as("s_end"), col("cnt"))
      .writeStream.format("parquet")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .option("path", outDir)
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).collect()
  }

  test("session-window state restarted from checkpoint merges " +
    "crash-straddling sessions exactly like the uninterrupted run") {
    // Round 15 (third stateful class under the crash gate): the
    // SESSION-WINDOW state store. The chunk split is by global event
    // time, so sessions of users active around the chunk-2/3 boundary
    // have events on BOTH sides of the crash: the restarted query must
    // merge chunk-3 events into the RESTORED partial sessions — a lost
    // store would emit the fragments as separate (or double-counted)
    // sessions and break the byte-equality below. Append mode only
    // emits watermark-finalized sessions, identically in both runs, so
    // the trailing unfinalized sessions drop out of BOTH sides equally.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val allDir = Paths.get(
        graft.core.Tables.chunkedEventsDir(spark, sf, chunks = 3))
      val chunkFiles = {
        val l = Files.list(allDir)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.filter(_.toString.endsWith(".parquet"))
            .toSeq.sortBy(_.getFileName.toString)
        } finally l.close()
      }
      assert(chunkFiles.size == 3, s"expected 3 staged chunks: $chunkFiles")

      // reference: one uninterrupted 3-batch run
      val full = drainSessions(allDir.toString, tmpDir("rec_sw_ckpt_full"),
        tmpDir("rec_sw_out_full"))

      // crashed run: chunks 1-2, drain, then chunk 3 lands, restart
      val partDir = Paths.get(tmpDir("rec_sw_dir"))
      copyChunks(chunkFiles.take(2), partDir) // monotone-mtime copies
      val ckpt = tmpDir("rec_sw_ckpt_split")
      val out = tmpDir("rec_sw_out_split")
      val run1 = drainSessions(partDir.toString, ckpt, out)
      copyChunks(chunkFiles.drop(2), partDir)
      val combined = drainSessions(partDir.toString, ckpt, out)

      assert(run1.nonEmpty, "run 1 emitted nothing — 2-batch drain failed")
      assert(combined.length > run1.length,
        "restart emitted nothing — chunk 3 was not processed")
      val key = (r: Row) => (r.getLong(0), String.valueOf(r.get(1)),
        String.valueOf(r.get(2)), r.getLong(3))
      assert(combined.map(key).sorted.toSeq == full.map(key).sorted.toSeq,
        "restarted session output diverged from the uninterrupted run")
      // non-vacuity: at least one finalized session STARTED at-or-before
      // the crash boundary (chunk 2's max event time) and ENDED after it
      // — i.e. the restart genuinely merged chunk-3 events into restored
      // pre-crash session state rather than only finalizing old state.
      // Boundary read handles both fixture ts vintages (raw ns longs /
      // timestamp) at second precision — far finer than the 30-min gap.
      val c2 = spark.read.parquet(chunkFiles(1).toString)
      val tsCol = c2.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          (col("ts") / 1000000000L).cast("long").cast("timestamp")
        case _ => col("ts").cast("timestamp")
      }
      val bound = c2.agg(max(tsCol)).head.getTimestamp(0)
      val straddlers = combined.count { r =>
        !r.getTimestamp(1).after(bound) && r.getTimestamp(2).after(bound)
      }
      assert(straddlers > 0,
        s"no emitted session straddles the crash boundary ($bound) — " +
          "the merge path was not exercised; re-chunk or widen the gap")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  // ---- round 16 (r15 verdict #4): the TYPED-state class ---------------
  // mapGroupsWithState / flatMapGroupsWithState keep an arbitrary
  // user-defined state record per key — the last stateful class the
  // crash gate didn't cover (built-in join/dedup/session stores above).
  // Recovery here restores USER code's state objects, not an operator's
  // internal rows, so the gate is worth its own tests.

  /** Staged 3-chunk listing shared by the typed-state tests. */
  private def stagedChunks(): Seq[java.nio.file.Path] = {
    val allDir = Paths.get(
      graft.core.Tables.chunkedEventsDir(spark, sf, chunks = 3))
    val l = Files.list(allDir)
    try {
      import scala.jdk.CollectionConverters._
      l.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
    } finally l.close()
  }

  /** Monotone mtime stamp shared by every staged copy in this spec:
    * FileStreamSource orders per-file batches by modification time, and
    * Files.copy stamps the copy time — two copies landing in the same
    * millisecond tie, and the tie falls to listing order (observed once
    * as a contention flake: chunk 2 drained before chunk 1, shifting
    * every first-batch snapshot against the uninterrupted reference).
    * The dedup test pins literal mtimes for the same reason; this is
    * the shared form for the tests that keep original filenames. */
  private val mtimeTick =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())

  private def copyChunks(files: Seq[java.nio.file.Path],
      into: java.nio.file.Path): Unit =
    files.foreach { f =>
      val dst = into.resolve(f.getFileName)
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          mtimeTick.addAndGet(2000L)))
    }

  private def drainCustomState(srcDir: String, ckpt: String,
      outDir: String): Array[Row] = {
    // update mode cannot target the parquet sink directly — foreachBatch
    // appends each micro-batch's refreshed snapshots instead (the
    // production pattern for update-mode fault-tolerant sinks)
    val stats = graft.streaming.CustomState.runningUserStats(
      graft.core.Tables.eventsStreamFromDir(spark, srcDir))
    val q = stats.writeStream
      .outputMode(graft.streaming.CustomState.outputMode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[
           graft.streaming.CustomState.UserStats], _: Long) =>
          b.write.mode("append").parquet(outDir); ()
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).collect()
  }

  test("mapGroupsWithState typed state restarted from checkpoint resumes " +
    "per-user running stats exactly like the uninterrupted run") {
    // update-mode snapshots make state loss VISIBLE: a batch-3 row for a
    // user active before the crash carries the user's CUMULATIVE count —
    // a restart that lost the typed UserState would restart its counter
    // at the chunk-3 events alone and diverge from the uninterrupted run.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val chunkFiles = stagedChunks()
      assert(chunkFiles.size == 3, s"expected 3 staged chunks: $chunkFiles")

      val full = drainCustomState(
        { val d = Paths.get(tmpDir("rec_cs_dir_full"))
          copyChunks(chunkFiles, d); d.toString },
        tmpDir("rec_cs_ckpt_full"), tmpDir("rec_cs_out_full"))

      val partDir = Paths.get(tmpDir("rec_cs_dir"))
      copyChunks(chunkFiles.take(2), partDir)
      val ckpt = tmpDir("rec_cs_ckpt_split")
      val out = tmpDir("rec_cs_out_split")
      val run1 = drainCustomState(partDir.toString, ckpt, out)
      copyChunks(chunkFiles.drop(2), partDir)
      val combined = drainCustomState(partDir.toString, ckpt, out)

      assert(run1.nonEmpty, "run 1 emitted nothing — 2-batch drain failed")
      assert(combined.length > run1.length,
        "restart emitted nothing — chunk 3 was not processed")
      val key = (r: Row) => (r.getLong(0), r.getLong(1),
        String.valueOf(r.get(2)), r.getLong(3))
      assert(combined.map(key).sorted.toSeq == full.map(key).sorted.toSeq,
        "restarted typed-state output diverged from the uninterrupted run")

      // non-vacuity: the RESTORED state contributed — pick users with
      // events on BOTH sides of the crash and check a post-restart
      // snapshot counts their pre-crash events too (a lost store would
      // emit exactly the chunk-3 count; byte-equality would also fail,
      // but this states the mechanism being exercised)
      val c12 = spark.read.parquet(chunkFiles(0).toString,
        chunkFiles(1).toString)
      val c3 = spark.read.parquet(chunkFiles(2).toString)
      val pre = c12.groupBy("user_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val post = c3.groupBy("user_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val straddlers = pre.keySet & post.keySet
      assert(straddlers.nonEmpty,
        "no user spans the crash boundary — re-chunk the fixture")
      // multiset-subtract run1 from combined = the post-restart emissions
      val run1Counts = run1.map(key).groupBy(identity)
        .view.mapValues(_.length).toMap
      val newRows = scala.collection.mutable.ArrayBuffer.empty[Row]
      val seen = scala.collection.mutable.Map.empty[
        (Long, Long, String, Long), Int]
      combined.foreach { r =>
        val k = key(r)
        val n = seen.getOrElse(k, 0) + 1
        seen(k) = n
        if (n > run1Counts.getOrElse(k, 0)) newRows += r
      }
      val carried = newRows.filter { r =>
        val u = r.getLong(0)
        straddlers.contains(u) &&
          r.getLong(1) == pre(u) + post(u) // cumulative, not chunk-3-only
      }
      assert(carried.nonEmpty,
        "no post-restart snapshot reflects pre-crash state — the " +
          "restored typed state never contributed")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def drainFinalSessions(srcDir: String, ckpt: String,
      outDir: String): Array[Row] = {
    val sessions = graft.streaming.SessionAssembly.sessionsFinal(
      graft.core.Tables.eventsStreamFromDir(spark, srcDir))
    val q = sessions.writeStream.format("parquet")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .option("path", outDir)
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).collect()
  }

  test("flatMapGroupsWithState event-time-timeout state restarted from " +
    "checkpoint merges crash-straddling sessions exactly") {
    // the watermark-finalized session assembler holds an OpenTail record
    // and an event-time TIMER per user — recovery must restore both (a
    // lost timer never fires its tail; a lost tail emits chunk-3
    // fragments as fresh sessions). At gate scale the fixture's per-user
    // event gaps around the global-time cut all exceed the 30-min
    // session gap (measured: zero naturally-straddling sessions), so the
    // merge is PLANTED (the dedup-gate precedent): chunk 3' prepends one
    // event for the user of chunk 2's LATEST row, 60 s after it — within
    // the gap, so the restart must extend that user's restored OpenTail
    // across the crash boundary.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val chunkFiles = stagedChunks()
      assert(chunkFiles.size == 3, s"expected 3 staged chunks: $chunkFiles")

      // synthesize chunk 3' (raw schema — the stream source applies the
      // ts dispatch on read)
      val c2 = spark.read.parquet(chunkFiles(1).toString)
      val c3 = spark.read.parquet(chunkFiles(2).toString)
      val isRawLong = c2.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
      // ADVICE r16: under the INT64-nanos vintage the raw column is
      // NANOSECONDS while session_start_s/session_end_s downstream are
      // seconds — convert here so boundS compares in the same unit.
      val tsOrd = if (isRawLong) (col("ts") / lit(1000000000L)).cast("long")
        else col("ts").cast("timestamp").cast("long")
      val lastRow = c2.orderBy(desc("ts"), desc("event_id")).limit(1)
      val maxId = c3.agg(max("event_id")).head.getLong(0)
      val planted = lastRow
        .withColumn("ts", if (isRawLong) col("ts") + lit(60L * 1000000000L)
          else col("ts") + expr("INTERVAL 60 SECONDS"))
        .withColumn("event_id", lit(maxId + 1L))
        .select(c3.columns.map(col): _*)
      val boundS = c2.agg(max(tsOrd)).head.getLong(0)
      val plantedUser = lastRow.select("user_id").head.getLong(0)
      val synthPart = Paths.get(tmpDir("rec_fs_synth"))
      planted.unionByName(c3).coalesce(1)
        .write.mode("overwrite").parquet(synthPart.toString)
      val synthFile = {
        val l = Files.list(synthPart)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
        } finally l.close()
      }

      def stage(files: Seq[java.nio.file.Path]): String = {
        val d = Paths.get(tmpDir("rec_fs_dir"))
        files.zipWithIndex.foreach { case (f, i) =>
          val t = d.resolve(f"chunk_${i + 1}%02d.parquet")
          Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(t, java.nio.file.attribute.FileTime
            .fromMillis(1000000L + (i + 1) * 60000L))
        }
        d.toString
      }

      val full = drainFinalSessions(
        stage(Seq(chunkFiles(0), chunkFiles(1), synthFile)),
        tmpDir("rec_fs_ckpt_full"), tmpDir("rec_fs_out_full"))

      val partDir = stage(Seq(chunkFiles(0), chunkFiles(1)))
      val ckpt = tmpDir("rec_fs_ckpt_split")
      val out = tmpDir("rec_fs_out_split")
      val run1 = drainFinalSessions(partDir, ckpt, out)
      val t3 = Paths.get(partDir).resolve("chunk_03.parquet")
      Files.copy(synthFile, t3, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(t3, java.nio.file.attribute.FileTime
        .fromMillis(1000000L + 3 * 60000L))
      val combined = drainFinalSessions(partDir, ckpt, out)

      assert(run1.nonEmpty, "run 1 emitted nothing — 2-batch drain failed")
      assert(combined.length > run1.length,
        "restart emitted nothing — chunk 3' was not processed")
      val key = (r: Row) => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), String.valueOf(r.get(4)))
      assert(combined.map(key).sorted.toSeq == full.map(key).sorted.toSeq,
        "restarted finalized-session output diverged from the " +
          "uninterrupted run")

      // non-vacuity: the planted user's emitted session STARTED
      // at-or-before the crash boundary and ENDED after it — chunk-3'
      // events extended a RESTORED OpenTail (a lost tail would emit the
      // planted event as a fresh 1-event session starting AFTER the
      // boundary; a lost timer would emit nothing for it at all)
      val straddlers = combined.count(r =>
        r.getLong(1) <= boundS && r.getLong(2) > boundS)
      assert(straddlers > 0,
        s"no emitted session straddles the crash boundary (${boundS}s) — " +
          "the restored-tail merge path was not exercised")
      val plantedMerged = combined.exists(r =>
        r.getLong(0) == plantedUser &&
          r.getLong(1) <= boundS && r.getLong(2) == boundS + 60L)
      assert(plantedMerged,
        s"user $plantedUser's planted event did not merge into the " +
          "restored pre-crash session")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }
}
