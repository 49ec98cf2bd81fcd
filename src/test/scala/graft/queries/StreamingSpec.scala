package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, Trigger}

/** Tier D stateful-streaming assertions (SURVEY §5.2/§7.3 hard #4):
  * event-time injected through MemoryStream, never wall-clock sleeps. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("D4: watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "kind")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"kind")
      .agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.format("memory").queryName("wm_spec")
      .outputMode("append").start()
    try {
      // batch 1: two rows in the 10:00 window
      input.addData(ts("2024-01-01 10:05:00") -> "a", ts("2024-01-01 10:20:00") -> "a")
      q.processAllAvailable()
      // batch 2: watermark advances well past 11:00 → 10:00 window finalizes
      input.addData(ts("2024-01-01 12:30:00") -> "a")
      q.processAllAvailable()
      // batch 3: a LATE row for the already-finalized 10:00 window → dropped
      input.addData(ts("2024-01-01 10:40:00") -> "a")
      q.processAllAvailable()
      // batch 4: advance far enough to flush every open window
      input.addData(ts("2024-01-01 15:00:00") -> "a")
      q.processAllAvailable()
      val out = spark.table("wm_spec")
        .select(col("window.start").cast("string").as("w"), col("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out("2024-01-01 10:00:00") == 2,
        s"late row was counted (or early rows lost): $out")
    } finally q.stop()
  }

  test("D5: streaming dedup emits each event_id once across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val dedup = input.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = dedup.writeStream.format("memory").queryName("dd_spec")
      .outputMode("append").start()
    try {
      input.addData(ts("2024-01-01 10:00:00") -> 1L, ts("2024-01-01 10:01:00") -> 2L)
      q.processAllAvailable()
      // same ids again in a later batch + one new id
      input.addData(ts("2024-01-01 10:02:00") -> 1L, ts("2024-01-01 10:03:00") -> 2L,
        ts("2024-01-01 10:04:00") -> 3L)
      q.processAllAvailable()
      val ids = spark.table("dd_spec").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"dedup emitted: $ids")
    } finally q.stop()
  }

  test("D4b: stateful window state survives a stop/restart (checkpoint recovery)") {
    import spark.implicits._
    val srcDir = tmpDir("rec_src"); val ckpt = tmpDir("rec_ckpt")
    val sink = tmpDir("rec_sink")
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("ts TIMESTAMP, kind STRING").parquet(srcDir)
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour").as("w"), $"kind")
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("wstart"), col("kind"), col("cnt"))
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1: two rows in the 10:00 window — watermark still inside it, so
    // nothing is emitted yet; the partial count lives only in the state store
    Seq(ts("2024-01-01 10:05:00") -> "a", ts("2024-01-01 10:20:00") -> "a")
      .toDF("ts", "kind").write.mode("append").parquet(srcDir)
    runOnce()
    assert(spark.read.schema("wstart TIMESTAMP, kind STRING, cnt LONG")
      .parquet(sink).isEmpty, "window emitted before watermark passed")
    // run 2 (fresh query instance, same checkpoint): one more 10:00-window
    // row plus a row far ahead that closes the window. The final count must
    // include the run-1 rows — provable only if state was recovered — and
    // the window must be emitted exactly once.
    Seq(ts("2024-01-01 10:40:00") -> "a", ts("2024-01-01 13:00:00") -> "a")
      .toDF("ts", "kind").write.mode("append").parquet(srcDir)
    runOnce()
    val out = spark.read.parquet(sink)
      .select(col("wstart").cast("string"), col("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(out.count(_._1 == "2024-01-01 10:00:00") == 1,
      s"10:00 window not emitted exactly once: $out")
    assert(out.toMap.apply("2024-01-01 10:00:00") == 3,
      s"state lost across restart (expected 3 rows in 10:00 window): $out")
  }

  test("D8: stream-stream join matches across micro-batches (double-sided state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Timestamp, Long)]
    val buysIn = MemoryStream[(Timestamp, Long)]
    val clicks = clicksIn.toDF().toDF("c_ts", "c_user")
      .withWatermark("c_ts", "30 minutes")
    val buys = buysIn.toDF().toDF("p_ts", "p_user")
      .withWatermark("p_ts", "30 minutes")
    val joined = clicks.join(buys,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 15 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj_spec")
      .outputMode("append").start()
    try {
      // batch 1: clicks only — nothing can be emitted, rows must be HELD
      clicksIn.addData(ts("2024-01-01 10:00:00") -> 1L,
        ts("2024-01-01 10:00:00") -> 2L)
      q.processAllAvailable()
      assert(spark.table("ssj_spec").isEmpty)
      // batch 2: purchases arrive — user 1 inside the 15-min bound (match
      // against batch-1 state), user 2 outside it (no match)
      buysIn.addData(ts("2024-01-01 10:10:00") -> 1L,
        ts("2024-01-01 10:20:00") -> 2L)
      q.processAllAvailable()
      val users = spark.table("ssj_spec").select("c_user")
        .collect().map(_.getLong(0)).toSeq
      assert(users == Seq(1L),
        s"expected exactly user 1's cross-batch match, got $users")
    } finally q.stop()
  }

  test("D8b: LEFT OUTER stream-stream join emits unmatched rows only after watermark eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Timestamp, Long)]
    val buysIn = MemoryStream[(Timestamp, Long)]
    val clicks = clicksIn.toDF().toDF("c_ts", "c_user")
      .withWatermark("c_ts", "30 minutes")
    val buys = buysIn.toDF().toDF("p_ts", "p_user")
      .withWatermark("p_ts", "30 minutes")
    val joined = clicks.join(buys,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 15 MINUTES"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_outer_spec")
      .outputMode("append").start()
    try {
      // batch 1: two clicks; user 1 will match, user 2 never will
      clicksIn.addData(ts("2024-01-01 10:00:00") -> 1L,
        ts("2024-01-01 10:00:00") -> 2L)
      buysIn.addData(ts("2024-01-01 10:10:00") -> 1L)
      q.processAllAvailable()
      val early = spark.table("ssj_outer_spec")
        .collect().map(r => r.getLong(1) -> r.isNullAt(2)).toSet
      assert(early == Set(1L -> false),
        s"only the inner match may emit before eviction, got $early")
      // batch 2: push BOTH watermarks far past click(10:00)+15min+30min —
      // user 2's click can provably never match, so the outer row emits
      clicksIn.addData(ts("2024-01-01 12:00:00") -> 9L)
      buysIn.addData(ts("2024-01-01 12:00:00") -> 9L)
      q.processAllAvailable()
      // one more empty-progress pass lets the eviction batch flush
      q.processAllAvailable()
      val outer = spark.table("ssj_outer_spec")
        .filter(col("c_user") === 2L)
        .collect().map(_.isNullAt(2)).toSeq
      assert(outer == Seq(true),
        s"user 2's click must emit exactly once with a null purchase side, got $outer")
    } finally q.stop()
  }

  test("runToMemory: a short stream fails naming its tag and restores the partition cap") {
    // the cap sizes the stream's state in a private clone: the caller's
    // count never changes, and the caller gains no sink view
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before.toInt > 4, s"the suite's $before partitions must exceed the cap")
    val scratch = Paths.get(Tables.scratchDir("graft_runner_probe")).getParent
    def checkpoints(): Set[Path] = {
      val listing = Files.list(scratch)
      try listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft_runner_spec_ckpt")).toSet
      finally listing.close()
    }
    val earlier = checkpoints()
    val progress = new AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    // one file at one file per trigger is one data batch, short of two
    val err =
      try intercept[IllegalArgumentException] {
        TierD.runToMemory(spark,
          Tables.eventsStream(spark, sf).groupBy("event_type").count(),
          "runner_spec", OutputMode.Complete, minBatches = 2)
      } finally spark.streams.removeListener(listener)
    assert(err.getMessage.contains("runner_spec"), err.getMessage)
    assert(spark.conf.get(key) == before,
      s"$key reads ${spark.conf.get(key)} after the runner, $before before")
    val ckpt = (checkpoints() -- earlier).toSeq
    assert(ckpt.size == 1, s"expected one new runner checkpoint, got $ckpt")
    val listing = Files.list(ckpt.head.resolve("state").resolve("0"))
    val parts = try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(_.forall(_.isDigit)).toSeq // beside `_metadata`
      finally listing.close()
    assert(parts.nonEmpty && parts.size <= 4,
      s"the stream wrote state partitions ${parts.sorted}, at most 4 expected")
    val views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    assert(!views.exists(_.startsWith("runner_spec")),
      s"the runner left a sink view in the caller: ${views.mkString(", ")}")
    assert(progress.get > 0,
      "the caller's streaming listener heard no progress of the runner's stream")
  }

  test("D1: streaming tumbling counts equal the batch form") {
    val batch = graft.SparkEntry.queries("stream_tumbling")(spark, sf)
      .select(col("wstart").cast("string"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val stream = Tables.eventsStream(spark, sf)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val q = stream.writeStream.format("memory").queryName("tumb_spec")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("tumb_spec")
      .select(col("w.start").cast("string"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.toSet.diff(batch.toSet).take(5)}")
  }
}
