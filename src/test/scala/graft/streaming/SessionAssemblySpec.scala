package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** flatMapGroupsWithState emits a VARIABLE number of rows per key per batch
  * (one per closed session) and carries the open tail across batches —
  * the two properties mapGroupsWithState / session_window can't combine. */
class SessionAssemblySpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("sessions close within a batch and the open tail carries across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    val q = SessionAssembly.sessions(events)
      .writeStream.format("memory").queryName("sa_spec")
      .outputMode("append").start()
    try {
      // batch 1: user 1 has two sessions 40 min apart (gap 30 min closes
      // the first); the second is still open at batch end and flushes as
      // the tail (the documented one-batch contract)
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:05:00"), 2.0),
        (1L, ts("2024-01-01 10:45:00"), 4.0))
      q.processAllAvailable()
      val b1 = spark.table("sa_spec").as[SessionAssembly.SessionOut]
        .collect().sortBy(_.session_start_s)
      assert(b1.map(s => (s.n_events, s.sum_value)).toSeq ==
        Seq((2L, 3.0), (1L, 4.0)), s"batch-1 sessions: ${b1.toSeq}")
      // batch 2: an event 10 min after the open tail must EXTEND it via the
      // carried state — the re-emitted tail covers all events of that
      // session, not just batch 2's
      input.addData((1L, ts("2024-01-01 10:55:00"), 8.0))
      q.processAllAvailable()
      val tail = spark.table("sa_spec").as[SessionAssembly.SessionOut]
        .collect().maxBy(s => (s.session_start_s, s.n_events))
      assert(tail.n_events == 2L && tail.sum_value == 12.0,
        s"carried tail: $tail")
      assert(tail.session_start_s ==
        ts("2024-01-01 10:45:00").getTime / 1000,
        "tail session start must stay at the batch-1 first event")
    } finally q.stop()
  }

  test("finalized variant: exactly-once per session across 3+ micro-batches, tail held until the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    val q = SessionAssembly.sessionsFinal(events)
      .writeStream.format("memory").queryName("sa_final_spec")
      .outputMode("append").start()
    def rows() = spark.table("sa_final_spec")
      .as[SessionAssembly.SessionOut].collect().toSeq
    try {
      // batch 1: open tail for user 1 — nothing may be emitted
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:05:00"), 2.0))
      q.processAllAvailable()
      assert(rows().isEmpty, s"open tail must not flush: ${rows()}")
      // batch 2: the 10:45 event closes session 1 (emitted now, once);
      // the new tail stays in state — watermark (10:45) hasn't passed
      // its end + gap (11:15)
      input.addData((1L, ts("2024-01-01 10:45:00"), 4.0))
      q.processAllAvailable()
      assert(rows().map(s => (s.n_events, s.sum_value)) == Seq((2L, 3.0)),
        s"exactly the closed session: ${rows()}")
      // batch 3: a different user's 12:00 event advances the watermark
      // past 11:15 — the event-time timeout fires and flushes user 1's
      // tail in the watermark-commit batch; user 2's own tail (12:30
      // horizon) correctly stays in state when the test ends
      input.addData((2L, ts("2024-01-01 12:00:00"), 9.0))
      q.processAllAvailable()
      val got = rows().sortBy(s => (s.user_id, s.session_start_s))
      assert(got.map(s => (s.user_id, s.n_events, s.sum_value)) ==
        Seq((1L, 2L, 3.0), (1L, 1L, 4.0)),
        s"closed + timed-out tail, user 2 unflushed: $got")
      // the append-safety contract: no (user, start) appears twice
      val dup = got.groupBy(s => (s.user_id, s.session_start_s))
        .filter(_._2.size > 1)
      assert(dup.isEmpty, s"duplicate session rows: $dup")
    } finally q.stop()
  }
}
