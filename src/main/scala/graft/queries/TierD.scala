package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.Query
import graft.core.Tables._

/** Tier D — streaming / incremental semantics (SURVEY.md §2 Tier D).
  *
  * Evidence in the reference: Glue Job Bookmarks ("process only new files",
  * README.md:145) and S3 object-create event triggers (README.md:191-199, the
  * 6-line Lambda at :182-188). Spark-first mapping: Structured Streaming.
  *
  * D1-D3 are the *batch forms* of the window aggregations — the exact same
  * `window()`/`session_window()` expressions run unchanged under readStream
  * (proved in StreamingSpec with MemoryStream); the batch form is what the
  * DuckDB oracle can check. D4-D6 are genuinely stateful and unit-tier.
  *
  * events.ts is ns-precision at rest; Spark truncates to µs on read, so every
  * oracle first casts ts to µs TIMESTAMP the same way (SURVEY §7.4.3).
  */
object TierD {
  def queries: Seq[Query] = Seq(
    // D1 — tumbling 1h window per event_type. At scale this is a streaming
    // shuffle on (window, type) with partial aggregation; watermarking (D4)
    // bounds state.
    Query("stream_tumbling", (s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), decSum(col("value")).as("sum_value"))
        .select(col("w.start").as("wstart"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("wstart", "event_type")
    }, oracle =
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wstart,
        |       event_type, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin),
    // D2 — sliding 1h window, 15m slide: each event expands to 4 windows.
    Query("stream_sliding", (s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("wstart"), col("event_type"), col("cnt"))
        .orderBy("wstart", "event_type")
    }, oracle =
      """SELECT make_timestamp((CAST(floor((epoch(CAST(ts AS TIMESTAMP)) - o.off)/3600) AS BIGINT)*3600 + o.off) * 1000000) AS wstart,
        |       event_type, COUNT(*) AS cnt
        |FROM events CROSS JOIN (VALUES (0),(900),(1800),(2700)) AS o(off)
        |GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin),
    // D3 — session windows, 30-minute gap, per user (the sessionCounts
    // fragment — single-sourced so RecoverySpec's crash-restart gate
    // drives the SAME session_window aggregation through the streaming
    // engine's session state store).
    Query("stream_session", (s, d) => {
      sessionCounts(events(s, d))
        .select(col("user_id"), col("w.start").as("session_start"), col("cnt"))
        .orderBy("user_id", "session_start")
    }, oracle =
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |flagged AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS cnt
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
    // D4 — watermark + late-data drop (unit-tier; StreamingSpec drives event-time
    // through MemoryStream). Here: the same watermarked aggregation executed
    // via the streaming engine over the parquet as a file stream, AvailableNow.
    Query("stream_watermark_late", (s, d) => {
      val stream = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      runToMemory(s, stream, "wm_late")
        .select(col("window.start").as("wstart"), col("event_type"), col("cnt"))
        .orderBy("wstart", "event_type")
    }, oracle =
      // the watermark contract in SQL: an AvailableNow run over one file
      // emits exactly the windows whose end <= final watermark (max event
      // time - delay) — so the streaming engine's append-mode emission is
      // differentially checked, not just unit-asserted
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |     m AS (SELECT max(ts) AS mx FROM e)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart,
        |       event_type, COUNT(*) AS cnt
        |FROM e
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
        |        <= (SELECT mx - INTERVAL 10 MINUTE FROM m)
        |GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin),
    // D4b — streaming windowed TOP-N (round 13): the "trending pages per
    // hour" dashboard feed — a watermarked tumbling-hour count per page
    // run through the STREAMING engine over 3 real micro-batches
    // (eventsStreamChunked, event-time-ordered chunks, so late data never
    // crosses the 10-minute watermark), then the top-3 pages per emitted
    // window ranked on the append-mode output. Windowed-agg state is
    // (windows × pages)-bounded and evicted as the watermark passes —
    // the unbounded-key-space companion to stream_spacesaving_topk's
    // k-bounded sketch (exact within the watermark horizon vs approximate
    // forever). The oracle replays the append contract in SQL: exactly
    // the windows whose end ≤ final watermark (max event time − 10 min)
    // surface, with complete counts (the stream_watermark_late
    // differential check, composed with the rank). 100 TB shape:
    // (window, page) rows are the only shuffle; the rank runs on the
    // emitted aggregate, never the raw stream.
    Query("stream_window_topn", (s, d) => {
      val stream = eventsStreamChunked(s, d, chunks = 3)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"),
          get_json_object(col("props"), "$.k").cast("long").as("page"))
        .agg(count(lit(1)).as("cnt"))
      val t = runToMemory(s, stream, "wtopn")
      val byW = Window.partitionBy("wstart")
        .orderBy(desc("cnt"), asc("page"))
      t.select(col("w.start").as("wstart"), col("page"), col("cnt"))
        .withColumn("rank", row_number().over(byW))
        .filter(col("rank") <= 3)
        .orderBy("wstart", "rank")
    }, oracle =
      // the watermark-finalized window contract composed with the top-3
      // rank: exactly the windows whose end <= final watermark surface,
      // counts complete, ties broken (cnt DESC, page)
      """WITH e AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS page
        |  FROM events),
        |m AS (SELECT max(ts) AS mx FROM e),
        |wc AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart,
        |         page, COUNT(*) AS cnt
        |  FROM e
        |  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
        |          <= (SELECT mx - INTERVAL 10 MINUTE FROM m)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT wstart, page, cnt,
        |         row_number() OVER (PARTITION BY wstart
        |                            ORDER BY cnt DESC, page) AS rank
        |  FROM wc)
        |SELECT wstart, page, cnt, rank FROM r
        |WHERE rank <= 3 ORDER BY wstart, rank""".stripMargin),
    // D4c — streaming windowed APPROX-DISTINCT (round 13): unique users
    // per tumbling hour via approx_count_distinct (HLL++, rsd 2%) inside
    // a watermarked streaming aggregation over 3 real micro-batches —
    // the sketch-state companion of stream_window_topn's exact counts:
    // an exact per-window COUNT(DISTINCT user) holds every seen user id
    // in state (unbounded per window at 100 TB); the HLL buffer is the
    // fixed-memory form that rides the streaming state store, merged
    // across batches by the same sketch union the batch key
    // (agg_hll_merge) proves. Unit-tier: sketch values are engine-local —
    // Round13Spec brackets every emitted window's estimate within ±5% of
    // the exact batch distinct and pins the emitted window set to the
    // watermark-finalized contract.
    Query("stream_hll_window", (s, d) => {
      val stream = eventsStreamChunked(s, d, chunks = 3)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"),
          approx_count_distinct(col("user_id"), 0.02).as("n_users_approx"))
      runToMemory(s, stream, "whll")
        .select(col("w.start").as("wstart"), col("n_events"),
          col("n_users_approx"))
        .orderBy("wstart")
    }),
    // D8b — stream-stream LEFT OUTER interval join (round 13): the
    // "clicks that never converted" feed — the OTHER stream-stream join
    // semantic next to the inner interval join's matches: an unmatched
    // click must eventually emit WITH NULLS, which the engine can only do
    // once the watermark proves no future purchase can land in the
    // click's 15-minute window. Same chunked 3-batch source and 30-minute
    // watermarks as stream_stream_join; the oracle replays the emission
    // contract in SQL: all inner matches (emitted when formed) plus
    // exactly the unmatched clicks whose window close (c_ts + 15 min)
    // fell below the final GLOBAL watermark — the MIN over the two
    // watermarked sides of (that side's max event time − 30 min), the
    // multi-source watermark rule (found empirically at sf0.001, where
    // the last click precedes the last purchase by ~4 h and a naive
    // max-over-all-events rule over-emits by one row). Clicks whose
    // window was still open at end-of-stream are withheld, the
    // append-mode contract. 100 TB shape: state holds only rows inside
    // the watermark horizon on both sides; the join shuffles on user_id.
    Query("stream_stream_outer_join", (s, d) => {
      val ev = eventsStreamChunked(s, d, chunks = 3)
      runToMemory(s, ssojJoined(ev), "ssoj", minBatches = 2)
        .select(col("c_user"), col("c_id"), col("c_ts"), col("p_ts"))
        .orderBy("c_id", "p_ts")
    }, oracle =
      // the outer-join emission contract in SQL: all inner matches plus
      // exactly the unmatched clicks whose window close fell below the
      // final GLOBAL watermark = least(max click ts, max purchase ts) −
      // 30 min (multi-source watermark = min over sides)
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events),
        |c AS (SELECT user_id AS c_user, ts AS c_ts, event_id AS c_id
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, ts AS p_ts
        |      FROM e WHERE event_type = 'purchase'),
        |m AS (SELECT least((SELECT max(c_ts) FROM c),
        |                   (SELECT max(p_ts) FROM p)) AS mx),
        |matched AS (
        |  SELECT c.c_user, c.c_id, c.c_ts, p.p_ts
        |  FROM c JOIN p ON p.p_user = c.c_user
        |   AND p.p_ts >= c.c_ts
        |   AND p.p_ts <= c.c_ts + INTERVAL 15 MINUTE),
        |unmatched AS (
        |  SELECT c.c_user, c.c_id, c.c_ts, CAST(NULL AS TIMESTAMP) AS p_ts
        |  FROM c
        |  WHERE NOT EXISTS (SELECT 1 FROM matched WHERE matched.c_id = c.c_id)
        |    AND c.c_ts + INTERVAL 15 MINUTE
        |          < (SELECT mx - INTERVAL 30 MINUTE FROM m))
        |SELECT * FROM matched
        |UNION ALL SELECT * FROM unmatched
        |ORDER BY c_id, p_ts""".stripMargin),
    // D5 — stateful streaming dedup by event_id within the watermark
    // (the dedupedEvents fragment — single-sourced so RecoverySpec's
    // crash-restart gate exercises EXACTLY the operator this key ships).
    Query("stream_dedup_stateful", (s, d) => {
      val stream = dedupedEvents(eventsStream(s, d))
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      runToMemory(s, stream, "dedup", OutputMode.Complete)
        .orderBy("event_type")
    }, oracle =
      // D5/D6: event_id is the PK, so the stateful dedup must drop nothing and
      // the foreachBatch pipeline must neither lose nor duplicate rows — both
      // reduce to the plain per-type counts.
      """SELECT event_type, COUNT(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // D7 — custom streaming state via typed mapGroupsWithState
    // (graft.streaming.CustomState): per-user running stats held in the
    // state store across micro-batches. CustomStateSpec proves cross-batch
    // state with MemoryStream; the oracle checks the final states equal the
    // batch aggregate (exact-decimal accumulation makes them hashable).
    Query("stream_custom_state", (s, d) => {
      val t = runToMemory(s,
        graft.streaming.CustomState.runningUserStats(eventsStream(s, d)),
        "cs", graft.streaming.CustomState.outputMode)
      // update mode re-emits a refreshed row per (batch, user); the final
      // state is the max-events row (events strictly grows across batches)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc("events"))
      t.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("events"), col("total_value"))
        .orderBy("user_id")
    }, oracle =
      // D7: final mapGroupsWithState state per user == the batch aggregate;
      // exact-decimal accumulation makes total_value order-independent.
      """SELECT user_id, COUNT(*) AS events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // D8 — stream-stream interval join (the double-sided-state operator the
    // rest of Tier D doesn't exercise): click→purchase attribution per user
    // within 15 minutes. Both sides are watermarked and the join condition
    // is event-time-bounded, so each side's state is evicted once the other
    // side's watermark passes it — bounded state at 100 TB, the whole point
    // of the operator. For a finite AvailableNow input an inner stream-stream
    // join emits exactly the batch interval join, so the oracle replays it
    // as plain SQL — the state machinery is differentially checked.
    // Batch-equality caveat: the source runs as three micro-batches, so
    // cross-batch event-time disorder beyond the watermark could evict a
    // click before a late matching purchase arrived, and the differential
    // check would diverge. Holds here because (a) the chunks are
    // event-time ordered and read one file per trigger, so every row of a
    // batch is newer than all rows of the batches before it (the argument
    // is spelled out in the key below); (b) the 30-min watermark is double
    // the 15-min join window as headroom, not a substitute for (a).
    Query("stream_stream_join", (s, d) => {
      // THREE real micro-batches (round 11, the r10 #2 "optionally" item):
      // the chunked source exercises the join's cross-batch state buffers
      // on the gated path. Watermark safety is by construction — chunks
      // are event-time ordered, so every batch-k+1 row is newer than all
      // of batch k: a purchase can still match a ≤15-min-earlier click
      // because that click's c_ts sits ≥ watermark (maxTs(k) − 30 min),
      // and the symmetric boundary case (click equal to a prior batch's
      // purchase ts) finds the purchase still buffered for the same
      // reason. Inner-join rows emit exactly once when the match forms,
      // so no multi-batch dedup is needed.
      val ev = eventsStreamChunked(s, d, chunks = 3)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("value").as("p_value"))
        .withWatermark("p_ts", "30 minutes")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 15 MINUTES"))
      // compact per-user attribution report over the joined pairs
      runToMemory(s, joined, "ssj", minBatches = 2)
        .groupBy(col("c_user").as("user_id"))
        .agg(count(lit(1)).as("n_attributed"),
          decSum(col("p_value")).as("attributed_value"))
        .orderBy("user_id")
    }, oracle =
      // D8: inner stream-stream interval join over a finite input == the batch
      // interval join; decimal-exact value sum keeps the double hashable.
      """SELECT c.user_id, COUNT(*) AS n_attributed,
        |       CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 15 MINUTE
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin),
    // D9 — stream-static enrichment join: the streaming fact side joined to
    // a static dimension (the most common production streaming shape — the
    // Glue-pipeline analogue is event ingest enriched against the crawled
    // customer table before the warehouse load). The static side is
    // BROADCAST — no stream-side shuffle, no state: the dimension is
    // re-resolved per micro-batch, which is exactly how a slowly-changing
    // dim should behave. Stateless, so AvailableNow output == batch join.
    // D8c — streaming AS-OF enrichment against the VERSIONED dimension
    // (round 14c): the streaming twin of etl_dim_asof_join — each
    // micro-batch's events join the SCD2 history by key equality +
    // interval containment, so a fact arriving after a dimension update
    // binds to the version valid at ITS OWN event time, not the load
    // time (the late-binding rule that makes replay/backfill agree with
    // the original run). Stream-static joins re-read the static side per
    // batch — stateless, append-safe; the dim broadcasts. THREE real
    // micro-batches via the chunked source, so the enrichment runs
    // incrementally on the gated path; the memory-sink table then
    // aggregates per version for the oracle (which derives each event's
    // version from the change predicates — the etl_dim_asof_join gate).
    Query("stream_dim_asof", (s, d) => {
      // a stream-static join re-plans (and re-computes) the static side
      // EVERY micro-batch; the SCD2 derivation is 3 customer scans + 2
      // joins + a union, so checkpoint it once (r17 optimization) and
      // each batch broadcasts the materialized rows instead of re-running
      // the derivation — identical join semantics, 3× fewer dim builds
      val dim = TierA.scd2Table(s, d, effectiveDay = "2024-01-16")
        .select(col("c_custkey"), col("valid_from"), col("valid_to"))
        .localCheckpoint()
      val enriched = eventsStreamChunked(s, d, chunks = 3)
        .join(broadcast(dim),
          col("user_id") === col("c_custkey") &&
            col("valid_from") <= to_date(col("ts")) &&
            to_date(col("ts")) < col("valid_to"))
      runToMemory(s, enriched, "sda")
        .groupBy("valid_from")
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          decSum(col("value")).as("sum_value"))
        .orderBy("valid_from")
    }, oracle =
      // D9: stateless enrichment — AvailableNow output equals the batch join.
      // each event's version derived from the change predicates (the
      // etl_dim_asof_join gate), aggregated per version
      """WITH enr AS (
        |  SELECT e.event_id, e.user_id,
        |         CAST(e.value AS DECIMAL(18,2)) AS value,
        |         CASE WHEN c.c_custkey % 10 = 0
        |               AND CAST(CAST(e.ts AS TIMESTAMP) AS DATE)
        |                   >= DATE '2024-01-16'
        |              THEN DATE '2024-01-16' ELSE DATE '2024-01-01' END
        |           AS valid_from
        |  FROM events e JOIN customer c ON e.user_id = c.c_custkey)
        |SELECT valid_from, COUNT(*) AS n_events,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       CAST(SUM(value) AS DOUBLE) AS sum_value
        |FROM enr GROUP BY valid_from ORDER BY valid_from""".stripMargin),
    Query("stream_static_join", (s, d) => {
      val dim = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val enriched = eventsStream(s, d)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
      runToMemory(s, enriched, "ssd")
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
        .orderBy("c_mktsegment", "event_type")
    }, oracle =
      """SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin),
    // D7b — session assembly via typed flatMapGroupsWithState
    // (graft.streaming.SessionAssembly): the variable-rows-per-key stateful
    // API — one emitted row per closed session — that mapGroupsWithState
    // (one row per key) and session_window (aggregate-only) can't express.
    // 30-min gap in epoch-second longs, exact-decimal sums; the
    // multi-batch reduction below recovers the batch sessionization,
    // which is the DuckDB oracle.
    Query("stream_sessionize_flatmap", (s, d) => {
      // THREE real micro-batches (r10 verdict #2): the events fixture is
      // staged as 3 event-time-ordered files and maxFilesPerTrigger=1
      // makes AvailableNow process them one per batch, so the operator's
      // cross-batch state carry runs ON THE GATED PATH, not only in
      // SessionAssemblySpec's MemoryStream. The per-batch tail flush
      // (SessionAssembly.sessions scaladoc) re-emits a still-open session
      // each batch that grows it, so the multi-batch consumer reduction —
      // keep the longest row per (user_id, session_start_s) — recovers
      // exactly the batch sessionization the oracle computes.
      val t = runToMemory(s, graft.streaming.SessionAssembly
        .sessions(eventsStreamChunked(s, d, chunks = 3)), "sfm", minBatches = 2)
      val wTail = Window.partitionBy("user_id", "session_start_s")
        .orderBy(desc("session_end_s"), desc("n_events"))
      t.withColumn("graft_rn", row_number().over(wTail))
        .filter(col("graft_rn") === 1).drop("graft_rn")
        .orderBy("user_id", "session_start_s")
    }, oracle =
      // D7b: the flatMapGroupsWithState session assembly — run over THREE
      // real micro-batches (eventsStreamChunked + maxFilesPerTrigger=1, with
      // the per-(user, start) longest-row reduction over the tail flushes) —
      // equals the batch sessionizer: the sessionize_batch recurrence in
      // epoch seconds (floor(epoch(..)) == Spark's ts→long cast)
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
        |         value
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, t, value,
        |         CASE WHEN lag(t) OVER w IS NULL OR t >= lag(t) OVER w + 1800
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |sessions AS (
        |  SELECT user_id, t, value,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(t) AS session_start_s, MAX(t) AS session_end_s,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start_s""".stripMargin),
    // D5c (round 12) — the WATERMARK-FINALIZED sessionizer: the same
    // flatMapGroupsWithState assembly gated behind an event-time timeout
    // (SessionAssembly.sessionsFinal), so every session is emitted
    // EXACTLY ONCE and append consumers need no reduction (contrast the
    // per-(user, start) longest-row window above). Emission boundary is a
    // pure function of the fixture under delay=0: a session is emitted
    // iff a later same-user event closed it, or the final watermark (the
    // global max event-time ms) passed its end+gap horizon — each user's
    // last session near stream end correctly stays in state, and the
    // oracle states that boundary in SQL. Runs the same 3 real
    // micro-batches as D5b; the timeout fires in the no-data
    // watermark-commit batch Spark appends when state requires it.
    Query("stream_sessionize_final", (s, d) => {
      runToMemory(s, graft.streaming.SessionAssembly
          .sessionsFinal(eventsStreamChunked(s, d, chunks = 3)),
        "sff", minBatches = 2)
        .orderBy("user_id", "session_start_s")
    }, oracle =
      // D5c: the watermark-finalized emission boundary in SQL — a session
      // row appears iff a later same-user event closed it (rn > 1: it is
      // not the user's last session) OR the final watermark (global max
      // event-time ms, delay 0) strictly passed its end+gap timeout
      // horizon (set from the SECOND-truncated tail end, hence ·1000)
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
        |         value
        |  FROM events),
        |mx AS (SELECT MAX(epoch_ms(CAST(ts AS TIMESTAMP))) AS mms
        |       FROM events),
        |flagged AS (
        |  SELECT user_id, t, value,
        |         CASE WHEN lag(t) OVER w IS NULL OR t >= lag(t) OVER w + 1800
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |sessions AS (
        |  SELECT user_id, t, value,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, MIN(t) AS session_start_s, MAX(t) AS session_end_s,
        |         COUNT(*) AS n_events,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM sessions GROUP BY user_id, sid),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |           ORDER BY session_start_s DESC) AS rn
        |  FROM agg)
        |SELECT user_id, session_start_s, session_end_s, n_events, sum_value
        |FROM r, mx
        |WHERE rn > 1 OR (session_end_s + 1800) * 1000 < mms
        |ORDER BY user_id, session_start_s""".stripMargin),
    // D8 (round 12) — per-user streaming EWMA anomaly scoring: the
    // ORDER-SENSITIVE stateful recurrence (EwmaAnomaly scaladoc) — state
    // carries the running integer EWMA across the 3 real micro-batches,
    // each event emitted exactly once with its prior-average verdict.
    // Fold order is total ((unix_micros, event_id); chunks are ntile over
    // the same global order), so the batch oracle's per-user
    // recursive-CTE replay matches row-for-row.
    Query("stream_ewma_anomaly", (s, d) => {
      runToMemory(s, graft.streaming.EwmaAnomaly
          .scored(eventsStreamChunked(s, d, chunks = 3)),
        "sea", minBatches = 2)
        .orderBy("user_id", "t_s", "event_id")
    }, oracle =
      // D8: the same integer recurrence replayed per user as a recursive
      // CTE over the (unix_micros, event_id)-ordered sequence; first event
      // seeds e = v (never flags), then e' = (3e + v) // 4
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
        |  FROM events),
        |seq AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY tus, event_id) AS idx
        |  FROM e),
        |rec AS (
        |  SELECT user_id, idx, event_id, tus, v_c,
        |         v_c AS e_prev_c, v_c AS e_c
        |  FROM seq WHERE idx = 1
        |  UNION ALL
        |  SELECT s.user_id, s.idx, s.event_id, s.tus, s.v_c,
        |         r.e_c, (3 * r.e_c + s.v_c) // 4
        |  FROM rec r JOIN seq s
        |    ON s.user_id = r.user_id AND s.idx = r.idx + 1)
        |SELECT user_id, event_id, tus // 1000000 AS t_s, v_c,
        |       e_prev_c, CAST(e_c AS BIGINT) AS e_c,
        |       abs(v_c - e_prev_c) * 2 > e_prev_c AS is_anomaly
        |FROM rec ORDER BY user_id, t_s, event_id""".stripMargin),
    // D8b — streaming Space-Saving heavy hitters (round 12g): one k=16
    // sketch per event_type carried across 3 real micro-batches, a
    // ranked top-k snapshot per batch; the query returns the FINAL
    // snapshot (max n_so_far per key — the post-backlog trending list).
    // The fold is single-sourced from SpaceSavingAggregator.reduce (see
    // streaming/StreamTopK.scala) and deterministic under the
    // (unix_micros, event_id) order contract; unit-tier like the batch
    // sketch (StreamTopKSpec: exact sequential-fold parity, ICDT bounds
    // vs exact counts, n/k heavy-hitter presence, cross-batch n carry).
    Query("stream_spacesaving_topk", (s, d) => {
      val t = runToMemory(s, graft.streaming.StreamTopK
        .topk(eventsStreamChunked(s, d, chunks = 3)), "sst", minBatches = 2)
      val wMax = Window.partitionBy("event_type")
      t.withColumn("n_max", max("n_so_far").over(wMax))
        .filter(col("n_so_far") === col("n_max")).drop("n_max")
        .orderBy("event_type", "rank")
    }),
    // D7c — GLOBAL streaming heavy hitters with per-partition pre-merge
    // (round 13 — r12 verdict #5, the scale path stream_spacesaving_topk's
    // scaladoc declared): one logical key over the WHOLE stream, so raw
    // items must never funnel through the single state instance — each
    // partition folds its slice into a k-bounded sketch (mapPartitions +
    // the batch aggregator's reduce) and only sketch ROWS reach the state,
    // which merges them via the PODS-2012 merge (StreamTopK.topkGlobal).
    // Gated over 3 real micro-batches like its per-key sibling; the final
    // post-backlog snapshot is the result. Unit-tier: counter values are
    // merge-order-dependent by construction — StreamTopKSpec asserts the
    // order-independent ICDT bounds, the n carry across batches and the
    // n/k heavy-hitter presence under the merge tree.
    Query("stream_spacesaving_global", (s, d) => {
      val t = runToMemory(s, graft.streaming.StreamTopK
        .topkGlobal(eventsStreamChunked(s, d, chunks = 3)), "ssg", minBatches = 2)
      val wMax = Window.partitionBy("event_type")
      t.withColumn("n_max", max("n_so_far").over(wMax))
        .filter(col("n_so_far") === col("n_max")).drop("n_max")
        .orderBy("rank")
    }),
    // D6 — bookmark semantics end-to-end (reference README.md:145): a file
    // source with checkpoint processes each file exactly once; the second
    // AvailableNow run emits only newly-landed files. EtlSpec asserts the
    // no-reprocess property; here one pass over the events file.
    Query("stream_foreachbatch_pipeline", (s, d) => {
      val sink = scratchDir("graft_fb_sink")
      withStateScope(s) { c =>
        val q = eventsStream(c, d)
          .writeStream.trigger(Trigger.AvailableNow())
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // The micro-batch is materialized to the sink inside the batch —
            // the Glue-job "load" step of the incremental pipeline.
            batch.groupBy("event_type").agg(count(lit(1)).as("cnt"))
              .write.mode("append").parquet(sink)
            ()
          }
          .option("checkpointLocation",
            scratchDir("graft_fb_ckpt"))
          .start()
        q.awaitTermination()
      }
      s.read.parquet(sink).groupBy("event_type")
        .agg(sum("cnt").as("cnt")).orderBy("event_type")
    }, oracle =
      """SELECT event_type, COUNT(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  )

  /** The stream_session aggregation over an arbitrary event frame —
    * 30-minute-gap session windows per user. Single-sourced
    * (package-private): the D3 key runs it through the batch engine,
    * RecoverySpec runs it through the STREAMING engine (with a
    * watermark, append mode) across a crash-restart cycle, where
    * sessions straddling the crash boundary must merge from the
    * restored session-window state store. */
  private[graft] def sessionCounts(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("cnt"))

  /** The stream_dedup_stateful operator over an arbitrary event stream —
    * watermarked dropDuplicates, the dedup state store. Single-sourced
    * (package-private) so the crash-recovery spec drives the SAME
    * operator through a stop/restart cycle with planted cross-restart
    * duplicates (round 15 — the r14 verdict's stretch item). */
  private[graft] def dedupedEvents(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "1 hour").dropDuplicates("event_id")

  /** The stream_stream_outer_join pipeline over an arbitrary event
    * stream — single-sourced (package-private) so the crash-recovery
    * spec drives the SAME watermarked outer join through a stop/restart
    * cycle that the gated key runs end-to-end. */
  private[graft] def ssojJoined(ev: DataFrame): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 15 MINUTES"),
      "left_outer")
  }

  /** Runs `body` on a private clone of `s` (GraftBridge.scopedStreams)
    * with at most 4 shuffle partitions, so a stream started there has few
    * state-store partitions while `s` keeps its own count. Each partition
    * is a store instance with per-batch commit overhead. Cap measured at
    * sf0.1 (quiet, 3 runs each): stateful dedup 2.2s/1.75s/1.55s and the
    * stream-stream join 3.6s/2.7s/2.26s at 8/4/2 partitions — commit
    * overhead, not parallelism, dominates a local demo stream; a cluster
    * run would size this by key cardinality instead. */
  private def withStateScope[T](s: SparkSession)(body: SparkSession => T): T =
    GraftBridge.scopedStreams(s) { c =>
      c.conf.set(SQLConf.SHUFFLE_PARTITIONS.key,
        math.min(s.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt, 4).toLong)
      body(c)
    }

  /** The one way a Tier D key runs a stream to a memory sink: synchronously
    * under AvailableNow (process the full backlog, then stop — the
    * Job-Bookmark execution mode), checkpointed to a fresh
    * `graft_<tag>_ckpt` scratch dir. The stream's plan is rebound into a
    * [[withStateScope]] clone, so only the stream runs capped: input built
    * before the call (dim checkpoints, chunk staging) ran uncapped in `s`.
    * The sink, named `tag`, lives in the clone; the returned table is
    * rebound to `s`, which gains no view.
    *
    * `minBatches` is the multi-batch contract of the chunked-source keys: at
    * least that many micro-batches must have read data, or the cross-batch
    * state carry was never exercised on the gated path. */
  private[graft] def runToMemory(s: SparkSession, df: Dataset[_], tag: String,
      mode: OutputMode = OutputMode.Append, minBatches: Int = 0): DataFrame =
    withStateScope(s) { c =>
      val q = GraftBridge.ofRows(c, df.queryExecution.analyzed)
        .writeStream.format("memory").queryName(tag)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", scratchDir(s"graft_${tag}_ckpt"))
        .start()
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= minBatches,
        s"$tag: multi-batch contract violated: $batches data batch(es) ran, " +
          s"$minBatches required — the cross-batch state carry was not exercised")
      GraftBridge.ofRows(s, c.table(tag).queryExecution.analyzed)
    }
}
