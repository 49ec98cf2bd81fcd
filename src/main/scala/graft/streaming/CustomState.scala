package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state via the typed KeyValueGroupedDataset API
  * (mapGroups/flatMapGroupsWithState) — the escape hatch for stateful
  * semantics the built-in windows/dedup can't express.
  *
  * `runningUserStats` keeps one small state record per user across
  * micro-batches: event count, cumulative value, and the first-seen event
  * time. State size is O(distinct users) — bounded by the key space, not
  * the stream; per 100 TB/day streams the state store shards by key across
  * executors and this operator scales with them. */
object CustomState {

  /** `value` travels as an exact 2-decimal BigDecimal so the running total is
    * order-independent (double accumulation would depend on batch/arrival
    * order and could never hash-match a batch oracle — SURVEY §7.4.2). */
  case class Ev(user_id: Long, value: java.math.BigDecimal, ts_micros: Long)
  case class UserState(events: Long, total_value: java.math.BigDecimal,
      first_seen_micros: Long)
  case class UserStats(user_id: Long, events: Long, total_value: Double,
      first_seen_micros: Long)

  def updateUser(uid: Long, evs: Iterator[Ev],
      state: GroupState[UserState]): UserStats = {
    var s = state.getOption.getOrElse(
      UserState(0L, java.math.BigDecimal.ZERO, Long.MaxValue))
    evs.foreach { e =>
      s = UserState(s.events + 1, s.total_value.add(e.value),
        math.min(s.first_seen_micros, e.ts_micros))
    }
    state.update(s)
    UserStats(uid, s.events, s.total_value.doubleValue, s.first_seen_micros)
  }

  /** Attach the stateful per-user aggregation to an events stream with
    * columns (user_id, value, ts). Update output mode: each batch emits the
    * refreshed stats for users seen in that batch. */
  def runningUserStats(events: DataFrame): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "CAST(value AS DECIMAL(18,2)) AS value",
        "unix_micros(ts) AS ts_micros")
      .as[Ev]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserStats](GroupStateTimeout.NoTimeout())(
        updateUser)
  }

  val outputMode: OutputMode = OutputMode.Update()
}
