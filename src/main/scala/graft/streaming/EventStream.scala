package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sessionization of the events table (SURVEY.md §2.e E5): the
  * gaps-and-islands batch form, and the `flatMapGroupsWithState` fold with
  * its batch replay in oracle shape.
  *
  * Scale posture: every form shuffles once on `user_id`; custom session
  * state is partitioned by user key and O(1) per user.
  */
object EventStream {

  /** Batch sessionization by the classic gaps-and-islands recurrence: a new
    * session starts when the gap since the user's previous event is >= `gap`
    * (exactly `session_window`'s merge rule — windows [t, t+gap) merge only
    * while they overlap), the session index is a running sum of those
    * start-flags, and one aggregate per (user, session) yields the summary.
    * `session_end` = last event + gap, matching `session_window`'s output
    * shape, so the two forms are interchangeable (pinned in EventStreamSpec).
    *
    * Determinism: the window order is (ts, event_id) — a total order even
    * when a user has simultaneous events — so the island assignment is a
    * property of the data, not of partitioning.
    *
    * Scale: ONE shuffle. The two window functions and the final groupBy all
    * cluster on `user_id` — Catalyst reuses the window's HashPartitioning
    * for the aggregate (hash(user_id) satisfies the (user_id, session_idx)
    * clustering), so the plan is scan → exchange(user_id) → sort → window →
    * window → partial+final agg with no second exchange. State per user is
    * the sort run, not a driver-side structure.
    */
  def sessionizeBatch(events: DataFrame, gap: String = "30 minutes",
      valueAgg: Column => Column = sum(_)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMicros = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    val gapUs = gapMicros.microseconds + gapMicros.days * 86400000000L
    require(gapMicros.months == 0, "sessionizeBatch: gap must be a fixed duration")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("__new",
        when(col("__prev_us").isNull ||
          unix_micros(col("ts")) - col("__prev_us") >= gapUs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(
        min(col("ts")).as("session_start"),
        timestamp_micros(max(unix_micros(col("ts"))) + gapUs).as("session_end"),
        count(lit(1)).as("n_events"),
        valueAgg(col("value")).as("sum_value"))
      .drop("__sid")
  }

  // ---- custom state: flatMapGroupsWithState sessionization ----

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(start: Long, lastSeen: Long, n: Long, sum: Double)

  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** Custom stateful sessionization: closes a user's session when the gap
    * between consecutive events exceeds `gapMillis`, emitting one summary
    * row per closed session. The state object is O(1) per key — at scale,
    * state store size is #active users, not #events.
    *
    * Session CLOSURE has two triggers, both required on a real stream:
    *  - a later event for the same user beyond the gap (the fold below), and
    *  - `EventTimeTimeout`: when the watermark passes `lastSeen + gapMillis`
    *    with no further event, the open session is emitted and its state
    *    evicted. Without this, an idle user's FINAL session never surfaces
    *    and their state lives forever — on a 100 TB stream that is both a
    *    correctness hole and an unbounded state store.
    *
    * On a streaming Dataset a watermark on `ts` is applied here (required
    * for event-time timeouts); `watermarkDelay` is the usual lateness bound.
    * On a batch Dataset (tests, backfills) Spark never fires timeouts — the
    * trailing open session per user is withheld, matching append-mode
    * semantics of the streaming twin before the watermark closes it.
    */
  def sessionizeStateful(events: Dataset[Event], gapMillis: Long,
      watermarkDelay: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", watermarkDelay) else events
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evts: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastSeen + gap: the session can no longer be
            // extended by in-watermark data — emit it and evict the state
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.lastSeen), s.n, s.sum))
          } else {
            val sorted = evts.toSeq.sortBy(_.ts.getTime)
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen > gapMillis =>
                  out += SessionOut(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.lastSeen), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case Some(s) =>
                  cur = Some(s.copy(lastSeen = t, n = s.n + 1, sum = s.sum + e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // event-time timeouts need a watermark; batch runs have none
              if (streaming) state.setTimeoutTimestamp(s.lastSeen + gapMillis)
            }
            out.iterator
          }
      }
  }

  /** Batch replay of [[sessionizeStateful]]'s append-mode semantics over the
    * events table, shaped for the DuckDB oracle — the one streaming-state
    * operator whose OUTPUT CONTRACT (not just its aggregates) is
    * hash-verified: strict `>` gap closure, `session_end` = last event (no
    * +gap — the fMGWS contract, unlike `session_window`), millisecond gap
    * arithmetic (`Timestamp.getTime`), and each user's trailing OPEN session
    * withheld exactly as append mode withholds it until the watermark fires
    * the event-time timeout.
    *
    * Determinism inventory: the fold sorts a user's events by ms timestamp
    * only, so every emitted field must be invariant to the arrival order of
    * same-ms events — island membership is (a 0 gap never closes), counts
    * and boundaries are, and the value sum is made exact by pre-scaling to
    * 1e-4 integer units carried in the Double field (integer-valued double
    * addition is associative below 2^53; the [[graft.queries.Reference.msum]]
    * atom applied to streaming state). Catalyst converts micros→ms with
    * `Math.floorDiv`, and DuckDB's `//` is floor division, so the ms grid
    * agrees between engines even pre-epoch.
    *
    * Scale: ONE shuffle on `user_id` into the flatMapGroupsWithState sort —
    * the same topology the streaming twin runs with a state store; the
    * replay is how you backfill a sessionized history at rest beside the
    * live stream.
    */
  def statefulReplay(events: DataFrame, gapMillis: Long = 30 * 60 * 1000L): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val ds = events.select(
        col("event_id").cast("long").as("event_id"),
        col("ts"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"),
        round(col("value") * 10000, 0).as("value"))
      .as[Event]
    sessionizeStateful(ds, gapMillis).toDF()
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"),
        (col("sum_value").cast("long").cast("double") / 10000).as("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Generated DuckDB mirror of [[statefulReplay]] — gaps-and-islands on the
    * ms grid with strict `>` closure, last-event session ends, and the
    * trailing island per user excluded (the withheld open session). Keep in
    * lockstep with the Scala form.
    */
  def statefulReplaySql(table: String, gapMillis: Long = 30 * 60 * 1000L): String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms,
       |    CAST(round(value * 10000) AS BIGINT) AS units
       |  FROM $table
       |), lagged AS (
       |  SELECT user_id, event_id, ms, units,
       |    LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms
       |  FROM ev
       |), isl AS (
       |  SELECT user_id, ms, units,
       |    SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > $gapMillis
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM lagged
       |), ses AS (
       |  SELECT user_id, sid, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
       |    COUNT(*) AS n_events,
       |    CAST(SUM(units) AS DOUBLE) / 10000 AS sum_value
       |  FROM isl GROUP BY user_id, sid
       |)
       |SELECT user_id,
       |  strftime(make_timestamp(start_ms * 1000), '%Y-%m-%d %H:%M:%S')
       |    AS session_start,
       |  strftime(make_timestamp(end_ms * 1000), '%Y-%m-%d %H:%M:%S')
       |    AS session_end,
       |  n_events, sum_value
       |FROM ses
       |QUALIFY sid < MAX(sid) OVER (PARTITION BY user_id)
       |ORDER BY user_id, session_start""".stripMargin
}
