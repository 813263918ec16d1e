package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization via `flatMapGroupsWithState` —
  * the custom-state counterpart of the batch `Relational.sessionize`
  * (gap-based sessions per user).
  *
  * State per user = the open (not-yet-closed) session plus the last
  * assigned session number, carried ACROSS micro-batches: a session
  * spanning two batches is one session, and `session_seq` resumes from
  * stored state. A closed session is emitted either when a later event
  * of the same user arrives more than `gapMs` after it, or when the
  * event-time watermark passes `session_end + gapMs` (event-time
  * timeout — no event that could extend the session can still arrive).
  *
  * Replay of a finite file source flushes trailing open sessions with a
  * watermark sentinel (see [[replayParquet]]): one future-dated row
  * advances the global watermark past every open session's deadline and
  * the timeout path drains the state in the final no-data batch.
  */
object StatefulSessions {

  /** `ts_t` mirrors `ts_ms` as a timestamp — watermarks need an
    * event-time typed column; the session math stays on exact longs. */
  final case class Ev(user_id: Long, event_id: Long, ts_ms: Long,
                      ts_t: java.sql.Timestamp)
  final case class Session(user_id: Long, session_seq: Long, n_events: Long,
                           session_start_ms: Long, session_end_ms: Long)
  /** Open session + last assigned seq. Kept (with `open = None`) after a
    * timeout flush so `session_seq` continues if the user returns; a
    * deployment that must bound state size would `state.remove()` there
    * instead and accept per-user seq restart (or persist seq externally). */
  final case class UserState(open: Option[Session], lastSeq: Long)

  /** `events` must carry a watermark on `ts_t` (set upstream with
    * `withWatermark`); the timeout wiring is event-time based. */
  def sessionize(events: Dataset[Ev], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            // watermark passed open.session_end + gap: nothing can extend
            // the session — flush it, remember lastSeq for continuation
            val st = state.getOption.getOrElse(UserState(None, 0L))
            state.update(UserState(None, st.lastSeq))
            st.open.iterator
          } else {
            // a micro-batch arrives unordered within itself: sort it.
            // (Cross-batch order is guarded by the watermark: an event
            // older than a timed-out session would be late data.)
            val evs = it.toSeq.sortBy(e => (e.ts_ms, e.event_id))
            val prev = state.getOption.getOrElse(UserState(None, 0L))
            var open = prev.open
            var seq = prev.lastSeq
            val closed = List.newBuilder[Session]
            evs.foreach { e =>
              open match {
                case Some(s) if e.ts_ms - s.session_end_ms <= gapMs =>
                  open = Some(s.copy(n_events = s.n_events + 1,
                    session_start_ms = math.min(s.session_start_ms, e.ts_ms),
                    session_end_ms = math.max(s.session_end_ms, e.ts_ms)))
                case maybe =>
                  maybe.foreach(closed += _)
                  seq += 1
                  open = Some(Session(user, seq, 1L, e.ts_ms, e.ts_ms))
              }
            }
            state.update(UserState(open, seq))
            open.foreach { s =>
              // never set a timeout at-or-before the current watermark
              // (illegal); an already-expired deadline fires next batch
              state.setTimeoutTimestamp(
                math.max(s.session_end_ms + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }

  /** Replay the events parquet as a stream through the stateful plan.
    *
    * Stages a temp dir of symlinks to the real file(s) plus a sentinel
    * parquet row (`user_id = -1`, filtered out below) dated past
    * `max(ts) + gapMs`: its only job is to advance the watermark so the
    * final no-data batch times out and emits every still-open session —
    * the explicit end-of-replay flush. `maxFilesPerTrigger` splits the
    * replay into several micro-batches to exercise cross-batch state.
    */
  def replayParquet(spark: SparkSession, dir: String, gapMs: Long,
                    queryName: String = "stateful_sessions",
                    maxFilesPerTrigger: Option[Int] = None): Dataset[Session] = {
    import spark.implicits._
    // shared staging (symlinks + watermark sentinel at max(ts) +
    // gap + 1 ms, the flush deadline of the last open session);
    // ReplayStage also guards maxFilesPerTrigger — multi-batch replay
    // requires time-ordered parts — and the staging dir is removed when
    // the replay terminates
    val staged = ReplayStage.stageEvents(spark, dir, (gapMs + 1L) * 1000000L)
    val sink = try {
      val evs = ReplayStage.readStream(spark, staged, maxFilesPerTrigger)
        .selectExpr("user_id", "event_id", "ts DIV 1000000 AS ts_ms",
          "timestamp_millis(ts DIV 1000000) AS ts_t")
        .withWatermark("ts_t", "0 milliseconds")
        .as[Ev]
      // The sentinel must be dropped AFTER it feeds the watermark. A
      // `.where` before groupByKey gets pushed below the EventTimeWatermark
      // node by Catalyst (the predicate doesn't touch the event-time
      // column), which silently un-advances the watermark and strands the
      // session ending at the global max ts. A typed filter on the OUTPUT
      // of flatMapGroupsWithState can't be pushed through it.
      ReplayStage.memorySink(sessionize(evs, gapMs).filter(_.user_id >= 0),
        queryName, "append")
    } finally staged.cleanup()
    sink.as[Session]
  }
}
