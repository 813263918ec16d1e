package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming clamped running balance — the stateful twin of
  * [[graft.operators.RunningOps.clampedBalance]] (q213). The batch side
  * needed the reflection identity to make the recurrence windowable;
  * the stream side runs the recurrence DIRECTLY — sequential
  * per-key processing is what flatMapGroupsWithState is — in constant
  * state per key: (balance, peak, moves, clamps). The pairing is the
  * point: one contract, two execution models, one oracle (q213's,
  * verbatim) — and the stream needs no identity trick at all.
  *
  * Ordering contract: per-batch events sort by (o, tie); cross-batch
  * order is guarded by the 0 ms watermark (the x19/x45/x47 regime).
  * Emission: balances update on every event, so rows are only final at
  * end-of-input — each key flushes its summary via event-time timeout
  * driven past every real event by the replay sentinel.
  */
object StreamBalance {

  final case class Mv(user_id: Long, event_id: Long, o: Long, d: Long,
                      o_t: java.sql.Timestamp)
  final case class Balance(user_id: Long, n_moves: Long, n_clamped: Long,
                           final_balance: Long, peak_balance: Long)
  final case class BalState(bal: Long, peak: Long, moves: Long,
                            clamps: Long, lastO: Long)

  /** `mvs` must carry a watermark on `o_t`. `flushLeadMs` must exceed
    * the stream's remaining event-time span (the sentinel provides). */
  def balances(mvs: Dataset[Mv], flushLeadMs: Long): Dataset[Balance] = {
    import mvs.sparkSession.implicits._
    mvs.groupByKey(_.user_id)
      .flatMapGroupsWithState[BalState, Balance](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Mv], state: GroupState[BalState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(Balance(user, st.moves, st.clamps, st.bal, st.peak))
          } else {
            val evs = it.toSeq.sortBy(m => (m.o, m.event_id))
            var st = state.getOption.getOrElse(
              BalState(0L, 0L, 0L, 0L, Long.MinValue))
            evs.foreach { m =>
              val clamped = st.bal + m.d < 0L
              val bal = math.max(0L, st.bal + m.d)
              st = BalState(bal, math.max(st.peak, bal), st.moves + 1,
                st.clamps + (if (clamped) 1L else 0L),
                math.max(st.lastO, m.o))
            }
            state.update(st)
            state.setTimeoutTimestamp(math.max(
              st.lastO / 1000L + flushLeadMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Replay with q213's delta derivation (purchases add ⌊value⌋,
    * errors consume it); shares q213's oracle verbatim. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_balance",
                    maxFilesPerTrigger: Option[Int] = None): Dataset[Balance] = {
    import spark.implicits._
    // lead = 1 day + 1 ms past the max event: no real event can expire
    // another user's deadline; the sentinel expires them all
    val leadNs = 86400L * 1000000000L
    val staged = ReplayStage.stageEvents(spark, dir, leadNs + 1000000L)
    val sink = try {
      val evs = ReplayStage.readStream(spark, staged, maxFilesPerTrigger)
        .where("event_type IN ('purchase', 'error') OR event_type IS NULL")
        .selectExpr("user_id", "event_id", "ts DIV 1000 AS o",
          """CASE WHEN event_type = 'purchase' THEN CAST(FLOOR(value) AS BIGINT)
            |     WHEN event_type = 'error' THEN -CAST(FLOOR(value) AS BIGINT)
            |     ELSE CAST(0 AS BIGINT) END AS d""".stripMargin,
          "timestamp_millis(ts DIV 1000000) AS o_t")
        .withWatermark("o_t", "0 milliseconds")
        .as[Mv]
      ReplayStage.memorySink(balances(evs, leadNs / 1000000L)
        .filter(_.user_id >= 0), queryName, "append")
    } finally staged.cleanup()
    sink.as[Balance]
  }
}
