package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gap-based sessionization via Spark's BUILT-IN `session_window`
  * aggregation — the native merging-window counterpart of the
  * custom-state [[StatefulSessions]] (flatMapGroupsWithState): same gap
  * semantics, but the state store is Spark's session-window merge
  * machinery instead of hand-rolled per-user state, and the output is a
  * windowed aggregate (start/end/count/sum) rather than a numbered
  * session sequence.
  *
  * Semantics (pinned by StreamSessionWindowSpec): a session spans
  * [first event, last event + gap], and chaining is INCLUSIVE — an
  * event at exactly `last + gap` still extends the session (Spark's
  * merge condition is `next - last <= gap`), so an oracle's
  * new-session flag must be spelled `gap_exceeded = delta > gap`.
  * Sessions are emitted in append mode once the watermark passes
  * their end.
  *
  * Scale design: state per (user, open session) is the running
  * aggregate only — counts and a floor-scaled micro sum, merged by the
  * built-in session-merge path with map-side partial merges; eviction
  * is the ordinary watermark mechanism. The batch twin (same
  * expression, same semantics) is what the oracle replays.
  */
object StreamSessionWindow {

  /** Watermarked session aggregation; `events` carries the canonical
    * BIGINT-nanos `ts`. */
  def sessions(events: DataFrame, gap: String): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", "0 milliseconds")
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(floor(col("value") * 1000000)).cast("long").as("sum_value_micro"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("sess_start_ms"),
        unix_millis(col("session_window.end")).as("sess_end_ms"),
        col("n_events"), col("sum_value_micro"))

  /** Replay the events parquet through the streaming plan; the sentinel
    * (ReplayStage) advances the final watermark past every open
    * session's end so append mode emits the complete session set. */
  def replayParquet(spark: SparkSession, dir: String, gapMs: Long,
      queryName: String = "stream_session_window",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val staged = ReplayStage.stageEvents(spark, dir, (gapMs + 1L) * 1000000L)
    val sink = try {
      // ReplayStage.readStream guards maxFilesPerTrigger: a multi-batch
      // replay requires time-ordered parts (else the advanced watermark
      // drops later files' early rows) and fails loudly otherwise
      val evs = ReplayStage.readStream(spark, staged, maxFilesPerTrigger)
      ReplayStage.memorySink(sessions(evs, s"$gapMs milliseconds"),
        queryName, "append")
    } finally staged.cleanup()
    // The sentinel must be dropped OUTSIDE the streaming query: inside
    // it, a `user_id >= 0` predicate sits on a GROUPING column, so
    // Catalyst pushes it through the aggregate and below the
    // EventTimeWatermark node — the sentinel then never feeds the
    // watermark and every session ending after the last real event is
    // withheld (observed: 25 sessions / 33 events at sf0.01). Filtering
    // the finished memory-sink table is batch-side and push-safe.
    sink.where(col("user_id") >= 0)
  }
}
