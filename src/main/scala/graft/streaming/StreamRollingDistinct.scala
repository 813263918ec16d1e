package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming rolling-window distinct users (DAU/WAU) — the streaming
  * twin of the q190 batch operator, and the suite's demonstration of
  * CHAINED STATEFUL OPERATORS (Spark 3.5+/4.x): a watermarked
  * `dropDuplicates` feeding a watermarked windowed aggregation in one
  * append-mode query.
  *
  * The shape is the same bounded-fanout trick as q190: each event
  * explodes to the `windowDays` target days it stays visible in
  * (row-local, fanout = the window length — a constant), the
  * (user, target-day) pair is deduplicated by the FIRST stateful
  * operator, and the per-day count of the deduplicated pairs — which
  * IS the distinct-user count — is the SECOND. A distinct-over-
  * sliding-range that a streaming aggregation cannot express directly
  * becomes two standard watermarked operators.
  *
  * State bounds: dedup state is one entry per (user, open target day)
  * — at most `windowDays` per active user — and the aggregation state
  * is one counter per open day; both are evicted by the ordinary
  * watermark mechanism because the dedup key INCLUDES the watermarked
  * event-time column (the eviction precondition for streaming
  * dropDuplicates).
  */
object StreamRollingDistinct {

  /** Watermarked dedup → windowed count; `events` carries the
    * canonical BIGINT-nanos `ts`. Target-day event time is the start
    * of each day the event is visible in (day index + 0..windowDays-1,
    * day-aligned µs). */
  def dailyDistinct(events: DataFrame, windowDays: Int): DataFrame =
    events
      .withColumn("i", explode(sequence(lit(0), lit(windowDays - 1))))
      .withColumn("td_time", timestamp_micros(
        expr("((ts DIV 1000) DIV 86400000000 + i) * 86400000000")))
      .withWatermark("td_time", "0 milliseconds")
      .dropDuplicates("user_id", "td_time")
      .groupBy(window(col("td_time"), "1 day"))
      .agg(count(lit(1)).cast("long").as("wau"))
      .select(unix_millis(col("window.start")).as("day_ms"), col("wau"))

  /** Replay the events parquet through the chained stateful plan. The
    * sentinel leads by 9 days: far enough that its own 7 visibility
    * days can never overlap a real window (real target days reach at
    * most maxDay+6), and its watermark push flushes every real day
    * window; the sentinel's own windows are dropped batch-side by the
    * day cutoff (they are the ONLY rows past maxDay+6, so no real
    * count is touched). */
  def replayParquet(spark: SparkSession, dir: String, windowDays: Int = 7,
      queryName: String = "stream_rolling_distinct",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    require(windowDays <= 7, "sentinel lead (9 days) assumes windowDays <= 7")
    val staged = ReplayStage.stageEvents(spark, dir, 9L * 86400L * 1000000000L)
    val sink = try {
      // ReplayStage.readStream guards maxFilesPerTrigger: a multi-batch
      // replay requires time-ordered parts (else the advanced watermark
      // drops later files' early rows) and fails loudly otherwise
      val evs = ReplayStage.readStream(spark, staged, maxFilesPerTrigger)
      ReplayStage.memorySink(dailyDistinct(evs, windowDays), queryName,
        "append")
    } finally staged.cleanup()
    val maxDay = staged.maxTsNanos / 86400000000000L
    sink
      .where(col("day_ms") <= (maxDay + (windowDays - 1)) * 86400000L)
  }
}
