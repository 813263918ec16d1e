package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CUSUM drift monitor — q226's change-point alarm run live:
  * per-(type, day) value-cent sums via the built-in watermarked
  * aggregation (a sum is additive, so ONE long per open (type, day) IS
  * the whole state — the x37/x38/x50 additive-sketch discipline), then
  * the batch [[graft.operators.TimeSeries.cusumDaily]] finisher runs
  * the clamp-reflection recurrence over the CLOSED daily rows. The
  * operator is reused VERBATIM as the finisher (feeding it the closed
  * (type, day, x) rows is idempotent — its own first aggregation maps
  * each row to itself), so stream ≡ batch is structural: the replay
  * shares q226's oracle word for word.
  *
  * `complete` mode is the REPLAY-ONLY choice here; the 24/7 posture —
  * append-mode (type, day) windows, late data dropped by the watermark
  * and witnessed — is implemented over the SAME additive state by
  * [[StreamCusumUpdate]] (x58).
  */
object StreamCusum {

  /** Watermarked per-(event_type, day) value-cent sums. */
  def dailyCents(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", "1 day")
      .groupBy(window(col("event_time"), "1 day"), col("event_type"))
      .agg(sum(expr("CAST(FLOOR(value * 100) AS BIGINT)")).cast("long")
        .as("x"))
      .select(col("event_type"),
        unix_millis(col("window.start")).as("period_ms"), col("x"))

  /** Replay the events parquet through the streaming counter plan and
    * finish with the batch CUSUM operator over the closed rows. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_cusum"): DataFrame = {
    // fresh attributes off the memory sink (the StreamCms discipline)
    val daily = ReplayStage.memorySink(dailyCents(graft.sources.Tables
        .tsNanosNormalized(ReplayStage.tableStream(spark, dir))),
        queryName, "complete")
      .select(col("event_type").as("event_type"),
        col("period_ms").as("period_ms"), col("x").as("x"))
    graft.operators.TimeSeries.cusumDaily(daily, "event_type",
      periodMs = col("period_ms"), value = col("x"))
  }
}
