package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming per-window OLS trend — live model fitting on a stream
  * with ZERO custom state: the five OLS sufficient statistics
  * (n, Σx, Σy, Σxy, Σx², Σy²) are plain SUMS, so the built-in
  * watermarked windowed aggregation IS the state (six longs per open
  * (window, key) group, map-side combined, mergeable, watermark-
  * evicted — the x37/x38 additive-sketch discipline applied to
  * regression). Slope/intercept/R² finish row-locally per closed
  * window via [[graft.operators.Regression.finish]] — the SAME
  * double-association expressions as the batch q203, so stream ≡
  * batch bit-for-bit.
  *
  * The fitted line here: per (event_type, day), value (µ-units)
  * against second-of-day — "does this signal drift within the day,
  * per source", the drift monitor a quality pipeline watches live.
  */
object StreamOls {

  /** Watermarked daily sufficient statistics per event type.
    * x = second-of-day (0..86399), y = MILLI-scaled value — Σy² is the
    * overflow driver: y ≤ 10⁶ keeps it exact to ~9·10⁶ rows per
    * (day, type) group (µ-scaling would overflow at ~30 rows at this
    * table's value range). */
  def dailyStats(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("_x", expr("(ts DIV 1000000000) % 86400"))
      .withColumn("_y", expr("CAST(FLOOR(value * 1000) AS BIGINT)"))
      .withWatermark("event_time", "0 milliseconds")
      .groupBy(window(col("event_time"), "1 day"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("_x")).cast("long").as("sx"),
        sum(col("_y")).cast("long").as("sy"),
        sum(col("_x") * col("_y")).cast("long").as("sxy"),
        sum(col("_x") * col("_x")).cast("long").as("sxx"),
        sum(col("_y") * col("_y")).cast("long").as("syy"))
      .select(unix_millis(col("window.start")).as("day_ms"),
        col("event_type"), col("n"), col("sx"), col("sy"),
        col("sxy"), col("sxx"), col("syy"))

  /** Replay the events parquet through the streaming stats plan and
    * finish the estimates batch-side (row-local — the stream did all
    * the aggregation). The sentinel (event_type null, 1 day + 1 h
    * lead) flushes every real day window and contributes no group. */
  def replayParquet(spark: SparkSession, dir: String,
      queryName: String = "stream_ols",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val staged = ReplayStage.stageEvents(spark, dir,
      25L * 3600L * 1000000000L)
    val sink = try {
      val evs = ReplayStage.readStream(spark, staged, maxFilesPerTrigger)
      ReplayStage.memorySink(dailyStats(evs), queryName, "append")
    } finally staged.cleanup()
    val maxDayMs = (staged.maxTsNanos / 86400000000000L) * 86400000L
    graft.operators.Regression.finish(
        sink.where(col("day_ms") <= maxDayMs && col("event_type").isNotNull))
      .select(col("day_ms"), col("event_type"), col("n"), col("ok"),
        col("slope_micro"), col("intercept_centi"), col("r2_milli"))
  }
}
