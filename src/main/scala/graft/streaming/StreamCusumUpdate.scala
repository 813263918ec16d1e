package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Update-mode per-type CUSUM drift monitor — [[StreamCusum]]'s 24/7
  * posture, the third monitor on the shared staged-late harness
  * ([[ReplayStage.lateDropReplay]]): append-mode (type, day) windows
  * over the SAME additive value-cent sum state (ONE long per open
  * (type, day) — x51's state shape at 0 ms delay), late data genuinely
  * dropped by the watermark and witnessed by the oracle's survivor
  * predicate, and the batch [[graft.operators.TimeSeries.cusumDaily]]
  * finisher run VERBATIM over the closed daily rows — exactly the
  * conversion x51's MODE CAVEAT promised: the clamp-reflection
  * recurrence needs only the closed (type, day, x) series, so the
  * stream's job is the additive sums and nothing else.
  *
  * Self-calibration note: the CUSUM slack/alarm thresholds derive from
  * the key's own daily mean — here the mean of the SURVIVING days'
  * sums, which is the honest 24/7 number (a deployment's reference is
  * what its watermark admitted, not what a backfill would reconstruct);
  * the oracle computes its mean over the same survivor set. */
object StreamCusumUpdate {

  private val DayMs = 86400000L
  private val DayNs = 86400L * 1000000000L

  /** Watermarked per-(event_type, day) value-cent sums —
    * [[StreamCusum.dailyCents]]'s aggregation at the update-mode
    * delay. */
  def dailyCents(events: DataFrame, delay: String): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 day"), col("event_type"))
      .agg(sum(expr("CAST(FLOOR(value * 100) AS BIGINT)")).cast("long")
        .as("x"))
      .select(col("event_type"),
        unix_millis(col("window.start")).as("period_ms"), col("x"))

  /** Stage → replay (append mode, one file per micro-batch, asserted
    * watermark drop) → finish with the batch CUSUM operator over the
    * closed (surviving) daily rows. Output per (type, closed day):
    * (event_type, period_ms, x, cusum, alarm) — q226's schema over the
    * survivor series. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_cusum_update"): DataFrame = {
    val norm = graft.sources.Tables.table(spark, dir, "events")
    val maxTs = norm.agg(max(col("ts"))).head().getLong(0)
    val finalDay = maxTs / DayNs
    // the shared deliberately-late fixture rule (x55/x56) — integer day
    // arithmetic only, so the oracle's `//` agrees at midnight
    val lateRule = col("event_id") % 50 === 0 &&
      expr(s"ts DIV $DayNs") < finalDay

    ReplayStage.lateDropReplay(spark, norm, lateRule, maxTs,
      queryName) { stream =>
      dailyCents(stream, delay = "0 milliseconds")
    }

    // the sentinel's own day never closes; the cutoff is defensive
    // determinism (the x56 discipline). The sentinel row's null
    // event_type would otherwise be a phantom key if it ever emitted.
    val daily = spark.table(queryName)
      .where(col("period_ms") <= finalDay * DayMs &&
        col("event_type").isNotNull)
      .select(col("event_type").as("event_type"),
        col("period_ms").as("period_ms"), col("x").as("x"))
    graft.operators.TimeSeries.cusumDaily(daily, "event_type",
      periodMs = col("period_ms"), value = col("x"))
  }
}
