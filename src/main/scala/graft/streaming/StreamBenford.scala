package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming per-day Benford drift monitor — q216's fraud screen run
  * live: leading-digit counts of event values per day window via the
  * built-in watermarked aggregation (counts are additive, so NINE longs
  * per open day IS the whole state — the x37/x38 additive-sketch
  * discipline), then shares vs the compile-time Benford constants and
  * per-digit deviation finish row-locally per closed window. A
  * payments/ingest pipeline watches exactly this: the day a source
  * starts synthesizing values, its digit distribution snaps away from
  * log10(1 + 1/d) long before any aggregate total looks wrong.
  *
  * `complete` mode is the REPLAY-ONLY choice here; the 24/7 posture —
  * append-mode day windows, late data dropped by the watermark and
  * witnessed — is implemented over the SAME nine-longs state by
  * [[StreamBenfordUpdate]] (x62).
  */
object StreamBenford {

  /** Expected Benford share of digit d in milli-units — ONE definition
    * interpolated into both engines (no runtime logs to disagree on). */
  def expMilli(d: Int): Long = math.floor(1000 * math.log10(1.0 + 1.0 / d)).toLong

  /** Watermarked per-(day, leading digit) counts over values ≥ 1. The
    * `event_id = -1` escape keeps [[ReplayStage.lateDropReplay]]'s
    * sentinel row (value NULL) flowing through to the watermark node —
    * filtered out here it could never advance the watermark and the
    * final day would never close in append mode; its NULL digit lands
    * in the sentinel's own never-closing window, so it can't surface.
    * No real event carries id −1; complete-mode replays stage no
    * sentinel, so x50's plan is unchanged. */
  def dailyDigitCounts(events: DataFrame,
                       delay: String = "1 day"): DataFrame =
    events
      .where(col("value") >= 1 || col("event_id") === -1)
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("digit", expr(
        "CAST(substr(CAST(CAST(FLOOR(value) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 day"), col("digit"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(unix_millis(col("window.start")).as("day_ms"),
        col("digit"), col("n"))

  /** Replay the events parquet through the streaming counter plan and
    * finish shares/deviations batch-side (row-local on the closed
    * (day, digit) rows). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_benford"): DataFrame = {
    // complete mode needs no watermark sentinel, but the source read
    // must still handle BOTH events.parquet layouts (single file and
    // directory of part files) — the shared ReplayStage helper does.
    ReplayStage.memorySink(dailyDigitCounts(graft.sources.Tables
      .tsNanosNormalized(ReplayStage.tableStream(spark, dir))),
      queryName, "complete")
    import spark.implicits._
    // both consumers of the memory sink must mint FRESH attributes
    // (each Alias gets a new exprId) or the day join is a conflicting
    // self-reference — the StreamCms.estimates discipline
    val counts = spark.table(queryName)
      .select(col("day_ms").as("day_ms"), col("digit").as("digit"),
        col("n").as("n"))
    val tot = spark.table(queryName)
      .select(col("day_ms").as("_td"), col("n").as("_tn"))
      .groupBy(col("_td"))
      .agg(sum(col("_tn")).cast("long").as("tot"))
    val e = (1 to 9).map(d => (d.toLong, expMilli(d)))
      .toDF("digit", "exp_milli")
    counts.join(tot, col("day_ms") === col("_td"))
      .join(broadcast(e), "digit")
      .select(col("day_ms"), col("digit"), col("n"),
        expr("CAST(n * 1000 DIV tot AS BIGINT)").as("obs_milli"),
        col("exp_milli"),
        expr("CAST(abs(n * 1000 DIV tot - exp_milli) AS BIGINT)")
          .as("dev_milli"))
  }
}
