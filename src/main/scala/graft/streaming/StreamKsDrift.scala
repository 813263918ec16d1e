package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming per-day KS drift monitor — q220's two-sample test run as a
  * monitor: each day's event-value distribution against the whole
  * stream's reference distribution. The streamed state is the per-(day,
  * value-bucket) histogram via the built-in watermarked aggregation —
  * counts are additive, so ≤ |buckets| longs per open day IS the state
  * (the x50 monitor+finisher shape); the KS statistic finishes
  * batch-side over the closed histogram rows (bucket-cardinality-
  * bounded windows keyed per day). Buckets are whole value units — a
  * DOCUMENTED granularity: this is the exact KS of the BINNED
  * distribution (binning can only lower D, the standard histogram-KS
  * trade every streaming drift monitor makes).
  *
  * The reference distribution is the stream's own total (each day
  * included) — the self-referential corpus form; a deployment pinning
  * an external reference joins its histogram in place of the bucket
  * totals. Integer-exact: D cross-multiplies to
  * max|cum_day·n_all − cum_all·n_day|; one double division scales to
  * milli (documented bound n_day·n_all < 2⁶³).
  *
  * `complete` mode is the REPLAY-ONLY choice; the 24/7 posture —
  * append-mode day windows, a MAINTAINED reference, late data dropped
  * by the watermark and witnessed — is implemented over the SAME state
  * by [[StreamKsUpdate]] (x56).
  */
object StreamKsDrift {

  /** Watermarked per-(day, whole-unit bucket) counts — the ONE state
    * shape behind x52 (KS), x54 (PSI), and the update-mode pair x55
    * (PSI) / x56 (KS) with late-data drops; `delay` is the watermark
    * lateness allowance (x52/x54's complete-mode replays keep the
    * 1-day default; the append-mode monitors run at 0 ms so the drop
    * cutoff is exactly the max event time seen). */
  def dailyBuckets(events: DataFrame, delay: String = "1 day"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("b", expr("CAST(FLOOR(value) AS BIGINT)"))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 day"), col("b"))
      .agg(count(lit(1)).cast("long").as("c"))
      .select(unix_millis(col("window.start")).as("day_ms"),
        col("b"), col("c"))

  /** Replay the events parquet through the streaming histogram plan
    * and finish the per-day KS batch-side. Output per day:
    * (day_ms, n_day, ks_num, ks_milli). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_ks"): DataFrame = {
    ReplayStage.memorySink(dailyBuckets(graft.sources.Tables
      .tsNanosNormalized(ReplayStage.tableStream(spark, dir))),
      queryName, "complete")
    // fresh attributes per consumer of the memory sink (the StreamCms
    // discipline: each read mints new exprIds so self-joins resolve)
    def sink(): DataFrame = spark.table(queryName)
      .select(col("day_ms").as("day_ms"), col("b").as("b"),
        col("c").as("c"))
    val days = sink().select(col("day_ms")).distinct()
    val buckets = sink().groupBy(col("b"))
      .agg(sum(col("c")).cast("long").as("cb"))
    val nAll = sink().agg(sum(col("c")).cast("long").as("nall"))
    // full day × bucket grid: a bucket absent on a day still steps the
    // reference ECDF (the q220 full-outer-grid rule)
    val grid = days.crossJoin(broadcast(buckets))
      .join(sink(), Seq("day_ms", "b"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy(col("day_ms")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wDay = Window.partitionBy(col("day_ms"))
    grid
      .withColumn("_cumd", sum(col("c")).over(wCum))
      .withColumn("_cumall", sum(col("cb")).over(wCum))
      .withColumn("_nday", sum(col("c")).over(wDay))
      .crossJoin(broadcast(nAll))
      .groupBy(col("day_ms"), col("nall"))
      .agg(max(col("_nday")).cast("long").as("n_day"),
        max(abs(col("_cumd") * col("nall") - col("_cumall") * col("_nday")))
          .cast("long").as("ks_num"))
      .select(col("day_ms"), col("n_day"), col("ks_num"),
        expr("CAST(floor(1000.0 * CAST(ks_num AS DOUBLE)" +
          " / (CAST(n_day AS DOUBLE) * CAST(nall AS DOUBLE)))" +
          " AS BIGINT)").as("ks_milli"))
  }
}
