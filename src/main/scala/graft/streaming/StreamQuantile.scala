package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming sampled-quantile monitor: per-day bottom-k value samples
  * maintained by the [[graft.functions.BottomKByHash]] aggregate as
  * streaming state, estimated to percentiles after window close — the
  * order-statistics member of the streaming-sketch family
  * ([[StreamHll]] cardinality, [[StreamCms]] frequency). q147 is the
  * batch audit that justifies the estimator: a deterministic md5
  * bottom-k sample's rank statistics track exact percentiles.
  *
  * Why this shape scales: a bottom-k (KMV) sketch is MERGEABLE (union
  * + truncate, O(k) state), so the built-in watermarked streaming
  * aggregation is the state store — map-side partial sketches compact
  * each micro-batch before the state shuffle, per open window the
  * store holds ≤ k longs + k hashes, and the watermark evicts closed
  * windows. Quantile monitoring over an unbounded value stream in
  * (open windows × k × 16 bytes) of state, with the estimate a plain
  * batch rank over ≤ k rows per closed window. The sample is
  * deterministic (md5 of the event id), so an external SQL oracle
  * replays the exact same sample and the exact same estimates.
  *
  * `complete` mode is the REPLAY-ONLY choice here; the 24/7 posture —
  * append-mode day windows, late data dropped and witnessed — is
  * implemented over the SAME bottom-k state by
  * [[StreamQuantileUpdate]] (x64).
  */
object StreamQuantile {

  /** Sample bound per window — small enough that test windows (~400
    * events/day at sf0.01) genuinely subsample, so the estimate-vs-
    * exact audit rows carry real error signal. */
  val SampleK = 128

  /** Monitored percentiles (integer percents). */
  val Percentiles: Seq[Long] = Seq(50L, 90L, 99L)

  /** Per-day bottom-k samples from a streaming events frame whose `ts`
    * is BIGINT nanoseconds: value is floor-scaled to exact integer
    * cents, the sample key is the engine-portable md5 hash of the
    * event id ('qsm:' salt), and the kept multiset is the k smallest
    * (hash, value) pairs per day window. Caller must have
    * `NativeFns.register`ed the session. Output: (bucket_ms, sample:
    * array<bigint>). */
  def dailySamples(events: DataFrame,
                   delay: String = "1 day"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("v", floor(col("value") * 100).cast("long"))
      .withColumn("h", graft.functions.HashFns.md5Hash60(
        concat(lit("qsm:"), col("event_id").cast("string"))))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 day"))
      .agg(graft.functions.NativeFns.bottomK(col("v"), col("h"), SampleK)
        .as("sample"))
      .select(unix_millis(col("window.start")).as("bucket_ms"), col("sample"))

  /** Percentile estimates from a closed-window sample table: per
    * (window, pct), the sample value at 1-based rank
    * `ceil(pct·m/100)` = `(pct·m + 99) div 100` in value-ascending
    * order — rank windows span ≤ [[SampleK]] rows, never the corpus.
    * The value AT a rank is tie-order-independent because the sort
    * leads with the value itself. Output: (bucket_ms, pct, est_v). */
  def estimates(samples: DataFrame): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    val ex = samples.select(col("bucket_ms"), explode(col("sample")).as("v"))
    val m = ex.groupBy(col("bucket_ms")).agg(count(lit(1)).as("m"))
    val srk = ex.withColumn("r", row_number().over(
      Window.partitionBy(col("bucket_ms")).orderBy(col("v"))))
    val pcts = Percentiles.toDF("pct")
    // both sides derive from `ex` — re-alias through fresh projections
    // (each Alias mints a new exprId) so the join is not a conflicting
    // self-reference (the StreamCms.estimates rule)
    val tg = m.crossJoin(broadcast(pcts))
      .select(col("bucket_ms").as("_tb"), col("pct"),
        expr("(pct * m + 99) div 100").as("_tr"))
    val s2 = srk.select(col("bucket_ms").as("_sb"), col("v"),
      col("r").as("_sr"))
    tg.join(s2, col("_tb") === col("_sb") && col("_tr") === col("_sr"))
      .select(col("_tb").as("bucket_ms"), col("pct"), col("v").as("est_v"))
  }

  /** Replay the events parquet through the streaming sample plan, then
    * estimate batch-side. `complete` mode is the REPLAY-ONLY choice
    * (see class doc). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_quantile"): DataFrame = {
    graft.functions.NativeFns.register(spark)
    ReplayStage.memorySink(dailySamples(graft.sources.Tables
      .tsNanosNormalized(ReplayStage.tableStream(spark, dir))),
      queryName, "complete")
  }
}
