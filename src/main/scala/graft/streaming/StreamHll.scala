package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming cardinality monitoring: per-hour HyperLogLog registers
  * maintained by the BUILT-IN watermarked windowed aggregation — the
  * streaming arm of the batch sketch (q129), sharing its exact md5
  * register math.
  *
  * Why this shape scales: HLL registers are a (window, bucket) → max
  * ρ relation, so the stream needs NO custom state store — Spark's
  * windowed max keeps exactly 64 longs per open hour, the watermark
  * evicts closed windows, and map-side partial max compacts each
  * micro-batch before the state shuffle. An unbounded user-id stream
  * runs in (open windows × 64 × 8 bytes) of state — cardinality
  * monitoring over a firehose for kilobytes. The register table is
  * also MERGEABLE after the fact: union register streams from many
  * pipelines and re-max — the estimate finalizer is a plain batch agg
  * over whatever register set you hand it.
  *
  * `complete` mode is the REPLAY-ONLY choice here (it keeps every
  * window so the one-shot finalizer sees the whole horizon; append
  * would withhold the last watermark-open hours of a sentinel-less
  * replay). The 24/7 posture — append-mode hour windows, watermark
  * eviction actually bounding state, late data dropped and witnessed —
  * is implemented over the SAME register state by [[StreamHllUpdate]]
  * (x61).
  */
object StreamHll {

  /** Per-hour HLL registers from a streaming events frame whose `ts`
    * is BIGINT nanoseconds. Register math mirrors q129 exactly:
    * 60-bit md5 hash, bucket = h % 64, ρ = 55 − bitlength(h ≫ 6). */
  def hourlyRegisters(events: DataFrame,
                      delay: String = "1 hour"): DataFrame = {
    val h = graft.functions.HashFns.md5Hash60(
      concat(lit("hll:"), col("user_id").cast("string")))
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("_h", h)
      .withColumn("bucket", pmod(col("_h"), lit(64L)))
      .withColumn("_w", shiftright(col("_h"), 6))
      .withColumn("rho", when(col("_w") === 0, lit(55))
        .otherwise(lit(55) - length(bin(col("_w")))))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 hour"), col("bucket"))
      .agg(max(col("rho")).as("rho"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("bucket"), col("rho"))
  }

  /** Finalize a register table into per-window estimates — the q129
    * integer-exact harmonic sum (absent buckets contribute register 0
    * = 2^55), the one-float-op raw estimator, and the PUBLISHED
    * small-range correction (Flajolet §4: when E ≤ 2.5m and empty
    * buckets exist, switch to linear counting m·ln(m/V)). The
    * corrected estimate is floor-milli-scaled to a BIGINT (the q80/
    * q138 float discipline — ln is one libm call, so the scaled floor
    * is the engine-portable surface; the raw estimate stays a pure-
    * arithmetic double). A plain batch agg: run it over a memory-sink
    * replay, a parquet register log, or a union of register streams. */
  def estimates(registers: DataFrame): DataFrame = {
    val sumInv = col("_present") + (lit(64L) - col("_nb")) * lit(1L << 55)
    val raw = ((lit(0.709) * lit(4096.0)) * lit(3.6028797018963968e16))
      .divide(sumInv.cast("double"))
    val v = lit(64L) - col("_nb") // empty buckets (register 0)
    val estMilli = when(raw <= lit(160.0) && v > 0,
      floor(lit(1000.0) *
        (lit(64.0) * log(lit(64.0).divide(v.cast("double"))))))
      .otherwise(floor(lit(1000.0) * raw)).cast("long")
    registers.groupBy(col("bucket_ms"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - rho AS INT))"))
        .cast("long").as("_present"),
        count(lit(1)).as("_nb"))
      .select(col("bucket_ms"),
        sumInv.cast("long").as("sum_inv_int"),
        raw.as("hll_est"),
        estMilli.as("est_milli"))
  }

  /** Replay the events parquet through the streaming register plan,
    * then finalize estimates batch-side. `complete` mode is the
    * REPLAY-ONLY choice (see class doc): it keeps every window so the
    * finalizer sees the whole horizon, at the cost of unbounded state
    * — fine for a finite AvailableNow replay, wrong for a long-running
    * stream, which should run [[hourlyRegisters]] in update/append
    * mode against a real sink. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_hll"): DataFrame =
    estimates(ReplayStage.memorySink(hourlyRegisters(graft.sources.Tables
      .tsNanosNormalized(ReplayStage.tableStream(spark, dir))),
      queryName, "complete"))
}
