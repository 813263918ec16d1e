package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming count-min sketch: per-hour CMS counters maintained by the
  * BUILT-IN watermarked windowed aggregation — the frequency member of
  * the streaming-sketch family next to [[StreamHll]] (cardinality),
  * sharing q126's exact salted-md5 position math.
  *
  * Why this shape scales: CMS counters are ADDITIVE, so the stream
  * needs no custom state store — Spark's windowed `sum` keeps exactly
  * d×w longs per open hour (48 at the q126 defaults), map-side partial
  * sums compact each micro-batch before the state shuffle, and the
  * watermark evicts closed windows. Point-frequency monitoring over an
  * unbounded key stream in (open windows × d × w × 8 bytes) of state.
  * The counter table is MERGEABLE after the fact: union counter
  * streams from many pipelines and re-sum — the estimator is a plain
  * batch min-over-rows against whatever counter set you hand it.
  *
  * `complete` mode is the REPLAY-ONLY choice here; the 24/7 posture —
  * append-mode hour windows, watermark eviction actually bounding
  * state, late data dropped and witnessed — is implemented over the
  * SAME counter state by [[StreamCmsUpdate]] (x63).
  */
object StreamCms {

  /** d salted hash rows × w counters — q126's tiny defaults, kept
    * deliberately small so collisions (the over-estimate path) are
    * exercised at test scale. */
  val Depth = 3
  val Width = 16L

  private def cmsPos(i: Int, key: org.apache.spark.sql.Column) =
    pmod(graft.functions.HashFns.md5Hash60(concat_ws(":", lit(i), key)),
      lit(Width))

  /** Per-hour CMS counters from a streaming events frame whose `ts` is
    * BIGINT nanoseconds, keyed by `user_id`. Position math mirrors
    * q126 exactly: p_i = md5_60(i ':' key) % w for i in 0..d−1.
    * Output: (bucket_ms, i, p, c). */
  def hourlyCounters(events: DataFrame,
                     delay: String = "1 hour"): DataFrame = {
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("ip", explode(array((0 until Depth).map(i =>
        struct(lit(i).as("i"),
          cmsPos(i, col("user_id").cast("string")).as("p"))): _*)))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 hour"),
        col("ip.i").as("i"), col("ip.p").as("p"))
      .agg(count(lit(1)).as("c"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("i"), col("p"), col("c"))
  }

  /** Point-frequency estimates for a bounded probe-key set against a
    * counter table: per (window, key), min over the d rows of the
    * addressed counter, absent cells counting 0. A plain batch agg —
    * run it over a memory-sink replay, a parquet counter log, or a
    * union of counter streams. `probes` must be broadcast-sized (one
    * column `user_id`). Output: (bucket_ms, user_id, est_cnt). */
  def estimates(counters: DataFrame, probes: DataFrame): DataFrame = {
    val pp = probes.select(col("user_id"))
      .withColumn("ip", explode(array((0 until Depth).map(i =>
        struct(lit(i).as("i"),
          cmsPos(i, col("user_id").cast("string")).as("p"))): _*)))
      .select(col("user_id"), col("ip.i").as("_pi"), col("ip.p").as("_pp"))
    // the window list derives FROM counters, so the probe grid and the
    // counter side would share origin attributes — re-alias BOTH sides
    // into fresh attributes (each Alias mints a new exprId) so the
    // left join is not a conflicting self-reference in batch or
    // streaming-replay lineage
    val cnt = counters.select(col("bucket_ms").as("_cb"), col("i").as("_ci"),
      col("p").as("_cp"), col("c").as("_cc"))
    val grid = counters.select(col("bucket_ms").as("_wb")).distinct()
      .crossJoin(broadcast(pp))
    grid.join(cnt,
        col("_cb") === col("_wb") &&
          col("_ci") === col("_pi") &&
          col("_cp") === col("_pp"), "left")
      .groupBy(col("_wb"), col("user_id"))
      .agg(min(coalesce(col("_cc"), lit(0L))).as("est_cnt"))
      .select(col("_wb").as("bucket_ms"), col("user_id"), col("est_cnt"))
  }

  /** Replay the events parquet through the streaming counter plan,
    * then estimate batch-side. `complete` mode is the REPLAY-ONLY
    * choice (see class doc). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_cms"): DataFrame =
    ReplayStage.memorySink(hourlyCounters(graft.sources.Tables
      .tsNanosNormalized(ReplayStage.tableStream(spark, dir))),
      queryName, "complete")
}
