package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming per-window top-k heavy hitters — EXACT ranked output,
  * which Structured Streaming cannot express directly (no window
  * functions over streams): the suite's demonstration of CHAINED
  * STREAMING AGGREGATIONS (Spark 3.5+/4.x), the agg→agg sibling of
  * x44's dedup→agg. An ops monitor asks exactly this: "the 5 heaviest
  * users each hour", pushed to the dashboard as each hour closes.
  *
  * Stage 1 is the ordinary watermarked (window, user) count. Stage 2
  * re-aggregates ON THE SAME WINDOW: the (cnt DESC, user ASC) rank
  * order is encoded into one non-negative BIGINT
  * `(CntCap − cnt)·UserSpan + user`, and the MERGEABLE bottom-k
  * aggregate ([[graft.functions.BottomKByHash]] — the x39/x40
  * machinery) keeps the k smallest encodings: exactly
  * `ORDER BY cnt DESC, user_id LIMIT k` per window, maintained in
  * k·16 bytes of state per open window, map-side combined, watermark-
  * evicted. Counts and ids decode row-locally from the encoding
  * (integer div/mod), so the ranked rows never join back to anything.
  *
  * Encoding bounds (documented, not silently wrong at scale): exact
  * decode requires cnt < [[CntCap]] (10⁶ events per user per hour) and
  * user_id < [[UserSpan]] (10¹²); a deployment beyond either raises
  * the constants — the ORDER stays correct for any cnt (the encoding
  * is monotone), only the decoded cnt would saturate.
  */
object StreamTopK {

  val CntCap: Long = 1000000L
  val UserSpan: Long = 1000000000000L

  /** Chained watermarked aggs: hourly user counts → per-hour bottom-k
    * of the rank encoding. Output: (bucket_ms, top: array<bigint> of
    * encodings, ascending = rank order). Caller must have
    * `NativeFns.register`ed the session. */
  def hourlyTopK(events: DataFrame, k: Int): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", "0 milliseconds")
      .groupBy(window(col("event_time"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("enc",
        (lit(CntCap) - col("cnt")) * lit(UserSpan) + col("user_id"))
      .groupBy(window(col("window"), "1 hour"))
      .agg(graft.functions.NativeFns.bottomK(col("enc"), col("enc"), k)
        .as("top"))
      .select(unix_millis(col("window.start")).as("bucket_ms"), col("top"))

  /** Decode a closed-window top-k table into ranked rows:
    * (bucket_ms, rank, user_id, cnt), rank 1.. per window in
    * (cnt DESC, user ASC) order. Row-local div/mod — no join. */
  def ranked(topk: DataFrame): DataFrame =
    topk.select(col("bucket_ms"), posexplode(col("top")).as(Seq("p", "enc")))
      .select(col("bucket_ms"), (col("p") + 1L).cast("long").as("rank"),
        expr(s"enc % $UserSpan").cast("long").as("user_id"),
        expr(s"$CntCap - enc DIV $UserSpan").cast("long").as("cnt"))

  /** Replay the events parquet through the chained plan. The sentinel
    * (user −1) leads by the ReplayStage hour so its watermark push
    * closes every real hour window; its own window lies past the real
    * max ts and is dropped by the bucket cutoff. */
  def replayParquet(spark: SparkSession, dir: String, k: Int = 5,
      queryName: String = "stream_topk",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    graft.functions.NativeFns.register(spark)
    val staged = ReplayStage.stageEvents(spark, dir, 2L * 3600L * 1000000000L)
    val sink = try {
      val evs = ReplayStage.readStream(spark, staged, maxFilesPerTrigger)
      ReplayStage.memorySink(hourlyTopK(evs, k), queryName, "append")
    } finally staged.cleanup()
    val maxHourMs = (staged.maxTsNanos / 3600000000000L) * 3600000L
    ranked(sink.where(col("bucket_ms") <= maxHourMs))
  }
}
