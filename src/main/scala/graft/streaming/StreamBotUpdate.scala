package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Update-mode behavioral bot screen — [[StreamBotScore]]'s 24/7
  * posture, the fourth monitor on the shared staged-late harness
  * ([[ReplayStage.lateDropReplay]]): the global per-user screen
  * restated as append-mode per-(user, day) windows whose state the
  * watermark can actually EVICT (x53's complete-mode replay holds every
  * user forever; here a closed day's partials leave state and the
  * downstream merge reconstructs the global features) — the
  * mergeability the batch operator was designed around, made
  * load-bearing: count/min/max/bit_or presence masks all merge
  * associatively, so "merge closed daily partials" ≡ "aggregate the
  * surviving rows directly", which is exactly what the shared-shape
  * q238 oracle (survivor-restricted) checks. Late data is genuinely
  * dropped by the watermark and witnessed by the oracle's survivor
  * predicate; the 127-slot type-presence sketch is x53's (collision-
  * free on this corpus, proven by x53 sharing q238's COUNT(DISTINCT)
  * oracle). */
object StreamBotUpdate {

  private val DayMs = 86400000L
  private val DayNs = 86400L * 1000000000L

  /** Watermarked per-(user, day) mergeable feature partials — five
    * longs of state per open (user, day): count, min/max event time,
    * two bit_or mask longs. */
  def dailyFeatures(events: DataFrame, delay: String): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("_k",
        (graft.functions.HashFns.md5Hash60(col("event_type")) % 127L)
          .cast("int"))
      .withColumn("_b0", when(col("_k") < 64,
        call_function("shiftleft", lit(1L), col("_k"))).otherwise(0L))
      .withColumn("_b1", when(col("_k") >= 64,
        call_function("shiftleft", lit(1L), col("_k") - 64))
        .otherwise(0L))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 day"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("ts")).as("mn"), max(col("ts")).as("mx"),
        expr("bit_or(_b0)").as("m0"), expr("bit_or(_b1)").as("m1"))
      .select(col("user_id"),
        unix_millis(col("window.start")).as("day_ms"),
        col("n"), col("mn"), col("mx"), col("m0"), col("m1"))

  /** Stage → replay (append mode, one file per micro-batch, asserted
    * watermark drop) → merge the closed daily partials per user →
    * finish the q238 score row-locally. Output per user over the
    * SURVIVING rows: q238's schema. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_bot_update"): DataFrame = {
    val norm = graft.sources.Tables.table(spark, dir, "events")
    val maxTs = norm.agg(max(col("ts"))).head().getLong(0)
    val finalDay = maxTs / DayNs
    val lateRule = col("event_id") % 50 === 0 &&
      expr(s"ts DIV $DayNs") < finalDay

    ReplayStage.lateDropReplay(spark, norm, lateRule, maxTs,
      queryName) { stream =>
      dailyFeatures(stream, delay = "0 milliseconds")
    }

    // merge closed daily partials back to the global per-user features
    // (every statistic is associative — the mergeability payoff); the
    // sentinel carries user_id = -1 and its day never closes, but both
    // guards are kept for defensive determinism
    spark.table(queryName)
      .where(col("day_ms") <= finalDay * DayMs && col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(sum(col("n")).cast("long").as("n_events"),
        min(col("mn")).as("_mn"), max(col("mx")).as("_mx"),
        expr("bit_or(m0)").as("_m0"), expr("bit_or(m1)").as("_m1"))
      .select(col("user_id"), col("n_events"),
        expr("(_mx - _mn) DIV 1000000000").as("span_s"),
        expr("CAST(bit_count(_m0) + bit_count(_m1) AS BIGINT)")
          .as("n_types"))
      .select(col("user_id"), col("n_events"), col("span_s"),
        col("n_types"),
        expr("n_events * 60000 DIV GREATEST(span_s, 1)").as("rate_milli"),
        expr("(n_events * 60000 DIV GREATEST(span_s, 1)) DIV n_types")
          .as("score"))
      .withColumn("bot",
        (col("score") > 100000L && col("n_events") >= 20L).cast("long"))
  }
}
