package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming behavioral bot screen — q238's per-user rate/diversity
  * features maintained live. The batch operator was DESIGNED from
  * mergeable statistics only, and this is the payoff: count, min/max
  * event time, and a 127-slot event-type presence sketch are each
  * built-in streaming aggregates — five longs of state per user
  * (count, min, max, two bit_or mask longs), map-side combined. Distinct-type counting is the one non-mergeable feature;
  * it streams as a 127-slot bit-presence sketch (md5(type) % 127 over
  * TWO bit_or longs) — exact while the observed type vocabulary is
  * collision-free under the hash (5 types here; a 61-slot single-long
  * draft actually collided 'click' with 'view', which the shared oracle
  * caught immediately — the replay sharing q238's COUNT(DISTINCT)
  * oracle verbatim IS the proof the 127-slot sketch is collision-free
  * on this corpus; a deployment nearing dozens of types sizes the
  * sketch up or splits the key).
  *
  * `complete` mode is the REPLAY-ONLY choice here (the windowless
  * per-user state is user-cardinality-bounded and never evicted); the
  * 24/7 posture — per-(user, day) windows the watermark CAN evict,
  * closed partials merged downstream, late data dropped and witnessed —
  * is implemented over the same mergeable features by
  * [[StreamBotUpdate]] (x59).
  */
object StreamBotScore {

  /** Per-user mergeable feature aggregation (no window, no watermark —
    * the global screen). */
  def features(events: DataFrame): DataFrame =
    events
      .withColumn("_k",
        (graft.functions.HashFns.md5Hash60(col("event_type")) % 127L)
          .cast("int"))
      .withColumn("_b0", when(col("_k") < 64,
        call_function("shiftleft", lit(1L), col("_k"))).otherwise(0L))
      .withColumn("_b1", when(col("_k") >= 64,
        call_function("shiftleft", lit(1L), col("_k") - 64))
        .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        min(col("ts")).as("_mn"), max(col("ts")).as("_mx"),
        expr("bit_or(_b0)").as("_m0"), expr("bit_or(_b1)").as("_m1"))

  /** Replay the events parquet through the streaming feature plan and
    * finish the q238 score row-locally. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_bot"): DataFrame = {
    ReplayStage.memorySink(features(graft.sources.Tables
      .tsNanosNormalized(ReplayStage.tableStream(spark, dir))),
      queryName, "complete")
      .select(col("user_id").as("user_id"),
        col("n_events").as("n_events"),
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
