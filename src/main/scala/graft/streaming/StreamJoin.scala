package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-STREAM interval join — the one canonical Structured-Streaming
  * shape the suite had not yet exercised (the others: windowed agg
  * x15, sessions x19, stream-static enrich x20, as-of x21/x30,
  * near-dup x24, dedup x25, gates x23/x31/x33, sketches x37/x38,
  * quantiles x39, weighted sample x40). Attribution is the textbook
  * instance: join each purchase to the clicks by the same user in the
  * preceding hour, both sides unbounded streams.
  *
  * State posture at scale: BOTH sides carry watermarks and the join
  * condition bounds each side's event time relative to the other
  * (purchase ∈ [click, click + horizon]), so Spark derives state
  * eviction for both buffers — state is (events within watermark +
  * horizon) per side, partitioned by the equi-key (user), and the join
  * itself is the streaming symmetric hash join on that key. An inner
  * join's emitted pair set equals the batch join over the full data
  * regardless of micro-batch boundaries — that equality IS the oracle
  * contract.
  */
object StreamJoin {

  /** Inner interval join: (click, purchase) pairs for the same user
    * with purchase_time ∈ [click_time, click_time + horizon]. Inputs
    * must already carry watermarks on their time columns. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       horizon: String = "1 hour"): DataFrame =
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_time") >= col("click_time") &&
        col("purchase_time") <= col("click_time") + expr(s"INTERVAL $horizon"))

  /** LEFT-OUTER variant: unmatched clicks are emitted null-extended
    * once the watermark proves no future purchase can join them (state
    * eviction). The emitted set is deterministic: a click is
    * null-emitted iff it has no match AND click_time + horizon is
    * behind the FINAL watermark — min(max click_time, max
    * purchase_time) − delay over a bounded replay; clicks younger than
    * that are still in state when the query ends and appear not at
    * all. That cutoff is mirrorable in SQL, which is what x42's oracle
    * does. */
  def clickAttributionOuter(clicks: DataFrame, purchases: DataFrame,
                            horizon: String = "1 hour"): DataFrame =
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_time") >= col("click_time") &&
        col("purchase_time") <= col("click_time") + expr(s"INTERVAL $horizon"),
      "left_outer")

  /** Replay the events parquet as TWO streams (click side, purchase
    * side) through the interval join; returns the matched pairs with
    * the click→purchase delay in whole seconds. */
  private def watermarkedSides(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    def side(tpe: String): DataFrame =
      graft.sources.Tables.tsNanosNormalized(ReplayStage.tableStream(spark, dir))
        .where(col("event_type") === tpe)
        .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "2 hours")
    val purchases = side("purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", "2 hours")
    (clicks, purchases)
  }

  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_join"): DataFrame = {
    val (clicks, purchases) = watermarkedSides(spark, dir)
    ReplayStage.memorySink(clickAttribution(clicks, purchases), queryName,
        "append")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        expr("(unix_micros(purchase_time) - unix_micros(click_time)) DIV 1000000")
          .cast("long").as("delta_s"))
  }

  /** Left-outer replay; unmatched-click rows carry −1 sentinels (not
    * NULLs) so the result stays a clean long column for the oracle's
    * canonicalizer. `matched` is an integer flag. */
  def replayParquetOuter(spark: SparkSession, dir: String,
                         queryName: String = "stream_join_outer"): DataFrame = {
    val (clicks, purchases) = watermarkedSides(spark, dir)
    ReplayStage.memorySink(clickAttributionOuter(clicks, purchases), queryName,
        "append")
      .select(col("click_id"), col("user_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(
          expr("(unix_micros(purchase_time) - unix_micros(click_time)) DIV 1000000"),
          lit(-1L)).cast("long").as("delta_s"),
        col("purchase_id").isNotNull.cast("long").as("matched"))
  }
}
