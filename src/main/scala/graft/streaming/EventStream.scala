package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming form of the event-time aggregation (the
  * reference is batch-only — SURVEY.md §2.11 — but a training-data
  * pipeline wants the same aggregation runnable over a stream; the
  * batch query q28 and this operator share semantics).
  *
  * Watermarked tumbling-window counts per event type. For local
  * verification the parquet directory is replayed as a stream with an
  * `availableNow` trigger into a memory sink — the plan is identical to
  * what a Kafka-sourced deployment would run.
  */
object EventStream {

  /** Windowed aggregation over a streaming events DataFrame whose `ts`
    * column is BIGINT nanoseconds (the parquet surface of events). */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000000)).as("sum_value_micro"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("event_type"), col("cnt"), col("sum_value_micro"))

  /** Stream-static enrichment: the streaming event feed joins a STATIC
    * dimension (no watermark needed on the static side — Structured
    * Streaming re-plans the static relation per micro-batch) and
    * aggregates per dimension attribute. The static side is broadcast:
    * each micro-batch pays a hash-join probe, never a shuffle of the
    * stream. This is the third canonical streaming shape next to the
    * windowed aggregation ([[hourlyByType]]) and stateful sessions
    * ([[StatefulSessions]]). */
  def enrichedTotalsByNation(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(broadcast(customers.select(col("c_custkey"), col("c_nationkey"))),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 1000000)).as("sum_value_micro"))

  /** Replay parquet events against the static customer table through
    * the stream-static plan; returns the completed result. */
  def replayEnriched(spark: SparkSession, dir: String,
                     queryName: String = "stream_enrich"): DataFrame = {
    val customers = spark.read.parquet(s"$dir/customer.parquet")
    ReplayStage.memorySink(
      enrichedTotalsByNation(ReplayStage.tableStream(spark, dir), customers),
      queryName, "complete")
  }

  /** Replay parquet events through the streaming plan into an
    * in-memory table; returns the completed result. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_hourly"): DataFrame =
    ReplayStage.memorySink(hourlyByType(graft.sources.Tables
      .tsNanosNormalized(ReplayStage.tableStream(spark, dir))),
      queryName, "complete")
}
