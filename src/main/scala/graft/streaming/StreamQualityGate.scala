package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Streaming curation gate: the batch quality + repetition filters
  * ([[graft.functions.TextFns.isQuality]] /
  * [[graft.functions.TextFns.isRepetitive]]) applied unchanged to a
  * document stream — the ingest-time arm of q25/q64.
  *
  * Scale posture: STATELESS. Every metric is row-local array math, so
  * the streaming plan is exactly the batch plan under a micro-batch
  * source — no state store, no watermark, no shuffle; throughput is
  * input bandwidth on any number of executors. This is the filter you
  * run at the crawl frontier before anything expensive (dedup, ANN)
  * touches the data.
  */
object StreamQualityGate {

  /** Admitted documents: quality AND NOT repetitive. */
  def admitted(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        TextFns.isQuality(col(textCol)).as("_q"),
        TextFns.isRepetitive(TextFns.wordTokens(col(textCol))).as("_r"))
      .where(col("_q") && !col("_r"))
      .select(col(idCol))

  /** Replay the documents parquet through the gate; returns the
    * admitted doc ids (deterministic — the gate is a pure row filter,
    * so stream ≡ batch row-for-row). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_quality"): DataFrame = {
    ReplayStage.memorySink(admitted(ReplayStage.tableStream(spark, dir,
      "documents"), "doc_id", "text"), queryName, "append")
  }
}
