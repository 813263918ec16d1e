package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact dedup — the ingest-time arm of the batch dedup
  * suite ([[graft.operators.Dedup.exact]]): keep the first document
  * whose text was not seen within the watermark horizon.
  *
  * State posture at scale: the dedup state key is a 64-bit content
  * hash, not the text — state size is bounded by (distinct docs within
  * the watermark) × ~16 bytes, and `dropDuplicatesWithinWatermark`
  * evicts state once the watermark passes, so an unbounded stream runs
  * in bounded memory. A 128-bit (xxhash64 + md5-half) key is the
  * collision-hardened variant at 100 TB; 64-bit keeps the demo honest
  * on the same primitive the batch operator shuffles on.
  */
object StreamDedup {

  /** First-seen documents from a streaming (idCol, textCol, tsCol)
    * source; duplicates arriving within `watermark` of the original
    * are dropped. */
  def firstSeen(docs: DataFrame, idCol: String, textCol: String,
                tsCol: String, watermark: String = "1 hour"): DataFrame =
    docs.select(col(idCol), col(textCol), col(tsCol))
      .withColumn("_h", xxhash64(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")

  /** Replay the documents parquet through the dedup plan; returns the
    * SURVIVORS' TEXTS. Which physical row survives per text group is
    * arrival-order dependent (a property of any first-seen stream), but
    * the surviving text SET is exactly the distinct texts — that
    * deterministic projection is the oracle contract
    * (`SELECT DISTINCT text`). Event time is synthesized from doc_id
    * millis so every duplicate falls inside one watermark horizon. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_dedup"): DataFrame = {
    val stream = ReplayStage.tableStream(spark, dir, "documents")
      // +1 day: the initial watermark is epoch 0, and a row AT the
      // watermark counts as late — doc_id 0 would be silently dropped
      .withColumn("event_time", timestamp_millis(col("doc_id") + lit(86400000L)))
    ReplayStage.memorySink(firstSeen(stream, "doc_id", "text", "event_time"),
      queryName, "append").select(col("text"))
  }
}
