package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Update-mode per-day weighted sample — [[StreamWeightedSample]]'s
  * 24/7 posture on the shared staged-late harness
  * ([[ReplayStage.lateDropReplay]]): append-mode day windows over the
  * same ≤ k-pairs-per-open-day A-ES top-k-ticket state at 0 ms delay,
  * late data genuinely dropped by the watermark (asserted in-harness)
  * and witnessed by the oracle's survivor predicate — a late-dropped
  * event can never be sampled, which the oracle reproduces by ranking
  * tickets over survivors only. The post-close audit recomputes weight
  * and ticket row-locally from the selected ids
  * ([[StreamWeightedSample.audit]] verbatim). The replay sentinel
  * (event_id −1) weights to 1 + pmod(−1, 4) = 4 tickets like any id
  * and sits in its own never-closing window. */
object StreamWeightedSampleUpdate {

  private val DayMs = 86400000L
  private val DayNs = 86400L * 1000000000L

  /** Stage → replay (append mode, one file per micro-batch, asserted
    * watermark drop) → audit the closed-day samples. Output per
    * (closed day, selected event): x40's schema
    * (bucket_ms, event_id, wt, ticket). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_wes_update"): DataFrame = {
    graft.functions.NativeFns.register(spark)
    val norm = graft.sources.Tables.table(spark, dir, "events")
    val maxTs = norm.agg(max(col("ts"))).head().getLong(0)
    val finalDay = maxTs / DayNs
    val lateRule = col("event_id") % 50 === 0 &&
      expr(s"ts DIV $DayNs") < finalDay

    ReplayStage.lateDropReplay(spark, norm, lateRule, maxTs,
      queryName) { stream =>
      StreamWeightedSample.dailySamples(stream, delay = "0 milliseconds")
    }

    StreamWeightedSample.audit(
      spark.table(queryName)
        .where(col("bucket_ms") <= finalDay * DayMs)
        .select(col("bucket_ms").as("bucket_ms"),
          col("sample").as("sample")))
  }
}
