package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Update-mode per-day Benford drift monitor — [[StreamBenford]]'s 24/7
  * posture on the shared staged-late harness
  * ([[ReplayStage.lateDropReplay]]): append-mode day windows over the
  * same nine-longs-per-open-day digit-count state at 0 ms delay, late
  * data genuinely dropped by the watermark (asserted in-harness) and
  * witnessed by the oracle's survivor predicate; shares vs the
  * compile-time Benford constants finish row-locally over the CLOSED
  * days. The sentinel survives [[StreamBenford.dailyDigitCounts]]'s
  * value filter via its `event_id = -1` escape (a sentinel filtered
  * before the watermark node could never close the final day). */
object StreamBenfordUpdate {

  private val DayMs = 86400000L
  private val DayNs = 86400L * 1000000000L

  /** Stage → replay (append mode, one file per micro-batch, asserted
    * watermark drop) → finish shares/deviations over the closed
    * (surviving) day rows. Output per (closed day, digit): x50's
    * schema. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_benford_update"): DataFrame = {
    val norm = graft.sources.Tables.table(spark, dir, "events")
    val maxTs = norm.agg(max(col("ts"))).head().getLong(0)
    val finalDay = maxTs / DayNs
    val lateRule = col("event_id") % 50 === 0 &&
      expr(s"ts DIV $DayNs") < finalDay

    ReplayStage.lateDropReplay(spark, norm, lateRule, maxTs,
      queryName) { stream =>
      StreamBenford.dailyDigitCounts(stream, delay = "0 milliseconds")
    }

    import spark.implicits._
    // fresh attributes per consumer of the memory sink (the StreamCms
    // discipline); the sentinel's NULL-digit row sits in its own
    // never-closing window, and the cutoff + digit guard are defensive
    def sink(): DataFrame = spark.table(queryName)
      .where(col("day_ms") <= finalDay * DayMs && col("digit").isNotNull)
      .select(col("day_ms").as("day_ms"), col("digit").as("digit"),
        col("n").as("n"))
    val tot = sink().groupBy(col("day_ms"))
      .agg(sum(col("n")).cast("long").as("tot"))
    val e = (1 to 9).map(d => (d.toLong, StreamBenford.expMilli(d)))
      .toDF("digit", "exp_milli")
    sink().join(tot, Seq("day_ms"))
      .join(broadcast(e), "digit")
      .select(col("day_ms"), col("digit"), col("n"),
        expr("CAST(n * 1000 DIV tot AS BIGINT)").as("obs_milli"),
        col("exp_milli"),
        expr("CAST(abs(n * 1000 DIV tot - exp_milli) AS BIGINT)")
          .as("dev_milli"))
  }
}
