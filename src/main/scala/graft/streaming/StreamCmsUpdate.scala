package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Update-mode per-hour count-min frequency monitor — [[StreamCms]]'s
  * 24/7 posture on the shared staged-late harness
  * ([[ReplayStage.lateDropReplay]]): append-mode hour windows over the
  * same d×w-longs-per-open-hour counter state at 0 ms delay, late data
  * genuinely dropped by the watermark (asserted in-harness) and
  * witnessed by the oracle's survivor predicate; the point-frequency
  * estimator ([[StreamCms.estimates]], min over the d addressed
  * counters) finishes batch-side over the CLOSED hours, with the
  * exact-count witness rebuilt from the survivor set. */
object StreamCmsUpdate {

  private val HourMs = 3600000L
  private val DayNs = 86400L * 1000000000L

  /** Stage → replay (append mode, one file per micro-batch, asserted
    * watermark drop) → estimate closed-hour frequencies for the
    * user_id < 20 probe set + survivor exact witness. Output per
    * (closed hour, probe): x38's schema
    * (bucket_ms, user_id, est_cnt, true_cnt). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_cms_update"): DataFrame = {
    val norm = graft.sources.Tables.table(spark, dir, "events")
    val maxTs = norm.agg(max(col("ts"))).head().getLong(0)
    val finalDay = maxTs / DayNs
    val finalHourMs = (maxTs / 1000000L / HourMs) * HourMs
    val lateRule = col("event_id") % 50 === 0 &&
      expr(s"ts DIV $DayNs") < finalDay

    ReplayStage.lateDropReplay(spark, norm, lateRule, maxTs,
      queryName) { stream =>
      StreamCms.hourlyCounters(stream, delay = "0 milliseconds")
    }

    // the sentinel's own hour never closes; the cutoff is defensive
    val counters = spark.table(queryName)
      .where(col("bucket_ms") <= finalHourMs)
      .select(col("bucket_ms").as("bucket_ms"), col("i").as("i"),
        col("p").as("p"), col("c").as("c"))
    // probe set + exact witness over the SAME survivor set (durable
    // batch history restricted by the drop predicate — the oracle's ex)
    val surv = norm.where(!lateRule)
    val probes = surv.select(col("user_id"))
      .where(col("user_id") < 20).distinct()
    val est = StreamCms.estimates(counters, probes)
    val exact = surv.where(col("user_id") < 20)
      .groupBy(expr(s"(ts DIV 1000000 DIV $HourMs) * $HourMs")
        .as("bucket_ms"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("true_cnt"))
    est.join(exact, Seq("bucket_ms", "user_id"), "left")
      .na.fill(0L, Seq("true_cnt"))
      .select(col("bucket_ms"), col("user_id"),
        col("est_cnt").cast("long").as("est_cnt"), col("true_cnt"))
  }
}
