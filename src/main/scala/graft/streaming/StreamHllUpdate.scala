package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Update-mode per-hour HLL cardinality monitor — [[StreamHll]]'s 24/7
  * posture on the shared staged-late harness
  * ([[ReplayStage.lateDropReplay]]): append-mode HOUR windows over the
  * same 64-longs-per-open-hour register state at 0 ms delay, late data
  * genuinely dropped by the watermark (asserted in-harness) and
  * witnessed by the oracle's survivor predicate — the register math
  * (q129's md5 family), the integer harmonic sum, and the published
  * small-range correction finish batch-side over the CLOSED hours,
  * [[StreamHll.estimates]] verbatim. The exact-distinct witness column
  * is computed from the durable batch history restricted to the same
  * survivors, mirroring the oracle's construction. */
object StreamHllUpdate {

  private val HourMs = 3600000L
  private val DayNs = 86400L * 1000000000L

  /** Stage → replay (append mode, one file per micro-batch, asserted
    * watermark drop) → finalize closed-hour estimates + survivor
    * exact-distinct witness. Output per closed hour: x37's schema
    * (bucket_ms, sum_inv_int, hll_est, est_milli, true_distinct). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_hll_update"): DataFrame = {
    val norm = graft.sources.Tables.table(spark, dir, "events")
    val maxTs = norm.agg(max(col("ts"))).head().getLong(0)
    val finalDay = maxTs / DayNs
    val finalHourMs = (maxTs / 1000000L / HourMs) * HourMs
    val lateRule = col("event_id") % 50 === 0 &&
      expr(s"ts DIV $DayNs") < finalDay

    ReplayStage.lateDropReplay(spark, norm, lateRule, maxTs,
      queryName) { stream =>
      StreamHll.hourlyRegisters(stream, delay = "0 milliseconds")
    }

    // the sentinel's own hour never closes; the cutoff is defensive
    // determinism (the x56 discipline)
    val registers = spark.table(queryName)
      .where(col("bucket_ms") <= finalHourMs)
      .select(col("bucket_ms").as("bucket_ms"), col("bucket").as("bucket"),
        col("rho").as("rho"))
    val est = StreamHll.estimates(registers)
    // exact witness over the SAME survivor set (durable batch history
    // restricted by the drop predicate — what the oracle reproduces)
    val exact = norm.where(!lateRule)
      .groupBy(expr(s"(ts DIV 1000000 DIV $HourMs) * $HourMs")
        .as("bucket_ms"))
      .agg(countDistinct(col("user_id")).cast("long").as("true_distinct"))
    est.join(exact, Seq("bucket_ms"))
  }
}
