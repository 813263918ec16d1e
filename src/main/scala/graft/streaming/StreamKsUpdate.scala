package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Update-mode per-day KS drift monitor — [[StreamKsDrift]]'s 24/7
  * posture, the second monitor on the shared staged-late harness
  * ([[ReplayStage.lateDropReplay]], introduced by [[StreamPsiUpdate]]):
  * append-mode day windows over the SAME (day, bucket) histogram state
  * ([[StreamKsDrift.dailyBuckets]], 0 ms delay), late data genuinely
  * dropped by the watermark and witnessed by the oracle's survivor
  * predicate, and the KS finisher run against a MAINTAINED reference —
  * the batch histogram of the corpus's first `refDays` days, pinned
  * outside the stream.
  *
  * The ECDF comparison runs over the UNION support (reference buckets ∪
  * surviving day buckets — the q220 full-outer-grid rule): a day value
  * the reference never saw still steps the day's ECDF, so novel mass
  * widens D instead of silently vanishing (the same blind spot the PSI
  * family closes with its catch-all bucket). Integer-exact: D
  * cross-multiplies to max|cum_day·n_ref − cum_ref·n_day| (documented
  * bound n_day·n_ref < 2⁶³); one double division scales to milli.
  */
object StreamKsUpdate {

  private val DayMs = 86400000L
  private val DayNs = 86400L * 1000000000L

  /** Stage → replay (append mode, one file per micro-batch, asserted
    * watermark drop) → finish. Output per closed day:
    * (day_ms, n_day, ks_num, ks_milli); `n_day` counts the rows the
    * watermark let through — the oracle's survivor counts must match. */
  def replayParquet(spark: SparkSession, dir: String, refDays: Int = 14,
                    queryName: String = "stream_ks_update"): DataFrame = {
    val norm = graft.sources.Tables.table(spark, dir, "events")
    val maxTs = norm.agg(max(col("ts"))).head().getLong(0)
    val finalDay = maxTs / DayNs
    // same deliberately-late fixture rule as x55 — integer day
    // arithmetic only (the oracle's `//` must agree at midnight)
    val lateRule = col("event_id") % 50 === 0 &&
      expr(s"ts DIV $DayNs") < finalDay

    ReplayStage.lateDropReplay(spark, norm, lateRule, maxTs,
      queryName) { stream =>
      StreamKsDrift.dailyBuckets(stream, delay = "0 milliseconds")
    }

    // maintained reference: ALL rows (durable batch history), first
    // refDays days — never what the stream happened to keep
    val minDay = norm.agg(min(col("ts"))).head().getLong(0) / DayNs
    val ref = norm
      .where(expr(s"ts DIV $DayNs") < minDay + refDays)
      .groupBy(expr("CAST(FLOOR(value) AS BIGINT)").as("b"))
      .agg(count(lit(1)).cast("long").as("cb"))
    val refN = ref.agg(sum(col("cb")).cast("long").as("nref"))

    def sink(): DataFrame = spark.table(queryName)
      .where(col("day_ms") <= finalDay * DayMs)
      .select(col("day_ms").as("day_ms"), col("b").as("b"), col("c").as("c"))
    val days = sink().groupBy(col("day_ms"))
      .agg(sum(col("c")).cast("long").as("nday"))
    // union support: both ECDFs step at every value either side has
    val support = ref.select(col("b"))
      .union(sink().select(col("b"))).distinct()
    val grid = days.crossJoin(broadcast(support))
      .join(sink(), Seq("day_ms", "b"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(ref), Seq("b"), "left").na.fill(0L, Seq("cb"))
      .crossJoin(broadcast(refN))
    val wCum = Window.partitionBy(col("day_ms")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("_cumd", sum(col("c")).over(wCum))
      .withColumn("_cumr", sum(col("cb")).over(wCum))
      .groupBy(col("day_ms"), col("nref"))
      .agg(max(col("nday")).cast("long").as("n_day"),
        max(abs(col("_cumd") * col("nref") - col("_cumr") * col("nday")))
          .cast("long").as("ks_num"))
      .select(col("day_ms"), col("n_day"), col("ks_num"),
        expr("CAST(floor(1000.0 * CAST(ks_num AS DOUBLE)" +
          " / (CAST(n_day AS DOUBLE) * CAST(nref AS DOUBLE)))" +
          " AS BIGINT)").as("ks_milli"))
  }
}
