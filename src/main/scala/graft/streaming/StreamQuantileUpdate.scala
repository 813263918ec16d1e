package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Update-mode per-day sampled-quantile monitor — [[StreamQuantile]]'s
  * 24/7 posture on the shared staged-late harness
  * ([[ReplayStage.lateDropReplay]]): append-mode day windows over the
  * same ≤ k-pairs-per-open-day bottom-k (KMV) sample state at 0 ms
  * delay, late data genuinely dropped by the watermark (asserted
  * in-harness) and witnessed by the oracle's survivor predicate; the
  * rank estimator ([[StreamQuantile.estimates]]) and the exact-rank
  * audit finish batch-side over the CLOSED days, the exact side
  * rebuilt from the survivor set with the registered x39 audit's
  * scalable histogram-rank construction. The replay sentinel's NULL
  * value is coalesced to 0 row-locally BEFORE the stateful aggregate
  * (a filter there would push below the watermark node and the final
  * day would never close; the sentinel's sample sits in its own
  * never-closing window either way). */
object StreamQuantileUpdate {

  private val DayMs = 86400000L
  private val DayNs = 86400L * 1000000000L

  /** Stage → replay (append mode, one file per micro-batch, asserted
    * watermark drop) → estimate closed-day percentiles + survivor
    * exact audit. Output per (closed day, pct): x39's schema
    * (bucket_ms, pct, est_v, exact_v, err_milli). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_quantile_update"): DataFrame = {
    graft.functions.NativeFns.register(spark)
    val H = graft.functions.HashFns
    val norm = graft.sources.Tables.table(spark, dir, "events")
    val maxTs = norm.agg(max(col("ts"))).head().getLong(0)
    val finalDay = maxTs / DayNs
    val lateRule = col("event_id") % 50 === 0 &&
      expr(s"ts DIV $DayNs") < finalDay

    ReplayStage.lateDropReplay(spark, norm, lateRule, maxTs,
      queryName) { stream =>
      StreamQuantile.dailySamples(
        stream.withColumn("value", coalesce(col("value"), lit(0.0))),
        delay = "0 milliseconds")
    }

    import spark.implicits._
    val samples = spark.table(queryName)
      .where(col("bucket_ms") <= finalDay * DayMs)
      .select(col("bucket_ms").as("bucket_ms"), col("sample").as("sample"))
    val est = StreamQuantile.estimates(samples)
    val pcts = StreamQuantile.Percentiles.toDF("pct")

    // exact side over the SAME survivor set — the x39 audit's scalable
    // per-window rank (value-bucket histogram + bucket-bounded windows)
    val e = norm.where(!lateRule)
      .select(expr(s"(ts DIV 1000000 DIV $DayMs) * $DayMs").as("bucket_ms"),
        floor(col("value") * 100).cast("long").as("v"),
        H.md5Hash60(concat(lit("qsm:"), col("event_id").cast("string")))
          .as("h"))
      .withColumn("_vb", expr("v DIV 1000L"))
    val eP = graft.Caches.persist(e)
    val wH = Window.partitionBy(col("bucket_ms")).orderBy(col("_vb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = eP.groupBy(col("bucket_ms"), col("_vb"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_cntBefore", coalesce(sum(col("_c")).over(wH), lit(0L)))
      .select(col("bucket_ms"), col("_vb"), col("_cntBefore"))
    val wIn = Window.partitionBy(col("bucket_ms"), col("_vb"))
      .orderBy(col("v"), col("h"))
    val ranked = eP.join(hist, Seq("bucket_ms", "_vb"))
      .withColumn("r", col("_cntBefore") + row_number().over(wIn))
    val xn = eP.groupBy(col("bucket_ms")).agg(count(lit(1)).as("n"))
    val xtg = xn.crossJoin(broadcast(pcts))
      .select(col("bucket_ms").as("_xb"), col("pct").as("_xp"),
        expr("(pct * n + 99) div 100").as("_xr"))
    val exact = xtg.join(
        ranked.select(col("bucket_ms").as("_rb"), col("v"), col("r")),
        col("_xb") === col("_rb") && col("_xr") === col("r"))
      .select(col("_xb").as("bucket_ms"), col("_xp").as("pct"),
        col("v").as("exact_v"))
    est.join(exact, Seq("bucket_ms", "pct"))
      .select(col("bucket_ms"), col("pct").cast("long").as("pct"),
        col("est_v"), col("exact_v"),
        expr("(1000 * abs(est_v - exact_v)) DIV greatest(abs(exact_v), 1)")
          .as("err_milli"))
  }
}
