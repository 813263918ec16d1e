package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming per-day PSI drift monitor — q233's population stability
  * index as a monitor, and the demonstration that ONE streamed state
  * serves MANY drift metrics: the watermarked per-(day, bucket)
  * histogram is exactly [[StreamKsDrift.dailyBuckets]]'s state (shared
  * verbatim — ≤ ~500 additive longs per open day), and only the
  * batch-side finisher differs: KS reads the sup of the cumulative
  * gap, PSI sums the per-bucket (p_day − p_all)·ln(p_day/p_all) terms
  * (alarm convention: <0.1 stable, >0.25 action). A deployment running
  * both pays for ONE state store.
  *
  * Arithmetic: the q233 discipline — zero-count day-buckets take the
  * standard one pseudo-count via the full day × bucket grid, each term
  * individually floored to micro over exact BIGINT counts (the q209
  * per-term ln rule, no float accumulation across buckets).
  *
  * `complete` mode is the REPLAY-ONLY choice; the 24/7 posture —
  * append-mode day windows, a MAINTAINED reference, late data dropped
  * by the watermark and witnessed — is implemented over the SAME state
  * by [[StreamPsiUpdate]] (x55).
  */
object StreamPsiDrift {

  /** Replay the events parquet through the SHARED histogram plan and
    * finish the per-day PSI batch-side. Output per day:
    * (day_ms, n_day, n_novel, psi_micro) — n_novel is the day's mass in
    * buckets outside the reference support, collapsed into the
    * catch-all bucket (structurally zero for this self-referential
    * reference; real for [[StreamPsiUpdate]]'s pinned one). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_psi"): DataFrame = {
    ReplayStage.memorySink(StreamKsDrift.dailyBuckets(graft.sources.Tables
      .tsNanosNormalized(ReplayStage.tableStream(spark, dir))),
      queryName, "complete")
    // null-bucket guard: a NULL b would silently split between the grid
    // pseudo-count and the novel anti-join — fail loudly instead
    def sink(): DataFrame = spark.table(queryName)
      .select(col("day_ms").as("day_ms"),
        graft.operators.DriftStats
          .nullBucketGuard(col("b"), "StreamPsiDrift").as("b"),
        col("c").as("c"))
    val days = sink().groupBy(col("day_ms"))
      .agg(sum(col("c")).cast("long").as("nday"))
    val buckets = sink().groupBy(col("b"))
      .agg(sum(col("c")).cast("long").as("cb"))
    val nAll = sink().agg(sum(col("c")).cast("long").as("nall"))
    val grid = days.crossJoin(broadcast(buckets))
      .join(sink(), Seq("day_ms", "b"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(nAll))
    val inSupport = grid
      .withColumn("_tm", expr(
        """CAST(floor(1000000.0 *
          | (CAST(GREATEST(c, 1) AS DOUBLE) / CAST(nday AS DOUBLE)
          |  - CAST(cb AS DOUBLE) / CAST(nall AS DOUBLE))
          | * ln((CAST(GREATEST(c, 1) AS DOUBLE) / CAST(nday AS DOUBLE))
          |      / (CAST(cb AS DOUBLE) / CAST(nall AS DOUBLE))))
          | AS BIGINT)""".stripMargin.replace("\n", " ")))
      .groupBy(col("day_ms"))
      .agg(max(col("nday")).cast("long").as("n_day"),
        sum(col("_tm")).cast("long").as("_psis"))
    // catch-all bucket: day mass outside the reference support, one
    // pseudo-count of reference share (the DriftStats.psiBySide
    // contract) — anti-join is structurally empty here (the reference
    // is the stream's own bucket mix) but the term is part of the
    // shared finisher shape
    val novel = days.join(
      sink().join(buckets.select(col("b")), Seq("b"), "left_anti")
        .groupBy(col("day_ms")).agg(sum(col("c")).cast("long").as("nv")),
      Seq("day_ms"), "left").na.fill(0L, Seq("nv"))
    val catchAll = novel.crossJoin(broadcast(nAll))
      .withColumn("_ct", expr(
        """CASE WHEN nv = 0 THEN CAST(0 AS BIGINT)
          | ELSE CAST(floor(1000000.0 *
          | (CAST(nv AS DOUBLE) / CAST(nday AS DOUBLE)
          |  - 1.0 / CAST(nall AS DOUBLE))
          | * ln((CAST(nv AS DOUBLE) / CAST(nday AS DOUBLE))
          |      / (1.0 / CAST(nall AS DOUBLE))))
          | AS BIGINT) END""".stripMargin.replace("\n", " ")))
      .select(col("day_ms"), col("nv"), col("_ct"))
    inSupport.join(catchAll, Seq("day_ms"))
      .select(col("day_ms"), col("n_day"), col("nv").as("n_novel"),
        (col("_psis") + col("_ct")).cast("long").as("psi_micro"))
  }
}
