package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 24/7 posture the x50–x54 MODE CAVEATs describe, made real:
  * a per-day PSI drift monitor in APPEND mode against a MAINTAINED
  * REFERENCE histogram, with event-time watermarking actually DROPPING
  * late data — and an oracle that witnesses the drop.
  *
  * How it differs from x54's complete-mode replay:
  *   - the reference distribution is pinned OUTSIDE the stream (here:
  *     the batch histogram of the corpus's first `refDays` days — a
  *     deployment would load yesterday's published reference), so the
  *     stream never needs to re-emit history: each day window closes
  *     once, in append mode, when the watermark passes its end;
  *   - the state is still exactly [[StreamKsDrift.dailyBuckets]]'s
  *     (shared verbatim, delay 0 ms) — additive (day, bucket) longs;
  *   - LATE DATA IS DROPPED, and deliberately witnessed: the replay
  *     stages four time-ordered files (on-time rows → empty gap →
  *     late rows → sentinel) and processes them one per micro-batch,
  *     so by the late batch the LATE-EVENT watermark sits at the
  *     global max event time and every row of the late file — rows
  *     with `event_id % 50 = 0` from days strictly before the final
  *     day — arrives below it (the gap batch is what lets the
  *     late-filter watermark catch up; see the staging comment).
  *     Whether Spark filters late input by event-time value or by
  *     window end, both predicates agree on these rows (whole window
  *     below the watermark), so the drop set is deterministic and the
  *     DuckDB oracle reproduces it as a plain batch predicate: day
  *     counts come from surviving rows only, the reference from ALL
  *     rows (a maintained reference is built from durable batch
  *     history, not from what the stream happened to keep).
  *
  * This replay intentionally BYPASSES [[ReplayStage.readStream]]'s
  * part-order guard: that guard exists to protect replays that must
  * not lose rows; here the out-of-order second file IS the fixture.
  *
  * PSI arithmetic is the q233/x54 discipline: full day × reference-
  * bucket grid, zero day-buckets take one pseudo-count, each term
  * individually floored to micro over exact BIGINT counts — PLUS the
  * catch-all NOVEL-VALUE bucket: day mass in buckets with no reference
  * mass collapses into one extra term whose reference share is the
  * standard one pseudo-count out of nref (the DriftStats.psiBySide
  * contract). With a pinned first-`refDays` reference this mass is
  * real — later days carry values the reference never saw — and the
  * emitted `n_novel` witnesses it per day.
  */
object StreamPsiUpdate {

  private val DayMs = 86400000L
  private val DayNs = 86400L * 1000000000L

  /** Stage → replay (append mode, one file per micro-batch) → finish.
    * Output per closed day: (day_ms, n_day, n_novel, psi_micro);
    * `n_day` counts the rows the WATERMARK LET THROUGH, which is the
    * witness — the oracle's survivor counts must match exactly —
    * and `n_novel` the surviving mass outside the reference support. */
  def replayParquet(spark: SparkSession, dir: String, refDays: Int = 14,
                    queryName: String = "stream_psi_update"): DataFrame = {
    val norm = graft.sources.Tables.table(spark, dir, "events")
    val maxTs = norm.agg(max(col("ts"))).head().getLong(0)
    val finalDay = maxTs / DayNs
    // integer day arithmetic only — a DOUBLE division here could
    // misclassify an exact-midnight row against the oracle's `//`
    val lateRule = col("event_id") % 50 === 0 &&
      expr(s"ts DIV $DayNs") < finalDay

    // shared staged-late harness (stage → one-file micro-batches →
    // asserted watermark drop) — see ReplayStage.lateDropReplay for the
    // micro-batch internals this leans on (gap batch, no-data flush)
    ReplayStage.lateDropReplay(spark, norm, lateRule, maxTs,
      queryName) { stream =>
      StreamKsDrift.dailyBuckets(stream, delay = "0 milliseconds")
    }

    // reference: ALL rows (durable batch history), first refDays days
    val minDay = norm.agg(min(col("ts"))).head().getLong(0) / DayNs
    val ref = norm
      .where(expr(s"ts DIV $DayNs") < minDay + refDays)
      .groupBy(expr("CAST(FLOOR(value) AS BIGINT)").as("b"))
      .agg(count(lit(1)).cast("long").as("cb"))
    val refN = ref.agg(sum(col("cb")).cast("long").as("nref"))

    // the sentinel's own day never closes (nothing advances the
    // watermark past it); the cutoff below is defensive determinism.
    // Fresh attributes per consumer of the memory sink (the x52
    // discipline: each read mints new exprIds so self-joins resolve).
    def sink(): DataFrame = spark.table(queryName)
      .where(col("day_ms") <= finalDay * DayMs)
      .select(col("day_ms").as("day_ms"),
        graft.operators.DriftStats
          .nullBucketGuard(col("b"), "StreamPsiUpdate").as("b"),
        col("c").as("c"))
    val days = sink().groupBy(col("day_ms"))
      .agg(sum(col("c")).cast("long").as("nday"))
    val grid = days.crossJoin(broadcast(ref))
      .join(sink(), Seq("day_ms", "b"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(refN))
    val inSupport = grid
      .withColumn("_tm", expr(
        """CAST(floor(1000000.0 *
          | (CAST(GREATEST(c, 1) AS DOUBLE) / CAST(nday AS DOUBLE)
          |  - CAST(cb AS DOUBLE) / CAST(nref AS DOUBLE))
          | * ln((CAST(GREATEST(c, 1) AS DOUBLE) / CAST(nday AS DOUBLE))
          |      / (CAST(cb AS DOUBLE) / CAST(nref AS DOUBLE))))
          | AS BIGINT)""".stripMargin.replace("\n", " ")))
      .groupBy(col("day_ms"))
      .agg(max(col("nday")).cast("long").as("n_day"),
        sum(col("_tm")).cast("long").as("_psis"))
    // catch-all: surviving day mass in buckets the pinned reference
    // never saw — REAL here (unlike the self-referential monitors'
    // structurally-empty anti-join), witnessed per day as n_novel
    val novel = days.join(
      sink().join(ref.select(col("b")), Seq("b"), "left_anti")
        .groupBy(col("day_ms")).agg(sum(col("c")).cast("long").as("nv")),
      Seq("day_ms"), "left").na.fill(0L, Seq("nv"))
    val catchAll = novel.crossJoin(broadcast(refN))
      .withColumn("_ct", expr(
        """CASE WHEN nv = 0 THEN CAST(0 AS BIGINT)
          | ELSE CAST(floor(1000000.0 *
          | (CAST(nv AS DOUBLE) / CAST(nday AS DOUBLE)
          |  - 1.0 / CAST(nref AS DOUBLE))
          | * ln((CAST(nv AS DOUBLE) / CAST(nday AS DOUBLE))
          |      / (1.0 / CAST(nref AS DOUBLE))))
          | AS BIGINT) END""".stripMargin.replace("\n", " ")))
      .select(col("day_ms"), col("nv"), col("_ct"))
    inSupport.join(catchAll, Seq("day_ms"))
      .select(col("day_ms"), col("n_day"), col("nv").as("n_novel"),
        (col("_psis") + col("_ct")).cast("long").as("psi_micro"))
  }
}
