package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming weighted sample without replacement: per-day exact-k
  * Efraimidis–Spirakis (A-ES) selection maintained by the
  * [[graft.functions.BottomKByHash]] aggregate as streaming state —
  * the weighted-reservoir member of the streaming-sketch family
  * ([[StreamHll]] cardinality, [[StreamCms]] frequency,
  * [[StreamQuantile]] order statistics). q155 is the batch twin and
  * carries the oracle-visible proportionality witness.
  *
  * A-ES ranks items by u^(1/w); for INTEGER weights u^(1/w) is
  * distributed as the max of w i.i.d. uniforms, so the rank key is
  * max(md5(id,1) … md5(id,w)) — pure integer hashing, bit-exact in any
  * engine, no logarithms. Selecting the top-k tickets is a MERGEABLE
  * min-k sketch on the NEGATED ticket (Long.MaxValue − ticket): union
  * + truncate, O(k) state — so the built-in watermarked streaming
  * aggregation is the state store. Map-side partials compact each
  * micro-batch before the state shuffle, per open window the store
  * holds ≤ k (hash, id) pairs, the watermark evicts closed windows.
  * Weighted sampling over an unbounded stream in
  * (open windows × k × 16 bytes) of state; weights and tickets are
  * pure functions of the event id, so the post-close audit recomputes
  * them row-locally — no join back to the stream.
  *
  * `complete` mode is the REPLAY-ONLY choice here; the 24/7 posture —
  * append-mode day windows, late data dropped and witnessed (a
  * late-dropped event can never be sampled) — is implemented over the
  * SAME top-k-ticket state by [[StreamWeightedSampleUpdate]] (x65).
  */
object StreamWeightedSample {

  /** Sample bound per window — windows at test scale (~330 events/day
    * at sf0.01) genuinely subsample, so weight proportionality shows
    * real selection pressure. */
  val SampleK = 32

  /** Integer sampling weight (1..4) as a pure function of the event
    * id — "w tickets per item". */
  def weight(idCol: Column): Column = lit(1L) + pmod(idCol, lit(4L))

  /** The A-ES rank key: max of `wt` engine-portable md5 tickets
    * ('wes:' salt). Row-local, ≤ 4 hashes per row. */
  def ticket(idCol: Column, wtCol: Column): Column =
    array_max(transform(sequence(lit(1), wtCol.cast("int")),
      j => graft.functions.HashFns.md5Hash60(
        concat_ws(":", lit("wes"), idCol, j))))

  /** Per-day top-[[SampleK]]-by-ticket event samples from a streaming
    * events frame whose `ts` is BIGINT nanoseconds. The min-k buffer
    * orders by (hash, value), so feeding hash = MaxValue − ticket and
    * value = event_id selects the k LARGEST tickets with event_id as
    * the deterministic tie-break — exactly `ORDER BY ticket DESC,
    * event_id LIMIT k` per window. Caller must have
    * `NativeFns.register`ed the session. Output: (bucket_ms, sample:
    * array<bigint> of selected event ids). */
  def dailySamples(events: DataFrame,
                   delay: String = "1 day"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))
      .withColumn("_wt", weight(col("event_id")))
      .withColumn("_neg",
        lit(Long.MaxValue) - ticket(col("event_id"), col("_wt")))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 day"))
      .agg(graft.functions.NativeFns.bottomK(col("event_id"), col("_neg"),
        SampleK).as("sample"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("sample"))

  /** Audit rows from a closed-window sample table: explode the
    * selected ids and recompute weight + ticket row-locally (both are
    * pure functions of the id). Output: (bucket_ms, event_id, wt,
    * ticket). */
  def audit(samples: DataFrame): DataFrame =
    samples
      .select(col("bucket_ms"), explode(col("sample")).as("event_id"))
      .withColumn("wt", weight(col("event_id")))
      .select(col("bucket_ms"), col("event_id"),
        col("wt").cast("long").as("wt"),
        ticket(col("event_id"), col("wt")).as("ticket"))

  /** Replay the events parquet through the streaming sample plan.
    * `complete` mode is the REPLAY-ONLY choice (see class doc). */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_weighted_sample"): DataFrame = {
    graft.functions.NativeFns.register(spark)
    ReplayStage.memorySink(dailySamples(graft.sources.Tables
      .tsNanosNormalized(ReplayStage.tableStream(spark, dir))),
      queryName, "complete")
  }
}
