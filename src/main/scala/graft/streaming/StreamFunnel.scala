package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming funnel — the incremental twin of the batch
  * exists-chain funnel ([[graft.operators.Funnel.existsChain]], q165):
  * per user, an event qualifies for step i+1 iff some event already
  * qualified for step i strictly before it and no more than the step
  * horizon earlier. Stream ≡ batch is the correctness contract (the
  * replay shares q165's oracle verbatim).
  *
  * Why state stays bounded where the batch plan joins whole qualified
  * sets: processed in event-time order, a step-(i+1) event at time t
  * can only be admitted by step-i timestamps in [t − hᵢ, t) — so the
  * state keeps, per transition, ONLY the qualified timestamps of the
  * trailing horizon window (pruned as time advances), plus K counters
  * and the first-conversion stamp. Per-user state is horizon-bounded —
  * the same bound as the stream-stream interval join (x41) — never
  * corpus-bounded.
  *
  * Ordering contract: a micro-batch is sorted per user before
  * processing, and cross-batch order is guarded by the watermark plus
  * the time-ordered-parts replay guard (ReplayStage) — the same regime
  * as [[StatefulSessions]]. Equal-timestamp events cannot admit each
  * other (the qualification is strict `<`), so tie order never changes
  * the result.
  *
  * Emission: a funnel row is only final at end-of-input (any later
  * event can still raise a count), so each user flushes via event-time
  * timeout at `last event + flushLeadNs`, where the replay picks
  * `flushLeadNs` > the whole event-time span — no real event can
  * advance the watermark past ANY user's deadline, and the sentinel
  * (staged at global max + the same lead) flushes everyone in the
  * final no-data batch. A 24/7 deployment would instead emit updating
  * rows per trigger; the timeout flush is the finite-replay contract.
  */
object StreamFunnel {

  /** `ts` in BIGINT nanos (exact step comparisons); `ts_t` mirrors it
    * at ms precision for the watermark only. */
  final case class Ev(user_id: Long, event_id: Long, ts: Long,
                      event_type: String, ts_t: java.sql.Timestamp)
  final case class FunnelRow(user_id: Long, counts: Seq[Long], depth: Long,
                             first_conv_s: Long)
  /** `windows(i)` = qualified step-(i+1) timestamps still inside the
    * trailing admission horizon (distinct, ascending). The LAST step
    * needs no window (nothing consumes it) — kept empty. */
  final case class FunnelState(counts: Seq[Long], windows: Seq[Seq[Long]],
                               firstConv: Long, lastTs: Long)

  /** `events` must carry a watermark on `ts_t`. `steps` are the ordered
    * event types; `horizonsNs` one per transition (q165 semantics). */
  def funnel(events: Dataset[Ev], steps: Seq[String], horizonsNs: Seq[Long],
             flushLeadNs: Long): Dataset[FunnelRow] = {
    require(steps.length >= 2 && horizonsNs.length == steps.length - 1,
      "need >=2 steps and one horizon per transition")
    import events.sparkSession.implicits._
    val k = steps.length
    val stepIdx = steps.zipWithIndex.toMap
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + flushLead: only the sentinel can
            // push it there, so the replay is over — emit the final row
            val st = state.get
            state.remove()
            if (st.counts.head > 0L) {
              val depth = st.counts.count(_ > 0L).toLong
              Iterator.single(FunnelRow(user, st.counts, depth,
                if (st.firstConv >= 0L) st.firstConv / 1000000000L else -1L))
            } else Iterator.empty
          } else {
            val evs = it.filter(e => stepIdx.contains(e.event_type))
              .toSeq.sortBy(e => (e.ts, e.event_id))
            val prev = state.getOption.getOrElse(
              FunnelState(Seq.fill(k)(0L), Seq.fill(k)(Seq.empty[Long]), -1L, Long.MinValue))
            val counts = prev.counts.toArray
            val windows = prev.windows.map(_.toBuffer).toArray
            var firstConv = prev.firstConv
            var lastTs = prev.lastTs
            evs.foreach { e =>
              val i = stepIdx(e.event_type)
              lastTs = math.max(lastTs, e.ts)
              // prune every admission window to its own horizon before
              // testing: step-(i+1) at t needs step-i ts' in [t − hᵢ, t)
              var s = 0
              while (s < k - 1) {
                val cutoff = e.ts - horizonsNs(s)
                while (windows(s).nonEmpty && windows(s).head < cutoff)
                  windows(s).remove(0)
                s += 1
              }
              val qualifies =
                if (i == 0) true
                else windows(i - 1).exists(tsPrev => tsPrev < e.ts)
              // distinct on (user, ts) per step: equal-ts duplicates
              // arrive adjacent under ordered processing, so the last
              // window entry witnesses them (the final step keeps a
              // 1-element window purely for this dedupe)
              if (qualifies && windows(i).lastOption.forall(_ != e.ts)) {
                windows(i).append(e.ts)
                counts(i) += 1L
                if (i == k - 1) {
                  if (firstConv < 0L) firstConv = e.ts
                  if (windows(i).length > 1) windows(i).remove(0)
                }
              }
              ()
            }
            if (evs.nonEmpty || state.exists) {
              state.update(FunnelState(counts.toSeq,
                windows.map(_.toSeq).toSeq, firstConv, lastTs))
              state.setTimeoutTimestamp(math.max(
                (lastTs + flushLeadNs) / 1000000L,
                state.getCurrentWatermarkMs() + 1))
            }
            Iterator.empty
          }
      }
  }

  /** Replay the events parquet through the stateful funnel; shares
    * q165's oracle. The stage lead (= flush lead) is the full
    * event-time span + 1 day: no real event can expire another user's
    * deadline, and the sentinel expires them all. */
  def replayParquet(spark: SparkSession, dir: String, steps: Seq[String],
                    horizonsNs: Seq[Long],
                    queryName: String = "stream_funnel",
                    maxFilesPerTrigger: Option[Int] = None): Dataset[FunnelRow] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val batch = graft.sources.Tables.tsNanosNormalized(
      spark.read.parquet(s"$dir/events.parquet"))
    val mm = batch.agg(fmin("ts"), fmax("ts")).head()
    val spanNs = mm.getLong(1) - mm.getLong(0)
    val leadNs = spanNs + 86400L * 1000000000L
    // sentinel leads the flush deadline by 1 ms: the ms-floored
    // watermark must pass STRICTLY beyond the last user's deadline
    val staged = ReplayStage.stageEvents(spark, dir, leadNs + 1000000L)
    val sink = try {
      val evs = ReplayStage.readStream(spark, staged, maxFilesPerTrigger)
        .selectExpr("user_id", "event_id", "ts", "event_type",
          "timestamp_millis(ts DIV 1000000) AS ts_t")
        .withWatermark("ts_t", "0 milliseconds")
        .as[Ev]
      // sentinel (user_id = -1, event_type null) is dropped inside
      // funnel's step filter AFTER feeding the watermark — its null
      // event_type matches no step, and its user emits nothing
      ReplayStage.memorySink(funnel(evs, steps, horizonsNs, leadNs),
        queryName, "append")
    } finally staged.cleanup()
    sink.as[FunnelRow]
  }
}
