package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming interval coalescing — the incremental twin of the
  * batch [[graft.operators.Intervals]] (q202): per key, merge
  * overlapping-or-touching VARIABLE-duration [start, end] spans into
  * maximal islands as they stream in. Where [[StatefulSessions]] closes
  * on a fixed gap after the LAST event, an island closes when a new
  * span STARTS past the island's running max end — the duration is
  * per-row data, not a config constant, so a long span keeps its island
  * open long after later short spans ended (the same swallowing case
  * the batch spec pins against lag(end)).
  *
  * State per key = the one open island (start, running max end, row
  * count, island seq) — constant size, the x41/x45 bounded-state
  * discipline. Ordering contract: islands merge on START order, so
  * per-batch events sort by (start, tie) and cross-batch order is
  * guarded by the 0 ms watermark on the START time (an event starting
  * before an emitted island's close boundary would be late data).
  * Emission: an island is final when a later event of the same key
  * starts past its max end, or when the watermark passes its max end
  * (event-time timeout — no span with an earlier start can arrive, and
  * later starts past the max end cannot extend it; the replay sentinel
  * drives the final flush).
  *
  * Stream ≡ batch is the correctness contract: the replay shares q202's
  * oracle verbatim, island numbering included.
  *
  * 24/7 CAVEAT (the StreamBenford MODE-CAVEAT discipline): after a
  * timeout flush the key's state is KEPT (n = 0, seq retained — the
  * retained seq is what lets a returning key resume island numbering,
  * the stream ≡ batch contract) and no new timeout is registered, so a
  * key that never returns holds its ~4-long state until query end.
  * Harmless for the bounded AvailableNow replay; a continuous
  * deployment that cannot afford one idle entry per ever-seen key
  * should re-arm a long eviction timeout in the timed-out branch and
  * accept that an evicted key restarts island numbering at 1 (or
  * persist the seq externally).
  */
object StreamIntervals {

  /** `s_t` mirrors the start `s` as a timestamp for the watermark; the
    * island math stays on exact longs. */
  final case class Iv(user_id: Long, event_id: Long, s: Long, e: Long,
                      s_t: java.sql.Timestamp)
  final case class Island(user_id: Long, island: Long, start: Long,
                          end: Long, n_rows: Long)
  final case class OpenIsland(start: Long, maxEnd: Long, n: Long, seq: Long)

  /** `ivs` must carry a watermark on `s_t`. */
  def coalesce(ivs: Dataset[Iv]): Dataset[Island] = {
    import ivs.sparkSession.implicits._
    ivs.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenIsland, Island](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Iv], state: GroupState[OpenIsland]) =>
          if (state.hasTimedOut) {
            // watermark passed the open island's max end: no span can
            // start inside it any more — flush (seq survives via the
            // emitted row; a returning key starts a fresh state with
            // seq resumed from nothing, so keep it in state)
            val st = state.get
            state.update(st.copy(start = Long.MinValue, maxEnd = Long.MinValue,
              n = 0L))
            Iterator.single(Island(user, st.seq, st.start, st.maxEnd, st.n))
          } else {
            val evs = it.toSeq.sortBy(v => (v.s, v.event_id))
            val prev = state.getOption
            var open: Option[OpenIsland] =
              prev.filter(_.n > 0L)
            var seq = prev.map(_.seq).getOrElse(0L)
            val closed = List.newBuilder[Island]
            evs.foreach { v =>
              open match {
                case Some(o) if v.s <= o.maxEnd =>
                  open = Some(o.copy(maxEnd = math.max(o.maxEnd, v.e),
                    n = o.n + 1))
                case maybe =>
                  maybe.foreach(o =>
                    closed += Island(user, o.seq, o.start, o.maxEnd, o.n))
                  seq += 1
                  open = Some(OpenIsland(v.s, v.e, 1L, seq))
              }
            }
            open match {
              case Some(o) =>
                state.update(o)
                // island closes when the watermark passes its max end
                state.setTimeoutTimestamp(
                  math.max(o.maxEnd + 1, state.getCurrentWatermarkMs() + 1))
              case None =>
                prev.foreach(p => state.update(p.copy(n = 0L)))
            }
            closed.result().iterator
          }
      }
  }

  /** Replay the events parquet with the q202 span derivation (start =
    * event ms, end = start + (1 + event_id % 30) minutes); shares
    * q202's oracle. The sentinel (user −1, duration ≤ 31 min) leads by
    * ReplayStage's margin so its watermark push passes every open
    * island's max end. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_intervals",
                    maxFilesPerTrigger: Option[Int] = None): Dataset[Island] = {
    import spark.implicits._
    // lead = the longest possible span (31 min) + 1 ms: the sentinel's
    // START passes every real island's max end strictly
    val staged = ReplayStage.stageEvents(spark, dir, 31L * 60L * 1000000000L)
    val sink = try {
      val evs = ReplayStage.readStream(spark, staged, maxFilesPerTrigger)
        .selectExpr("user_id", "event_id",
          "ts DIV 1000000 AS s",
          "ts DIV 1000000 + 60000 * (1 + event_id % 30) AS e",
          "timestamp_millis(ts DIV 1000000) AS s_t")
        .withWatermark("s_t", "0 milliseconds")
        .as[Iv]
      ReplayStage.memorySink(coalesce(evs).filter(_.user_id >= 0),
        queryName, "append")
    } finally staged.cleanup()
    sink.as[Island]
  }
}
