package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming as-of enrichment: each event on the stream is joined to
  * the latest row of a STATIC, slowly-changing dimension at-or-before
  * the event time — the fourth canonical streaming shape in this
  * library (windowed agg, stateful sessions, stream-static equi-join,
  * and now temporal lookup).
  *
  * The dimension's per-key history is collected once, sorted by
  * (time, tieBreak) and broadcast; each event then resolves with one
  * binary search — no per-batch shuffle, no state store. This is the
  * standard shape for enriching a stream against versioned reference
  * data (the broadcast index IS the "as-of snapshot" pattern).
  *
  * Scale posture: the broadcast index is bounded by the DIMENSION, not
  * the stream — right for reference tables that fit an executor (the
  * usual case for slowly-changing dims). A dimension too large to
  * broadcast needs the batch as-of operator per micro-batch or a
  * state-store keyed history instead; that trade-off is the same one
  * Spark's own stream-static joins make (static side re-read, never
  * shuffled with the stream).
  *
  * Semantics match [[graft.plans.AsOf]]: latest at-or-before, ties
  * broken by the larger tie-break value, events with no match dropped
  * (inner as-of). The replay shares the batch as-of DuckDB oracle.
  */
object StreamAsOf {

  final case class Enriched(event_id: Long, o_orderkey: Long, ord_ms: Long)

  /** Replay parquet events against the orders dimension; returns
    * (event_id, o_orderkey, ord_ms) per matched event. */
  def replayParquet(spark: SparkSession, dir: String,
                    queryName: String = "stream_asof"): DataFrame = {
    import spark.implicits._

    // static dimension → per-key (time, id) history, sorted, broadcast
    val hist: Map[Long, Array[(Long, Long)]] =
      spark.read.parquet(s"$dir/orders.parquet")
        .selectExpr("o_custkey", "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS ms",
          "o_orderkey")
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1)
        .map { case (k, rows) =>
          // sorted by (time, id): the as-of pick is the LAST entry ≤ t,
          // which also resolves equal-time ties toward the larger id
          k -> rows.map(r => (r._2, r._3)).sortBy(identity)
        }
    val bHist = spark.sparkContext.broadcast(hist)

    val stream = graft.sources.Tables.tsNanosNormalized(
        ReplayStage.tableStream(spark, dir))
      .selectExpr("event_id", "user_id", "ts DIV 1000000 AS t")
      .as[(Long, Long, Long)]

    val enriched = stream.flatMap { case (eventId, userId, t) =>
      bHist.value.get(userId).flatMap { h =>
        // rightmost entry with time ≤ t (binary search over the sorted
        // history; (t, MaxValue) sits after every tie at time t)
        var lo = 0; var hi = h.length // exclusive
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (h(mid)._1 <= t) lo = mid + 1 else hi = mid
        }
        if (lo == 0) None
        else Some(Enriched(eventId, h(lo - 1)._2, h(lo - 1)._1))
      }
    }

    ReplayStage.memorySink(enriched, queryName, "append")
  }

  /** The OVERSIZED-dimension variant: the dimension stays a distributed
    * DataFrame and each micro-batch runs the batch union-merge as-of
    * ([[graft.operators.Relational.asOfLatest]]) against it inside
    * `foreachBatch` — one key-shuffle per batch, the dimension is never
    * collected to the driver (the [[replayParquet]] broadcast index is
    * bounded by the dimension; this path is bounded by nothing but the
    * cluster). Same as-of semantics, same oracle. */
  def replayParquetDistributed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._

    val dim = spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("o_custkey",
        "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS ord_ms", "o_orderkey")

    val stream = graft.sources.Tables.tsNanosNormalized(
        ReplayStage.tableStream(spark, dir))
      .selectExpr("event_id", "user_id", "ts DIV 1000000 AS t")

    // per-batch results land in a driver buffer — bounded by the
    // replay's OUTPUT exactly like the memory sink the other replays use
    val acc = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Enriched]())
    ReplayStage.foreachBatch(stream, "stream_asof_distributed") {
      (batch: DataFrame, _: Long) =>
        val joined = graft.operators.Relational.asOfLatest(
            batch, dim, "user_id", "o_custkey",
            col("t"), col("ord_ms"), "event_id", "o_orderkey")
          .select(col("event_id"), col("o_orderkey"), col("ord_ms"))
          .as[Enriched].collect()
        acc.addAll(java.util.Arrays.asList(joined: _*))
        ()
    }
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq.toDF()
  }
}
