package graft.streaming

import graft.functions.{HashFns, NativeFns, TextFns}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming near-duplicate detection against the stream
  * ITSELF: every document is checked against all earlier documents via
  * a cross-batch LSH bucket index held in the state store.
  *
  * Shape: doc → MinHash signature + band keys (the same native sketch
  * expressions as the batch pipeline) → one row per (band key, doc) →
  * `flatMapGroupsWithState` keyed by band key, whose state is the
  * bounded list of (doc id, signature) previously seen in that bucket.
  * A new doc emits a hit for every stored EARLIER doc whose signature
  * agrees on ≥ τ of the slots (the standard MinHash Jaccard estimator —
  * the state stores 8 longs per doc, never shingle sets, so state is
  * small and bounded; exact-Jaccard confirmation belongs to a batch
  * post-pass if required). Per-doc keeper = min hitting earlier id.
  *
  * Determinism: within a micro-batch each bucket group is sorted by doc
  * id, and "earlier" means smaller id — so a bounded replay (one
  * AvailableNow batch) reproduces the batch answer exactly and a DuckDB
  * oracle over the same md5-mirror hash family reproduces it
  * bit-for-bit. Across live micro-batches "earlier" means an earlier
  * batch (tested separately); a 24/7 deployment would add event-time
  * timeouts to expire bucket state — the replay keeps NoTimeout.
  *
  * @param maxBucket stop storing docs in a bucket beyond this many
  *   (arrivals still PROBE a full bucket; they just aren't added) —
  *   the same crowd-bucket cap as the batch LSH operator.
  */
object StreamNearDup {

  final case class BandRow(bk: String, doc_id: Long, sig: Array[Long])
  final case class Hit(doc_id: Long, keeper: Long)

  private def agrees(a: Array[Long], b: Array[Long],
                     tauNum: Int, tauDenom: Int): Boolean = {
    var eq = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq * tauDenom >= tauNum * a.length
  }

  /** The stateful core: per band-key bucket, compare each (id-sorted)
    * arrival against the stored earlier docs, emit hits, append to the
    * bounded state. Exposed for micro-batch-controlled tests. */
  def bucketHits(rows: org.apache.spark.sql.Dataset[BandRow],
                 tauNum: Int, tauDenom: Int, maxBucket: Int)
      : org.apache.spark.sql.Dataset[Hit] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.bk)
      .flatMapGroupsWithState[Vector[(Long, Array[Long])], Hit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, state: GroupState[Vector[(Long, Array[Long])]]) =>
          var stored = state.getOption.getOrElse(Vector.empty)
          val out = Vector.newBuilder[Hit]
          it.toSeq.sortBy(_.doc_id).foreach { r =>
            stored.foreach { case (pid, psig) =>
              if (pid < r.doc_id && agrees(psig, r.sig, tauNum, tauDenom))
                out += Hit(r.doc_id, pid)
            }
            if (stored.size < maxBucket) stored = stored :+ (r.doc_id -> r.sig)
          }
          state.update(stored)
          out.result().iterator
      }
  }

  /** Replay the documents parquet through the stateful plan; returns
    * (doc_id, keep_id) — the q39-style keeper assignment. */
  def replayParquet(spark: SparkSession, dir: String,
                    shingleK: Int = 3, numBands: Int = 4, rowsPerBand: Int = 2,
                    tauNum: Int = 1, tauDenom: Int = 2, seed: Long = 42L,
                    maxBucket: Int = Int.MaxValue,
                    queryName: String = "stream_neardup"): DataFrame = {
    import spark.implicits._
    NativeFns.register(spark)
    val params = HashFns.hashParams(numBands * rowsPerBand, seed)

    val stream = ReplayStage.tableStream(spark, dir, "documents")
      .select(col("doc_id"),
        HashFns.wordShingles(TextFns.wordTokens(col("text")), shingleK).as("_sh"))
      .select(col("doc_id"),
        NativeFns.minhash(
          HashFns.shingleHashesWith(col("_sh"), HashFns.md5Hash), params).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(HashFns.lshBandKeysPlain(col("sig"), numBands, rowsPerBand)).as("bk"))
      .as[(Long, Array[Long], String)]
      .map { case (id, sig, bk) => BandRow(bk, id, sig) }

    val hits = ReplayStage.memorySink(
      bucketHits(stream, tauNum, tauDenom, maxBucket), queryName, "append")

    // batch post-pass over the completed replay: min keeper per doc,
    // docs with no hit keep themselves (q39-style keeper contract)
    val kp = hits
      .groupBy(col("doc_id")).agg(min(col("keeper")).as("_keep"))
    spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
      .join(kp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("_keep"), col("doc_id")).as("keep_id"))
  }
}
