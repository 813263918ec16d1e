package graft.streaming

import graft.operators.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ANN serving index's ingest loop live — new vectors arrive in
  * micro-batches and are folded into the persisted [[IvfIndex]] via
  * foreachBatch ([[IvfIndex.appendTagged]]: routed onto the FIXED cells
  * of the persisted router, no refit, retry-idempotent), then the
  * maintained index is compacted and searched. With x57 (minhash),
  * x67 (semantic cells) and this module, all THREE persisted indexes
  * run their append lifecycle inside the live loop.
  *
  * Exactness contract (q261's oracle, the IVF lifecycle's SECOND
  * construction): appends are route-on-fixed-cells, so the final corpus
  * is the same whatever the batch ORDER or COUNT — streamed ingest must
  * be indistinguishable from the one-shot 80% assignment at search
  * time. The batches are therefore staged by the ARRIVAL hash (id-
  * decorrelated, the x60 staging), the adversarial order for anything
  * order-sensitive; a hash match against q261's verbatim oracle proves
  * stream-fold ≡ batch-fold ≡ one-shot. Compaction between the last
  * fold and the search exercises the maintenance step in-loop.
  *
  * Both router families run this loop: the registered x68 gates the
  * SQL-mirrorable [[IvfIndex.SeededRouter]] under the oracle; the
  * PRODUCTION [[IvfIndex.KMeansRouter]] family — whose per-batch
  * `load` exercises the family-detection path where round 18's review
  * found the stale-artifact bug — is driven through the same
  * [[streamFold]] by IngestReplaySpec, which pins streamed-fold ≡
  * batch-fold search consistency and a rebuild-with-the-other-family
  * round trip. */
object StreamIvfIngest {

  /** Stream `delta` into the ALREADY-SAVED index at `idxDir` as
    * `numBatches` arrival-hash micro-batches — each batch loads the
    * persisted index (router family auto-detected), folds itself in
    * with the idempotent [[IvfIndex.appendTagged]], and releases its
    * scratch. The staging/marker mechanics are replay-harness pieces
    * (see [[StreamDeltaDedupArrival]]'s deployment note); the folds
    * themselves are the production path. */
  def streamFold(spark: SparkSession, idxDir: String, delta: DataFrame,
                 numBatches: Int, queryName: String,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): Unit = {
    // arrival-hash staging: order-decorrelated from ids on purpose —
    // the appends must not care
    ReplayStage.replayParts(
        ReplayStage.arrivalParts(delta, idCol, numBatches)) { stream =>
      ReplayStage.foreachBatch(stream, queryName) {
        (batch: DataFrame, batchId: Long) =>
          val idx = IvfIndex.load(spark, idxDir, idCol)
          ReplayStage.foldOncePerBatch(idxDir, batchId) {
            idx.appendTagged(batch, vecCol, idxDir, tag = s"b$batchId")
          }
          graft.Caches.release()
          ()
      }
    }
  }

  /** Build+save an index on the base corpus under `stageDir/idx`
    * (seeded router by default — the oracle-mirrorable x68 form; pass
    * `kmeansRouter = true` for the production family), stream the
    * day-1 delta through `numBatches` append-only micro-batches,
    * compact, then search `queries` at (k, nprobe). */
  def replayParquet(spark: SparkSession, dir: String, stageDir: String,
                    deltaMod: Int, nlist: Int, k: Int, nprobe: Int,
                    queryIdBound: Long,
                    queryName: String = "stream_ivf_ingest",
                    numBatches: Int = 2,
                    kmeansRouter: Boolean = false): DataFrame = {
    val emb = graft.sources.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = emb.where(col("vec_id") % deltaMod =!= 0
      && col("vec_id") % deltaMod =!= 1)
    val day1 = emb.where(col("vec_id") % deltaMod === 1)
    val idxDir = s"$stageDir/idx"

    val built =
      if (kmeansRouter) IvfIndex.build(base, "vec_id", "embedding",
        nlist = nlist)
      else IvfIndex.buildSeeded(base, "vec_id", "embedding", nlist = nlist)
    built.save(idxDir)
    ReplayStage.sweepAppendMarkers(idxDir)

    streamFold(spark, idxDir, day1, numBatches, queryName)
    IvfIndex.compact(spark, idxDir, maxFilesPerPartition = 1)
    IvfIndex.load(spark, idxDir, "vec_id")
      .search(emb.where(col("vec_id") % deltaMod === 0
            && col("vec_id") < queryIdBound)
          .select(col("vec_id").as("query_id"), col("embedding")),
        "query_id", "embedding", k = k, nprobe = nprobe)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"))
  }
}
