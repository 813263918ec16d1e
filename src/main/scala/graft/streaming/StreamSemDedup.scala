package graft.streaming

import java.nio.file.Paths

import graft.operators.SemDedupIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The SEMANTIC ingest-dedup loop live — [[StreamDeltaDedup]] (x57) for
  * the embedding index: micro-batches of new vectors probe the
  * persisted [[SemDedupIndex]] via foreachBatch (no watermark, no
  * streaming state — the durable cell-partitioned INDEX is the state,
  * shared with the batch path), write their keeper assignments to a
  * parquet sink, then fold themselves in so the next batch dedups
  * against corpus ∪ earlier batches. With x57 (minhash bands) and this
  * module, ALL the persisted dedup indexes run in the live loop, not
  * just the batch lifecycle.
  *
  * Exactness contract (q258's oracle, the semantic family's FIFTH
  * construction): the delta is staged as ID-ORDERED parts (id range cut
  * into `numBatches` equal spans, mtime order = processing order), so
  * every cross-batch duplicate pair has the earlier batch's vector as
  * the smaller id — exactly the pairs the one-shot
  * [[SemDedupIndex.deltaDedup]] scores. The union of per-batch keepers
  * therefore EQUALS the one-shot run (and the DuckDB oracle) row for
  * row. Runs uncapped (the x57 convention: a cell cap is
  * prefix-dependent across batches).
  *
  * Retry safety: the per-batch fold is [[SemDedupIndex.appendTagged]]
  * — an idempotent published unit — so the `_appended_` marker is a
  * skip fast-path, and keeper rows land in batchId-named overwrite
  * subdirs. */
object StreamSemDedup {

  /** Build+save the orthant corpus index under `stageDir/idx`, stream
    * the delta through probe-then-append in `numBatches` id-ordered
    * micro-batches, return one (vec_id, keep_id) row per delta vector. */
  def replayParquet(spark: SparkSession, dir: String, stageDir: String,
                    deltaMod: Int, bits: Int, tau: Double,
                    queryName: String = "stream_sem_dedup",
                    numBatches: Int = 2): DataFrame = {
    val emb = graft.sources.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.where(col("vec_id") % deltaMod =!= 0)
    val delta = emb.where(col("vec_id") % deltaMod === 0)
    val idxDir = s"$stageDir/idx"
    val outDir = s"$stageDir/out_$queryName"


    ReplayStage.deleteRecursively(Paths.get(outDir)) // fresh sink per run (multi-pass bench)

    SemDedupIndex.buildOrthant(corpus, "vec_id", "embedding", bits = bits)
      .save(idxDir)
    // fresh build = fresh append history: stale markers from a previous
    // pass in the same JVM must not suppress this run's folds
    ReplayStage.sweepAppendMarkers(idxDir)

    // id-ordered N-part staging (the x57 split, see StreamDeltaDedup)
    ReplayStage.replayParts(
        ReplayStage.idRangeParts(delta, "vec_id", numBatches)) { stream =>
      ReplayStage.foreachBatch(stream, queryName) {
        (batch: DataFrame, batchId: Long) =>
          val idx = SemDedupIndex.load(spark, idxDir, "vec_id")
          // assign ONCE per batch: the probe and the fold below share
          // the persisted normalize+route frame instead of each
          // re-running it (the StreamDeltaDedup shared-sketch pattern
          // for the embedding index — values deterministic, decisions
          // unchanged)
          val deltaN = idx.assigned(batch, "embedding")
          idx.deltaDedupAssigned(batch.select(col("vec_id")), deltaN,
              tau = tau)
            .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
          ReplayStage.foldOncePerBatch(idxDir, batchId) {
            idx.appendTaggedAssigned(deltaN, idxDir, tag = s"b$batchId")
          }
          graft.Caches.release()
          ()
      }
    }
    spark.read.schema("vec_id BIGINT, keep_id BIGINT")
      .option("recursiveFileLookup", "true")
      .parquet(outDir)
      .select(col("vec_id"), col("keep_id"))
  }
}
