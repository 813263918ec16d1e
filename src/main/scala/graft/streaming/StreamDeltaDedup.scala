package graft.streaming

import java.nio.file.Paths

import graft.operators.DedupIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ingest-dedup LOOP live — the pipeline [[DedupIndex]] exists for,
  * run as a stream: the delta arrives in micro-batches; each batch (1)
  * probes the persisted index for its keeper assignments and (2)
  * APPENDS itself to the index, so batch k dedups against
  * corpus ∪ batches 1..k−1 ∪ its own smaller ids. `foreachBatch` is the
  * right tool (this is a per-batch batch job over an external index —
  * no watermark, no streaming state; the INDEX is the state, durable
  * and shared with the batch path), and each batch's keepers land in a
  * parquet sink — nothing data-proportional touches the driver.
  *
  * Exactness contract (the q255 oracle, third construction): the delta
  * is staged as ID-ORDERED parts (id range cut into `numBatches` equal
  * spans, mtime order = processing order), so every cross-batch
  * duplicate pair has
  * the earlier batch's doc as the smaller id — exactly the pairs the
  * one-shot [[DedupIndex.deltaDedup]] of the whole delta scores. The
  * union of per-batch keepers therefore EQUALS the one-shot run (and
  * the DuckDB oracle) row for row. Runs UNCAPPED (`maxBucket` = ∞, the
  * q39 mirror convention): a bucket-size cap is prefix-dependent — a
  * key under the cap at batch 1 can exceed it once batch 2 lands — so
  * the capped streamed form is a (documented) monitor approximation,
  * while this registered mirror proves the pipeline exactly.
  *
  * A production ingest arriving in EVENT-TIME order (where a later
  * batch can carry a smaller id) wants the earliest-SEEN keeper
  * contract instead — implemented and oracle-mirrored by
  * [[StreamDeltaDedupArrival]] (x60), which removes the id-ordering
  * dependence by ranking partners on (batch, id).
  *
  * Deployment note: the index folds (appendTagged → publishTagged) are
  * FS-generic and retry-idempotent — the production-grade core. The
  * staging (temp dirs, crafted mtimes) and the `_appended_` skip
  * markers are replay-harness conveniences, deliberately local.
  */
object StreamDeltaDedup {

  /** Build+save the corpus index under `stageDir/idx`, stream the delta
    * through probe-then-append in `numBatches` id-ordered micro-batches
    * (id range split into equal spans — for n=2 exactly the historical
    * midpoint split), return one (idCol, keep_id) row per delta doc. */
  def replayParquet(spark: SparkSession, dir: String, stageDir: String,
                    deltaMod: Int, shingleK: Int, numBands: Int,
                    rowsPerBand: Int, seed: Long, tauNum: Int, tauDenom: Int,
                    queryName: String = "stream_delta_dedup",
                    numBatches: Int = 2): DataFrame = {
    val docs = graft.sources.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % deltaMod =!= 0)
    val delta = docs.where(col("doc_id") % deltaMod === 0)
    val idxDir = s"$stageDir/idx"
    val outDir = s"$stageDir/out_$queryName"

    // fresh result sink per run: the per-batch writer appends, and a
    // multi-pass bench re-running this query in one application must
    // not accumulate the previous pass's keepers

    ReplayStage.deleteRecursively(Paths.get(outDir))

    DedupIndex.build(corpus, "doc_id", "text",
      shingleK = shingleK, numBands = numBands, rowsPerBand = rowsPerBand,
      seed = seed, sqlMirroredHashes = true).save(idxDir)
    // a fresh build starts a fresh append history: stale markers from a
    // previous pass in the same JVM must not suppress this run's appends
    ReplayStage.sweepAppendMarkers(idxDir)

    // id-ordered N-part staging: processing order is id order
    ReplayStage.replayParts(
        ReplayStage.idRangeParts(delta, "doc_id", numBatches)) { stream =>
      // IDEMPOTENT per-batch side effects: foreachBatch may re-deliver a
      // batch after a failure (and this replay runs on a temp
      // checkpoint, so nothing else dedups retries). The keeper rows go
      // to a batchId-NAMED subdir with overwrite — a retry rewrites the
      // same subdir instead of appending duplicates — and the index
      // fold is appendTagged, an idempotent published unit whose retry
      // sweeps its own previous attempt: a crash between the fold and
      // the marker cannot double-append (the marker is a skip
      // fast-path, not the correctness gate).
      ReplayStage.foreachBatch(stream, queryName) {
        (batch: DataFrame, batchId: Long) =>
          val idx = DedupIndex.load(spark, idxDir, "doc_id")
          // sketch ONCE per batch: the probe and the fold below share
          // the persisted tokenize→shingle→minhash frames instead of
          // each re-running the batch's dominant CPU (DedupIndex
          // sketched/…Sketched — values deterministic, decisions
          // unchanged)
          val (bs, ds) = idx.sketched(batch, "text")
          idx.deltaDedupSketched(batch, bs, ds, tauNum = tauNum,
              tauDenom = tauDenom, maxBucket = Int.MaxValue)
            .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
          ReplayStage.foldOncePerBatch(idxDir, batchId) {
            idx.appendTaggedSketched(bs, ds, idxDir, tag = s"b$batchId")
          }
          graft.Caches.release() // the probe's per-batch scratch persists
          ()
      }
    }
    spark.read.schema("doc_id BIGINT, keep_id BIGINT")
      .option("recursiveFileLookup", "true") // per-batch subdirs
      .parquet(outDir)
      .select(col("doc_id"), col("keep_id"))
  }
}
