package graft.streaming

import java.nio.file.Paths

import graft.operators.DedupIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ingest-dedup loop under the EARLIEST-SEEN keeper contract —
  * [[StreamDeltaDedup]] (x57) without its id-ordered-staging caveat.
  *
  * x57's exactness leans on batches arriving in id order (so "keeper =
  * min id" distributes over batches). A production ingest arrives in
  * EVENT-TIME order, where a later batch can carry a smaller id; the
  * production semantics there is "keep the copy seen FIRST": keeper(d)
  * = the partner minimizing (batch, id) lexicographically among d's
  * confirmed duplicates seen no later than d (corpus docs rank batch
  * −1; within a batch, smaller id = earlier). This module implements
  * that contract and its oracle reproduces it as a plain batch
  * (rank, id) row-order argmin — removing the caveat by changing the
  * CONTRACT to the arrival-robust one rather than constraining the
  * staging.
  *
  * Mechanics per micro-batch k: probe the persisted index for verified
  * PAIRS ([[DedupIndex.deltaPairs]] with `anyIndexedPartner = true` —
  * an indexed partner was seen strictly earlier whatever its id), rank
  * each partner (in-batch → k, in the seen-map → its recorded batch,
  * else −1 = corpus), take the struct-min partner per doc, then fold
  * the batch into the index AND the seen-map. Both folds are
  * RETRY-IDEMPOTENT as published units: the index via
  * [[DedupIndex.appendTagged]] and the seen-map via the same
  * `ingest-<tag>` publish ([[graft.sources.PartitionMaintenance
  * .publishTagged]]), so a foreachBatch redelivery after a crash at ANY
  * point converges to one copy of the batch — no marker-creation window
  * can double-append (the round-17 advice item; the `_appended_` marker
  * is now only a skip fast-path). Keeper rows land in batchId-named
  * subdirs with overwrite.
  *
  * The seen-map is a parquet (doc_id, seen) table written
  * `partitionBy(_ibkt)` — the SAME id-bucket layout as the index's docs
  * table, so at daily cadence its listing growth is curable by the same
  * [[graft.sources.PartitionMaintenance]] compact that maintains the
  * index (it would otherwise accrete one file generation per batch
  * forever — the disease the indexes were cured of in round 17).
  * [[auditSeen]]/[[compactSeen]] expose that surface; compaction is
  * layout-only, so probes after it are identical (spec-pinned).
  *
  * Deployment note: the PRODUCTION-GRADE pieces here — the index folds
  * (appendTagged → publishTagged) and the seen-map writes/maintenance —
  * run on the Hadoop FileSystem resolved from their own paths and work
  * on any scheme. The REPLAY-HARNESS pieces (temp-dir staging with
  * crafted mtimes, java.nio `_appended_` skip markers, per-run sink
  * resets) are deliberately local: they exist to stage a deterministic
  * fixture for the oracle, not to ship; a production loop gets retry
  * safety from the folds' idempotence alone.
  *
  * The delta is staged as `numBatches` ARRIVAL-ordered parts keyed by a
  * portable hash (`md5('arr:' || doc_id) % numBatches` — the documents
  * table carries no event time, and a hash decorrelates batch order
  * from id order, which is exactly what makes the contract non-vacuous:
  * at sf0.01 with 2 batches, seven of the hundred delta keepers differ
  * from the id-ordered contract's). N ≥ 3 exercises cross-batch keeper
  * chains (a duplicate seen in batches 0 AND 2 but not 1) that two
  * batches cannot — the ingest-replay spec gates one with planted
  * duplicates. Runs UNCAPPED like x57 (a bucket cap is prefix-dependent
  * across batches). */
object StreamDeltaDedupArrival {

  /** Maintenance surface for a seen-map at `dir` (one `_ibkt` level —
    * the docs-table layout). */
  def seenTables(dir: String): Seq[(String, String, Int)] =
    Seq(("seen", dir, 1))

  def auditSeen(spark: SparkSession, dir: String): DataFrame =
    graft.sources.PartitionMaintenance.audit(spark, seenTables(dir))

  def compactSeen(spark: SparkSession, dir: String,
                  maxFilesPerPartition: Int = 4)
      : Seq[graft.sources.PartitionMaintenance.CompactStats] =
    graft.sources.PartitionMaintenance.compact(spark, seenTables(dir),
      maxFilesPerPartition)

  /** The earliest-seen keeper for one micro-batch, from the verified
    * pair set: rank each partner `a` — this batch → `batchId` (via the
    * `inBatch` membership frame), an earlier batch → its `seen` entry
    * (`_rs`), the corpus → −1 — and take the (rank, id) struct-min per
    * batch doc `b` among QUALIFIED partners: rank < batchId, or same
    * rank with `a < b`. The qualification filter is what makes this
    * correct under foreachBatch REDELIVERY: after a crash between the
    * index fold and the marker, the retried batch's own rows are
    * already indexed, so `deltaPairs(anyIndexedPartner = true)` emits
    * them as side-0 partners regardless of id (including a larger-id
    * same-batch copy, and the trivial self-pair) — those all carry
    * rank = batchId via `inBatch` and fail the filter, restoring
    * exactly the first-delivery pair semantics. On a first delivery the
    * filter passes every pair (indexed partners rank < batchId;
    * within-batch pairs carry a < b by deltaPairs' rule), so it is
    * behavior-neutral there. */
  private[streaming] def keeperForBatch(pairs: DataFrame, seen: DataFrame,
      inBatch: DataFrame, batchId: Long): DataFrame =
    pairs
      .join(seen, Seq("a"), "left")
      .join(inBatch, Seq("a"), "left")
      .withColumn("_ra", when(col("_inb").isNotNull, lit(batchId))
        .otherwise(coalesce(col("_rs"), lit(-1L))))
      .where(col("_ra") < lit(batchId) ||
        (col("_ra") === lit(batchId) && col("a") < col("b")))
      .groupBy(col("b"))
      .agg(min(struct(col("_ra"), col("a"))).as("_m"))
      .select(col("b").as("doc_id"), col("_m.a").as("keep_id"))

  /** Build+save the corpus index under `stageDir/idx`, stream the delta
    * through probe-then-append in `numBatches` arrival-ordered
    * micro-batches, return one (doc_id, keep_id) row per delta doc
    * under the earliest-seen contract. */
  def replayParquet(spark: SparkSession, dir: String, stageDir: String,
                    deltaMod: Int, shingleK: Int, numBands: Int,
                    rowsPerBand: Int, seed: Long, tauNum: Int, tauDenom: Int,
                    queryName: String = "stream_delta_dedup_arrival",
                    numBatches: Int = 2,
                    compactSeenAfterBatch: Option[Long] = None): DataFrame = {
    val docs = graft.sources.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % deltaMod =!= 0)
    val delta = docs.where(col("doc_id") % deltaMod === 0)
    replayFrames(spark, corpus, delta, stageDir, shingleK, numBands,
      rowsPerBand, seed, tauNum, tauDenom, queryName, numBatches,
      compactSeenAfterBatch)
  }

  /** [[replayParquet]] over caller-provided corpus/delta frames — the
    * entry the N≥3 planted-chain spec drives with synthetic documents.
    * @param compactSeenAfterBatch run [[compactSeen]] inside the loop
    *   right after this batch's fold — the in-loop maintenance step
    *   (x66 passes `Some(1)`: compaction lands between batches 2 and 3
    *   and the unchanged oracle witnesses it changed nothing). */
  def replayFrames(spark: SparkSession, corpus: DataFrame, delta: DataFrame,
                   stageDir: String, shingleK: Int, numBands: Int,
                   rowsPerBand: Int, seed: Long, tauNum: Int, tauDenom: Int,
                   queryName: String, numBatches: Int,
                   compactSeenAfterBatch: Option[Long] = None): DataFrame = {
    val idxDir = s"$stageDir/idx"
    val outDir = s"$stageDir/out_$queryName"
    val seenDir = s"$stageDir/seen_$queryName"


    // fresh sinks per run (multi-pass bench discipline, see x57)
    ReplayStage.deleteRecursively(Paths.get(outDir))
    ReplayStage.deleteRecursively(Paths.get(seenDir))

    DedupIndex.build(corpus, "doc_id", "text",
      shingleK = shingleK, numBands = numBands, rowsPerBand = rowsPerBand,
      seed = seed, sqlMirroredHashes = true).save(idxDir)
    val idx0 = DedupIndex.load(spark, idxDir, "doc_id")
    val idBuckets = idx0.meta.idBuckets
    ReplayStage.sweepAppendMarkers(idxDir)
    // empty PARTITIONED seen-map (only _SUCCESS lands — no part files,
    // no root/partition layout conflict) so batch 0 has a table to miss
    // against; every later fold adds _ibkt=K dirs
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, seen BIGINT, _ibkt INT"))
      .write.mode("overwrite").partitionBy("_ibkt").parquet(seenDir)

    // arrival key: portable hash, deliberately DECORRELATED from ids
    ReplayStage.replayParts(
        ReplayStage.arrivalParts(delta, "doc_id", numBatches)) { stream =>
      ReplayStage.foreachBatch(stream, queryName) {
        (batch: DataFrame, batchId: Long) =>
          val idx = DedupIndex.load(spark, idxDir, "doc_id")
          // sketch ONCE per batch; probe and fold share it (see
          // StreamDeltaDedup — same shared-sketch pattern)
          val (bs, ds) = idx.sketched(batch, "text")
          val pairs = idx.deltaPairsSketched(bs, ds, tauNum = tauNum,
            tauDenom = tauDenom, maxBucket = Int.MaxValue,
            anyIndexedPartner = true)
          val seen = spark.read
            .schema("doc_id BIGINT, seen BIGINT, _ibkt INT").parquet(seenDir)
            .select(col("doc_id").as("a"), col("seen").as("_rs"))
          val inBatch = batch.select(col("doc_id").as("a"),
            lit(1).as("_inb"))
          val keep = keeperForBatch(pairs, seen, inBatch, batchId)
          batch.select(col("doc_id"))
            .join(keep, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
            .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
          // fold the batch in: index AND seen-map, each an idempotent
          // tagged unit (a retry sweeps its own previous attempt), so
          // the marker is a skip fast-path, not a correctness gate —
          // there is no crash window that double-appends
          ReplayStage.foldOncePerBatch(idxDir, batchId) {
            idx.appendTaggedSketched(bs, ds, idxDir, tag = s"b$batchId")
            val seenStaging = s"$seenDir/.staging_seen_b$batchId"
            // clustered by the partition key like every index write:
            // one part per touched _ibkt dir per batch, and the publish
            // below renames each part serially on the driver
            batch.select(col("doc_id"), lit(batchId).as("seen"),
                DedupIndex.idBucket(col("doc_id"), idBuckets).as("_ibkt"))
              .repartition(col("_ibkt"))
              .write.mode("overwrite").partitionBy("_ibkt")
              .parquet(seenStaging)
            graft.sources.PartitionMaintenance.publishTagged(spark,
              seenStaging, seenDir, depth = 1, tag = s"b$batchId")
          }
          // in-loop seen-map maintenance (x68 compacts its index the
          // same way): layout-only — the registered oracle is unchanged,
          // so a green gate doubles as the compaction-neutrality proof
          if (compactSeenAfterBatch.contains(batchId))
            compactSeen(spark, seenDir, maxFilesPerPartition = 1)
          graft.Caches.release()
          ()
      }
    }
    spark.read.schema("doc_id BIGINT, keep_id BIGINT")
      .option("recursiveFileLookup", "true")
      .parquet(outDir)
      .select(col("doc_id"), col("keep_id"))
  }
}
