package graft.operators

import graft.functions.VectorFns
import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) index for approximate nearest-neighbor
  * search — the durable form of [[Similarity.ivfTopK]].
  *
  * [[Similarity.ivfTopK]] re-fits the cell router and re-assigns the
  * corpus on every call; fine for one-off queries, wrong for a serving
  * corpus that is searched repeatedly. `build` fits the KMeans router
  * once and `save` persists BOTH halves of the index:
  *
  *  - the router under `dir/router` (Spark ML `KMeansModel`
  *    persistence) or `dir/seeded_router` (a tiny centroid parquet —
  *    see [[IvfIndex.buildSeeded]]);
  *  - the cell-assigned, L2-normalized corpus under `dir/corpus`,
  *    written `partitionBy(_cell)` — each cell is its own directory,
  *    so a probe of `nprobe` cells becomes a partition-pruned scan
  *    that READS only `nprobe/nlist` of the corpus bytes. At 100 TB
  *    this is the difference between an ANN query doing I/O
  *    proportional to the probe set and one re-scanning the corpus:
  *    the pruning happens in the parquet source from the `_cell IN (…)`
  *    filter, before any row is materialized.
  *
  * `search` then runs the probe join against the loaded corpus with the
  * identical scoring (native dot product on normalized vectors,
  * deterministic `(cosine desc, id asc)` tie-break) as the transient
  * operator, so a persisted index returns exactly what `ivfTopK` with
  * the same router would.
  *
  * Two router families, the [[SemDedupIndex]] dual-router pattern:
  * [[IvfIndex.build]] fits a production KMeans router (float fit — not
  * SQL-expressible, spec-verified); [[IvfIndex.buildSeeded]] uses the
  * q144 deterministic quantizer (seed centroids = the `nlist` corpus
  * vectors first in md5 order, row-local argmin assignment with the
  * left-to-right d2 fold), so the WHOLE lifecycle —
  * build → append → compact → search — is reproducible in DuckDB and
  * can sit behind an oracle-backed registry entry (q261). The router
  * only changes how vectors land in cells; search, append, compact are
  * router-agnostic.
  */
final class IvfIndex private (val router: IvfIndex.Router,
                              val corpus: DataFrame,
                              val idCol: String,
                              owned: Option[DataFrame] = None) {

  /** Release the cell-assignment cache a `build` persisted (no-op for
    * a loaded index). Long-lived index state gets its OWN lifecycle so
    * a request loop calling [[graft.Caches.release]] per query cannot
    * silently drop an index it intends to keep serving — see the
    * `track` parameter on [[IvfIndex.build]]. */
  def close(): Unit = owned.foreach(_.unpersist(blocking = false))

  /** (qidCol, _qnv, _cell) — one row per (query, probed cell), cells
    * ranked ROW-LOCALLY against the broadcast centroid literals
    * ([[IvfIndex.Router.nearestCells]]): no shuffle, no window, no
    * crossJoin — the probe-ranking stage is map-only for any query
    * cardinality. */
  private def probeRows(queries: DataFrame, qidCol: String, vecCol: String,
                        nprobe: Int): DataFrame =
    queries.select(col(qidCol),
      VectorFns.l2Normalize(col(vecCol)).as("_qnv"),
      explode(router.nearestCells(col(vecCol), nprobe)).as("_cell"))

  /** The probed cell ids as literals — ≤ nlist DISTINCT values whatever
    * the query count, so the driver-side collect is bounded by the
    * router size, never the data. Pushed as an IN filter, this is
    * STATIC partition pruning on the `partitionBy(_cell)` corpus: the
    * scan lists only the probed cell directories (visible as
    * PartitionFilters), no reliance on dynamic-partition-pruning
    * kicking in at runtime. */
  private def probedCells(probed: DataFrame): Seq[Int] =
    probed.select(col("_cell")).distinct().collect().map(_.getInt(0)).toSeq

  /** Shared scoring tail: native dot on normalized vectors, top-k per
    * query with the deterministic `(cosine desc, id asc)` tie-break. */
  private def topK(scored: DataFrame, qidCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("_cos").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("_cos").as("cosine"))
  }

  /** Top-k cosine neighbors per query over the `nprobe` nearest cells.
    * @param queries (qidCol, vecCol) rows — must be broadcast-sized
    *   (the probe side is broadcast to the pruned corpus scan, so no
    *   corpus byte moves); for query sets beyond broadcast size use
    *   [[searchBulk]], which shuffles instead. */
  def search(queries: DataFrame, qidCol: String, vecCol: String,
             k: Int, nprobe: Int = 4): DataFrame = {
    graft.functions.NativeFns.register(corpus.sparkSession)
    val probed = graft.Caches.persist(
      probeRows(queries, qidCol, vecCol, nprobe))
    val pruned = corpus.where(col("_cell").isin(probedCells(probed): _*))
    val scored = pruned.join(broadcast(probed), Seq("_cell"))
      .where(col(qidCol) =!= col(idCol))
      .withColumn("_cos", graft.functions.NativeFns.dot(col("_qnv"), col("_cnv")))
    topK(scored, qidCol, k)
  }

  /** [[search]] for query sets that do NOT fit a broadcast — the bulk
    * serving path: millions of queries are routed onto cells by the
    * same row-local [[IvfIndex.Router.nearestCells]] ranking, then
    * corpus ⋈ queries runs per `_cell` as a SHUFFLE join (explicit
    * shuffled-hash hint — no BroadcastExchange on either side and no
    * sort of either side, plan-pinned in IvfIndexSpec), and the
    * identical `(cosine desc, id asc)` top-k window finishes per
    * query. Returns exactly what [[search]]
    * returns for the same inputs.
    *
    * `_cell` alone has ≤ nlist distinct values — a shuffle keyed on it
    * caps parallelism at nlist and concentrates hot cells on single
    * tasks. The join is therefore SALTED: corpus rows get a
    * deterministic id-hash salt in `[0, saltFactor)`, probe rows are
    * replicated across all `saltFactor` salt values, and the join key
    * is `(_cell, _salt)` — nlist·saltFactor-way parallelism for the
    * cost of replicating the (narrow) probe rows. Static partition
    * pruning on the corpus scan still applies: the DISTINCT probed
    * cell list stays ≤ nlist however many queries there are. */
  def searchBulk(queries: DataFrame, qidCol: String, vecCol: String,
                 k: Int, nprobe: Int = 4, saltFactor: Int = 8): DataFrame = {
    require(saltFactor >= 1, s"searchBulk: saltFactor=$saltFactor")
    graft.functions.NativeFns.register(corpus.sparkSession)
    val probed = graft.Caches.persist(
      probeRows(queries, qidCol, vecCol, nprobe))
    val pruned = corpus.where(col("_cell").isin(probedCells(probed): _*))
    val salted = pruned.withColumn("_salt",
      pmod(xxhash64(col(idCol).cast("string")), lit(saltFactor.toLong))
        .cast("int"))
    val replicated = probed.withColumn("_salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    // SHUFFLE_HASH, not merge: neither side needs a sort — the (narrow,
    // deliberately replicated) probe side builds the per-partition hash
    // table, the corpus side streams (guide §3.1: shuffled hash beats
    // sort-merge when one side is moderately small per partition; salt
    // keeps every build slice at |probes|·nprobe/(nlist·saltFactor)).
    // Still no BroadcastExchange on either side (plan-pinned).
    //
    // GATED on the build side's size (round-19 advice): the build rows
    // carry the full _qnv vector, and a ShuffledHashJoin's build map
    // cannot spill the way sort-merge degrades gracefully — a probe
    // batch big enough that the replicated side stops being "moderately
    // small per partition" falls back to merge instead of OOMing. The
    // count is free: `probed` is persisted and consumed by this join
    // anyway (probedCells already materialized it). Join strategy only;
    // the joined row set is identical either way.
    val buildRows = probed.count() * saltFactor
    val maxBuildRows = corpus.sparkSession.conf
      .getOption("graft.ivf.bulkHashJoinMaxBuildRows")
      .map(_.toLong).getOrElse(8000000L)
    val probeSide =
      if (buildRows <= maxBuildRows) replicated.hint("shuffle_hash")
      else replicated.hint("merge")
    val scored = salted.join(probeSide, Seq("_cell", "_salt"))
      .where(col(qidCol) =!= col(idCol))
      .withColumn("_cos", graft.functions.NativeFns.dot(col("_qnv"), col("_cnv")))
      // shed the wide vector columns BEFORE the per-query shuffle: the
      // top-k window moves only (qid, id, cos) rows
      .select(col(qidCol), col(idCol), col("_cos"))
    topK(scored, qidCol, k)
  }

  /** Persist both halves of the index (overwrites `dir`). The corpus is
    * CLUSTERED by `_cell` before the partitioned write — one part per
    * cell dir instead of one per (task, cell); see [[DedupIndex.save]]
    * for the measured small-file counts this avoids (guide §6). */
  def save(dir: String): Unit = {
    router.save(dir)
    corpus.repartition(col("_cell")).write.mode("overwrite")
      .partitionBy("_cell")
      .parquet(s"$dir/corpus")
  }

  /** Fold a new ingest batch into the saved index at `dir` WITHOUT a
    * refit — q242's maintenance regime made durable: route the batch
    * onto THIS index's existing cells (no retraining), normalize, and
    * append part files inside the touched cell directories — O(batch)
    * adds, no corpus rewrite. The [[IvfMaintenance.routingAudit]]
    * occupancy/drift report is the alarm that eventually triggers a
    * refit; until then appends keep the serving index current. Reload
    * after appending; this handle still sees the pre-append corpus. The
    * lifecycle mirrors [[DedupIndex.append]]/[[SemDedupIndex.append]] —
    * all three persisted indexes share the
    * build→save→load→probe→append→compact shape, with
    * [[compact]]/[[audit]] on the shared
    * [[graft.sources.PartitionMaintenance]] machinery. */
  def append(batch: DataFrame, vecCol: String, dir: String): Unit =
    router.assign(batch, idCol, vecCol).repartition(col("_cell"))
      .write.mode("append").partitionBy("_cell").parquet(s"$dir/corpus")

  /** [[append]] as an IDEMPOTENT unit keyed by `tag` — the
    * [[DedupIndex.appendTagged]] pattern for the ANN index: a
    * foreachBatch retry sweeps its own previous `ingest-<tag>` files
    * before republishing, so no crash point can double-append. */
  def appendTagged(batch: DataFrame, vecCol: String, dir: String,
                   tag: String): Unit = {
    val staging = s"$dir/.staging_corpus_$tag"
    router.assign(batch, idCol, vecCol).repartition(col("_cell"))
      .write.mode("overwrite")
      .partitionBy("_cell").parquet(staging)
    graft.sources.PartitionMaintenance.publishTagged(
      corpus.sparkSession, staging, s"$dir/corpus", depth = 1, tag = tag)
  }
}

object IvfIndex {

  /** Cell router: how a vector lands in a cell. Implementations must
    * assign IDENTICALLY at build and append time (append never refits),
    * and expose the centroid table `search` ranks probes against. */
  sealed trait Router {
    /** (cell, centroid) pairs — nlist rows, driver-resident. */
    def centers: Array[(Int, Array[Double])]
    /** (idCol, _cnv = L2-normalized vector, _cell) for every row. */
    def assign(df: DataFrame, idCol: String, vecCol: String): DataFrame
    def save(dir: String): Unit

    /** The `nprobe` nearest cells for a vector, ROW-LOCALLY: the
      * centroids ride the plan as literals (nlist of them — a router
      * config, not data), each row sorts its (d2, cell) pairs with the
      * same `(d2 asc, cell asc)` tie-break the crossJoin+window form
      * used, and takes the prefix. No shuffle at ANY query or corpus
      * cardinality — the fix for the round-18 advice item where
      * SeededRouter.assign forced a |corpus|×nlist shuffle through a
      * per-id window while the KMeans path was map-only. d2 is the
      * same left-to-right [[VectorFns.sqDist]] fold as before, so the
      * selection (and every downstream oracle) is bit-identical. */
    final def nearestCells(vec: org.apache.spark.sql.Column,
                           nprobe: Int): org.apache.spark.sql.Column = {
      val cents = array(centers.toIndexedSeq.map { case (c, ce) =>
        struct(typedlit(ce).as("ce"), lit(c).as("cell")) }: _*)
      graft.functions.ExprUtils.bind(VectorFns.toDoubles(vec)) { vd =>
        val sorted = array_sort(transform(cents, c =>
          struct(VectorFns.sqDist(vd, c.getField("ce")).as("d2"),
            c.getField("cell").as("cell"))))
        transform(slice(sorted, 1, nprobe), s => s.getField("cell"))
      }
    }
  }

  /** Delete the OTHER router family's artifact before saving this one:
    * [[load]] detects the family from the layout, so a stale
    * `seeded_router` (or `router`) left behind by a previous build of
    * the other family would be preferred over (or shadow) the one just
    * written — silently routing probes against centroids that do not
    * match the corpus's cell assignment. */
  private def clearOtherRouter(dir: String, other: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$other")
    val fs = p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** Production router: a fitted Spark ML KMeans model. */
  final class KMeansRouter(val model: KMeansModel) extends Router {
    def centers: Array[(Int, Array[Double])] =
      model.clusterCenters.zipWithIndex.map { case (v, i) => (i, v.toArray) }
    def assign(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
      import org.apache.spark.ml.functions.array_to_vector
      model.setPredictionCol("_cell")
        .transform(df.select(col(idCol), col(vecCol))
          .withColumn("_features",
            array_to_vector(VectorFns.toDoubles(col(vecCol)))))
        .select(col(idCol), VectorFns.l2Normalize(col(vecCol)).as("_cnv"),
          col("_cell"))
    }
    def save(dir: String): Unit = {
      clearOtherRouter(dir, "seeded_router")
      model.write.overwrite().save(s"$dir/router")
    }
  }

  /** Deterministic router (the q144 quantizer): fixed centroid arrays,
    * row-local argmin with the left-to-right d2 fold and the
    * (d2 asc, cell asc) tie-break — every decision SQL-expressible, so
    * the full index lifecycle can be oracle-witnessed. Assignment is
    * [[Router.nearestCells]] at nprobe = 1: MAP-ONLY, matching the
    * KMeans path (the previous crossJoin+per-id-window form shuffled
    * |corpus|×nlist rows by id — the round-18 advice item). Selection
    * is unchanged (same d2 fold, same tie-break), so q261/x68 gate the
    * rewrite under their verbatim oracles. */
  final class SeededRouter(spark: SparkSession,
                           val centers: Array[(Int, Array[Double])])
      extends Router {
    def assign(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.select(col(idCol), VectorFns.l2Normalize(col(vecCol)).as("_cnv"),
        element_at(nearestCells(col(vecCol), 1), 1).as("_cell"))
    def save(dir: String): Unit = {
      clearOtherRouter(dir, "router")
      import spark.implicits._
      centers.toSeq.toDF("_cell", "_centroid").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/seeded_router")
    }
  }

  /** The KMeans settings of every fitted cell router (this index's,
    * [[Similarity.ivfTopK]]'s, [[Pq.ivfPqTopK]]'s and
    * [[SemDedupIndex.buildKMeans]]'s): raw vectors, predictions in
    * `_cell`. */
  private[operators] def cellConfig(vecCol: String, nlist: Int, seed: Long,
                                    cellIter: Int): graft.cluster.Clustering.Config =
    graft.cluster.Clustering.Config(k = nlist, seed = seed, maxIter = cellIter,
      normalize = false, vecCol = vecCol, predictionCol = "_cell")

  /** Fit the cell router and assign the corpus.
    * @param cellIter small on purpose: cells are a routing partition,
    *   not an analysis clustering — recall comes from nprobe.
    * @param track `true` (default) registers the assignment cache in
    *   [[graft.Caches]] — right for per-query index builds whose caller
    *   releases after consuming (`Bench`/`Verify` loops). Pass `false`
    *   for a LONG-LIVED index that must survive global
    *   `Caches.release()` calls; the owner then frees it with
    *   [[IvfIndex.close]]. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            nlist: Int = 16, seed: Long = 11L, cellIter: Int = 8,
            track: Boolean = true): IvfIndex = {
    val router = new KMeansRouter(graft.cluster.Clustering.fit(
      corpus.select(col(idCol), col(vecCol)), cellConfig(vecCol, nlist, seed, cellIter)))
    val assigned0 = router.assign(corpus, idCol, vecCol)
    // assignment runs once; save/search both read it
    val assigned = if (track) graft.Caches.persist(assigned0)
                   else assigned0.persist()
    new IvfIndex(router, assigned, idCol, owned = Some(assigned))
  }

  /** Build under the DETERMINISTIC quantizer: seed centroids are the
    * `nlist` corpus vectors first in `md5("ivf:" || id)` order (ties by
    * id — the [[Pq]] md5-ordered-sample regime, no float fit), cells
    * assigned by row-local argmin d2. Every decision is reproducible in
    * plain SQL — the router variant the oracle-backed q261 lifecycle
    * entry runs on; production indexes use [[build]]'s KMeans router
    * (same search/append/compact code). */
  def buildSeeded(corpus: DataFrame, idCol: String, vecCol: String,
                  nlist: Int = 8): IvfIndex = {
    val spark = corpus.sparkSession
    // distributed TakeOrdered top-nlist by md5, never a corpus window
    val seedRows = corpus.select(col(idCol),
        VectorFns.toDoubles(col(vecCol)).as("_ve"))
      .withColumn("_h", graft.functions.HashFns.md5Hash60(
        concat(lit("ivf:"), col(idCol).cast("string"))))
      .orderBy(col("_h"), col(idCol)).limit(nlist)
      .collect()
    val centers = seedRows.zipWithIndex.map { case (r, i) =>
      (i, r.getSeq[Double](1).toArray)
    }
    val router = new SeededRouter(spark, centers)
    val assigned = graft.Caches.persist(
      router.assign(corpus, idCol, vecCol))
    new IvfIndex(router, assigned, idCol, owned = Some(assigned))
  }

  private def tables(dir: String) = Seq(("corpus", s"$dir/corpus", 1))

  /** Maintenance audit of a saved index at `dir`: one row per cell
    * directory with its part-file count and byte size — the
    * listing-cost companion of [[IvfMaintenance.routingAudit]]'s
    * occupancy report. Shared machinery:
    * [[graft.sources.PartitionMaintenance]]. */
  def audit(spark: SparkSession, dir: String): DataFrame =
    graft.sources.PartitionMaintenance.audit(spark, tables(dir))

  /** Rewrite cells whose part-file count exceeds `maxFilesPerPartition`
    * — O(touched cells); search-after-compact ≡ search-before
    * (IvfIndexSpec property; q261's oracle pins it for the seeded
    * lifecycle). */
  def compact(spark: SparkSession, dir: String, maxFilesPerPartition: Int = 4)
      : Seq[graft.sources.PartitionMaintenance.CompactStats] =
    graft.sources.PartitionMaintenance.compact(spark, tables(dir),
      maxFilesPerPartition)

  private[operators] val routerCache =
    new graft.sources.PartitionMaintenance.GenerationCache[Router]

  /** Load a saved index; the corpus scan stays lazy (and cell-pruned
    * at search time). Detects the router family from the layout. The
    * ROUTER is cached per dir at its latest generation — the
    * [[DedupIndex.load]] discipline: the ingest loop's per-batch load paid a centroid
    * read+collect (seeded) or a multi-job ML model load (kmeans) per
    * micro-batch for a router that appends never change; `save`
    * rewrites the router dir (new part names/mtimes) so a refit is
    * always a cache miss. The corpus frame is re-created every load so
    * appended part files stay visible. */
  def load(spark: SparkSession, dir: String, idCol: String): IvfIndex = {
    val seededPath = new org.apache.hadoop.fs.Path(s"$dir/seeded_router")
    val fs = seededPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val router: Router =
      if (fs.exists(seededPath))
        routerCache.get(spark, s"$dir/seeded_router") {
          val centers = spark.read.parquet(seededPath.toString)
            .collect()
            .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
            .sortBy(_._1)
          new SeededRouter(spark, centers)
        }
      else
        routerCache.get(spark, s"$dir/router")(
          new KMeansRouter(KMeansModel.load(s"$dir/router")))
    new IvfIndex(router, spark.read.parquet(s"$dir/corpus"), idCol)
  }
}
