package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Two strategies:
  *  - [[bruteForceTopK]] — exact cosine top-k; the query side is
  *    broadcast, the corpus is scanned once, per-query top-k via
  *    partitioned window. Right answer whenever |queries| is small; at
  *    100 TB the corpus scan is embarrassingly parallel and never
  *    shuffles the corpus (only k rows per query per partition survive
  *    the window — Spark pushes the rank filter into a partial top-k).
  *  - [[ivfTopK]] — IVF-style: KMeans-partition the corpus into nlist
  *    cells, search only the nprobe nearest cells per query. Trades
  *    recall for a 1/nlist·nprobe scan fraction; the cell assignment is
  *    a one-off model fit reused across queries.
  */
object Similarity {

  /** Exact brute-force cosine top-k.
    * @param queries (qidCol, vecCol) rows — must be broadcast-sized.
    * @param corpus  (idCol, vecCol) rows.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qidCol: String, idCol: String, vecCol: String,
                     k: Int, includeSelf: Boolean = false): DataFrame = {
    graft.functions.NativeFns.register(queries.sparkSession)
    // normalize each side once; scoring is then a single native dot
    val q = broadcast(queries.select(col(qidCol),
      VectorFns.l2Normalize(col(vecCol)).as("_qv")))
    val c = corpus.select(col(idCol), VectorFns.l2Normalize(col(vecCol)).as("_cv"))
    val scored = q.crossJoin(c)
      .where(if (includeSelf) lit(true) else col(qidCol) =!= col(idCol))
      .withColumn("_cos", graft.functions.NativeFns.dot(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("_cos").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("_cos").as("cosine"))
  }

  /** IVF top-k: cluster the corpus with KMeans (nlist cells), then for
    * each query search the nprobe cells whose centroids are nearest.
    *
    * The centroid table is tiny (nlist rows) and broadcast twice: once
    * to route queries, once as part of the probe join. The big join
    * (queries × their probed cells' members) shuffles on the cell id —
    * each query touches ~corpus·nprobe/nlist rows instead of the full
    * corpus.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              qidCol: String, idCol: String, vecCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4,
              seed: Long = 11L, cellIter: Int = 8): DataFrame = {
    // cellIter is deliberately small: IVF cells are a routing partition,
    // not an analysis clustering — recall comes from nprobe, so fully
    // converged centroids buy nothing but iteration jobs
    val corpusV = corpus.select(col(idCol), col(vecCol))
    val cfg = IvfIndex.cellConfig(vecCol, nlist, seed, cellIter)
    val model = graft.cluster.Clustering.fit(corpusV, cfg)
    // normalize the corpus once at assignment time — scoring per probe
    // pair is then a single native dot product
    val assigned = graft.cluster.Clustering.assign(model, corpusV, cfg)
      .select(col(idCol), VectorFns.l2Normalize(col(vecCol)).as("_cnv"), col("_cell"))

    // centroid table as plain arrays (tiny — nlist rows)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq.toDF("_cell", "_centroid")

    // route each query to its nprobe nearest centroids
    val qc = broadcast(queries.select(col(qidCol), col(vecCol).as("_qv")))
      .crossJoin(broadcast(centroids))
      .withColumn("_cdist", VectorFns.sqDist(col("_qv"), col("_centroid")))
    val wq = Window.partitionBy(col(qidCol)).orderBy(col("_cdist").asc, col("_cell").asc)
    val probes = qc.withColumn("_pr", row_number().over(wq))
      .where(col("_pr") <= nprobe)
      .select(col(qidCol), VectorFns.l2Normalize(col("_qv")).as("_qnv"), col("_cell"))

    graft.functions.NativeFns.register(queries.sparkSession)
    val scored = probes.join(assigned, Seq("_cell"))
      .where(col(qidCol) =!= col(idCol))
      .withColumn("_cos", graft.functions.NativeFns.dot(col("_qnv"), col("_cnv")))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("_cos").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("_cos").as("cosine"))
  }
}
