package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory-scale path for embedding
  * retrieval: split each D-dim vector into `m` subvectors, learn a
  * k-entry codebook per subspace, store each vector as `m` small codes
  * (here 8 bytes instead of 256 — a 32× compression), and answer
  * queries with asymmetric distance computation (ADC): per query, one
  * m×k lookup table of exact query-to-centroid sub-distances, then each
  * corpus vector scores as a sum of m table lookups — no float vector
  * ever touches the scan side again.
  *
  * Spark-first shape:
  *  - codebooks train driver-side on a DETERMINISTIC bounded sample
  *    (md5-ordered, `sampleN` rows) — the FAISS regime, where PQ
  *    codebooks are always fit on a small sample because k·m centroids
  *    saturate long before the corpus does. The collect is loudly
  *    guarded.
  *  - encode/search are row-local Catalyst expressions over a
  *    `typedLit` codebook (m·k·subDim doubles — a few KB in the plan):
  *    zero shuffles, whole-stage-codegen'd, corpus never leaves its
  *    partitions. Argmin ties break to the LOWEST code index via
  *    `array_position(d, array_min(d))`.
  *  - ADC search broadcasts the (bounded) query side with its LUT and
  *    scans codes; per-query top-k is a partitioned window (partial
  *    top-k pushdown), tie-break on id.
  *
  * At 100 TB: the code table is ~m bytes/vector — the entire point.
  * The corpus scan reads codes only (column-pruned), distances are m
  * integer-indexed lookups, and recall is tuned by m/k (and an IVF
  * coarse stage — compose with [[IvfIndex]] — exactly IVFPQ).
  */
object Pq {

  final case class Config(m: Int = 8, k: Int = 16, sampleN: Int = 256,
                          iters: Int = 10)

  /** codebooks(s)(c) = centroid c of subspace s (length subDim). */
  final case class Model(m: Int, subDim: Int,
                         codebooks: Array[Array[Array[Double]]])

  private val MaxSample = 65536

  /** Train per-subspace codebooks with Lloyd's k-means on an
    * md5-ordered sample (deterministic across layouts and engines):
    * init = first k distinct subvectors in sample order; empty
    * clusters keep their previous centroid; assignment ties break to
    * the lowest centroid index. */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
          cfg: Config = Config()): Model = {
    require(cfg.sampleN <= MaxSample,
      s"sampleN=${cfg.sampleN} exceeds the $MaxSample driver-collect guard")
    val hashed = corpus
      .select(col(idCol).cast("long").as("_id"),
        graft.functions.VectorFns.toDoubles(col(vecCol)).as("_v"))
      .withColumn("_h", graft.functions.HashFns.md5Hash60(
        concat(lit("pq:"), col("_id").cast("string"))))
      .orderBy(col("_h"), col("_id"))
      .limit(cfg.sampleN)
    val sample: Array[Array[Double]] = hashed.select(col("_v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "PQ fit: empty corpus")
    val dim = sample.head.length
    require(dim % cfg.m == 0, s"dim $dim not divisible by m=${cfg.m}")
    val subDim = dim / cfg.m

    val codebooks = Array.tabulate(cfg.m) { s =>
      val subs = sample.map(v => v.slice(s * subDim, (s + 1) * subDim))
      // deterministic init: first k DISTINCT subvectors in sample order
      val init = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      val seen = scala.collection.mutable.HashSet[Seq[Double]]()
      subs.iterator.takeWhile(_ => init.length < cfg.k).foreach { sv =>
        if (seen.add(sv.toSeq)) init += sv
      }
      var cents = init.toArray
      val kEff = cents.length // degenerate sample → fewer centroids
      var it = 0
      while (it < cfg.iters) {
        val sums = Array.fill(kEff)(new Array[Double](subDim))
        val cnts = new Array[Int](kEff)
        subs.foreach { sv =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < kEff) {
            var dsum = 0.0; var j = 0
            while (j < subDim) {
              val df = sv(j) - cents(c)(j); dsum += df * df; j += 1
            }
            if (dsum < bd) { bd = dsum; best = c }
            c += 1
          }
          cnts(best) += 1
          var j = 0
          while (j < subDim) { sums(best)(j) += sv(j); j += 1 }
        }
        cents = Array.tabulate(kEff) { c =>
          if (cnts(c) == 0) cents(c)
          else Array.tabulate(subDim)(j => sums(c)(j) / cnts(c))
        }
        it += 1
      }
      cents
    }
    Model(cfg.m, subDim, codebooks)
  }

  private def cbLit(model: Model): Column =
    typedLit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** Encode every corpus vector to its m nearest-centroid codes —
    * row-local, zero shuffles, via the native `graft_pq_encode`
    * expression (one JIT loop per row; the HOF twin below is the
    * parity reference). Output: (idCol, codes array<int>). */
  def encode(model: Model, corpus: DataFrame,
             idCol: String, vecCol: String): DataFrame = {
    graft.functions.NativeFns.register(corpus.sparkSession)
    corpus
      .select(col(idCol),
        graft.functions.NativeFns.pqEncode(
          graft.functions.VectorFns.toDoubles(col(vecCol)),
          cbLit(model)).as("codes"))
  }

  /** The HOF twin of [[encode]] — interpreted `transform`/`aggregate`
    * over the same arithmetic in the same fold order (the
    * single-element transform is SQL's lambda-let, binding the
    * m×k×subDim distance array once per subspace). Kept as the
    * bit-parity reference for the native expression (PqSpec), the
    * NativeFns convention. */
  private[graft] def encodeHof(model: Model, corpus: DataFrame,
                               idCol: String, vecCol: String): DataFrame = {
    val subDim = model.subDim
    corpus
      .select(col(idCol),
        graft.functions.VectorFns.toDoubles(col(vecCol)).as("_v"))
      .withColumn("_cb", cbLit(model))
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${model.m - 1}), s ->
           |  element_at(transform(array(
           |    transform(sequence(1, size(element_at(_cb, s + 1))), c ->
           |      aggregate(sequence(1, $subDim), CAST(0 AS DOUBLE),
           |        (a, j) -> a + (element_at(_v, s * $subDim + j)
           |                        - element_at(element_at(element_at(_cb, s + 1), c), j))
           |                     * (element_at(_v, s * $subDim + j)
           |                        - element_at(element_at(element_at(_cb, s + 1), c), j))))),
           |    d -> CAST(array_position(d, array_min(d)) - 1 AS INT)), 1))"""
          .stripMargin))
      .select(col(idCol), col("codes"))
  }

  /** ADC top-k: per query build the exact m×k sub-distance LUT
    * row-locally, broadcast (queries are bounded), scan the code table
    * summing m lookups per row, keep top-k per query (L2² asc, id asc).
    * Output: (qidCol, rank, idCol, adist). */
  def searchAdc(model: Model, codes: DataFrame, queries: DataFrame,
                qidCol: String, idCol: String, vecCol: String,
                k: Int): DataFrame = {
    val subDim = model.subDim
    val withLut = queries
      .select(col(qidCol),
        graft.functions.VectorFns.toDoubles(col(vecCol)).as("_qv"))
      .withColumn("_cb", cbLit(model))
      .withColumn("_lut", expr(
        s"""transform(sequence(0, ${model.m - 1}), s ->
           |  transform(sequence(1, size(element_at(_cb, s + 1))), c ->
           |    aggregate(sequence(1, $subDim), CAST(0 AS DOUBLE),
           |      (a, j) -> a + (element_at(_qv, s * $subDim + j)
           |                      - element_at(element_at(element_at(_cb, s + 1), c), j))
           |                   * (element_at(_qv, s * $subDim + j)
           |                      - element_at(element_at(element_at(_cb, s + 1), c), j)))))"""
          .stripMargin))
      .select(col(qidCol), col("_lut"))
    graft.functions.NativeFns.register(codes.sparkSession)
    val scored = broadcast(withLut).crossJoin(codes)
      .withColumn("adist",
        graft.functions.NativeFns.pqAdc(col("_lut"), col("codes")))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("adist").asc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("adist"))
  }

  /** IVFPQ (the composition Jégou et al. publish as IVFADC, and the
    * shape FAISS serves billion-vector corpora with): a KMeans coarse
    * quantizer routes vectors to `nlist` cells, PQ encodes the RESIDUAL
    * v − centroid(cell) (residuals concentrate near 0, so the same
    * codebook budget quantizes them far better than raw vectors), and a
    * query probes only its `nprobe` nearest cells with a per-(query,
    * cell) LUT over (q − centroid).
    *
    * Scale shape: the probe side is |queries|·nprobe rows and
    * broadcasts; the corpus side carries only (id, cell, m codes) and
    * joins on the cell key — at 100 TB with a `partitionBy(_cell)`
    * layout (see [[IvfIndex]]) that join is a partition-pruned scan of
    * nprobe/nlist of the data, and each scanned row costs m lookups. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                qidCol: String, idCol: String, vecCol: String,
                k: Int, nlist: Int = 8, nprobe: Int = 3,
                cfg: Config = Config(), seed: Long = 11L,
                cellIter: Int = 8): DataFrame = {
    val corpusV = corpus
      .select(col(idCol), graft.functions.VectorFns.toDoubles(col(vecCol)).as("_v"))
    val cellCfg = IvfIndex.cellConfig("_v", nlist, seed, cellIter)
    val router = graft.cluster.Clustering.fit(corpusV, cellCfg)

    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = router.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq.toDF("_cell", "_centroid")

    // residual stream: v - centroid(cell), the quantity PQ encodes
    val resid = graft.cluster.Clustering.assign(router, corpusV, cellCfg)
      .join(broadcast(cents), Seq("_cell"))
      .select(col(idCol), col("_cell"),
        zip_with(col("_v"), col("_centroid"), (a, b) => a - b).as("_res"))
    val residP = graft.Caches.persist(resid)

    val model = fit(residP, idCol, "_res", cfg)
    val codes = encode(model, residP, idCol, "_res")
      .join(residP.select(col(idCol), col("_cell")), Seq(idCol))

    // route queries to their nprobe nearest cells; residualize per probe
    val qc = broadcast(queries
      .select(col(qidCol), graft.functions.VectorFns.toDoubles(col(vecCol)).as("_qv")))
      .crossJoin(broadcast(cents))
      .withColumn("_qdist", aggregate(
        zip_with(col("_qv"), col("_centroid"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v))
    val probeW = Window.partitionBy(col(qidCol))
      .orderBy(col("_qdist").asc, col("_cell").asc)
    val probes = qc.withColumn("_pr", row_number().over(probeW))
      .where(col("_pr") <= nprobe)
      .select(col(qidCol), col("_cell"),
        zip_with(col("_qv"), col("_centroid"), (a, b) => a - b).as("_qres"))

    // per-(query, cell) LUT over the query residual — row-local
    val subDim = model.subDim
    val withLut = probes
      .withColumn("_cb", cbLit(model))
      .withColumn("_lut", expr(
        s"""transform(sequence(0, ${model.m - 1}), s ->
           |  transform(sequence(1, size(element_at(_cb, s + 1))), c ->
           |    aggregate(sequence(1, $subDim), CAST(0 AS DOUBLE),
           |      (a, j) -> a + (element_at(_qres, s * $subDim + j)
           |                      - element_at(element_at(element_at(_cb, s + 1), c), j))
           |                   * (element_at(_qres, s * $subDim + j)
           |                      - element_at(element_at(element_at(_cb, s + 1), c), j)))))"""
          .stripMargin))
      .select(col(qidCol), col("_cell"), col("_lut"))

    val scored = broadcast(withLut).join(codes, Seq("_cell"))
      .withColumn("adist",
        graft.functions.NativeFns.pqAdc(col("_lut"), col("codes")))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("adist").asc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("adist"),
        col("_cell").as("cell"))
  }
}
