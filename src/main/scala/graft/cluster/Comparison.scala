package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Cluster-comparison mathematics (SURVEY.md §2.10 X11–X15, X19, SO1).
  *
  * The contingency table is a Spark aggregation (the only part that
  * touches the data); everything downstream — mutual information,
  * entropies, variation of information (Meilă 2003), ARI/RI/NMI/
  * homogeneity/completeness/V-measure, greedy maximum matching — is
  * closed-form driver math over a k×k matrix (k ≤ a few hundred).
  * Ported semantics, with exact-value tests mirroring the reference's
  * (`ihop/clustering.py:64-350`, tests `tests/test_clustering.py:317-437`).
  */
object Comparison {

  /** Dense contingency matrix with row/col label indexes. */
  final case class Contingency(rows: Seq[Int], cols: Seq[Int],
                               m: Array[Array[Double]]) {
    def total: Double = m.map(_.sum).sum
    def rowSums: Array[Double] = m.map(_.sum)
    def colSums: Array[Double] =
      Array.tabulate(cols.size)(j => m.map(_(j)).sum)
  }

  /** X11: weighted contingency table between two assignment columns.
    * `weight` defaults to 1 per row; the reference's weighted variant
    * adds c1+c2 counts when both sides have counts
    * (`ihop/clustering.py:96-128`) — pass that sum as `weight`. One
    * Spark job (a `treeAggregate` of (a, b) → summed weight); rows with
    * a null weight are skipped, as `sum` skips them. */
  def contingency(df: DataFrame, aCol: String, bCol: String,
                  weight: Option[String] = None): Contingency = {
    val w = weight.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val cells = df.select(col(aCol), col(bCol), w).rdd
      .treeAggregate(mutable.HashMap.empty[(Int, Int), Double])(
        (m, r) => {
          if (!r.isNullAt(2)) {
            val key = (r.getInt(0), r.getInt(1))
            m(key) = m.getOrElse(key, 0.0) + r.getDouble(2)
          }
          m
        },
        (a, b) => { b.foreach { case (key, v) => a(key) = a.getOrElse(key, 0.0) + v }; a })
    fromTriples(cells.toSeq.map { case ((a, b), v) => (a, b, v) })
  }

  def fromTriples(triples: Seq[(Int, Int, Double)]): Contingency = {
    val rIdx = triples.map(_._1).distinct.sorted
    val cIdx = triples.map(_._2).distinct.sorted
    val rPos = rIdx.zipWithIndex.toMap
    val cPos = cIdx.zipWithIndex.toMap
    val m = Array.fill(rIdx.size, cIdx.size)(0.0)
    triples.foreach { case (a, b, w) => m(rPos(a))(cPos(b)) += w }
    Contingency(rIdx, cIdx, m)
  }

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** X12: mutual information in bits from a contingency table
    * (reference `ihop/clustering.py:131-146`): guarded p=0 terms. */
  def mutualInformation(c: Contingency): Double = {
    val n = c.total
    val pr = c.rowSums.map(_ / n)
    val pc = c.colSums.map(_ / n)
    var mi = 0.0
    for (i <- c.m.indices; j <- c.m(i).indices) {
      val pij = c.m(i)(j) / n
      if (pij > 0) mi += pij * log2(pij / (pr(i) * pc(j)))
    }
    mi
  }

  /** Shannon entropy (bits) of a probability vector. */
  def entropy(p: Array[Double]): Double =
    -p.filter(_ > 0).map(x => x * log2(x)).sum

  // ---- reference-exact VOI family (ihop/clustering.py:64-315) ----
  // One record per datapoint: (cluster under partition 1, cluster under
  // partition 2, datapoint count under 1, datapoint count under 2).
  final case class Assignment(c1: Int, c2: Int, n1: Double, n2: Double)

  /** X19: key-aligned count→probability array with missing-key default
    * (reference `get_probabilities`, `ihop/clustering.py:64-79`). */
  def getProbabilities(counts: Map[String, Double], keys: Seq[String],
                       default: Double = 0.0): Array[Double] = {
    val all = keys.map(k => counts.getOrElse(k, default)).toArray
    val total = all.sum
    all.map(_ / total)
  }

  /** Cluster probabilities from datapoint counts
    * (reference `get_cluster_probabilities`, `ihop/clustering.py:81-93`). */
  def clusterProbabilities(assignments: Seq[Int], counts: Seq[Double],
                           clusterIndex: Seq[Int]): Array[Double] = {
    val total = counts.sum
    clusterIndex.map { c =>
      assignments.zip(counts).collect { case (a, n) if a == c => n }.sum / total
    }.toArray
  }

  /** X11 (reference-weighted form): contingency cell += n1 + n2 when
    * both datapoint counts are non-zero
    * (reference `get_contingency_table`, `ihop/clustering.py:96-128`). */
  def referenceContingency(data: Seq[Assignment]): Contingency =
    fromTriples(data.collect {
      case Assignment(c1, c2, n1, n2) if n1 > 0 && n2 > 0 => (c1, c2, n1 + n2)
    })

  /** X12 (reference form): MI with externally-supplied marginals and
    * positive-component-only summation
    * (reference `get_mutual_information`, `ihop/clustering.py:131-146`). */
  def referenceMutualInformation(c: Contingency, p1: Array[Double],
                                 p2: Array[Double]): Double = {
    val n = c.total
    var mi = 0.0
    for (i <- c.m.indices; j <- c.m(i).indices) {
      val pij = c.m(i)(j) / n
      if (pij > 0) {
        val component = pij * log2(pij / (p1(i) * p2(j)))
        if (component > 0) mi += component
      }
    }
    mi
  }

  /** X13: variation of information VOI = H1 + H2 − 2·MI (Meilă 2003;
    * reference `variation_of_information`, `ihop/clustering.py:257-315`):
    * marginal probabilities come from the per-datapoint counts (uniform
    * = all counts 1, i.e. probabilities proportional to cluster sizes),
    * the contingency uses the reference's n1+n2 weighting, and MI is the
    * positive-component reference form. */
  def variationOfInformation(data: Seq[Assignment]): Double = {
    val idx1 = data.map(_.c1).distinct.sorted
    val idx2 = data.map(_.c2).distinct.sorted
    val p1 = clusterProbabilities(data.map(_.c1), data.map(_.n1), idx1)
    val p2 = clusterProbabilities(data.map(_.c2), data.map(_.n2), idx2)
    val table = referenceContingency(data)
    // align table axes with the full cluster index (clusters may vanish
    // from the table when a datapoint count is zero)
    val full = Contingency(idx1, idx2, Array.tabulate(idx1.size, idx2.size) {
      (i, j) =>
        val r = table.rows.indexOf(idx1(i)); val cl = table.cols.indexOf(idx2(j))
        if (r >= 0 && cl >= 0) table.m(r)(cl) else 0.0
    })
    entropy(p1) + entropy(p2) -
      2.0 * referenceMutualInformation(full, p1, p2)
  }

  def uniformVoi(pairs: Seq[(Int, Int)]): Double =
    variationOfInformation(pairs.map { case (a, b) => Assignment(a, b, 1.0, 1.0) })

  /** Distributed adapter: per-datapoint assignment table → the k×k
    * summaries, then driver-side VOI. Only cluster-level aggregates are
    * collected (never the datapoints). */
  def variationOfInformation(df: DataFrame, c1Col: String, c2Col: String,
                             n1Col: String, n2Col: String): Double = {
    val rows = df.groupBy(col(c1Col), col(c2Col))
      .agg(sum(col(n1Col)).as("_n1"), sum(col(n2Col)).as("_n2"),
        count(lit(1)).as("_k"))
      .collect()
    // exact only when counts are constant per (c1,c2) pair — which holds
    // for per-datapoint inputs; reconstruct grouped assignments
    val data = rows.map(r => Assignment(r.getInt(0), r.getInt(1),
      r.getDouble(2), r.getDouble(3)))
    variationOfInformation(data.toSeq)
  }

  // ---- pair-count family (ARI, RI) + information family (NMI, h/c/v) ----

  private def comb2(x: Double): Double = x * (x - 1) / 2.0

  /** X14: Adjusted Rand Index from pair counts over the contingency. */
  def adjustedRandIndex(c: Contingency): Double = {
    val sumIj = c.m.flatten.map(comb2).sum
    val sumA = c.rowSums.map(comb2).sum
    val sumB = c.colSums.map(comb2).sum
    val nPairs = comb2(c.total)
    val expected = sumA * sumB / nPairs
    val maxIdx = (sumA + sumB) / 2.0
    if (maxIdx == expected) 1.0 else (sumIj - expected) / (maxIdx - expected)
  }

  /** Rand Index (unadjusted). */
  def randIndex(c: Contingency): Double = {
    val n = c.total
    val sumIj = c.m.flatten.map(comb2).sum
    val sumA = c.rowSums.map(comb2).sum
    val sumB = c.colSums.map(comb2).sum
    val nPairs = comb2(n)
    (nPairs + 2 * sumIj - sumA - sumB) / nPairs
  }

  /** Homogeneity, completeness, V-measure (Rosenberg & Hirschberg). */
  def homogeneityCompletenessV(c: Contingency): (Double, Double, Double) = {
    val n = c.total
    val hC = entropy(c.colSums.map(_ / n)) // class entropy (truth = cols)
    val hK = entropy(c.rowSums.map(_ / n)) // cluster entropy (pred = rows)
    val mi = mutualInformation(c)
    val h = if (hC == 0) 1.0 else mi / hC
    val cm = if (hK == 0) 1.0 else mi / hK
    val v = if (h + cm == 0) 0.0 else 2 * h * cm / (h + cm)
    (h, cm, v)
  }

  /** Normalized mutual information (arithmetic normalization —
    * sklearn's default `average_method="arithmetic"`). */
  def normalizedMutualInformation(c: Contingency): Double = {
    val n = c.total
    val h1 = entropy(c.rowSums.map(_ / n))
    val h2 = entropy(c.colSums.map(_ / n))
    val mi = mutualInformation(c)
    val denom = (h1 + h2) / 2.0
    if (denom == 0) 1.0 else mi / denom
  }

  /** X15: greedy maximum matching — repeatedly take the global argmax
    * cell while it is positive, pair its row and column, mask both
    * (reference `get_maximum_matching_pairs`, `ihop/clustering.py:318-350`).
    * Returns the (row, col) pairs in greedy order plus unpaired
    * rows/cols (clusters with no positive overlap stay unpaired). */
  def maximumMatching(c: Contingency): (Seq[(Int, Int)], Seq[Int], Seq[Int]) = {
    val masked = c.m.map(_.clone())
    val pairs = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var continue = true
    while (continue) {
      var best = (-1, -1); var bestV = 0.0
      for (i <- masked.indices; j <- masked(i).indices)
        if (masked(i)(j) > bestV) { bestV = masked(i)(j); best = (i, j) }
      if (bestV <= 0) continue = false
      else {
        pairs += ((c.rows(best._1), c.cols(best._2)))
        masked(best._1).indices.foreach(j => masked(best._1)(j) = -1)
        masked.indices.foreach(i => masked(i)(best._2) = -1)
      }
    }
    val pairedR = pairs.map(_._1).toSet
    val pairedC = pairs.map(_._2).toSet
    (pairs.toSeq,
      c.rows.filterNot(pairedR), c.cols.filterNot(pairedC))
  }

  /** SO1: remap two (key → cluster) tables onto a common key set —
    * union (missing keys get cluster −1) or intersection
    * (reference `remap_clusters`, `ihop/clustering.py:149-181`). */
  def remapClusters(a: DataFrame, b: DataFrame, keyCol: String,
                    clusterCol: String, useUnion: Boolean = true): DataFrame = {
    val aa = a.select(col(keyCol), col(clusterCol).as("cluster_a"))
    val bb = b.select(col(keyCol), col(clusterCol).as("cluster_b"))
    if (useUnion)
      aa.join(bb, Seq(keyCol), "full_outer")
        .select(col(keyCol),
          coalesce(col("cluster_a"), lit(-1)).as("cluster_a"),
          coalesce(col("cluster_b"), lit(-1)).as("cluster_b"))
    else aa.join(bb, Seq(keyCol), "inner")
  }

  /** X14 suite: the uniform-probability comparison dictionary (the
    * reference's `compare_cluterings` non-counts branch,
    * `ihop/clustering.py:184-254`: sklearn ARI/RI/NMI/h/c/v over the
    * plain contingency + uniform VOI). */
  def compareAll(c: Contingency): Map[String, Double] = {
    val (h, cm, v) = homogeneityCompletenessV(c)
    val uniformData = for {
      (r, i) <- c.rows.zipWithIndex; (cl, j) <- c.cols.zipWithIndex
      k <- 0 until c.m(i)(j).toInt
    } yield (r, cl)
    Map(
      "mutual_information" -> mutualInformation(c),
      "voi_uniform" -> uniformVoi(uniformData),
      "adjusted_rand" -> adjustedRandIndex(c),
      "rand" -> randIndex(c),
      "nmi" -> normalizedMutualInformation(c),
      "homogeneity" -> h,
      "completeness" -> cm,
      "v_measure" -> v)
  }
}
