package graft.cluster

import graft.functions.VectorFns
import org.apache.spark.ml.clustering.{GraftKMeansShim, KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Clustering over embedding columns (SURVEY.md §2.10 X6–X8).
  *
  * KMeans on L2-normalized vectors ≈ cosine clustering (the reference
  * normalizes before sklearn KMeans — `ihop/clustering.py:450-499`,
  * defaults `n_clusters=250, random_state=100` at `:376`).
  * `fit` runs Spark's KMeans row solver directly, so the model carries
  * no training summary. Internal metrics (silhouette, Calinski-Harabasz,
  * Davies-Bouldin) come from two aggregation passes over (vector, label)
  * — only k×dim summaries ever reach the driver.
  */
object Clustering {

  final case class Config(
      k: Int = 250,
      seed: Long = 100L,
      maxIter: Int = 100,
      normalize: Boolean = true,
      vecCol: String = "embedding",
      predictionCol: String = "cluster")

  /** Attach `_features` (ml Vector, optionally L2-normalized). */
  def featurize(df: DataFrame, cfg: Config): DataFrame = {
    val arr = if (cfg.normalize) VectorFns.l2Normalize(col(cfg.vecCol))
              else VectorFns.toDoubles(col(cfg.vecCol))
    df.withColumn("_features", array_to_vector(arr))
  }

  /** Spark's KMeans row solver on `featurize(df, cfg)`; see
    * `GraftKMeansShim.fitRows`. */
  def fit(df: DataFrame, cfg: Config = Config()): KMeansModel =
    GraftKMeansShim.fitRows(new KMeans().setK(cfg.k).setSeed(cfg.seed).setMaxIter(cfg.maxIter)
      .setFeaturesCol("_features").setPredictionCol(cfg.predictionCol),
      featurize(df, cfg))

  def assign(model: KMeansModel, df: DataFrame, cfg: Config = Config()): DataFrame =
    model.transform(featurize(df, cfg))

  /** X8 metrics on an assigned DataFrame (must carry `_features` +
    * prediction). Returns (silhouette, calinskiHarabasz, daviesBouldin);
    * empty map semantics of the reference (single cluster → {}) is the
    * caller's concern.
    *
    * Two Spark jobs, each a `treeAggregate` over `(cluster, _features)`:
    * the first sums count, features and squared norm per cluster (k,
    * sizes, centroids, global mean); the second, with those broadcast,
    * sums each point's silhouette and the within-cluster Σd² and Σd. The
    * silhouette is Spark ML's default squared-Euclidean silhouette: the
    * mean squared distance from a point to a cluster comes
    * from that cluster's sums, a singleton cluster's point scores 0 and
    * the own-cluster mean is scaled by N/(N−1) to leave the point out. */
  def metrics(assigned: DataFrame, predictionCol: String = "cluster"): Map[String, Double] = {
    val points = assigned.select(col(predictionCol), col("_features")).rdd
      .map(r => (r.getInt(0), r.getAs[Vector](1).toArray))
    val sums = points.treeAggregate(mutable.HashMap.empty[Int, ClusterSums])(
      (m, p) => { m.getOrElseUpdate(p._1, new ClusterSums(p._2.length)).add(p._2); m },
      (a, b) => { b.foreach { case (c, s) => a.get(c).fold(a(c) = s)(_.merge(s)) }; a })
    val k = sums.size
    if (k <= 1) return Map.empty

    val ids = sums.keys.toArray.sorted
    val stats = ids.map(sums)
    val sizes = stats.map(_.n)
    val n = sizes.sum
    val centers = stats.map(s => s.sum.map(_ / s.n))
    val global = Array.tabulate(centers.head.length)(i => stats.map(_.sum(i)).sum / n)

    // per point: silhouette, squared distance and distance to its centroid
    val bStats = points.sparkContext.broadcast((ids.zipWithIndex.toMap, stats, centers))
    val (silSum, w2, dSum) = points.treeAggregate(
      (0.0, new Array[Double](k), new Array[Double](k)))(
      (acc, p) => {
        val (pos, st, ctr) = bStats.value
        val c = pos(p._1)
        val x = p._2
        val d2 = sqDistArr(x, ctr(c))
        acc._2(c) += d2
        acc._3(c) += math.sqrt(d2)
        (acc._1 + silhouette(x, c, st), acc._2, acc._3)
      },
      (a, b) => {
        var c = 0; while (c < k) { a._2(c) += b._2(c); a._3(c) += b._3(c); c += 1 }
        (a._1 + b._1, a._2, a._3)
      })
    bStats.destroy()
    val sil = silSum / n

    val w = w2.sum
    val b = centers.indices.map(c => sizes(c) * sqDistArr(centers(c), global)).sum
    val ch = if (n == k) 0.0 else (b / (k - 1)) / (w / (n - k))

    val db = {
      val spread = dSum.indices.map(c => dSum(c) / sizes(c))
      val ratios = centers.indices.map { i =>
        centers.indices.filter(_ != i).map { j =>
          val d = math.sqrt(sqDistArr(centers(i), centers(j)))
          if (d == 0) 0.0 else (spread(i) + spread(j)) / d
        }.max
      }
      ratios.sum / k
    }

    Map("silhouette" -> sil, "calinski_harabasz" -> ch, "davies_bouldin" -> db)
  }

  /** Per-cluster sums of the metrics' first pass. */
  private final class ClusterSums(dim: Int) extends Serializable {
    var n = 0L
    val sum = new Array[Double](dim)
    var sqNorm = 0.0
    def add(x: Array[Double]): Unit = {
      n += 1
      var i = 0; while (i < dim) { sum(i) += x(i); sqNorm += x(i) * x(i); i += 1 }
    }
    def merge(o: ClusterSums): Unit = {
      n += o.n; sqNorm += o.sqNorm
      var i = 0; while (i < dim) { sum(i) += o.sum(i); i += 1 }
    }
  }

  /** Spark's squared-Euclidean silhouette of point `x` in cluster `c`:
    * mean squared distance to cluster j = |x|² + Ψ_j/N_j − 2·x·Σ_j/N_j. */
  private def silhouette(x: Array[Double], c: Int, st: Array[ClusterSums]): Double =
    if (st(c).n == 1) 0.0
    else {
      var xx = 0.0
      var i = 0; while (i < x.length) { xx += x(i) * x(i); i += 1 }
      def meanSqDist(j: Int): Double = {
        var dot = 0.0
        var i = 0; while (i < x.length) { dot += x(i) * st(j).sum(i); i += 1 }
        xx + st(j).sqNorm / st(j).n - 2 * dot / st(j).n
      }
      val own = meanSqDist(c) * st(c).n / (st(c).n - 1)
      val other = st.indices.filter(_ != c).map(meanSqDist).min
      if (own < other) 1 - own / other
      else if (own > other) other / own - 1
      else 0.0
    }

  /** S8: model persistence (MLWritable dirs). */
  def save(model: KMeansModel, dir: String): Unit = model.write.overwrite().save(dir)
  def load(dir: String): KMeansModel = KMeansModel.load(dir)

  private def sqDistArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}
