package graft.export

import graft.functions.{NativeFns, VectorFns}
import graft.util.PartitionFold
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 2-D projection of embeddings for visualization (SURVEY.md §2.10 X16).
  *
  * The reference uses sklearn t-SNE (`ihop/visualizations.py:80-115`);
  * no t-SNE exists in Spark ML or offline libraries here, so the
  * projection operator is PCA with the same output schema
  * `(key, c1, c2)` — a documented divergence (SURVEY.md §7.4.3): PCA is
  * deterministic, distributed, and preserves the "2-D coordinates per
  * key" contract, not t-SNE's neighborhood structure.
  *
  * Implementation: one distributed pass accumulates (n, Σx, upper
  * Gramian ΣxxT) via [[graft.util.PartitionFold]], merged in partition
  * order — the same sufficient statistics
  * `RowMatrix.computeCovariance` gathers, without the extra
  * summary/row-count jobs `ml.feature.PCA` schedules around it (ml PCA
  * measured ≥4 framework jobs ≈ 2.3 s warm on a table this engine
  * aggregates in one ≈ 0.3 s job; at 100 TB both are a single scan,
  * but the fixed overhead never amortizes for the common "project this
  * month's 10k vectors" call). The d×d eigendecomposition (d =
  * embedding width, ≤ a few hundred) runs driver-side in Breeze;
  * projection is a broadcast-literal native dot product per row.
  * Unlike ml PCA (which projects uncentered data), rows are
  * mean-centered before projection — standard PCA semantics.
  */
object Projection {

  def pca2d(df: DataFrame, keyCol: String, vecCol: String,
            normalize: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    NativeFns.register(spark)

    val arr = if (normalize) VectorFns.l2Normalize(col(vecCol))
              else VectorFns.toDoubles(col(vecCol))
    val prepared = df.select(col(keyCol), arr.as("_v"))

    // sufficient statistics in one pass: (n, Σx, upper-triangular ΣxxT)
    final case class Acc(var n: Long, var s: Array[Double], var g: Array[Double])
    val (n, sums, gram) = {
      val acc = PartitionFold(prepared.select(col("_v")).as[Array[Double]].rdd,
          Acc(0L, null, null)) { (_, rows) =>
        val a = Acc(0L, null, null)
        rows.foreach { x =>
          val d = x.length
          if (a.s == null) { a.s = new Array[Double](d); a.g = new Array[Double](d * d) }
          require(a.s.length == d, s"pca2d: ragged embedding widths (${a.s.length} vs $d)")
          var i = 0
          while (i < d) {
            val xi = x(i)
            a.s(i) += xi
            var j = i
            while (j < d) { a.g(i * d + j) += xi * x(j); j += 1 }
            i += 1
          }
          a.n += 1
        }
        a
      } { (a, b) =>
        if (a.s == null) b
        else if (b.s == null) a
        else {
          require(a.s.length == b.s.length,
            s"pca2d: ragged embedding widths (${a.s.length} vs ${b.s.length})")
          var i = 0
          while (i < a.s.length) { a.s(i) += b.s(i); i += 1 }
          i = 0
          while (i < a.g.length) { a.g(i) += b.g(i); i += 1 }
          a.n += b.n; a
        }
      }
      require(acc.n >= 2, s"pca2d: need at least 2 rows, got ${acc.n}")
      (acc.n, acc.s, acc.g)
    }

    // sample covariance C = (ΣxxT − n·μμT)/(n−1), then top-2 eigenvectors
    val d = sums.length
    val mu = sums.map(_ / n)
    val cov = breeze.linalg.DenseMatrix.tabulate(d, d) { (i, j) =>
      val gij = if (i <= j) gram(i * d + j) else gram(j * d + i)
      (gij - n * mu(i) * mu(j)) / (n - 1).toDouble
    }
    val es = breeze.linalg.eigSym(cov) // ascending eigenvalues
    def component(rankFromTop: Int): Array[Double] = {
      val v = es.eigenvectors(::, d - 1 - rankFromTop).toArray
      // deterministic sign: largest-|entry| coordinate is positive
      val m = v.indices.maxBy(i => math.abs(v(i)))
      if (v(m) < 0) v.map(-_) else v
    }
    val pc1 = component(0); val pc2 = component(1)

    // center + project: dot against broadcast-literal components
    val centered = ExprBound.centered(col("_v"), mu)
    prepared
      .select(col(keyCol),
        NativeFns.dot(centered, array(pc1.toIndexedSeq.map(lit): _*)).as("c1"),
        NativeFns.dot(centered, array(pc2.toIndexedSeq.map(lit): _*)).as("c2"))
  }

  private object ExprBound {
    /** x − μ as a zip_with against the literal mean (bound once). */
    def centered(v: org.apache.spark.sql.Column, mu: Array[Double]) =
      zip_with(v, array(mu.toIndexedSeq.map(lit): _*), (x, m) => x - m)
  }
}
