package org.apache.spark

// Accessors for the package-private kernels of Spark's online LDA, so
// graft.cluster.Topics can drive the variational-Bayes loop itself and
// still compute exactly what OnlineLDAOptimizer computes: the same
// corpus RDD, the same per-document E-step, the same Dirichlet
// expectation and the same LocalLDAModel at the end. Like
// org.apache.spark.sql.GraftSqlShim these only forward; the two objects
// sit in the two packages whose private members they reach.
package mllib.clustering {

  import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
  import org.apache.spark.mllib.linalg.{Matrices, Vector, Vectors}

  object GraftOnlineLdaShim {
    def variationalTopicInference(termCounts: Vector, expElogbeta: BDM[Double],
                                  alpha: BDV[Double], gammaShape: Double, k: Int,
                                  seed: Long): (BDV[Double], BDM[Double], List[Int]) =
      OnlineLDAOptimizer.variationalTopicInference(termCounts, expElogbeta, alpha,
        gammaShape, k, seed)

    def dirichletExpectation(alpha: BDM[Double]): BDM[Double] =
      LDAUtils.dirichletExpectation(alpha)

    def dirichletExpectation(alpha: BDV[Double]): BDV[Double] =
      LDAUtils.dirichletExpectation(alpha)

    /** What `OnlineLDAOptimizer.getLDAModel` builds from lambda
      * (k × vocabSize) and the fitted alpha. */
    def localModel(lambda: BDM[Double], alpha: BDV[Double], eta: Double,
                   gammaShape: Double): LocalLDAModel =
      new LocalLDAModel(Matrices.fromBreeze(lambda).transpose,
        Vectors.dense(alpha.toArray), eta, gammaShape)
  }
}

package ml.clustering {

  import org.apache.spark.ml.util.Identifiable
  import org.apache.spark.mllib.clustering.GraftOnlineLdaShim
  import org.apache.spark.mllib.linalg.{Vector => OldVector}
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.Dataset

  object GraftLdaShim {
    /** `(docId, term counts)` rows exactly as `LDA.fit` builds them. */
    def corpus(dataset: Dataset[_], featuresCol: String): RDD[(Long, OldVector)] =
      LDA.getOldDataset(dataset, featuresCol)

    /** The `ml` model `LDA.fit` wraps around the `mllib` one; the caller
      * copies the estimator's params onto it. */
    def localModel(dataset: Dataset[_], lambda: breeze.linalg.DenseMatrix[Double],
                   alpha: breeze.linalg.DenseVector[Double], eta: Double,
                   gammaShape: Double): LocalLDAModel = {
      val old = GraftOnlineLdaShim.localModel(lambda, alpha, eta, gammaShape)
      new LocalLDAModel(Identifiable.randomUID("lda"), old.vocabSize, old,
        dataset.sparkSession)
    }
  }
}
