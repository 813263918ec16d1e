package org.apache.spark

// Accessors for the package-private kernels of Spark's online LDA, so
// graft.cluster.Topics can drive the variational-Bayes loop itself and
// still compute exactly what OnlineLDAOptimizer computes: the same
// corpus RDD, the same per-document E-step, the same Dirichlet
// expectation and the same LocalLDAModel at the end. Like
// org.apache.spark.sql.GraftSqlShim these only forward; the objects sit
// in the two packages whose private members they reach.
// GraftKMeansShim does the same for graft.cluster.Clustering: Spark's
// KMeans row solver without the estimator's extra jobs.
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

  import org.apache.spark.ml.linalg.Vector
  import org.apache.spark.ml.util.{DatasetUtils, Identifiable}
  import org.apache.spark.mllib.clustering.{GraftOnlineLdaShim, KMeans => MLlibKMeans}
  import org.apache.spark.mllib.linalg.{Vector => OldVector, Vectors => OldVectors}
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.{Dataset, Row}
  import org.apache.spark.storage.StorageLevel

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

  object GraftKMeansShim {
    /** `KMeans.fit` on the row solver, minus two parts that cost Spark
      * jobs: the auto-solver probe (a `Summarizer` pass) and the training
      * summary (a `clusterSizes` pass). Instances, solver settings and
      * persistence are those of `KMeans.trainWithRow`, so the centers
      * are the ones the estimator computes whenever it picks the row
      * solver; the model carries the estimator's params and no summary. */
    def fitRows(est: KMeans, dataset: Dataset[_]): KMeansModel = {
      est.transformSchema(dataset.schema)
      val instances = dataset.select(
        DatasetUtils.checkNonNanVectors(DatasetUtils.columnToVector(dataset, est.getFeaturesCol)),
        DatasetUtils.checkNonNegativeWeights(est.get(est.weightCol)))
        .rdd.map { case Row(point: Vector, weight: Double) => (OldVectors.fromML(point), weight) }
        .setName("training instances")
      val old = new MLlibKMeans().setK(est.getK).setInitializationMode(est.getInitMode)
        .setInitializationSteps(est.getInitSteps).setMaxIterations(est.getMaxIter)
        .setSeed(est.getSeed).setEpsilon(est.getTol).setDistanceMeasure(est.getDistanceMeasure)
        .runWithWeight(instances, dataset.storageLevel == StorageLevel.NONE, None)
      new KMeansModel(est.uid, old).copy(est.extractParamMap()).setParent(est)
    }
  }
}
