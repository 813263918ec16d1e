package graft.cluster

import graft.SparkSpec
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

/** `Clustering.fit` runs Spark's KMeans row solver directly and
  * `Clustering.metrics`/`Comparison.contingency` aggregate in their own
  * passes; Spark's `KMeans` estimator and `ClusteringEvaluator` are used
  * here only as the references they must reproduce. */
class ClusteringSpec extends SparkSpec with Eventually {
  import spark.implicits._

  /** `n` dense points in `dim` dimensions around `groups` random centers. */
  private def blobs(n: Int, dim: Int, groups: Int, partitions: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(groups, dim)(rnd.nextGaussian() * 4)
    val rows = (0 until n).map { i =>
      (i.toLong, centers(i % groups).map(_ + rnd.nextGaussian()))
    }
    spark.sparkContext.parallelize(rows, partitions).toDF("id", "embedding")
  }

  private def sparkFit(df: DataFrame, cfg: Clustering.Config): KMeansModel =
    new KMeans().setK(cfg.k).setSeed(cfg.seed).setMaxIter(cfg.maxIter)
      .setFeaturesCol("_features").setPredictionCol(cfg.predictionCol)
      .fit(Clustering.featurize(df, cfg))

  private def centers(m: KMeansModel): Seq[Seq[Double]] =
    m.clusterCenters.map(_.toArray.toSeq).toSeq

  private def assertSameParams(a: KMeansModel, b: KMeansModel): Unit = {
    assert(a.getK == b.getK && a.getSeed == b.getSeed && a.getMaxIter == b.getMaxIter)
    assert(a.getTol == b.getTol && a.getInitMode == b.getInitMode)
    assert(a.getDistanceMeasure == b.getDistanceMeasure)
    assert(a.getFeaturesCol == b.getFeaturesCol && a.getPredictionCol == b.getPredictionCol)
  }

  private def assertRel(actual: Double, expected: Double, what: String): Unit =
    assert(math.abs(actual - expected) <= 1e-12 * math.abs(expected),
      s"$what: $actual vs $expected")

  test("fit ≡ Spark's KMeans: bit-equal centers and equal params on dense fixtures") {
    val fixtures = Seq(
      (blobs(60, 8, 3, 1, seed = 1), 3),
      (blobs(60, 8, 3, 3, seed = 2), 3),
      (blobs(200, 100, 5, 4, seed = 3), 5),
      (blobs(1000, 50, 25, 4, seed = 4), 25))
    fixtures.foreach { case (df, k) =>
      val cfg = Clustering.Config(k = k, maxIter = 30)
      val ours = Clustering.fit(df, cfg)
      val ref = sparkFit(df, cfg)
      assert(centers(ours) == centers(ref), s"k=$k")
      assertSameParams(ours, ref)
      assert(!ours.hasSummary && ref.hasSummary)
      def labels(m: KMeansModel) = Clustering.assign(m, df, cfg)
        .select("id", "cluster").as[(Long, Int)].collect().sorted.toSeq
      assert(labels(ours) == labels(ref))
    }
  }

  test("fit rejects a NaN vector") {
    val df = Seq((1L, Array(0.0, 1.0)), (2L, Array(Double.NaN, 1.0)), (3L, Array(1.0, 0.0)))
      .toDF("id", "embedding")
    val e = intercept[Exception](Clustering.fit(df, Clustering.Config(k = 2, normalize = false)))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("NaN")))
  }

  test("save → load round-trips centers and params") {
    val df = blobs(60, 8, 3, 2, seed = 5)
    val cfg = Clustering.Config(k = 3, maxIter = 20)
    val ours = Clustering.fit(df, cfg)
    val dir = java.nio.file.Files.createTempDirectory("kmeans").toString + "/model"
    Clustering.save(ours, dir)
    val loaded = Clustering.load(dir)
    assert(centers(loaded) == centers(ours))
    assertSameParams(loaded, ours)
  }

  /** 3 partitions, clusters of 9, 5 and 2 points and one singleton. */
  private val metricPoints: Seq[(Int, Array[Double])] = {
    val rnd = new scala.util.Random(7)
    val means = Seq(Array(0.0, 0.0, 0.0), Array(6.0, 1.0, -2.0),
      Array(-3.0, 5.0, 2.0), Array(2.0, -6.0, 4.0))
    Seq(9, 5, 2, 1).zipWithIndex.flatMap { case (size, c) =>
      Seq.fill(size)((c * 3 + 1, means(c).map(_ + rnd.nextGaussian())))
    }
  }

  private def assignedFixture: DataFrame =
    spark.sparkContext.parallelize(metricPoints.map { case (c, x) => (c, Vectors.dense(x)) }, 3)
      .toDF("cluster", "_features")

  private def sq(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  test("metrics ≡ brute force within 1e-12 relative; silhouette ≡ ClusteringEvaluator") {
    val m = Clustering.metrics(assignedFixture)

    val byCluster = metricPoints.groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2) }
    val n = metricPoints.size
    val k = byCluster.size
    val mean = (xs: Seq[Array[Double]]) => xs.transpose.map(_.sum / xs.size).toArray
    val centroid = byCluster.map { case (c, xs) => c -> mean(xs) }
    val global = mean(metricPoints.map(_._2))

    val silhouette = metricPoints.map { case (c, x) =>
      val own = byCluster(c)
      if (own.size == 1) 0.0
      else {
        val a = own.map(sq(x, _)).sum / (own.size - 1)
        val b = byCluster.keys.filter(_ != c).map(o => byCluster(o).map(sq(x, _)).sum / byCluster(o).size).min
        (b - a) / math.max(a, b)
      }
    }.sum / n
    val within = metricPoints.map { case (c, x) => sq(x, centroid(c)) }.sum
    val between = byCluster.map { case (c, xs) => xs.size * sq(centroid(c), global) }.sum
    val ch = (between / (k - 1)) / (within / (n - k))
    val spread = byCluster.map { case (c, xs) => c -> xs.map(x => math.sqrt(sq(x, centroid(c)))).sum / xs.size }
    val db = byCluster.keys.toSeq.map { i =>
      byCluster.keys.filter(_ != i).map { j =>
        (spread(i) + spread(j)) / math.sqrt(sq(centroid(i), centroid(j)))
      }.max
    }.sum / k

    assertRel(m("silhouette"), silhouette, "silhouette")
    assertRel(m("calinski_harabasz"), ch, "calinski_harabasz")
    assertRel(m("davies_bouldin"), db, "davies_bouldin")

    val evaluator = new ClusteringEvaluator().setFeaturesCol("_features")
      .setPredictionCol("cluster").setMetricName("silhouette")
      .setDistanceMeasure("squaredEuclidean").evaluate(assignedFixture)
    assertRel(m("silhouette"), evaluator, "silhouette vs ClusteringEvaluator")

    assert(Clustering.metrics(assignedFixture.withColumn("cluster", lit(2))).isEmpty)
  }

  test("metrics runs two Spark jobs") {
    val df = assignedFixture.cache()
    df.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Clustering.metrics(df)
      eventually(timeout(10.seconds))(assert(jobs.get() >= 2))
      Thread.sleep(500)
      assert(jobs.get() == 2)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      df.unpersist()
    }
  }

  test("contingency ≡ groupBy reference, weighted and unweighted; null weights skipped") {
    val df = spark.sparkContext.parallelize(Seq[(Int, Int, Option[Double])](
      (0, 0, Some(1.5)), (0, 0, Some(2.0)), (0, 1, Some(0.25)), (1, 1, Some(4.0)),
      (1, 1, None), (2, 0, Some(0.5)), (2, 2, Some(8.0)), (1, 2, Some(1.0))), 3)
      .toDF("a", "b", "w")

    def reference(agg: org.apache.spark.sql.Column): Comparison.Contingency =
      Comparison.fromTriples(df.groupBy("a", "b").agg(agg.cast("double").as("v"))
        .where(col("v").isNotNull)
        .as[(Int, Int, Double)].collect().toSeq)
    def same(x: Comparison.Contingency, y: Comparison.Contingency): Boolean =
      x.rows == y.rows && x.cols == y.cols && x.m.map(_.toSeq).toSeq == y.m.map(_.toSeq).toSeq

    val weighted = Comparison.contingency(df, "a", "b", Some("w"))
    assert(same(weighted, reference(sum(col("w")))))
    assert(weighted.total == 17.25)
    val counts = Comparison.contingency(df, "a", "b")
    assert(same(counts, reference(count(lit(1)))))
    assert(counts.total == 8.0)
  }
}
