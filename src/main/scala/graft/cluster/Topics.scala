package graft.cluster

import breeze.linalg.{all, sum, DenseMatrix => BDM, DenseVector => BDV}
import breeze.numerics.{exp, trigamma}
import breeze.stats.distributions.{Gamma, RandBasis}
import graft.util.PartitionFold
import org.apache.commons.math3.random.MersenneTwister
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.clustering.{GraftLdaShim, LDAModel, LocalLDAModel}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.mllib.clustering.GraftOnlineLdaShim
import org.apache.spark.mllib.linalg.{Vector => OldVector}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LDA topic modeling (SURVEY.md §2.9 M6–M8).
  *
  * Mirrors the reference's Spark LDA setup (`ihop/clustering.py:886-922`):
  * online variational Bayes (Hoffman, Blei & Bach, NIPS 2010) with an
  * asymmetric document concentration alpha_i = 1 / (i + sqrt(k))
  * (gensim-matching, `ihop/clustering.py:1108-1140`; the EM optimizer
  * forbids asymmetric alpha, so online is required), alpha optimized,
  * tunable subsampling.
  *
  * [[fit]] runs the online loop itself and returns exactly what Spark's
  * `LDA` with the online optimizer returns for the same data and seed:
  * the same RNG draws, the same mini-batch samples, Spark's own E-step
  * kernel and the same lambda/alpha updates.
  *
  * Job shape: one job for corpus size and vector size, then one job of
  * one stage per mini-batch at any partition count (Spark's optimizer
  * runs `count()`, `first()` and, per iteration, `isEmpty` on the sample
  * plus a `treeAggregate` whose final merge is a second, shuffle stage).
  * Each mini-batch is a [[graft.util.PartitionFold]]: every partition
  * returns its k × V statistics, summed E[log theta] and the
  * sampled-document count that `isEmpty` answered, and the driver sums
  * the partials in partition order, so it holds one k × V matrix per
  * partition while a mini-batch runs. The fit is bit-identical to
  * Spark's at one partition and deterministic at any.
  * Each mini-batch's job is named "Topics.fit mini-batch i/maxIter" in
  * Spark's logs and listener events.
  *
  * Corpus: the fit builds its own `(docId, termCounts)` RDD, as
  * `LDA.fit` does, and calls `localCheckpoint()` on it, which persists
  * it to memory and disk whether or not the input is cached; the first
  * job fills the blocks and cuts the lineage, so a mini-batch task
  * ships the sample over the cached corpus rather than the plan back to
  * the input scan. The blocks are released when the fit returns. Trade-off: a local checkpoint is
  * not recomputed, so losing an executor that holds a corpus block fails
  * the fit instead of re-reading the input.
  */
object Topics {

  final case class Config(
      k: Int = 250,
      maxIter: Int = 50,
      subsamplingRate: Double = 0.05,
      seed: Long = 42L,
      featuresCol: String = "vectorized")

  /** Asymmetric prior 1/(i + sqrt(k)) (reference `ihop/clustering.py:1130-1140`). */
  def asymmetricAlpha(k: Int): Array[Double] =
    Array.tabulate(k)(i => 1.0 / (i + math.sqrt(k.toDouble)))

  // Spark's online-optimizer constants: learningOffset (tau0),
  // learningDecay (kappa) and the Gamma shape of the lambda init and
  // the E-step
  private val Tau0 = 1024.0
  private val Kappa = 0.51
  private val GammaShape = 100.0

  /** One mini-batch's reduced E-step: topic × term sufficient statistics
    * and summed E[log theta] over the non-empty sampled documents (null
    * when there are none), and the sampled-document counts. */
  private final case class MiniBatch(stats: BDM[Double], logphat: BDV[Double],
                                     nonEmpty: Long, sampled: Long)

  private def merge(u: MiniBatch, v: MiniBatch): MiniBatch =
    if (u.stats == null) MiniBatch(v.stats, v.logphat, u.nonEmpty + v.nonEmpty, u.sampled + v.sampled)
    else {
      if (v.stats != null) { u.stats += v.stats; u.logphat += v.logphat }
      MiniBatch(u.stats, u.logphat, u.nonEmpty + v.nonEmpty, u.sampled + v.sampled)
    }

  /** `java.util.Random` whose next draw can be read without taking it:
    * Spark draws the E-step seed only after it has seen that the sample
    * is non-empty, and here both questions go into one job. */
  private final class PeekableRandom(seed: Long) {
    private val rng = new java.util.Random(seed)
    private var peeked: Option[Long] = None
    def peek(): Long = peeked.getOrElse { val v = rng.nextLong(); peeked = Some(v); v }
    def next(): Long = { val v = peek(); peeked = None; v }
  }

  /** Spark's E-step over the sample, each partition seeded with
    * `seed + partition index` as the online optimizer seeds it. */
  private def eStep(sample: RDD[(Long, OldVector)], expElogbeta: Broadcast[BDM[Double]],
                    alpha: BDV[Double], k: Int, vocabSize: Int, seed: Long): MiniBatch =
    PartitionFold(sample, MiniBatch(null, null, 0L, 0L)) { (index, docs) =>
      var stats: BDM[Double] = null
      var logphat: BDV[Double] = null
      var nonEmpty = 0L
      var sampled = 0L
      docs.foreach { case (_, termCounts) =>
        sampled += 1
        if (termCounts.numNonzeros > 0) {
          if (stats == null) { stats = BDM.zeros[Double](k, vocabSize); logphat = BDV.zeros[Double](k) }
          nonEmpty += 1
          val (gammad, sstats, ids) = GraftOnlineLdaShim.variationalTopicInference(
            termCounts, expElogbeta.value, alpha, GammaShape, k, seed + index)
          stats(::, ids) := stats(::, ids) + sstats
          logphat += GraftOnlineLdaShim.dirichletExpectation(gammad)
        }
      }
      MiniBatch(stats, logphat, nonEmpty, sampled)
    }(merge)

  def fit(df: DataFrame, cfg: Config = Config()): LocalLDAModel = {
    val k = cfg.k
    val sc = df.sparkSession.sparkContext
    // the loop rescans the corpus every iteration (as Spark's LDA.fit);
    // the checkpoint cuts its lineage at the first job
    val docs = GraftLdaShim.corpus(df, cfg.featuresCol).localCheckpoint()
    try {
      val (corpusSize, vocabSize) = PartitionFold.withCallSite(sc, "Topics.fit corpus size") {
        PartitionFold(docs, (0L, -1)) { (_, it) =>
          var n = 0L
          var size = -1
          it.foreach { case (_, v) => n += 1; size = v.size }
          (n, size)
        }((a, b) => (a._1 + b._1, math.max(a._2, b._2)))
      }
      require(corpusSize > 0, "Topics.fit: empty corpus")

      val rng = new PeekableRandom(cfg.seed)
      val lambda: BDM[Double] = {
        val gamma = new Gamma(GammaShape, 1.0 / GammaShape)(
          new RandBasis(new MersenneTwister(rng.next())))
        new BDM[Double](vocabSize, k, gamma.sample(k * vocabSize).toArray).t
      }
      var alpha = BDV(asymmetricAlpha(k))
      val eta = 1.0 / k
      val batchSize = (cfg.subsamplingRate * corpusSize).ceil.toInt
      var iteration = 0
      for (i <- 1 to cfg.maxIter) PartitionFold.withCallSite(sc, s"Topics.fit mini-batch $i/${cfg.maxIter}") {
        val sample = docs.sample(withReplacement = true, cfg.subsamplingRate, rng.next())
        val expElogbeta = exp(GraftOnlineLdaShim.dirichletExpectation(lambda)).t
        val expElogbetaBc = sc.broadcast(expElogbeta)
        val batch = try eStep(sample, expElogbetaBc, alpha, k, vocabSize, rng.peek())
          finally expElogbetaBc.destroy()
        if (batch.sampled > 0) {
          rng.next()
          iteration += 1
          if (batch.nonEmpty > 0) {
            val weight = math.pow(Tau0 + iteration, -Kappa)
            val stat = batch.stats *:* expElogbeta.t
            lambda := (1 - weight) * lambda +
              weight * (stat * (corpusSize.toDouble / batchSize.toDouble) + eta)
            alpha = updateAlpha(alpha, batch.logphat / batch.nonEmpty.toDouble,
              batch.nonEmpty.toDouble, weight)
          }
        }
      }

      val model = GraftLdaShim.localModel(df, lambda, alpha, eta, GammaShape)
      model.copy(ParamMap(model.k -> k, model.maxIter -> cfg.maxIter,
        model.optimizer -> "online", model.docConcentration -> asymmetricAlpha(k),
        model.subsamplingRate -> cfg.subsamplingRate, model.seed -> cfg.seed,
        model.featuresCol -> cfg.featuresCol))
    } finally docs.unpersist(blocking = false)
  }

  /** One Newton step on the document concentration (Spark's
    * `OnlineLDAOptimizer.updateAlpha`); kept only if every entry stays
    * positive. */
  private def updateAlpha(alpha: BDV[Double], logphat: BDV[Double], n: Double,
                          weight: Double): BDV[Double] = {
    val gradf = n * (-GraftOnlineLdaShim.dirichletExpectation(alpha) + logphat)
    val c = n * trigamma(sum(alpha))
    val q = -n * trigamma(alpha)
    val b = sum(gradf / q) / (1D / c + sum(1D / q))
    val dalpha = -(gradf - b) / q
    if (all((weight * dalpha + alpha) >:> 0D)) alpha + weight * dalpha else alpha
  }

  /** M7/M8: topics with terms resolved to words — distributed join
    * against the vocabulary instead of an index→word UDF (reference
    * `ihop/clustering.py:924-1015` uses a Python UDF; a join keeps the
    * whole expression inside Catalyst and scales to any vocab size). */
  def describeTopicsWithWords(spark: SparkSession, model: LDAModel,
                              vocab: Array[String], maxTerms: Int = 20): DataFrame = {
    import spark.implicits._
    val vocabDf = vocab.zipWithIndex.map { case (w, i) => (i, w) }
      .toSeq.toDF("term_id", "word")
    model.describeTopics(maxTerms)
      .select(col("topic"), posexplode(col("termIndices")).as(Seq("pos", "term_id")))
      .join(broadcast(vocabDf), Seq("term_id"))
      .groupBy(col("topic"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          p => p.getField("word")), " ").as("terms"))
      .orderBy(col("topic"))
  }

  /** S8: model persistence — online LDA yields a LocalLDAModel dir. */
  def save(model: LDAModel, dir: String): Unit = model.write.overwrite().save(dir)
  def load(dir: String): LDAModel = LocalLDAModel.load(dir)

  /** Per-document (topicId, probability) pairs with prob > threshold
    * (reference `ihop/clustering.py:966-1015`). */
  def documentTopics(model: LDAModel, df: DataFrame, idCol: String,
                     minProb: Double = 0.0): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    model.transform(df)
      .select(col(idCol),
        posexplode(vector_to_array(col("topicDistribution"))).as(Seq("topic", "prob")))
      .where(col("prob") > minProb)
  }
}
