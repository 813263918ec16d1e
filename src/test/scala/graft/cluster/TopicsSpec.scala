package graft.cluster

import graft.SparkSpec
import graft.text.TextPipeline
import org.apache.spark.ml.clustering.{LDA, LocalLDAModel}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  StageInfo}
import org.apache.spark.sql.DataFrame
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

/** `Topics.fit` runs the online variational-Bayes loop itself; Spark's
  * own `LDA` estimator is used here only as the reference it must
  * reproduce. */
class TopicsSpec extends SparkSpec with Eventually {
  import spark.implicits._

  private def sparkFit(df: DataFrame, cfg: Topics.Config): LocalLDAModel =
    new LDA().setK(cfg.k).setMaxIter(cfg.maxIter).setOptimizer("online")
      .setDocConcentration(Topics.asymmetricAlpha(cfg.k))
      .setSubsamplingRate(cfg.subsamplingRate).setSeed(cfg.seed)
      .setFeaturesCol(cfg.featuresCol)
      .fit(df).asInstanceOf[LocalLDAModel]

  /** 300 term-count vectors over a 30-word vocabulary, drawn from three
    * planted topics of ten words each; doc 7 is empty. */
  private def corpus(partitions: Int): DataFrame = {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 300).map { d =>
      val counts = new Array[Double](30)
      if (d != 7) (0 until 8 + rnd.nextInt(8)).foreach { _ =>
        counts((d % 3) * 10 + rnd.nextInt(10)) += 1 }
      (d.toLong, Vectors.dense(counts).compressed)
    }
    spark.sparkContext.parallelize(docs, partitions).toDF("id", "vectorized")
  }

  private def maxAbsDiff(a: Array[Double], b: Array[Double]): Double = {
    assert(a.length == b.length)
    a.zip(b).map { case (x, y) => math.abs(x - y) }.max
  }

  private def docTopics(m: LocalLDAModel, df: DataFrame): Map[Long, Vector] =
    m.transform(df).select("id", "topicDistribution").as[(Long, Vector)].collect().toMap

  test("fit ≡ Spark's online LDA: 1 partition exactly, 3 partitions within 1e-9") {
    val cfg = Topics.Config(k = 3, maxIter = 30)
    val one = corpus(1)
    val ours = Topics.fit(one, cfg)
    val ref = sparkFit(one, cfg)
    assert(ours.topicsMatrix.toArray.sameElements(ref.topicsMatrix.toArray))
    assert(ours.estimatedDocConcentration.toArray
      .sameElements(ref.estimatedDocConcentration.toArray))
    // alpha optimization moved the prior off its initial value
    assert(!ours.estimatedDocConcentration.toArray
      .sameElements(Topics.asymmetricAlpha(3)))
    assert(docTopics(ours, one) == docTopics(ref, one))

    val three = corpus(3)
    val ours3 = Topics.fit(three, cfg)
    val ref3 = sparkFit(three, cfg)
    assert(maxAbsDiff(ours3.topicsMatrix.toArray, ref3.topicsMatrix.toArray) <= 1e-9)
    assert(maxAbsDiff(ours3.estimatedDocConcentration.toArray,
      ref3.estimatedDocConcentration.toArray) <= 1e-9)
  }

  test("fit ≡ Spark's online LDA on a 4-doc corpus where most samples are empty") {
    // MlSpec's corpus: at 0.05 subsampling most of the 20 samples hold
    // no document, so the RNG draw order and the iteration count
    // (advanced only by non-empty samples) decide the result
    val docs = Seq(
      (1L, "apple banana apple fruit market"),
      (2L, "banana fruit apple stand market"),
      (3L, "spark plan rule catalyst engine"),
      (4L, "rule engine spark catalyst plan")).toDF("id", "document_text")
    val (_, vectorized) = TextPipeline.fitTransform(docs,
      TextPipeline.Config(minDF = 0.0, maxDF = 1e9, stopLanguage = None))
    val cfg = Topics.Config(k = 2, maxIter = 20)
    val ours = Topics.fit(vectorized, cfg)
    val ref = sparkFit(vectorized, cfg)
    assert(maxAbsDiff(ours.topicsMatrix.toArray, ref.topicsMatrix.toArray) <= 1e-9)
    assert(maxAbsDiff(ours.estimatedDocConcentration.toArray,
      ref.estimatedDocConcentration.toArray) <= 1e-9)
  }

  test("save → load round-trips; documentTopics matches the Spark-fit model") {
    val df = corpus(1)
    val cfg = Topics.Config(k = 3, maxIter = 10)
    val ours = Topics.fit(df, cfg)
    val dir = java.nio.file.Files.createTempDirectory("lda").toString + "/model"
    Topics.save(ours, dir)
    val loaded = Topics.load(dir)
    assert(loaded.topicsMatrix.toArray.sameElements(ours.topicsMatrix.toArray))
    assert(loaded.estimatedDocConcentration.toArray
      .sameElements(ours.estimatedDocConcentration.toArray))
    assert(loaded.getK == 3 && loaded.getSeed == cfg.seed && loaded.getMaxIter == 10)

    def rows(m: org.apache.spark.ml.clustering.LDAModel) =
      Topics.documentTopics(m, df, "id", minProb = 0.01)
        .as[(Long, Int, Double)].collect().sorted.toSeq
    val expected = rows(sparkFit(df, cfg))
    assert(expected.nonEmpty)
    assert(rows(ours) == expected)
    assert(rows(loaded) == expected)
  }

  test("fit runs one Spark job per mini-batch plus one for the corpus size") {
    val df = corpus(2).cache()
    df.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Topics.fit(df, Topics.Config(k = 3, maxIter = 12))
      eventually(timeout(10.seconds))(assert(jobs.get() >= 13))
      Thread.sleep(500)
      assert(jobs.get() == 13)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      df.unpersist()
    }
  }

  /** Job count and completed stages of the Spark work `body` runs. */
  private def recordJobs(body: => Unit): (Int, Seq[StageInfo]) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get(), stages.toArray(Array.empty[StageInfo]).toSeq)
  }

  test("fit at 2 partitions runs one single-stage job per mini-batch") {
    val df = corpus(2).cache()
    df.count()
    try {
      val (jobs, stages) = recordJobs(Topics.fit(df, Topics.Config(k = 3, maxIter = 12)))
      assert(jobs == 13)
      assert(stages.size == 13)
      assert(stages.map(_.name).filter(_.startsWith("Topics.fit mini-batch")) ==
        (1 to 12).map(i => s"Topics.fit mini-batch $i/12"))
    } finally df.unpersist()
  }

  test("mini-batch stages read the checkpointed corpus, not the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("lda-input").toString + "/docs"
    corpus(2).write.parquet(dir)
    val df = spark.read.parquet(dir)
    val (_, stages) = recordJobs(Topics.fit(df, Topics.Config(k = 3, maxIter = 6)))
    def rdds(s: StageInfo) = s.rddInfos.map(r => s"${r.name} @ ${r.callSite}")
    val sqlRdd = (r: String) => Seq("FileScan", "SQLExecution", "WholeStageCodegen", "parquet")
      .exists(r.contains)
    // the corpus-size job computes the corpus from the scan
    assert(stages.filter(_.name == "Topics.fit corpus size").flatMap(rdds).exists(sqlRdd))
    val miniBatches = stages.filter(_.name.startsWith("Topics.fit mini-batch"))
    assert(miniBatches.size == 6)
    miniBatches.foreach(s => assert(!rdds(s).exists(sqlRdd), rdds(s).mkString("; ")))
  }

  test("two fits at 3 partitions are bit-identical") {
    val df = corpus(3)
    val cfg = Topics.Config(k = 3, maxIter = 30)
    val a = Topics.fit(df, cfg)
    val b = Topics.fit(df, cfg)
    assert(a.topicsMatrix.toArray.sameElements(b.topicsMatrix.toArray))
    assert(a.estimatedDocConcentration.toArray.sameElements(b.estimatedDocConcentration.toArray))
  }
}
