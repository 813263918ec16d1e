package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}

/** The registry's cross-query memo: the queries that analyze one fit
  * share it, so only the first of them pays for the fit. Each test runs
  * on its own copy of the sf0.001 tables, so no other suite's memo entry
  * (keyed by session and dir) is already there. */
class QueriesMemoSpec extends SparkSpec {

  private def copyTables(names: String*): String = {
    val dir = Files.createTempDirectory("memo")
    def copy(from: Path, to: Path): Unit =
      if (Files.isDirectory(from)) {
        Files.createDirectories(to)
        Files.list(from).forEach(p => copy(p, to.resolve(p.getFileName.toString)))
      } else Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    names.foreach(n =>
      copy(Paths.get(sf("sf0.001"), s"$n.parquet"), dir.resolve(s"$n.parquet")))
    dir.toString
  }

  /** Names of the stages the query `name` runs on `dir`, result collected. */
  private def stagesOf(name: String, dir: String): Seq[String] = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries(name)(spark, dir).collect()
      ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    stages.toArray(Array.empty[StageInfo]).toSeq.map(_.name)
  }

  test("x09 fits the LDA model, x17 on the same dir reuses it") {
    val dir = copyTables("documents")
    val miniBatches = (s: Seq[String]) => s.count(_.startsWith("Topics.fit mini-batch"))
    assert(miniBatches(stagesOf("x09_lda_topics", dir)) == 10)
    assert(miniBatches(stagesOf("x17_umass_coherence", dir)) == 0)
  }

  test("x06 fits KMeans, x07 on the same dir reuses the assignment") {
    val dir = copyTables("embeddings")
    val kmeans = (s: Seq[String]) => s.count(_.contains("KMeans.scala"))
    assert(kmeans(stagesOf("x06_kmeans_clusters", dir)) > 0)
    assert(kmeans(stagesOf("x07_cluster_metrics", dir)) == 0)
  }
}
