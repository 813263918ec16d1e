package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Provider-independence of the streaming suite (the 100-TB state
  * posture): the state-store provider decides WHERE state lives —
  * in-heap HDFSBackedStateStoreProvider (Spark's default) vs RocksDB
  * (off-heap, the choice when per-key state outgrows the executor
  * heap) — and must never change what a query emits. The switch is
  * Spark's own `spark.sql.streaming.stateStore.providerClass`: every
  * module starts its query through [[ReplayStage.runToEnd]], which
  * takes it from the session at query start like any other conf, so a
  * session setting (or one `-D` flag for the whole JVM) reaches every
  * module.
  *
  * Two pins: (1) the conf actually REACHES the state store — a replay
  * under the RocksDB provider reports rocksdb custom metrics in its
  * state-operator progress (a spec that only compared outputs could
  * pass with the conf silently ignored); (2) the x44 chained-stateful
  * query (dropDuplicates → windowed agg, two state stores in one plan)
  * and the StreamCms counter replay emit IDENTICAL rows under both
  * providers. */
class StateProviderSpec extends SparkSpec {

  private val ProviderConfKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session's provider conf set to `provider`
    * (None keeps the session's own), restoring the previous value. */
  private def withProvider[A](provider: Option[String])(body: => A): A = {
    // conf.get returns the registered DEFAULT when unset, so the
    // previous value is always defined
    val prev = spark.conf.get(ProviderConfKey)
    provider.foreach(spark.conf.set(ProviderConfKey, _))
    try body
    finally spark.conf.set(ProviderConfKey, prev)
  }

  test("the provider toggle reaches the state store (rocksdb metrics)") {
    val before = spark.conf.get(ProviderConfKey)
    val q = withProvider(Some(RocksDbProvider)) {
      val counts = graft.sources.Tables
        .tsNanosNormalized(ReplayStage.tableStream(spark, sf("sf0.001")))
        .groupBy(col("user_id")).agg(count(lit(1)).cast("long").as("n"))
      ReplayStage.runToEnd(counts)(
        _.outputMode("complete").format("memory").queryName("rocks_probe"))
    }
    val metrics = q.lastProgress.stateOperators.head.customMetrics
    assert(metrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")),
      s"expected rocksdb state metrics, got: ${metrics.keySet.asScala}")
    assert(spark.conf.get(ProviderConfKey) == before,
      "the provider conf must be restored on exit")
  }

  test("x44 chained-stateful replay: identical output under both providers") {
    def run(provider: Option[String], tag: String): (Seq[Row], Seq[Row]) =
      withProvider(provider) {
        val x44 = StreamRollingDistinct.replayParquet(spark, sf("sf0.001"),
            queryName = s"x44_$tag")
          .orderBy(col("day_ms")).collect().toSeq
        val cms = StreamCms.replayParquet(spark, sf("sf0.001"),
            queryName = s"cms_$tag")
          .orderBy(col("bucket_ms"), col("i"), col("p")).collect().toSeq
        (x44, cms)
      }
    val heap = run(None, "heap")
    val rocks = run(Some(RocksDbProvider), "rocks")
    assert(heap._1.nonEmpty && heap._1 == rocks._1,
      s"provider changed x44: heap=${heap._1.take(3)}… " +
        s"rocks=${rocks._1.take(3)}…")
    assert(heap._2.nonEmpty && heap._2 == rocks._2,
      s"provider changed StreamCms: heap=${heap._2.take(3)}… " +
        s"rocks=${rocks._2.take(3)}…")
  }
}
