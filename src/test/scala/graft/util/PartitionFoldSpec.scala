package graft.util

import graft.SparkSpec
import org.apache.spark.{GraftCallSiteShim, ListenerBusDrain, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

object PartitionFoldSpec {
  /** A capture Spark cannot serialize. */
  final class Opaque { val n = 1 }
}

class PartitionFoldSpec extends SparkSpec {
  import PartitionFoldSpec.Opaque

  private def sc = spark.sparkContext

  test("partials fold in partition order, whichever task finishes last") {
    val taskEnds = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskEnds.add(e.taskInfo.index)
    }
    val rdd = sc.parallelize(0 until 12, 4)
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = PartitionFold(rdd, List.empty[Int]) { (i, it) =>
        if (i == 0) Thread.sleep(500)
        it.toList
      }(_ ++ _)
      assert(out == (0 until 12).toList)
      ListenerBusDrain.drain(sc)
      assert(taskEnds.size == 4)
      // partition 0 finished last, yet its partial came first
      assert(taskEnds.toArray.last == 0)
    } finally sc.removeSparkListener(listener)
  }

  test("sums equal treeAggregate's at 1, 3 and 7 partitions") {
    for (p <- Seq(1, 3, 7)) {
      val rdd = sc.parallelize(1L to 1000L, p)
      val ours = PartitionFold(rdd, 0L)((_, it) => it.map(x => x * x).sum)(_ + _)
      val ref = rdd.treeAggregate(0L)((a, x) => a + x * x, _ + _)
      assert(ours == ref, s"at $p partitions")
    }
  }

  test("an empty RDD returns the zero") {
    val zero = List(-1)
    assert(PartitionFold(sc.emptyRDD[Int], zero)((_, it) => it.toList)(_ ++ _) eq zero)
  }

  test("one job of one stage per call") {
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
    }
    val rdd = sc.parallelize(1 to 100, 5)
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      for (_ <- 1 to 3) PartitionFold(rdd, 0)((_, it) => it.sum)(_ + _)
      ListenerBusDrain.drain(sc)
      assert(jobs.get() == 3)
      assert(stages.get() == 3)
    } finally sc.removeSparkListener(listener)
  }

  test("a non-serializable capture fails the call with a SparkException naming its class") {
    val opaque = new Opaque
    val e = intercept[SparkException] {
      PartitionFold(sc.parallelize(1 to 10, 2), 0)((_, it) => it.size + opaque.n)(_ + _)
    }
    assert(e.getMessage.contains(classOf[Opaque].getName), e.getMessage)
  }

  test("withCallSite names the jobs and restores the caller's call site") {
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        names.add(e.stageInfo.name)
    }
    sc.setCallSite("caller")
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      PartitionFold.withCallSite(sc, "fold under test") {
        PartitionFold(sc.parallelize(1 to 10, 2), 0)((_, it) => it.sum)(_ + _)
      }
      assert(sc.getLocalProperty(GraftCallSiteShim.ShortForm) == "caller")
      assert(sc.getLocalProperty(GraftCallSiteShim.LongForm) == null)
      ListenerBusDrain.drain(sc)
      assert(names.toArray.toSeq == Seq("fold under test"))
    } finally {
      sc.removeSparkListener(listener)
      sc.clearCallSite()
    }
  }
}
