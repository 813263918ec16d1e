package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spans around each layer call, made from the benchmark's own files.
  *
  * A span is (id, layer, name, parent, trace id, start, end); one trace
  * id per operation (a DAG pass or an app request). When tracing is on,
  * each span sets its own Spark job group, and a listener charges every
  * job, stage and task to the span whose group it carries. Spark plans
  * are lazy, so an action is charged to the span that runs it: the
  * write of a layer's output belongs to the layer whose plan it
  * materializes.
  *
  * With tracing off, `span` only runs its body (no job groups, no
  * clock reads), which is how end-to-end numbers are measured. With
  * `heapProbe` on, each top-level span's end runs a full GC and records
  * the live heap, for `peak_heap_mb`.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var traceId = 0
  var enabled = false
  var heapProbe = false
  var peakHeapBytes = 0L

  private val sc = spark.sparkContext
  private val jobs = mutable.Map[Int, JobRec]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val tasks = mutable.Map[Int, TaskAgg]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith("pb-")).foreach { g =>
        val id = g.stripPrefix("pb-").toInt
        jobs(e.jobId) = JobRec(id, e.time, Long.MaxValue)
        e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val a = tasks.getOrElseUpdate(id, new TaskAgg)
        val m = e.taskMetrics
        a.tasks += 1
        a.taskMs += e.taskInfo.duration
        a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
        if (m != null) {
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
        }
      }
    }
  })

  /** Starts a new operation (trace id) and runs it as a root span. */
  def op[T](name: String)(body: => T): T = {
    traceId += 1
    span("op", name)(body)
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled && !heapProbe) return body
    val s = Span(spans.size, layer, name, stack.headOption.map(_.id).getOrElse(-1), traceId,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    if (enabled) sc.setJobGroup(s"pb-${s.id}", s"$layer/$name", interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (enabled) stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", s"${p.layer}/${p.name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      if (heapProbe && s.layer != "op" && stack.headOption.exists(_.layer == "op")) {
        System.gc()
        val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        peakHeapBytes = math.max(peakHeapBytes, used)
      }
    }
  }

  /** Per-layer table of the last operation: layer → metric → value.
    * Waits for the listener bus first, so every task is counted. */
  def lastOpLayers(): Map[String, Map[String, Double]] = {
    PerfbenchBus.drain(sc)
    synchronized {
      val opSpans = spans.filter(_.traceId == traceId)
      val byLayer = opSpans.filter(_.layer != "op").groupBy(_.layer)
      Layers.map { layer =>
        val ss = byLayer.getOrElse(layer, Nil)
        var wallMs = 0.0; var driverMs = 0.0
        var nJobs = 0; val agg = new TaskAgg
        ss.foreach { s =>
          val children = opSpans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs))
          val own = jobs.values.filter(_.span == s.id).map(j => (j.start, math.min(j.end, s.endMs)))
          val selfNs = (s.endNs - s.startNs) - opSpans.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum
          wallMs += selfNs / 1e6
          driverMs += math.max(0.0, selfNs / 1e6 - covered(s.startMs, s.endMs, children ++ own).toDouble
            + covered(s.startMs, s.endMs, children).toDouble)
          nJobs += own.size
          tasks.get(s.id).foreach(agg.add)
        }
        val wall = wallMs / 1000
        val taskS = agg.taskMs / 1000.0
        val widest = agg.stageTasks.values.toSeq.sortBy(t => (-t.size, -t.sum)).headOption
        val skew = widest.map { t =>
          val sorted = t.sorted
          val med = sorted(sorted.size / 2).toDouble
          if (med > 0) sorted.last / med else 1.0
        }.getOrElse(0.0)
        layer -> Map(
          "wall_s" -> wall,
          "driver_s" -> driverMs / 1000,
          "task_s" -> taskS,
          "core_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
          "jobs" -> nJobs.toDouble,
          "tasks" -> agg.tasks.toDouble,
          "shuffle_mb" -> agg.shuffleBytes / 1e6,
          "spill_mb" -> agg.spillBytes / 1e6,
          "task_skew" -> skew,
          "gc_s" -> agg.gcMs / 1000.0)
      }.toMap
    }
  }

  /** Wall time of the last operation's root span and of its top-level
    * layer spans, in seconds. */
  def lastOpCoverage(): (Double, Double) = synchronized {
    val opSpans = spans.filter(_.traceId == traceId)
    val root = opSpans.find(_.layer == "op").get
    val top = opSpans.filter(_.parent == root.id).map(s => s.endNs - s.startNs).sum
    ((root.endNs - root.startNs) / 1e9, top / 1e9)
  }

  def spansJson(t0Ns: Long): Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map(s => Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
      "parent" -> s.parent, "trace_id" -> s.traceId,
      "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9))
  }
}

object Tracer {
  val Layers: Seq[String] = Seq("sources", "pipelines", "text", "embed", "cluster", "export")
  val LayerMetrics: Seq[String] = Seq("wall_s", "driver_s", "task_s", "core_util", "jobs",
    "tasks", "shuffle_mb", "spill_mb", "task_skew", "gc_s")

  final case class Span(id: Int, layer: String, name: String, parent: Int, traceId: Int,
                        startNs: Long, startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
  }
  final case class JobRec(span: Int, start: Long, end: Long)
  final class TaskAgg {
    var tasks = 0L; var taskMs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    def add(o: TaskAgg): Unit = {
      tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
      o.stageTasks.foreach { case (k, v) => stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
    }
  }

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def covered(lo: Long, hi: Long, intervals: Iterable[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
