package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point; `perfbench/run.py` builds and starts it.
  *
  * {{{
  * Main --workload <c2v_month|bow_topics|app_recluster> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * Sets up three times (fresh session, generated inputs written and
  * scanned), then warms up with untimed operations on the real inputs;
  * `setup_s` is the median set-up plus the warm-up. Then it runs a fixed
  * set of timed operations, and more until `--seconds` have passed, each
  * followed by its output checks and a cache release. Metrics come from
  * the fixed set only, so what is timed does not depend on how fast the
  * code runs. `--trace 0` reports the end-to-end metrics; `--trace 1`
  * alternates untraced and traced operations (in ABBA order) and reports
  * per-layer medians over the traced ones. The last stdout line is the
  * result.
  */
object Main {
  val SetupReps = 3
  /** Untimed warm-up operations. A fresh JVM's first batch pass is 2-3x
    * slower than a steady one and its second still 10-40% slower; app
    * requests take about three to settle (class loading, JIT, Spark's
    * codegen cache). A batch pass keeps getting a few percent faster
    * after that; a traced run warms up once more, so that the trend over
    * its ABBA set is close to linear and cancels out of the overhead. */
  def warmups(batch: Boolean, trace: Boolean): Int = if (batch && !trace) 2 else 3
  /** Size of the timed set. Its median passes over a slow burst of the
    * host that hits one operation; the ABBA order of traced runs needs a
    * multiple of four. */
  def timedOps(batch: Boolean, trace: Boolean): Int = if (!batch) 8 else if (trace) 4 else 3
  /** Stop starting operations after this long; a run whose timed set is
    * not complete by then fails. */
  val HardStopS = 110.0

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case e: Throwable =>
        System.err.println("perfbench: " + e)
        e.printStackTrace()
        1
    }
    System.out.flush()
    System.exit(code)
  }

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, "arguments come in --name value pairs")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Seq("workload", "seed", "seconds", "trace", "work", "out").foreach(k =>
      require(m.contains(k), s"missing --$k"))
    m
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it when
    * that is p90 or higher, else the maximum: (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val i = if (s.size >= 100) s.size - 11 else s.size - 1
    if (s.isEmpty) (Double.NaN, Double.NaN) else (s(i), 100.0 * (i + 1) / s.size)
  }

  private def run(a: Map[String, String]): Int = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val batch = name != "app_recluster"

    // ---- set-up, several times; the last session is the one measured
    val w = Workload(name, seed, work)
    var spark: SparkSession = null
    val setupTimes = (1 to SetupReps).map { _ =>
      val s0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, work)
      w.setup(spark)
      (System.nanoTime() - s0) / 1e9
    }
    val tr = new Tracer(spark, cpus)

    val outcomes = mutable.ArrayBuffer[(Int, OpOutcome)]()
    var failed = 0
    val layerTables = mutable.ArrayBuffer[Map[String, Map[String, Double]]]()
    val coverage = mutable.ArrayBuffer[(Double, Double)]()
    /** Runs operation `i`, checks it and releases its caches; returns its
      * time in seconds (NaN when it threw). */
    def runOp(i: Int, traced: Boolean): Double = {
      var t = Double.NaN
      tr.enabled = traced
      val outcome = try {
        val o0 = System.nanoTime()
        val check = w.op(i, tr)
        t = (System.nanoTime() - o0) / 1e9
        tr.enabled = false
        // every operation, traced or not, lets the listener bus empty
        // before the next starts, so both kinds start alike
        if (traced) { layerTables += tr.lastOpLayers(); coverage += tr.lastOpCoverage() }
        else PerfbenchBus.drain(spark.sparkContext)
        check()
      } catch {
        case e: Exception => OpOutcome(Map.empty, Seq(s"op $i threw $e"))
      } finally { tr.enabled = false }
      w.cleanup(spark)
      outcomes += ((i, outcome))
      if (outcome.errors.nonEmpty) failed += 1
      outcome.errors.foreach(e => System.err.println(s"perfbench: check failed: $e"))
      t
    }

    // ---- warm-up: untimed operations on the real inputs (negative
    // indices), part of set-up; the first runs a full GC at each layer
    // boundary for the peak heap
    val warmS = (-warmups(batch, trace) to -1).map { i =>
      tr.heapProbe = !trace && i == -warmups(batch, trace)
      val w0 = System.nanoTime()
      runOp(i, traced = false)
      tr.heapProbe = false
      (System.nanoTime() - w0) / 1e9
    }
    val peakHeapMb = tr.peakHeapBytes / 1e6

    // ---- the timed set, then more operations until `seconds` have passed
    val nTimed = timedOps(batch, trace)
    val times = mutable.ArrayBuffer[(Boolean, Double)]() // timed set: (traced, seconds)
    val extraTimes = mutable.ArrayBuffer[Double]()
    val m0 = System.nanoTime()
    def measured = (System.nanoTime() - m0) / 1e9
    var i = 0
    while ((i < nTimed || measured < seconds) && elapsed < HardStopS) {
      // untraced, traced, traced, untraced, ...: both sides see early and
      // late operations alike, so the overhead estimate is not a warm-up trend
      val traced = trace && i < nTimed && (i % 4 == 1 || i % 4 == 2)
      val t = runOp(i, traced)
      if (i >= nTimed) extraTimes += t
      else if (!t.isNaN) times += ((traced, t))
      i += 1
    }
    if (i < nTimed) {
      failed += 1
      System.err.println(s"perfbench: only $i of $nTimed timed operations ran before the ${HardStopS}s stop")
    }

    // memo hygiene: a later pass may not do less work than the first (a
    // fit or frame carried over would drop its jobs and most of its task
    // time; JIT warming alone lowers task time by less than 60%)
    if (trace && batch && layerTables.size >= 2) {
      val first = layerTables.head
      layerTables.tail.zipWithIndex.foreach { case (t, j) =>
        val errs = Tracer.Layers.flatMap { l =>
          val (a, b) = (first(l), t(l))
          (if (b("jobs") < a("jobs")) Seq(s"$l.jobs ${b("jobs")} < pass-1 ${a("jobs")}") else Nil) ++
            (if (a("task_s") > 0.2 && b("task_s") < 0.4 * a("task_s"))
              Seq(f"$l.task_s ${b("task_s")}%.3f < 0.4 x pass-1 ${a("task_s")}%.3f") else Nil)
        }
        if (errs.nonEmpty) {
          failed += 1
          errs.foreach(e => System.err.println(s"perfbench: memo check failed on traced pass ${j + 2}: $e"))
        }
      }
    }

    spark.stop()

    // ---- report
    val plain = times.filterNot(_._1).map(_._2).toSeq
    val tracedT = times.filter(_._1).map(_._2).toSeq
    // quality over the same fixed set as the times
    val qualitySet = outcomes.collect { case (j, o) if j >= 0 && j < nTimed => o }
    def q(key: String) = median(qualitySet.flatMap(_.quality.get(key)).toSeq)
    val (tailV, tailP) = tail(plain)
    val info = Map[String, Any](
      "workload" -> name, "seed" -> seed, "cpus" -> cpus, "trace" -> trace,
      "setup_s" -> setupTimes, "warm_s" -> warmS, "op_s" -> plain, "traced_op_s" -> tracedT,
      "untimed_op_s" -> extraTimes,
      "tail_s" -> tailV, "tail_percentile" -> tailP, "tail_samples" -> plain.size,
      "quality" -> Seq("nmi", "nmi_chance", "nbr_prec10", "nbr_prec10_chance", "umass_mean", "umass_chance")
        .flatMap(k => qualitySet.flatMap(_.quality.get(k)).headOption.map(_ => k -> q(k))).toMap)
    println("info " + Json(info))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setupTimes) + warmS.sum, "s"),
        ("e2e_s", median(plain), "s"),
        ("nmi", q("nmi"), "ratio"),
        ("peak_heap_mb", peakHeapMb, "MB"))
      else {
        val perLayer = for (l <- Tracer.Layers; m <- Tracer.LayerMetrics) yield
          (s"$l.$m", median(layerTables.map(_(l)(m)).toSeq), unitOf(m))
        val overhead = median(tracedT) - median(plain)
        val gap = median(coverage.map { case (op, top) => op - top }.toSeq)
        printLayerTable(name, perLayer, median(tracedT), overhead, gap)
        writeTrace(a("out"), name, seed, tr, t0, layerTables.toSeq, perLayer, overhead, gap)
        perLayer ++ Seq(("trace.overhead_s", overhead, "s"), ("trace.gap_s", gap, "s"))
      }
    val attempted = outcomes.size
    val result = Map[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> math.min(failed, attempted),
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    println(Json(result))
    0
  }

  def unitOf(metric: String): String = metric match {
    case "jobs" | "tasks" => "count"
    case "shuffle_mb" | "spill_mb" => "MB"
    case "core_util" | "task_skew" => "ratio"
    case _ => "s"
  }

  private def printLayerTable(name: String, perLayer: Seq[(String, Double, String)],
                              opS: Double, overhead: Double, gap: Double): Unit = {
    val v = perLayer.map { case (k, x, _) => k -> x }.toMap
    println(f"layers $name (median of traced ops, op ${opS}%.3f s, tracing overhead ${overhead}%.3f s, " +
      f"gap outside top-level spans ${gap}%.3f s)")
    println("layers " + ("layer" +: Tracer.LayerMetrics).map(s => f"$s%11s").mkString)
    Tracer.Layers.foreach { l =>
      println("layers " + (f"$l%11s" +: Tracer.LayerMetrics.map(m => f"${v(s"$l.$m")}%11.3f")).mkString)
    }
    val dominant = Tracer.Layers.maxBy(l => v(s"$l.wall_s"))
    println(f"layers dominant layer: $dominant (${v(s"$dominant.wall_s")}%.3f s of ${opS}%.3f s)")
  }

  private def writeTrace(out: String, name: String, seed: Long, tr: Tracer, t0: Long,
                         tables: Seq[Map[String, Map[String, Double]]],
                         perLayer: Seq[(String, Double, String)], overhead: Double, gap: Double): Unit = {
    Files.createDirectories(Paths.get(out))
    val doc = Map[String, Any](
      "workload" -> name, "seed" -> seed,
      "per_layer_median" -> perLayer.map { case (k, v, _) => k -> v }.toMap,
      "trace_overhead_s" -> overhead, "trace_gap_s" -> gap,
      "traced_ops" -> tables, "spans" -> tr.spansJson(t0))
    Files.write(Paths.get(out, s"trace-$name-$seed.json"), Json(doc).getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the result line and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}
