package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.SaveMode

/** Staging hygiene, the multi-batch ordering guard and the runner:
  * stageEvents must not leak its sentinel scratch dir, Staged.cleanup
  * must remove the replay dir, readStream(maxFilesPerTrigger) must
  * refuse a part layout whose processing order (oldest mtime first,
  * the file source's rule) is not time order — or is undefined because
  * mtimes tie (a 0 ms-watermark multi-batch replay would silently drop
  * the out-of-order rows as late) — and runToEnd must run every query
  * on its own state-partition count without leaking it into the
  * session. */
class ReplayStageSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  test("runToEnd: stateful plans run on StatePartitions; the session " +
    "value is restored, also when the plan throws") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      val counts = ReplayStage.tableStream(spark, sf("sf0.001"))
        .groupBy($"user_id").count()
      val q = ReplayStage.runToEnd(counts)(
        _.outputMode("complete").format("memory").queryName("runner_probe"))
      assert(q.lastProgress.stateOperators(0).numShufflePartitions ==
        ReplayStage.StatePartitions)
      assert(spark.conf.get(key) == "3", "the session value must be restored")

      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        ReplayStage.foreachBatch(
            ReplayStage.tableStream(spark, sf("sf0.001")), "runner_boom") {
          (_: org.apache.spark.sql.DataFrame, _: Long) =>
            throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage.contains("boom"))
      assert(spark.conf.get(key) == "3",
        "the session value must be restored when the query fails")
    } finally spark.conf.set(key, before)
  }

  /** events.parquet with two named parts: part A covers day-0 events,
    * part B covers day-1 events; `aFirst` controls whether mtime order
    * (the file source's processing order — part A gets the older mtime)
    * matches time order; `tieMtimes` gives both parts the SAME mtime.
    * Rows are (user_id, event_id, ts-nanos). */
  private def stageDir(aFirst: Boolean, tieMtimes: Boolean = false): Path = {
    val root = Files.createTempDirectory("replay_spec")
    val ev = root.resolve("events.parquet")
    Files.createDirectory(ev)
    val dayNs = 86400L * 1000000000L
    def write(rows: Seq[(Long, Long, Long)], tmpName: String, part: String,
              mtimeMs: Long): Unit = {
      val scratch = Files.createTempDirectory(tmpName)
      rows.toDF("user_id", "event_id", "ts")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(scratch.toString)
      val src = Files.list(scratch)
      try src.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .foreach { p =>
          val dst = ev.resolve(part)
          Files.move(p, dst)
          Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
        }
      finally src.close()
    }
    val early = Seq((1L, 1L, 1L), (2L, 2L, dayNs / 2))
    val late = Seq((3L, 3L, dayNs + 1L), (4L, 4L, dayNs + dayNs / 2))
    write(if (aFirst) early else late, "rs_a", "part-a.parquet", 1000000L)
    write(if (aFirst) late else early, "rs_b", "part-b.parquet",
      if (tieMtimes) 1000000L else 1010000L)
    root
  }

  test("stageEvents leaves no sentinel scratch dir; cleanup removes the replay dir") {
    val dir = stageDir(aFirst = true)
    val staged = ReplayStage.stageEvents(spark, dir.toString, 1000000L)
    assert(Files.isDirectory(staged.dir))
    val listed = Files.list(staged.dir)
    val names = try listed.iterator().asScala.map(_.getFileName.toString).toSet
      finally listed.close()
    assert(names.contains("zz_sentinel.parquet") && names.size == 3,
      s"2 event symlinks + 1 sentinel expected: $names")
    staged.cleanup()
    assert(!Files.exists(staged.dir), "cleanup must delete the staging dir")
  }

  test("maxFilesPerTrigger accepts time-ordered parts and rejects unordered ones") {
    val ok = ReplayStage.stageEvents(spark, stageDir(aFirst = true).toString, 1000000L)
    try ReplayStage.readStream(spark, ok, maxFilesPerTrigger = Some(1))
    finally ok.cleanup()

    val bad = ReplayStage.stageEvents(spark, stageDir(aFirst = false).toString, 1000000L)
    try {
      val e = intercept[IllegalArgumentException] {
        ReplayStage.readStream(spark, bad, maxFilesPerTrigger = Some(1))
      }
      assert(e.getMessage.contains("time-ordered"))
    } finally bad.cleanup()
  }

  test("maxFilesPerTrigger rejects mtime ties (processing order undefined)") {
    val tied = ReplayStage.stageEvents(spark,
      stageDir(aFirst = true, tieMtimes = true).toString, 1000000L)
    try {
      val e = intercept[IllegalArgumentException] {
        ReplayStage.readStream(spark, tied, maxFilesPerTrigger = Some(1))
      }
      assert(e.getMessage.contains("strictly increasing"))
    } finally tied.cleanup()
  }

  test("single-batch replay (no maxFilesPerTrigger) needs no ordering check") {
    val bad = ReplayStage.stageEvents(spark, stageDir(aFirst = false).toString, 1000000L)
    try ReplayStage.readStream(spark, bad, maxFilesPerTrigger = None)
    finally bad.cleanup()
  }
}
