package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

import scala.jdk.CollectionConverters._

/** The runner and staging of every finite-file stream replay. Every
  * replay starts its query through [[runToEnd]] (via [[memorySink]],
  * [[foreachBatch]] or [[lateDropReplay]]), so the trigger and the
  * state-partition scope live here once.
  *
  * Replays that need an explicit end-of-stream watermark flush (the
  * pattern StatefulSessions introduced) stage a temp dir of symlinks to
  * the real events parquet plus
  * ONE sentinel row (`user_id = -1`) dated `leadNs` past the global max
  * event time. The sentinel's only job is to advance the watermark past
  * every open window/session deadline so the final no-data batch emits
  * everything still buffered; consumers filter `user_id >= 0` AFTER the
  * stateful operator (a filter before it gets pushed below the
  * EventTimeWatermark node and un-advances the watermark).
  */
object ReplayStage {

  final case class Staged(dir: Path, schema: StructType, maxTsNanos: Long) {
    /** Delete the staging dir (symlinks + sentinel). Call after the
      * replay terminates — a multi-pass bench replaying several
      * streaming queries must not accumulate temp dirs across runs. */
    def cleanup(): Unit = deleteRecursively(dir)
  }

  private[streaming] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }

  /** Delete a replay module's `_appended_*` skip markers under a just
    * rebuilt index dir — a fresh build starts a fresh append history,
    * and a stale marker from a previous pass in the same JVM would
    * suppress this run's folds (the multi-pass bench discipline).
    * Shared by all four ingest-loop modules. */
  private[streaming] def sweepAppendMarkers(idxDir: String): Unit = {
    val p = Paths.get(idxDir)
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("_appended_"))
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  /** Run `fold` unless this (idxDir, batchId) already ran — the
    * `_appended_` skip fast-path shared by the four ingest-loop replay
    * modules ([[StreamDeltaDedup]], [[StreamDeltaDedupArrival]],
    * [[StreamSemDedup]], [[StreamIvfIngest]]). The marker is HARNESS
    * machinery, not a correctness gate: every fold inside is an
    * idempotent tagged publish (`appendTagged`/`publishTagged`), so a
    * crash between the fold and the marker write converges on retry
    * anyway; the marker only skips the re-publish work on the
    * fast path. Pairs with [[sweepAppendMarkers]], which clears stale
    * markers when the index is rebuilt in the same JVM. */
  private[streaming] def foldOncePerBatch(idxDir: String, batchId: Long)
                                         (fold: => Unit): Unit = {
    val marker = Paths.get(idxDir, s"_appended_$batchId")
    if (!Files.exists(marker)) {
      fold
      Files.createFile(marker)
      ()
    }
  }

  /** `Files.list` holds an open directory fd until closed — always
    * drain inside try/finally. */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** One sentinel row built FROM the source schema — shared by
    * [[stageEvents]] and [[lateDropReplay]], so an events-table schema
    * change (rename, reorder, new required column) tracks automatically
    * in EVERY replay instead of silently null-filling via the parquet
    * missing-column path (the round-15/16 advice item, now closed for
    * both staging paths). Integer id columns named `user_id`/`event_id`
    * carry −1 (the value downstream `user_id >= 0` filters key on); `ts`
    * carries `tsNanos` converted to the field's physical type (bigint
    * nanos or timestamp); everything else is null. */
  private[streaming] def sentinelFrame(spark: SparkSession,
      schema: StructType, tsNanos: Long): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val nullable = StructType(schema.map(_.copy(nullable = true)))
    val row = org.apache.spark.sql.Row.fromSeq(nullable.map { f =>
      (f.name, f.dataType) match {
        case ("ts", LongType)                     => tsNanos
        case ("user_id" | "event_id", LongType)   => -1L
        case ("user_id" | "event_id", IntegerType) => -1
        case _                                    => null
      }
    })
    // a schema drift (id rename, ts type change) must FAIL the replay,
    // not null-fill the sentinel: consumers key on `user_id >= 0` /
    // `event_id === -1` escapes, and a null id would silently change
    // which rows survive instead of failing the advertised loud way
    require(nullable.exists(f =>
      (f.name == "user_id" || f.name == "event_id") &&
        (f.dataType == LongType || f.dataType == IntegerType)),
      s"sentinelFrame: schema has no integer user_id/event_id column " +
        s"to carry the -1 sentinel id — got ${schema.simpleString}")
    require(schema("ts").dataType == LongType ||
      schema("ts").dataType == TimestampType ||
      schema("ts").dataType == TimestampNTZType,
      s"sentinelFrame: unhandled ts type ${schema("ts").dataType} — the " +
        "sentinel would carry a null event time and never advance the " +
        "watermark")
    val base = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](row), nullable)
    schema("ts").dataType match {
      case t @ (TimestampType | TimestampNTZType) =>
        base.withColumn("ts",
          org.apache.spark.sql.functions
            .expr(s"timestamp_micros($tsNanos DIV 1000)").cast(t))
      case _ => base
    }
  }

  /** Stage `dir/events.parquet` (file or directory of parts) for
    * streaming replay with a sentinel `leadNs` nanoseconds after the
    * max event time. The sentinel is built from the SOURCE schema
    * ([[sentinelFrame]]) and carries `ts` in the same physical type as
    * the source files so the explicit reader schema covers both. */
  def stageEvents(spark: SparkSession, dir: String, leadNs: Long): Staged = {
    val src = s"$dir/events.parquet"
    val srcRaw = spark.read.parquet(src)
    val schema = srcRaw.schema
    val maxTsNanos = graft.sources.Tables.tsNanosNormalized(srcRaw)
      .agg(org.apache.spark.sql.functions.max("ts")).head().getLong(0)

    val replay = Files.createTempDirectory("graft_replay")
    val srcPath = Paths.get(src).toAbsolutePath
    val parts: Seq[Path] =
      if (Files.isDirectory(srcPath))
        listDir(srcPath).filter(_.getFileName.toString.endsWith(".parquet"))
      else Seq(srcPath)
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.createSymbolicLink(replay.resolve(f"events_$i%04d.parquet"), p)
    }

    val sentinelDf = sentinelFrame(spark, schema, maxTsNanos + leadNs)
    val scratch = Files.createTempDirectory("graft_sentinel")
    sentinelDf.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val target = replay.resolve("zz_sentinel.parquet")
    listDir(scratch)
      .find(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.move(p, target))
    deleteRecursively(scratch) // only the moved sentinel part is needed
    Staged(replay, schema, maxTsNanos)
  }

  /** The staged dir as a streaming DataFrame (raw source schema; `ts`
    * normalized to BIGINT nanos).
    *
    * `maxFilesPerTrigger` splits the replay into MULTIPLE micro-batches.
    * With the 0 ms watermarks these replays use, that is only safe when
    * the source's PROCESSING order equals event-time order: after batch
    * 1 the watermark advances to that batch's max event time, and any
    * later file holding earlier events would have those rows silently
    * dropped as late. The file source processes oldest-modification-time
    * first (ties in listing order, which nothing guarantees), so when
    * maxFilesPerTrigger is set the staged parts are verified first (one
    * scan of the ts column — a replay-tool cost, not a production-path
    * one): mtimes must be strictly increasing (an mtime tie makes the
    * processing order undefined) and event-time ranges non-overlapping
    * in that order. An unsafe layout fails loudly instead of
    * under-counting. */
  def readStream(spark: SparkSession, staged: Staged,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    maxFilesPerTrigger.foreach { _ =>
      import org.apache.spark.sql.functions.{col, input_file_name, max => fmax, min => fmin}
      val perFile = graft.sources.Tables.tsNanosNormalized(
          spark.read.schema(staged.schema).parquet(staged.dir.toString))
        .groupBy(input_file_name().as("f"))
        .agg(fmin(col("ts")).as("lo"), fmax(col("ts")).as("hi"))
        .collect() // bounded by the part-file count
        .map { r =>
          // symlink mtime follows the TARGET (java.io semantics), which
          // is also what the Hadoop local FS reports to the file source
          val p = Paths.get(java.net.URI.create(r.getString(0)))
          (Files.getLastModifiedTime(p).toMillis, r.getString(0),
            r.getLong(1), r.getLong(2))
        }
        .sortBy { case (mt, f, _, _) => (mt, f) }
      var runMax = Long.MinValue
      var prevMt = Long.MinValue
      perFile.foreach { case (mt, f, lo, hi) =>
        require(mt > prevMt || perFile.length == 1,
          s"maxFilesPerTrigger replay requires strictly increasing part " +
            s"mtimes, but $f shares mtime $mt ms with an earlier part — " +
            "the source's processing order between them is undefined")
        // lo == runMax is fine: rows AT the watermark are not late
        require(lo >= runMax,
          s"maxFilesPerTrigger replay requires time-ordered parts, but $f " +
            s"starts at $lo ns, before an earlier part's max $runMax ns — " +
            "a multi-batch replay would drop its early rows as late")
        prevMt = mt
        runMax = math.max(runMax, hi)
      }
    }
    val reader = spark.readStream.schema(staged.schema)
      .option("pathGlobFilter", "*.parquet")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.sources.Tables.tsNanosNormalized(reader.parquet(staged.dir.toString))
  }

  /** Streaming source over the table `dir/<table>.parquet` with an
    * explicit reader schema, for replays that need no end-of-stream
    * watermark flush (complete mode re-emits everything; stateless and
    * dedup replays emit as they go). Handles both layouts: a single
    * file and a directory of part files. Raw source columns; callers
    * normalize `ts` via [[graft.sources.Tables.tsNanosNormalized]]. */
  def tableStream(spark: SparkSession, dir: String,
                  table: String = "events"): DataFrame = {
    val src = s"$dir/$table.parquet"
    val schema = spark.read.parquet(src).schema
    if (Files.isDirectory(Paths.get(src)))
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(src)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** The state-partition count of every replay. A stateful query fixes
    * it at first start from `spark.sql.shuffle.partitions`, and a
    * bounded replay's small keyed state runs fastest on a handful of
    * stores, not on the session default. [[runToEnd]] scopes the conf
    * to this value while its query starts and runs. */
  val StatePartitions = 8

  /** The one place a replay starts a streaming query: `sink` configures
    * the writer, the query runs with an AvailableNow trigger to the end
    * of its input on [[StatePartitions]] shuffle partitions, and the
    * session's own value is restored afterwards, also on failure.
    * A foreachBatch replay's per-batch jobs plan on the same count
    * (AQE coalesces their shuffles). Returns the finished query (its
    * progress carries the per-batch state-operator metrics). The
    * state-store provider is Spark's
    * `spark.sql.streaming.stateStore.providerClass`, read from the
    * session at start like any other conf. */
  private[streaming] def runToEnd[T](stream: Dataset[T])
      (sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val spark = stream.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StatePartitions.toLong)
    try {
      val q = sink(stream.writeStream).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    } finally spark.conf.set(key, prev)
  }

  /** Replay `stream` in `outputMode` into the memory table `queryName`
    * and return the finished table. */
  def memorySink[T](stream: Dataset[T], queryName: String,
                    outputMode: String): DataFrame = {
    runToEnd(stream)(
      _.outputMode(outputMode).format("memory").queryName(queryName))
    stream.sparkSession.table(queryName)
  }

  /** Replay `stream` through the per-micro-batch function `f`. */
  def foreachBatch(stream: DataFrame, queryName: String)
                  (f: (DataFrame, Long) => Unit): Unit = {
    runToEnd(stream)(_.foreachBatch(f).queryName(queryName))
    ()
  }

  /** Write `df` as ONE parquet part named `name` under `dir` with the
    * given mtime — a staged replay's processing order is mtime order. */
  private def writePart(df: DataFrame, dir: Path, name: String,
                        mtimeMs: Long): Unit = {
    val scratch = Files.createTempDirectory("graft_replay_part")
    df.coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(scratch.toString)
    val s = Files.list(scratch)
    try s.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .foreach { p =>
        val dst = dir.resolve(name)
        Files.move(p, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      }
    finally s.close()
    deleteRecursively(scratch)
  }

  /** Stage `parts` as one parquet file each into a temp dir with
    * increasing mtimes — the file source processes oldest mtime first,
    * so part i is micro-batch i — replay them one file per trigger
    * through `body`, and delete the staging dir afterwards. The shared
    * staging of [[lateDropReplay]] and the four ingest loops. */
  private[streaming] def replayParts[A](parts: Seq[DataFrame])
                                       (body: DataFrame => A): A = {
    val staged = Files.createTempDirectory("graft_replay_parts")
    try {
      parts.zipWithIndex.foreach { case (p, i) =>
        writePart(p, staged, f"$i%02d.parquet", (i + 1) * 1000000L)
      }
      body(parts.head.sparkSession.readStream.schema(parts.head.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged.toString))
    } finally deleteRecursively(staged)
  }

  /** `df` cut into `n` ID-ORDERED parts: the id range [lo, hi] split
    * into `n` equal spans (two tiny aggregates, no collect of ids). For
    * n = 2 the single cut lo + (hi − lo)/2 equals the midpoint
    * (lo + hi)/2 (sum and difference share parity). */
  private[streaming] def idRangeParts(df: DataFrame, idCol: String,
                                      n: Int): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{col, max, min}
    require(n >= 1, s"numBatches=$n")
    val mm = df.agg(min(col(idCol)), max(col(idCol))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cuts = (1 until n).map(i => lo + (hi - lo) * i / n)
    val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
    (0 until n).map(i =>
      df.where(col(idCol) > bounds(i) && col(idCol) <= bounds(i + 1)))
  }

  /** `df` cut into `n` ARRIVAL-ordered parts by the portable hash
    * `md5('arr:' || id) % n` — deliberately decorrelated from id
    * order. */
  private[streaming] def arrivalParts(df: DataFrame, idCol: String,
                                      n: Int): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    require(n >= 1, s"numBatches=$n")
    val arrB = pmod(graft.functions.HashFns.md5Hash60(
      concat(lit("arr:"), col(idCol).cast("string"))), lit(n.toLong))
    (0 until n).map(i => df.where(arrB === i))
  }

  /** Run an UPDATE/APPEND-mode replay with a WITNESSED late-data drop —
    * the staging StreamPsiUpdate introduced, shared by every monitor
    * that wants the 24/7 posture proven: stage four time-ordered parts
    * (on-time rows → empty gap → the `lateRule` rows → a sentinel two
    * days past `maxTsNanos`), process one file per micro-batch, run the
    * caller's stateful `plan` over the stream in append mode into a
    * memory sink named `queryName`, and REQUIRE that the watermark
    * dropped rows.
    *
    * Staging internals this leans on (measured on Spark 4.1): batch N's
    * late-input filter uses the watermark as of batch N−1's START — the
    * empty gap batch is what lets it catch up past the on-time rows —
    * and the final day closes via the post-sentinel no-data batch
    * (`spark.sql.streaming.noDataMicroBatches.enabled`, default true).
    * A Spark upgrade that changes either fails the drop assertion
    * loudly instead of silently changing the emitted set. The sentinel
    * is built FROM the source schema ([[sentinelFrame]]: −1 ids, `ts`
    * past the horizon, all else null), so schema changes track
    * automatically.
    *
    * This deliberately BYPASSES [[readStream]]'s part-order guard: that
    * guard protects replays that must not lose rows; here the
    * out-of-order late file IS the fixture. */
  def lateDropReplay(spark: SparkSession, norm: DataFrame,
                     lateRule: org.apache.spark.sql.Column, maxTsNanos: Long,
                     queryName: String)
                    (plan: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.functions.lit
    val dayNs = 86400L * 1000000000L
    val parts = Seq(norm.where(!lateRule), norm.where(lit(false)),
      norm.where(lateRule),
      sentinelFrame(spark, norm.schema, maxTsNanos + 2 * dayNs))
    val q = replayParts(parts) { stream =>
      runToEnd(plan(stream))(
        _.outputMode("append").format("memory").queryName(queryName))
    }
    val dropped = q.recentProgress.iterator
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    require(dropped > 0,
      s"lateDropReplay($queryName): expected the watermark to drop " +
        s"the staged late rows, but numRowsDroppedByWatermark = $dropped")
  }
}
