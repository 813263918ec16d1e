package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the mains (`Bench`, `Verify`, `Cli`,
  * `Smoke`, `Explain`), so the correctness gate, the plan audit and the
  * bench plan and run queries under the same settings:
  *
  *  - `local[cpus]` and `cpus` shuffle partitions, where `cpus` is
  *    `SPARK_GRAFT_CPUS` or, when that is unset, the JVM's available
  *    processors (what `local[*]` uses);
  *  - session time zone UTC and parquet INT64 `TIMESTAMP(NANOS)` read as
  *    BIGINT nanoseconds (`nanosAsLong`), the two settings
  *    [[graft.sources.Tables]] relies on to read either `events.parquet`
  *    encoding;
  *  - the UI off, and a 64 MB broadcast-join threshold.
  *
  * Spark's own defaults (AQE on, ANSI on) are not restated. `getOrCreate`
  * returns a live session if there is one; after a stopped context it
  * builds a fresh one, which is how `Bench` and `Verify` recover. */
object Sessions {

  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def local(master: String = s"local[$cpus]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
