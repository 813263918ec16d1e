package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites (one JVM-wide session — Spark's
  * getOrCreate reuses it across suites). The broadcast threshold is
  * `graft.Sessions`' 64 MB, so plan-shape assertions check the plans
  * the mains run. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("spark-wh").toString)
    .getOrCreate()

  def sf(name: String) = s"/root/testdata/$name"
}
