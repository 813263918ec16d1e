package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name subset (iteration
    // aid — the driver always runs the full registry with 2 args)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[Set[String]])
      case Array(a, b, f) => (a, b, Some(f.split(",").toSet))
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    var spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      // a fatal executor error stops the SparkContext; without recovery
      // every LATER query would spuriously fail with 'stopped
      // SparkContext' (one bad query zeroing the rest of the gate) —
      // the failed query stays failed, the session is rebuilt
      if (spark.sparkContext.isStopped) {
        System.err.println("[verify] SparkContext stopped — rebuilding session")
        spark = Sessions.local()
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Caches.release() // per-query cache hygiene (see graft.Caches)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // registry manifest: the authoritative registered-query list, so
    // tooling never has to infer it from output dirs (a failed query
    // leaves no dir and would silently undercount)
    val names = SparkEntry.queries.keys.filter(keep).toSeq.sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/names.json"), names)
    spark.stop()
  }
}
