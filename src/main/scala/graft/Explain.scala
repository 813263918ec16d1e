package graft

/** Plan-audit tool: print the formatted physical plan of registry
  * queries without executing them (streaming replays excepted — those
  * must run to have a plan, so they are skipped here).
  *
  * Usage: runMain graft.Explain <sfDir> <name>[,<name>...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.split(",").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"==== $name ====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
