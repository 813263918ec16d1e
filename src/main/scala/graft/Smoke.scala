package graft

/** Local smoke runner: exercises SparkEntry.entry the way the driver
  * does (rows > 0 on sf0.001) and prints the row count + schema. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry schema: ${df.schema.simpleString}")
    println(s"[smoke] entry rows: ${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
