package graft

import graft.pipelines.Community2Vec
import graft.sources.{Readers, Writers}
import graft.util.Timeparse
import org.apache.spark.sql.SparkSession

/** Command-line entry points mirroring the reference's CLI surface
  * (`python -m ihop.import_data {c2v,bow}`, `ihop/import_data.py:649-697`)
  * so a reference user can run the same jobs against this engine:
  *
  *   runMain graft.Cli c2v  --output-dir OUT comments.json ...
  *   runMain graft.Cli bow  --output OUT.parquet --submissions s.json --comments c.json
  *
  * Options (subset of the reference's):
  *   --top-n N (default 10000)    --exclude-top-pct P (default 0.05)
  *   --min-sentence-length N (2)
  *   --max-time-delta 72h / --min-time-delta 3s (no default: when a flag
  *     is omitted, all comments are kept — matching the reference CLI)
  */
object Cli {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val spark = sys.env.get("SPARK_MASTER").fold(Sessions.local())(Sessions.local(_))
    try run(spark, args.head, parseOpts(args.tail.toIndexedSeq))
    finally spark.stop()
  }

  private def run(spark: SparkSession, cmd: String,
                  parsed: (Map[String, String], Seq[String])): Unit = {
    val (opts, positional) = parsed
    cmd match {
      case "c2v" =>
        val out = opts.getOrElse("output-dir", sys.error("--output-dir required"))
        val comments = Readers.comments(spark, positional: _*)
        val (contexts, top) = Community2Vec.userContexts(
          comments,
          topN = opts.getOrElse("top-n", "10000").toInt,
          excludeTopUserPct = opts.getOrElse("exclude-top-pct", "0.05").toDouble,
          minSentenceLength = opts.getOrElse("min-sentence-length", "2").toInt)
        // reference layout: compressed context CSV dir + single counts CSV
        Writers.csvBzip2(contexts.select("subreddit_concat"), s"$out/contexts")
        Writers.singleCsv(top, s"$out/subreddit_counts")
        println(s"[graft] c2v: wrote $out/contexts and $out/subreddit_counts")

      case "bow" =>
        val out = opts.getOrElse("output", sys.error("--output required"))
        val subs = Readers.submissions(spark,
          opts.getOrElse("submissions", sys.error("--submissions required")))
        val coms = Readers.comments(spark,
          opts.getOrElse("comments", sys.error("--comments required")))
        val joined = Community2Vec.joinedSubmissionsComments(
          subs, coms,
          topN = opts.getOrElse("top-n", "10000").toInt,
          excludeTopUserPct = opts.getOrElse("exclude-top-pct", "0.05").toDouble,
          // reference semantics (`ihop/import_data.py` argparse: "If this
          // is not used, all comments are kept"): no flag → no time filter
          maxTimeDeltaSeconds = opts.get("max-time-delta").map(Timeparse.toSeconds),
          minTimeDeltaSeconds = opts.get("min-time-delta").map(Timeparse.toSeconds))
        Writers.parquet(joined, out)
        println(s"[graft] bow: wrote $out")

      case other =>
        System.err.println(s"unknown command: $other"); usage(); sys.exit(2)
    }
  }

  private def parseOpts(args: Seq[String]): (Map[String, String], Seq[String]) = {
    val opts = scala.collection.mutable.Map[String, String]()
    val positional = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        require(i + 1 < args.length, s"missing value for $a")
        opts(a.drop(2)) = args(i + 1); i += 2
      } else { positional += a; i += 1 }
    }
    (opts.toMap, positional.result())
  }

  private def usage(): Unit = System.err.println(
    """usage: graft.Cli <command> [options] [inputs...]
      |  c2v --output-dir DIR [--top-n N] [--exclude-top-pct P]
      |      [--min-sentence-length N] comments.json...
      |  bow --output PATH --submissions PATH --comments PATH
      |      [--top-n N] [--exclude-top-pct P]
      |      [--max-time-delta 72h] [--min-time-delta 3s]""".stripMargin)
}
