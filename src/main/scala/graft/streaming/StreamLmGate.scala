package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.text.NgramLm

/** Streaming LM perplexity gate: q80's CCNet-style filter applied at
  * ingest — fit the bigram model on the CLEAN static corpus offline,
  * then score and gate the incoming stream row-locally against the
  * broadcast model.
  *
  * Scale posture: STATELESS. The model is collected to driver maps
  * once — vocab-bounded (Zipf ≪ corpus) behind a loud
  * [[MaxModelEntries]] guard, the Tsne/AffinityProp driver-size
  * discipline — and broadcast; each stream row then scores with pure
  * map lookups inside `mapPartitions`, so there is no state store, no
  * watermark, and no stream-side shuffle: throughput is input
  * bandwidth. The per-term math is bit-identical to the batch path
  * (⌊1e6·ln((c2+1)/(c1+|V|))⌋, division before ln), so stream ≡ batch
  * row-for-row and the two share one oracle.
  */
object StreamLmGate {

  /** Driver-held model: bigram and prev counts plus |V|. */
  final case class LmTables(c2: Map[(String, String), Long],
                            c1: Map[String, Long], vocabSize: Long)

  /** Hard ceiling on driver-held count entries — fail loudly rather
    * than silently OOM the driver on a corpus whose bigram table is
    * not vocab-like. */
  val MaxModelEntries: Long = 5000000L

  /** Collect a fitted [[NgramLm.Model]] into broadcastable maps. */
  def collectModel(model: NgramLm.Model): LmTables = {
    val n = model.bigramCounts.count()
    require(n <= MaxModelEntries,
      s"StreamLmGate: bigram table has $n entries > $MaxModelEntries — " +
        "prune with a minCount before broadcasting")
    val c2 = model.bigramCounts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val c1 = model.prevCounts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    LmTables(c2, c1, model.vocabSize)
  }

  /** Row-local scaled score — the exact batch term math. */
  private def score(tokens: Seq[String], t: LmTables): (Long, Long) = {
    var n = 0L; var lp = 0L
    var i = 1
    while (i < tokens.length) {
      val prev = tokens(i - 1); val cur = tokens(i)
      val c2 = t.c2.getOrElse((prev, cur), 0L)
      val c1 = t.c1.getOrElse(prev, 0L)
      lp += math.floor(1000000.0 *
        math.log((c2 + 1.0) / (c1 + t.vocabSize.toDouble))).toLong
      n += 1
      i += 1
    }
    (n, lp)
  }

  /** Admitted doc ids of a (streaming or batch) documents frame:
    * average scaled log-prob clears `minAvgScaled`, bigram-less docs
    * pass (q80's gate). Stateless mapPartitions — the broadcast maps
    * are referenced once per partition, rows stream through. */
  def admitted(docs: DataFrame, idCol: String, textCol: String,
               tables: LmTables, minAvgScaled: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(tables)
    val toks: Dataset[(Long, Seq[String])] = docs
      .select(col(idCol).cast("long"),
        TextFns.wordTokens(col(textCol))).as[(Long, Seq[String])]
    toks.mapPartitions { it =>
      val t = bc.value
      it.flatMap { case (id, tk) =>
        val (n, lp) = score(tk, t)
        if (n == 0L || lp >= minAvgScaled * n) Iterator.single(id) else Iterator.empty
      }
    }.toDF(idCol)
  }

  /** Replay the documents parquet through the gate (stream ≡ batch —
    * pure row filter, no state). */
  def replayParquet(spark: SparkSession, dir: String, tables: LmTables,
                    minAvgScaled: Long,
                    queryName: String = "stream_lm_gate"): DataFrame = {
    ReplayStage.memorySink(admitted(ReplayStage.tableStream(spark, dir,
      "documents"), "doc_id", "text", tables, minAvgScaled), queryName, "append")
  }
}
