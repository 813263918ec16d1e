package graft.streaming

import graft.functions.{HashFns, NativeFns, TextFns}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming benchmark decontamination: every document on the stream is
  * checked for near-duplication against a small REFERENCE set (eval /
  * benchmark documents) and tagged with the contaminating reference id.
  *
  * This is the streaming face of the training-data curation problem the
  * batch dedup family solves: the reference set's MinHash+LSH index
  * (band key → reference ids, plus reference shingle sets for exact
  * verification) is built once and broadcast; each streamed document
  * computes its own sketch IN the stream (the same native minhash
  * expression the batch pipeline uses), probes the index by band-key
  * equality, and confirms candidates on TRUE Jaccard with the exact
  * integer cross-multiplication — so the emitted verdicts match the
  * batch answer bit-for-bit, and the DuckDB oracle (same md5-prefix
  * hash family as q39's mirror) reproduces the whole pipeline.
  *
  * Scale posture: state-free streaming (no state store at all) — the
  * index is bounded by the reference set, the per-document work by its
  * band count and bucket sizes. Exactly the shape of production
  * decontamination, where the eval sets are small and the stream is
  * the 100 TB corpus.
  */
object StreamDecontaminate {

  final case class Verdict(doc_id: Long, contaminated_by: java.lang.Long)

  /** Sketch columns (shingles + plain band keys) for `df(doc_id, text)`
    * with the SQL-mirrorable md5 hash family — identical math on the
    * batch (reference) and streaming (corpus) sides. */
  private def withSketch(df: DataFrame, shingleK: Int,
                         params: Seq[(Long, Long)],
                         numBands: Int, rowsPerBand: Int): DataFrame =
    df.select(col("doc_id"),
        HashFns.wordShingles(TextFns.wordTokens(col("text")), shingleK).as("_sh"))
      .select(col("doc_id"), col("_sh"),
        NativeFns.minhash(
          HashFns.shingleHashesWith(col("_sh"), HashFns.md5Hash), params).as("_sig"))
      .select(col("doc_id"), col("_sh"),
        HashFns.lshBandKeysPlain(col("_sig"), numBands, rowsPerBand).as("_bands"))

  /** Replay the documents parquet as a stream against the reference set
    * `doc_id < refMax` drawn from the same table. Returns one row per
    * document: (doc_id, contaminated_by | null). */
  def replayParquet(spark: SparkSession, dir: String, refMax: Long,
                    shingleK: Int = 3, numBands: Int = 4, rowsPerBand: Int = 2,
                    tauNum: Int = 1, tauDenom: Int = 2, seed: Long = 42L,
                    queryName: String = "stream_decontam"): DataFrame = {
    import spark.implicits._
    NativeFns.register(spark)
    val params = HashFns.hashParams(numBands * rowsPerBand, seed)

    // reference index, built batch-side and broadcast: band key → ids
    // (ascending, so the first verified candidate is the MIN ref), and
    // id → shingle set for the exact-Jaccard confirmation
    val refRows = withSketch(
        spark.read.parquet(s"$dir/documents.parquet")
          .where(col("doc_id") < refMax).select(col("doc_id"), col("text")),
        shingleK, params, numBands, rowsPerBand)
      .select(col("doc_id"), col("_sh"), col("_bands"))
      .as[(Long, Seq[String], Seq[String])].collect()
    val bandIndex: Map[String, Array[Long]] = refRows
      .flatMap { case (id, _, bands) => bands.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (bk, xs) => bk -> xs.map(_._2).distinct.sorted }
    val refShingles: Map[Long, Set[String]] =
      refRows.map { case (id, sh, _) => id -> sh.toSet }.toMap
    val bIndex = spark.sparkContext.broadcast(bandIndex)
    val bShingles = spark.sparkContext.broadcast(refShingles)

    val stream = ReplayStage.tableStream(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val verdicts = withSketch(stream, shingleK, params, numBands, rowsPerBand)
      .select(col("doc_id"), col("_sh"), col("_bands"))
      .as[(Long, Seq[String], Seq[String])]
      .map { case (id, sh, bands) =>
        val idx = bIndex.value
        val cands = bands.iterator
          .flatMap(bk => idx.getOrElse(bk, Array.empty[Long]))
          .filter(_ != id).toArray.distinct.sorted
        val mine = sh.toSet
        val hit = cands.find { r =>
          val rs = bShingles.value(r)
          val inter = mine.count(rs.contains)
          inter * tauDenom >= tauNum * (mine.size + rs.size - inter)
        }
        Verdict(id, hit.map(java.lang.Long.valueOf).orNull)
      }

    ReplayStage.memorySink(verdicts, queryName, "append")
  }
}
