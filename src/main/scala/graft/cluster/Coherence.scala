package graft.cluster

import graft.util.PartitionFold
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** u_mass topic coherence (SURVEY.md §2.10 X10; Mimno et al., EMNLP 2011;
  * reference uses gensim `CoherenceModel(coherence="u_mass", topn=20)`,
  * `ihop/clustering.py:799-822,1017-1033`).
  *
  * u_mass(topic) = mean over ordered top-term pairs (i later than j) of
  * log((D(w_i, w_j) + 1) / D(w_j)), natural log, where D counts
  * documents containing the term(s). Each row is one document, and a
  * term counts once per row however often it repeats.
  *
  * Scale shape: one scan and one job for any number of terms. Each
  * partition keeps an array of per-term document counts and an array of
  * co-document counts for the pairs that share a topic (at most
  * topics × topn² / 2, not all pairs of the term union); a
  * [[graft.util.PartitionFold]] sums the arrays, and the log-sum runs on
  * the driver.
  */
object Coherence {

  /** @param tokenized corpus with a `tokensCol: array<string>` column, one
    *                  document per row
    * @param docIdCol  the document id column; rows are the documents, so
    *                  it is not read
    * @param topics    per-topic ordered top terms (most probable first)
    * @return per-topic u_mass scores, aligned with `topics`
    */
  def uMass(tokenized: DataFrame, docIdCol: String, tokensCol: String,
            topics: Seq[Seq[String]]): Seq[Double] = {
    val terms = topics.flatten.distinct
    if (terms.isEmpty) return topics.map(_ => 0.0)
    val index = terms.zipWithIndex.toMap
    // one slot per unordered pair of distinct terms that share a topic
    val slot = topics.flatMap { t =>
      val ids = t.map(index).distinct
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.distinct.zipWithIndex.toMap
    // partners(a) = (b, slot) for every slotted pair (a, b), a < b
    val partners: Array[Array[(Int, Int)]] = {
      val byTerm = slot.toSeq.groupBy(_._1._1)
      Array.tabulate(terms.size)(a =>
        byTerm.getOrElse(a, Nil).map { case ((_, b), s) => (b, s) }.toArray)
    }
    val n = terms.size
    val nPairs = slot.size

    val (docFreq, coFreq) = PartitionFold(tokenized.select(col(tokensCol)).rdd,
        (new Array[Long](n), new Array[Long](nPairs))) { (_, rows) =>
      val df = new Array[Long](n)
      val co = new Array[Long](nPairs)
      val seenAt = Array.fill(n)(-1L) // row number a term was last seen at
      val present = new Array[Int](n)
      var row = 0L
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          var m = 0
          r.getSeq[String](0).foreach { tok =>
            index.get(tok) match {
              case Some(i) if seenAt(i) != row => seenAt(i) = row; present(m) = i; m += 1
              case _ =>
            }
          }
          var p = 0
          while (p < m) {
            val a = present(p)
            df(a) += 1
            partners(a).foreach { case (b, s) => if (seenAt(b) == row) co(s) += 1 }
            p += 1
          }
        }
        row += 1
      }
      (df, co)
    }(addCounts)

    def co(a: String, b: String): Long = {
      val (i, j) = (index(a), index(b))
      slot.get(if (i < j) (i, j) else (j, i)).map(coFreq).getOrElse(0L)
    }
    def d(t: String): Long = docFreq(index(t))

    topics.map { terms =>
      val pairs = for {
        i <- terms.indices; j <- 0 until i
        if d(terms(j)) > 0
      } yield math.log((co(terms(i), terms(j)) + 1.0) / d(terms(j)))
      if (pairs.isEmpty) 0.0 else pairs.sum / pairs.size
    }
  }

  private def addCounts(u: (Array[Long], Array[Long]),
                        v: (Array[Long], Array[Long])): (Array[Long], Array[Long]) = {
    var i = 0
    while (i < u._1.length) { u._1(i) += v._1(i); i += 1 }
    i = 0
    while (i < u._2.length) { u._2(i) += v._2(i); i += 1 }
    u
  }
}
