package graft.embed

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Community embeddings (SURVEY.md §2.10 X1–X5).
  *
  * The reference trains gensim word2vec SGNS over per-user subreddit
  * "sentences" (`ihop/community2vec.py:157-276`) with the window sized
  * to the longest context (effectively unlimited). The trainer is the
  * native [[Sgns]] module (skip-gram negative sampling with
  * subsampling, the reference's training semantics); this object holds
  * what is scored on its vectors: analogy accuracy and the reference's
  * 4-axis sweep, [[gridSearch]]. */
object Embeddings {

  // ------------------------------------------------------------ analogies

  /** One analogy question a:b :: c:?, expected answer d, under an
    * optional section label (gensim sectioned file format). */
  final case class Analogy(section: String, a: String, b: String, c: String, d: String)

  final case class SectionScore(section: String, correct: Long, total: Long) {
    def accuracy: Double = if (total == 0) 0.0 else correct.toDouble / total
  }
  final case class AnalogyResult(overall: Double, solvable: Long,
                                 sections: Seq[SectionScore])

  /** One scored question: `solvable` = all four terms in the
    * (restricted) vocab; `predicted` = the 3CosAdd argmax word, None
    * when unsolvable or every candidate was excluded. */
  final case class AnalogyPrediction(q: Analogy, solvable: Boolean,
                                     predicted: Option[String])

  /** Per-question 3CosAdd argmax — the math of [[evaluateAnalogies]]
    * exposed one question at a time, so an oracle-backed mirror query
    * can hash-check WHICH candidate wins, not just the accuracy count.
    * Ties break toward the earliest word in `vecs` order (strict `>`
    * scan), which a SQL mirror reproduces with
    * `ORDER BY score DESC, word ASC`. */
  def predictAnalogies(vecs: Seq[(String, Array[Float])],
                       analogies: Seq[Analogy],
                       restrictVocab: Int = 10000,
                       caseInsensitive: Boolean = false): Seq[AnalogyPrediction] = {
    val restricted = vecs.take(restrictVocab)
    def key(w: String) = if (caseInsensitive) w.toLowerCase else w
    val index = restricted.map { case (w, v) => key(w) -> v }.toMap
    val words = restricted.map(_._1).toArray
    val unit = restricted.map { case (_, v) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n == 0) v.map(_.toDouble) else v.map(_ / n)
    }.toArray

    analogies.map { q =>
      (index.get(key(q.a)), index.get(key(q.b)), index.get(key(q.c)),
        index.get(key(q.d))) match {
        case (Some(va), Some(vb), Some(vc), Some(_)) =>
          val target = norm1(sub(add(norm(vb), norm(vc)), norm(va)))
          val exclude = Set(key(q.a), key(q.b), key(q.c))
          var best = -1; var bestScore = Double.MinValue
          var i = 0
          while (i < words.length) {
            if (!exclude.contains(key(words(i)))) {
              val s = dot(unit(i), target)
              if (s > bestScore) { bestScore = s; best = i }
            }
            i += 1
          }
          AnalogyPrediction(q, solvable = true,
            if (best >= 0) Some(words(best)) else None)
        case _ => // unsolvable: some term OOV — skipped (gensim semantics)
          AnalogyPrediction(q, solvable = false, None)
      }
    }
  }

  /** X3: 3CosAdd analogy accuracy, gensim semantics
    * (reference `ihop/community2vec.py:307-328`): restrict to the
    * `restrictVocab` most-frequent words, skip questions with any OOV
    * term, argmax cosine(v, b - a + c) over the restricted vocab
    * excluding {a, b, c}; P@1 over solvable questions; per-section
    * detail. Driver-side BLAS over the collected matrix — the vocab is
    * ~10k × 100 floats, trivially driver-sized (SURVEY.md §2.10 X3);
    * the distributed alternative is a broadcast cross-join scoring the
    * same argmax.
    *
    * @param vecs    word → embedding, in frequency order (most frequent
    *                first) when `restrictVocab` is used.
    */
  def evaluateAnalogies(vecs: Seq[(String, Array[Float])],
                        analogies: Seq[Analogy],
                        restrictVocab: Int = 10000,
                        caseInsensitive: Boolean = false): AnalogyResult = {
    def key(w: String) = if (caseInsensitive) w.toLowerCase else w
    val preds = predictAnalogies(vecs, analogies, restrictVocab, caseInsensitive)
    val sections = preds.groupBy(_.q.section).toSeq.sortBy(_._1).map {
      case (sec, ps) =>
        val solvable = ps.filter(_.solvable)
        val correct = solvable.count(p =>
          p.predicted.exists(w => key(w) == key(p.q.d)))
        SectionScore(sec, correct.toLong, solvable.size.toLong)
    }
    val correct = sections.map(_.correct).sum
    val total = sections.map(_.total).sum
    AnalogyResult(if (total == 0) 0.0 else correct.toDouble / total, total, sections)
  }

  private def norm(v: Array[Float]): Array[Double] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n == 0) v.map(_.toDouble) else v.map(_ / n)
  }
  private def norm1(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }
  private def add(a: Array[Double], b: Array[Double]) = a.zip(b).map(t => t._1 + t._2)
  private def sub(a: Array[Double], b: Array[Double]) = a.zip(b).map(t => t._1 - t._2)
  private def dot(a: Array[Double], b: Array[Double]) = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Parse gensim sectioned analogy text (`: section` headers then
    * whitespace 4-tuples — reference `ihop/resources/analogies`). */
  def parseAnalogyFile(lines: Iterator[String]): Seq[Analogy] = {
    var section = "default"
    val out = Seq.newBuilder[Analogy]
    lines.foreach { line =>
      val t = line.trim
      if (t.startsWith(":")) section = t.drop(1).trim
      else if (t.nonEmpty) t.split("\\s+") match {
        case Array(a, b, c, d) => out += Analogy(section, a, b, c, d)
        case _ =>
      }
    }
    out.result()
  }

  /** Analogy 4-tuples from a pair CSV (rows `a,b`): all cross-row
    * combinations (reference `ihop/resources/analogies/__init__.py:7-22`). */
  def analogiesFromPairs(pairs: Seq[(String, String)], section: String): Seq[Analogy] =
    for {
      (a, b) <- pairs; (c, d) <- pairs if (a, b) != (c, d)
    } yield Analogy(section, a, b, c, d)

  // ----------------------------------------------------------- grid search

  /** Reference model-id format (`ihop/community2vec.py:557-568`): param
    * keys sorted alphabetically, snake_case camelCased, each rendered
    * `key` + `value`, all joined with `_` —
    * e.g. `alpha0.05_negative20_sample0.0_vectorSize100`. */
  def modelId(params: Map[String, String]): String =
    params.toSeq.sortBy(_._1).map { case (k, v) =>
      val parts = k.split("_")
      (parts.head +: parts.tail.map(_.capitalize)).mkString + v
    }.mkString("_")

  /** Reference per-section detail format (`ihop/community2vec.py:85-97`):
    * `section:correct/total`, comma-joined. */
  def sectionsToStr(sections: Seq[SectionScore]): String =
    sections.map(s => s"${s.section}:${s.correct}/${s.total}").mkString(",")

  /** One trained configuration of [[gridSearch]]. */
  final case class GridResult(modelId: String, params: Map[String, String],
                              accuracy: Double, detail: String,
                              model: Sgns.Model)

  /** X5: the [[Sgns]] sweep over the reference's 4-axis grid — alpha ×
    * vector_size × sample × negative (`params.yaml:68-74`). Trains each
    * configuration, scores it on analogies and keeps the best (ties →
    * later config, matching the reference's `acc >= best_acc` update
    * rule, `ihop/community2vec.py:476-505`). Pure driver orchestration;
    * pass `metricsDir` to persist the per-model accuracy CSV
    * ([[writePerformanceCsvRows]]). */
  def gridSearch(spark: SparkSession, df: DataFrame, base: Sgns.Config,
                 alphas: Seq[Double], vectorSizes: Seq[Int],
                 samples: Seq[Double], negatives: Seq[Int],
                 analogies: Seq[Analogy],
                 metricsDir: Option[String] = None): (GridResult, Seq[GridResult]) = {
    val results = for {
      a <- alphas; vs <- vectorSizes; smp <- samples; neg <- negatives
    } yield {
      val cfg = base.copy(alpha = a, vectorSize = vs, sample = smp,
        negative = neg)
      val m = Sgns.fit(df, cfg)
      val res = evaluateAnalogies(m.collectVectors, analogies,
        restrictVocab = m.words.length)
      val params = Map("alpha" -> a.toString, "vector_size" -> vs.toString,
        "sample" -> smp.toString, "negative" -> neg.toString)
      GridResult(modelId(params), params, res.overall,
        sectionsToStr(res.sections), m)
    }
    metricsDir.foreach(dir => writePerformanceCsvRows(spark,
      results.map(r => (r.modelId, r.accuracy, r.detail, r.params)), dir))
    (results.reduceLeft((b, r) => if (r.accuracy >= b.accuracy) r else b), results)
  }

  /** The reference's `analogy_accuracy_results.csv` artifact — one row
    * per trained model: id, accuracy, per-section detail, then the
    * param columns (`ihop/community2vec.py:582-589`) — written through
    * the S7 single-file CSV sink. */
  def writePerformanceCsvRows(spark: SparkSession,
                              results: Seq[(String, Double, String, Map[String, String])],
                              dir: String): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val paramKeys = results.headOption.map(_._4.keys.toSeq.sorted).getOrElse(Nil)
    val schema = StructType(
      (Seq("model_id", "analogy_acc", "detailed_analogy") ++ paramKeys)
        .map(StructField(_, StringType)))
    val rows = results.map { case (id, acc, detail, params) =>
      Row.fromSeq(Seq(id, acc.toString, detail) ++ paramKeys.map(params))
    }
    import scala.jdk.CollectionConverters._
    graft.sources.Writers.singleCsv(
      spark.createDataFrame(rows.asJava, schema), dir)
  }
}
