package graft

import graft.cluster.{Clustering, Topics}
import graft.embed.{Embeddings, Sgns}
import graft.export.{Annotation, Projection}
import graft.text.TextPipeline
import org.apache.spark.ml.linalg.SparseVector
import org.apache.spark.sql.functions._

/** ML-pipeline tests mirroring the reference's
  * `tests/test_text_processing.py` / `test_clustering.py` /
  * `test_community2vec.py` golden style. */
class MlSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ text M1–M5

  test("M1 tokenizer goldens: hashtags, emails, hyphens kept; punctuation dropped") {
    val df = Seq("Accept #hashtag and some.one@email.com yo-yo, drop ... !")
      .toDF("document_text")
    val (_, out) = TextPipeline.fitTransform(df,
      TextPipeline.Config(minDF = 0.0, maxDF = 1e9, stopLanguage = None))
    val toks = out.select("tokenized").as[Seq[String]].head()
    assert(toks == Seq("accept", "#hashtag", "and", "some.one@email.com",
      "yo-yo", "drop"))
  }

  test("M2 stop words removed case-insensitively; M3 sparse vectors counted") {
    val df = Seq(
      (1, "The cat saw the dog"),
      (2, "dog dog dog and cat")).toDF("id", "document_text")
    val (model, out) = TextPipeline.fitTransform(df,
      TextPipeline.Config(minDF = 0.0, maxDF = 1e9))
    val vocab = TextPipeline.vocabulary(model)
    assert(!vocab.contains("the") && !vocab.contains("and"))
    assert(vocab.toSet == Set("cat", "dog", "saw"))
    val vec = out.where(col("id") === 2)
      .select("vectorized").head().getAs[SparseVector](0)
    val dogIdx = vocab.indexOf("dog")
    assert(vec(dogIdx) == 3.0)
  }

  test("M5 pipeline save/load round-trip preserves vocabulary") {
    val df = Seq("alpha beta gamma alpha").toDF("document_text")
    val (model, _) = TextPipeline.fitTransform(df,
      TextPipeline.Config(minDF = 0.0, maxDF = 1e9, stopLanguage = None))
    val dir = java.nio.file.Files.createTempDirectory("tp").toString + "/model"
    TextPipeline.save(model, dir)
    val loaded = TextPipeline.load(dir)
    assert(TextPipeline.vocabulary(loaded).toSeq ==
      TextPipeline.vocabulary(model).toSeq)
  }

  // ------------------------------------------------------------- LDA M6–M8

  test("M6/M7 LDA: asymmetric alpha, k topics, words resolved, doc dists") {
    assert(Topics.asymmetricAlpha(4).toSeq == Seq(
      1.0 / (0 + 2), 1.0 / (1 + 2), 1.0 / (2 + 2), 1.0 / (3 + 2)))
    val docs = Seq(
      (1L, "apple banana apple fruit market"),
      (2L, "banana fruit apple stand market"),
      (3L, "spark plan rule catalyst engine"),
      (4L, "rule engine spark catalyst plan")).toDF("id", "document_text")
    val (pm, vectorized) = TextPipeline.fitTransform(docs,
      TextPipeline.Config(minDF = 0.0, maxDF = 1e9, stopLanguage = None))
    val lda = Topics.fit(vectorized, Topics.Config(k = 2, maxIter = 20))
    val topics = Topics.describeTopicsWithWords(spark, lda,
      TextPipeline.vocabulary(pm), maxTerms = 3)
    assert(topics.count() == 2)
    assert(topics.select("terms").as[String].collect().forall(_.split(" ").length == 3))
    val docTopics = Topics.documentTopics(lda, vectorized, "id")
    val sums = docTopics.groupBy("id").agg(sum("prob")).as[(Long, Double)]
      .collect().toMap
    assert(sums.values.forall(s => math.abs(s - 1.0) < 1e-6))
  }

  // --------------------------------------------------------- word2vec X1–X5

  test("X3 analogy evaluation: exact-geometry analogies solve; OOV skipped") {
    // vec(b) - vec(a) + vec(c) == vec(d) exactly
    val vecs = Seq(
      "king" -> Array(1f, 1f), "queen" -> Array(1f, -1f),
      "man" -> Array(3f, 1f), "woman" -> Array(3f, -1f),
      "filler" -> Array(-5f, 0f))
    val good = Embeddings.Analogy("royal", "king", "queen", "man", "woman")
    val oov = Embeddings.Analogy("royal", "king", "queen", "ghost", "woman")
    val res = Embeddings.evaluateAnalogies(vecs, Seq(good, oov))
    assert(res.solvable == 1 && res.overall == 1.0)
    assert(res.sections == Seq(Embeddings.SectionScore("royal", 1, 1)))
  }

  test("X3 analogy parsing: sectioned file and pair-CSV expansion") {
    val parsed = Embeddings.parseAnalogyFile(Iterator(
      ": caps", "a b c d", "e f g h", ": other", "i j k l", ""))
    assert(parsed.map(_.section) == Seq("caps", "caps", "other"))
    val expanded = Embeddings.analogiesFromPairs(
      Seq(("a", "b"), ("c", "d"), ("e", "f")), "s")
    assert(expanded.size == 6) // 3 pairs × 2 other pairs
    assert(expanded.contains(Embeddings.Analogy("s", "a", "b", "c", "d")))
  }

  test("X1/X4 word2vec trains and finds qualitative neighbors") {
    // mirror the reference's hockey→nba smoke (test_community2vec.py:90-93):
    // two 'leagues' of co-occurring tokens
    val rnd = new scala.util.Random(7)
    val contexts = (1 to 300).map { _ =>
      if (rnd.nextBoolean()) Seq("hockey", "nba", "nfl", "sports")
      else Seq("python", "scala", "rust", "coding")
    }.toDF("context_words")
    val model = Sgns.fit(contexts,
      Sgns.Config(vectorSize = 8, epochs = 3, window = 4,
        numPartitions = 1, seed = 1L))
    val neighbors = model.neighbors("hockey", 2).map(_._1).toSet
    assert(neighbors.subsetOf(Set("nba", "nfl", "sports")),
      s"hockey neighbors were $neighbors")
  }

  // -------------------------------------------------------- clustering X6–X8

  test("X6/X8 KMeans + metrics on a separable fixture (closed-form CH/DB)") {
    val pts = Seq(
      (1L, Array(0f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(10f, 10f)), (4L, Array(10f, 11f)))
      .toDF("vec_id", "embedding")
    val cfg = Clustering.Config(k = 2, seed = 1L, normalize = false)
    val model = Clustering.fit(pts, cfg)
    val assigned = Clustering.assign(model, pts, cfg)
    // perfect separation
    val groups = assigned.select("cluster", "vec_id").as[(Int, Long)]
      .collect().groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    assert(groups == Set(Set(1L, 2L), Set(3L, 4L)))
    val m = Clustering.metrics(assigned)
    // hand-derived: W=1.0, B=200, k=2, n=4 → CH=400; DB=1/14.142≈0.0707
    assert(math.abs(m("calinski_harabasz") - 400.0) < 1e-6)
    assert(math.abs(m("davies_bouldin") - 1.0 / math.sqrt(200)) < 1e-9)
    // squared-Euclidean silhouette: each point's own-cluster distance is
    // 1, its nearest other cluster's mean is 210.5 or 190.5
    assert(math.abs(m("silhouette") - (1 - (1 / 210.5 + 1 / 190.5) / 2)) < 1e-9)
    // single cluster → empty map (reference semantics)
    val one = assigned.withColumn("cluster", lit(0))
    assert(Clustering.metrics(one).isEmpty)
  }

  // ------------------------------------------------------ projection/export

  test("X16→PCA projection emits (key, c1, c2)") {
    val emb = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val proj = Projection.pca2d(emb, "vec_id", "embedding")
    assert(proj.columns.toSeq == Seq("vec_id", "c1", "c2"))
    assert(proj.count() == emb.count())
  }

  test("X17 label task groups sorted members with blank annotation cols") {
    val assigns = Seq(("b", 0), ("a", 0), ("c", 1)).toDF("member", "cluster")
    val task = Annotation.labelTask(assigns, "member", "cluster").collect()
    assert(task.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((0, "a b"), (1, "c")))
    assert(task.forall(r => r.getString(2) == "" && r.getString(3) == ""))
  }

  test("X17 intruder task: top-5 + one in-band intruder per eligible cluster") {
    val members = (1 to 12).map(i => (s"m$i", 0, 100 - i)) ++ // cluster 0: counts 88..99
      (1 to 12).map(i => (s"n$i", 1, 100 - i)) ++             // cluster 1: same range
      Seq(("tiny", 2, 5))                                      // too small → skipped
    val df = members.toDF("member", "cluster", "cnt")
    val task = Annotation.intruderTask(df, "member", "cluster", "cnt", topN = 5)
    val byCluster = task.collect().groupBy(_.getInt(0))
    assert(byCluster.keySet == Set(0, 1)) // cluster 2 skipped
    byCluster.values.foreach { rows =>
      assert(rows.length == 6)
      assert(rows.count(_.getBoolean(3)) == 1) // exactly one intruder
      val intruder = rows.find(_.getBoolean(3)).get
      val own = rows.filter(!_.getBoolean(3)).map(_.getString(1)).toSet
      assert(!own.contains(intruder.getString(1)))
    }
  }
}
