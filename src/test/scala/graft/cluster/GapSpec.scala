package graft.cluster

import graft.SparkSpec
import graft.text.{CorpusBridge, TextPipeline}
import graft.util.Timeparse

/** Coverage for the remaining SURVEY §2 items: agglomerative (X6),
  * u_mass coherence (X10), collect bridges (X18), time parsing, model
  * persistence (S8). */
class GapSpec extends SparkSpec {
  import spark.implicits._

  test("X6 agglomerative: average-linkage separates two obvious groups") {
    val pts = Array(
      Array(1.0, 0.0), Array(0.98, 0.1), Array(0.95, 0.2), // dir ~x
      Array(0.0, 1.0), Array(0.1, 0.99))                    // dir ~y
    val labels = Agglomerative.fitPredict(pts, 2)
    assert(labels.toSet.size == 2)
    assert(labels(0) == labels(1) && labels(1) == labels(2))
    assert(labels(3) == labels(4) && labels(0) != labels(3))
    // k = n → singletons; k = 1 → one cluster
    assert(Agglomerative.fitPredict(pts, 5).toSet.size == 5)
    assert(Agglomerative.fitPredict(pts, 1).toSet.size == 1)
    // factory's affinity-prop cell delegates to the real implementation
    val ap = Agglomerative.affinityPropagation(pts,
      AffinityPropagation.Config(preference = Some(-0.5)))
    assert(ap.labels(0) == ap.labels(1) && ap.labels(1) == ap.labels(2))
    assert(ap.labels(0) != ap.labels(3) && ap.labels(3) == ap.labels(4))
  }

  test("X10 u_mass coherence: hand-computed counts") {
    // docs: {a,b} {a,b,c} {c} — D(a)=2, D(b)=2, D(c)=2, D(a,b)=2, D(b,c)=1, D(a,c)=1
    val corpus = Seq(
      (1L, Seq("a", "b")), (2L, Seq("a", "b", "c")), (3L, Seq("c")))
      .toDF("doc_id", "tokens")
    val scores = Coherence.uMass(corpus, "doc_id", "tokens",
      Seq(Seq("a", "b"), Seq("b", "c"), Seq("a", "a")))
    // topic [a,b]: pair (b|a): log((D(b,a)+1)/D(a)) = log(3/2)
    assert(math.abs(scores(0) - math.log(3.0 / 2)) < 1e-12)
    // topic [b,c]: pair (c|b): log((1+1)/2) = 0
    assert(math.abs(scores(1) - 0.0) < 1e-12)
    // degenerate topic [a,a]: co-doc(a,a) keyed off-diagonal → co=0 → log(1/2)
    assert(math.abs(scores(2) - math.log(1.0 / 2)) < 1e-12)
  }

  test("X10 u_mass: 70-term union ≡ per-topic calls ≡ brute-force counts") {
    val rnd = new scala.util.Random(3)
    val vocab = (0 until 70).map(i => f"t$i%02d")
    val docs: Seq[(Long, Seq[String])] = (1L to 50L).map { id =>
      (id, rnd.shuffle(vocab).take(8 + rnd.nextInt(10)).toSeq)
    } ++ Seq(
      (51L, Seq("t00", "t01", "t00", "t01", "t00", "t02")), // repeats count once
      (52L, null))                                          // a document with no tokens
    val corpus = docs.toDF("doc_id", "tokens")
    // 10 topics × 7 distinct terms = a 70-term union in one call
    val wideTopics = (0 until 10).map(t => (0 until 7).map(j => vocab(t * 7 + j)))
    val wide = Coherence.uMass(corpus, "doc_id", "tokens", wideTopics)
    // same corpus, each topic scored on its own 7-term union
    val narrow = wideTopics.map(tp =>
      Coherence.uMass(corpus, "doc_id", "tokens", Seq(tp)).head)
    wide.zip(narrow).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }

    // plain-Scala counts on the collected corpus: a row is a document
    // and a term counts once per row
    val rows = corpus.select("tokens").collect()
      .map(r => Option(r.getSeq[String](0)).map(_.toSet).getOrElse(Set.empty[String]))
    def d(ts: String*): Long = rows.count(r => ts.forall(r.contains)).toLong
    val brute = wideTopics.map { t =>
      val pairs = for {
        i <- t.indices; j <- 0 until i if d(t(j)) > 0
      } yield math.log((d(t(i), t(j)) + 1.0) / d(t(j)))
      pairs.sum / pairs.size
    }
    assert(wide == brute)
  }

  test("X18 corpus bridges reshape sparse vectors to (index, value)") {
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"))
      .toDF("id", "document_text")
    val (_, out) = TextPipeline.fitTransform(docs,
      TextPipeline.Config(minDF = 0.0, maxDF = 1e9, stopLanguage = None))
    val collected = CorpusBridge.collectVectorized(out, "vectorized")
    assert(collected.size == 2)
    assert(collected.head.map(_._2).sum == 3.0) // apple×2 + banana×1
    val iterated = CorpusBridge.iterateVectorized(out, "vectorized").toSeq
    assert(iterated == collected)
  }

  test("time-window parsing (pytimeparse formats)") {
    assert(Timeparse.toSeconds("72h") == 259200L)
    assert(Timeparse.toSeconds("3s") == 3L)
    assert(Timeparse.toSeconds("1d2h") == 93600L)
    assert(Timeparse.toSeconds("90") == 90L)
    assert(Timeparse.toSeconds("1.5h") == 5400L)
    intercept[IllegalArgumentException](Timeparse.toSeconds("abc"))
  }

  test("X5 grid: reference model-id format, full axes, metrics CSV round-trip") {
    import graft.embed.{Embeddings, Sgns}
    // id format: sorted keys, snake_case camelCased, key+value, '_'-joined
    // (ihop/community2vec.py:557-568)
    assert(Embeddings.modelId(Map(
      "vector_size" -> "100", "alpha" -> "0.05", "min_count" -> "0"))
      == "alpha0.05_minCount0_vectorSize100")
    assert(Embeddings.sectionsToStr(Seq(
      Embeddings.SectionScore("ops", 1, 4), Embeddings.SectionScore("zz", 0, 2)))
      == "ops:1/4,zz:0/2")

    val rnd = new scala.util.Random(5)
    val ctx = (1 to 60).map { _ =>
      if (rnd.nextBoolean()) Seq("a1", "b1", "c1") else Seq("a2", "b2", "c2")
    }.toDF("context_words")
    val analogies = Embeddings.analogiesFromPairs(
      Seq(("a1", "b1"), ("a2", "b2")), "pairs")
    val dir = java.nio.file.Files.createTempDirectory("gridcsv").toString
    val (best, all) = Embeddings.gridSearch(spark, ctx,
      Sgns.Config(epochs = 1, window = 3),
      alphas = Seq(0.025, 0.05), vectorSizes = Seq(4), samples = Seq(0.0),
      negatives = Seq(2, 5), analogies = analogies,
      metricsDir = Some(s"$dir/metrics"))
    assert(all.size == 4)
    assert(all.map(_.modelId).distinct.size == 4)
    assert(all.forall(_.modelId.matches(
      "alpha[\\d.]+_negative[25]_sample0\\.0_vectorSize4")))
    assert(best.accuracy == all.map(_.accuracy).max)
    // the CSV artifact round-trips with one row per model and the
    // reference's column layout (id, acc, detail, then param columns)
    val csv = spark.read.option("header", "true").csv(s"$dir/metrics")
    assert(csv.count() == 4)
    assert(csv.columns.toSeq == Seq("model_id", "analogy_acc",
      "detailed_analogy", "alpha", "negative", "sample", "vector_size"))
    val accs = csv.select("model_id", "analogy_acc").collect()
      .map(r => r.getString(0) -> r.getString(1).toDouble).toMap
    all.foreach(r => assert(accs(r.modelId) == r.accuracy))
  }

  test("S8 KMeans/W2V model persistence round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("models").toString
    val pts = Seq((1L, Array(0f, 0f)), (2L, Array(10f, 10f))).toDF("vec_id", "embedding")
    val cfg = Clustering.Config(k = 2, seed = 1L, normalize = false)
    val km = Clustering.fit(pts, cfg)
    Clustering.save(km, s"$dir/km")
    assert(Clustering.load(s"$dir/km").clusterCenters.length == 2)

    val ctx = (1 to 50).map(_ => Seq("x", "y", "z")).toDF("context_words")
    val w2v = graft.embed.Sgns.fit(ctx,
      graft.embed.Sgns.Config(vectorSize = 4, epochs = 1, window = 3))
    w2v.save(spark, s"$dir/w2v")
    assert(graft.embed.Sgns.load(spark, s"$dir/w2v").vectors(spark).count() == 3)
  }
}
