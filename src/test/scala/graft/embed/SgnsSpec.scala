package graft.embed

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native SGNS word2vec: the training semantics the reference's
  * gensim call uses (sg=1, hs=0, negative, sample) — deterministic,
  * quality-asserted, and exposing the two knobs Spark ML Word2Vec
  * lacks. */
class SgnsSpec extends SparkSpec {
  import spark.implicits._

  // two disjoint co-occurrence "topics" + shared filler: a useful
  // embedding puts same-topic tokens closer than cross-topic ones
  private def corpus(n: Int): Seq[Seq[String]] = {
    val a = Seq("apple", "banana", "cherry", "date")
    val b = Seq("cpu", "gpu", "ram", "disk")
    (0 until n).map { i =>
      val grp = if (i % 2 == 0) a else b
      // deterministic rotation — varied windows, no RNG
      (0 until 6).map(j => grp((i + j) % grp.size))
    }
  }

  private def df(n: Int) = corpus(n).toDF("context_words")

  private val fastCfg = Sgns.Config(vectorSize = 16, window = 5,
    negative = 5, epochs = 3, alpha = 0.05, seed = 7L)

  test("noise CDF is cumulative count^0.75, normalized") {
    val cdf = Sgns.noiseCdf(Array(16L, 81L, 1L))
    val raw = Seq(math.pow(16, 0.75), math.pow(81, 0.75), 1.0)
    val tot = raw.sum
    assert(math.abs(cdf(0) - raw.head / tot) < 1e-12)
    assert(math.abs(cdf(1) - (raw(0) + raw(1)) / tot) < 1e-12)
    assert(math.abs(cdf(2) - 1.0) < 1e-12)
  }

  test("keep probability: sample=0 keeps all; frequent words downsampled") {
    assert(Sgns.keepProbability(1000, 2000, 0.0) == 1.0)
    // f = 0.5 at sample 1e-3: keep prob well below 1
    val p = Sgns.keepProbability(1000, 2000, 1e-3)
    assert(p < 0.1 && p > 0.0, s"got $p")
    // rare word: kept with certainty
    assert(Sgns.keepProbability(1, 100000, 1e-3) == 1.0)
  }

  test("exact alpha schedule: offsets tile the corpus; closed-form decay") {
    // partition-major offsets: uneven partitions, including an empty one
    val offs = Sgns.exactOffsets(Array(3L, 0L, 5L, 2L))
    assert(offs.toSeq == Seq(0L, 3L, 3L, 8L))
    // offsets + local positions enumerate every global position exactly once
    val counts = Array(3L, 0L, 5L, 2L)
    val positions = counts.indices.flatMap(p =>
      (0L until counts(p)).map(offs(p) + _))
    assert(positions.sorted == (0L until counts.sum).toSeq)
    // closed-form linear decay with the min-alpha floor
    val total = 100.0
    assert(Sgns.alphaAt(0.025, 1e-4, 0.0, total) == 0.025)
    assert(math.abs(Sgns.alphaAt(0.025, 1e-4, 50.0, total) - 0.0125) < 1e-15)
    assert(Sgns.alphaAt(0.025, 1e-4, 100.0, total) == 1e-4)
    assert(Sgns.alphaAt(0.025, 1e-4, 1e9, total) == 1e-4, "clamped past the end")
  }

  test("zero-pair partitions don't dilute: 1 sentence @ 4 partitions ≡ sequential") {
    // one multi-word sentence lands in ONE of the 4 hash partitions;
    // the other 3 train zero pairs and must contribute NOTHING to the
    // epoch average (they used to enter at weight 1 with unchanged
    // broadcast weights, shrinking every real update by 4x)
    val one = Seq(Seq("apple", "banana", "cherry", "date", "cpu", "gpu"))
      .toDF("context_words")
    val seqM = Sgns.fit(one, fastCfg.copy(numPartitions = 1))
    val parM = Sgns.fit(one, fastCfg.copy(numPartitions = 4))
    assert(seqM.words.toSeq == parM.words.toSeq)
    assert(java.util.Arrays.equals(seqM.syn0, parM.syn0),
      "single non-empty partition must reproduce sequential training exactly")
  }

  test("fit is deterministic; seed changes the embedding") {
    val d = df(40)
    val m1 = Sgns.fit(d, fastCfg)
    val m2 = Sgns.fit(d, fastCfg)
    assert(m1.words.toSeq == m2.words.toSeq)
    assert(m1.syn0.toSeq == m2.syn0.toSeq,
      "same (corpus, config, seed) must reproduce identical weights")
    val m3 = Sgns.fit(d, fastCfg.copy(seed = 99L))
    assert(m1.syn0.toSeq != m3.syn0.toSeq, "different seed, different weights")
  }

  test("two fits at 3 partitions give the same embedding") {
    val cfg = fastCfg.copy(numPartitions = 3)
    val a = Sgns.fit(df(60), cfg)
    val b = Sgns.fit(df(60), cfg)
    assert(a.words.sameElements(b.words))
    assert(a.syn0.sameElements(b.syn0))
  }

  test("fit is independent of input partitioning") {
    val d1 = df(40).repartition(7)
    val d2 = df(40).coalesce(1)
    val m1 = Sgns.fit(d1, fastCfg)
    val m2 = Sgns.fit(d2, fastCfg)
    assert(m1.syn0.toSeq == m2.syn0.toSeq,
      "content-hash partitioning must erase the physical layout")
  }

  test("embedding quality: co-occurrence groups separate (1 and 2 partitions)") {
    for (np <- Seq(1, 2)) {
      val m = Sgns.fit(df(60), fastCfg.copy(numPartitions = np, epochs = 5))
      val vec = m.collectVectors.toMap
      def cos(a: String, b: String): Double = {
        val (x, y) = (vec(a), vec(b))
        val dot = x.zip(y).map { case (p, q) => p.toDouble * q }.sum
        val nx = math.sqrt(x.map(p => p.toDouble * p).sum)
        val ny = math.sqrt(y.map(p => p.toDouble * p).sum)
        dot / (nx * ny)
      }
      val ga = Seq("apple", "banana", "cherry", "date")
      val gb = Seq("cpu", "gpu", "ram", "disk")
      val intra = (for (s <- Seq(ga, gb); a <- s; b <- s if a < b)
        yield cos(a, b))
      val inter = for (a <- ga; b <- gb) yield cos(a, b)
      val mi = intra.sum / intra.size
      val mx = inter.sum / inter.size
      assert(mi > mx + 0.2,
        s"np=$np: intra ${mi} should exceed inter ${mx} by a margin")
    }
  }

  test("negative=0 still trains (positive-only degenerate mode) without crash") {
    val m = Sgns.fit(df(10), fastCfg.copy(negative = 0, epochs = 1))
    assert(m.words.length == 8)
  }

  test("subsampling at an aggressive threshold trains and keeps vocab") {
    val m = Sgns.fit(df(30), fastCfg.copy(sample = 1e-2, epochs = 2))
    assert(m.words.length == 8) // subsampling drops OCCURRENCES, not vocab
  }

  test("neighbors returns same-group tokens first") {
    val m = Sgns.fit(df(60), fastCfg.copy(epochs = 5))
    val nn = m.neighbors("apple", 3).map(_._1).toSet
    assert(nn.subsetOf(Set("banana", "cherry", "date")),
      s"apple's top-3 should be its co-occurrence group, got $nn")
  }

  test("save/load round-trip preserves vocab order and vectors") {
    val m = Sgns.fit(df(20), fastCfg.copy(epochs = 1))
    val dir = java.nio.file.Files.createTempDirectory("sgns").toString
    m.save(spark, s"$dir/m")
    val back = Sgns.load(spark, s"$dir/m")
    assert(back.words.toSeq == m.words.toSeq)
    assert(back.counts.toSeq == m.counts.toSeq)
    assert(back.vectorSize == m.vectorSize)
    assert(back.syn0.toSeq == m.syn0.toSeq)
  }

  test("X5 native sweep: the reference's exact 4-axis grid (alpha x " +
    "vector_size x sample x negative) with id format + metrics CSV") {
    val d = df(30)
    val analogies = Embeddings.analogiesFromPairs(
      Seq(("apple", "banana"), ("cpu", "gpu")), "groups")
    val dir = java.nio.file.Files.createTempDirectory("sgnsgrid").toString
    // axes shaped like the reference's params.yaml param_grid — the
    // sweep Spark ML W2V cannot run (no sample/negative knobs)
    val (best, all) = Embeddings.gridSearch(spark, d,
      fastCfg.copy(epochs = 1),
      alphas = Seq(0.08, 0.05), vectorSizes = Seq(8),
      samples = Seq(0.0, 0.001), negatives = Seq(2, 5),
      analogies = analogies, metricsDir = Some(s"$dir/metrics"))
    assert(all.size == 8)
    assert(all.map(_.modelId).distinct.size == 8)
    assert(all.forall(_.modelId.matches(
      "alpha[\\d.]+_negative[25]_sample[\\d.E-]+_vectorSize8")))
    assert(best.accuracy == all.map(_.accuracy).max)
    val csv = spark.read.option("header", "true").csv(s"$dir/metrics")
    assert(csv.count() == 8)
    assert(csv.columns.toSeq == Seq("model_id", "analogy_acc",
      "detailed_analogy", "alpha", "negative", "sample", "vector_size"))
  }

  test("vocab ceiling guard fails loudly") {
    val e = intercept[IllegalArgumentException] {
      Sgns.fit(df(10), fastCfg.copy(vectorSize = (Sgns.MaxSynapses / 2).toInt))
    }
    assert(e.getMessage.contains("MaxSynapses"))
  }
}
