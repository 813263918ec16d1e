package graft.embed

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native skip-gram negative-sampling (SGNS) word2vec — the training
  * semantics the reference's Community2Vec actually uses
  * (`ihop/community2vec.py:157-218`: gensim `Word2Vec(sg=1, hs=0,
  * negative=20, sample=0, ...)`) and the reference's 4-axis quality
  * sweep tunes (`params.yaml:68-74`: alpha × vector_size × sample ×
  * negative). Spark ML's Word2Vec trains skip-gram + HIERARCHICAL
  * SOFTMAX and exposes neither `negative` nor `sample` — this module
  * closes that documented divergence (SURVEY.md §7.4.1) with the
  * published SGNS algorithm (Mikolov et al. 2013, "Distributed
  * Representations of Words and Phrases"): unigram^(3/4) noise
  * distribution, sigmoid-table updates, frequency subsampling, linear
  * alpha decay.
  *
  * Distribution model (the same shape Spark ML W2V uses): sentences
  * are hash-partitioned deterministically, each partition runs local
  * SGD over broadcast weights, and partitions' matrices are
  * pair-count-weighted averaged per epoch (numPartitions = 1 ≡ exact
  * sequential SGNS). Weights are vocab × dim — driver-bounded like
  * the reference's own gensim training (whose model is equally
  * single-node); the corpus itself never leaves executors. A loud
  * `MaxSynapses` guard rejects vocabularies that would not fit the
  * driver, the Tsne/AffinityPropagation convention.
  *
  * Determinism: vocab order is (count desc, word asc); per-partition
  * RNG is splitmix64 seeded by (seed, epoch, partition); partition
  * contents and order are content-hash derived (input partitioning
  * cannot change the result). Same (corpus, config) → identical
  * embeddings, any cluster.
  */
object Sgns {

  /** Defaults mirror the reference's gensim call
    * (`ihop/community2vec.py:169-218`): negative=20, sample=0,
    * alpha 0.025 → min_alpha 1e-4, 5 epochs, min_count 0. */
  final case class Config(
      vectorSize: Int = 150,
      window: Int = 1000, // "unlimited" — whole context, like c2v
      negative: Int = 20,
      sample: Double = 0.0,
      alpha: Double = 0.025,
      minAlpha: Double = 1e-4,
      epochs: Int = 5,
      minCount: Int = 0,
      numPartitions: Int = 1,
      seed: Long = 1L,
      contextCol: String = "context_words")

  /** Driver-side weight ceiling: 2 matrices × vocab × dim floats. */
  val MaxSynapses: Long = 64L << 20 // 64M floats ≈ 512 MB for both

  /** Trained model: vocab in (count desc, word asc) order, input
    * embeddings `syn0` flat row-major (the vectors every consumer
    * reads; syn1neg is a training artifact, dropped like gensim's
    * KeyedVectors). */
  final case class Model(words: Array[String], counts: Array[Long],
                         vectorSize: Int, syn0: Array[Float]) {
    def vector(i: Int): Array[Float] =
      java.util.Arrays.copyOfRange(syn0, i * vectorSize, (i + 1) * vectorSize)

    /** (word, embedding) pairs, vocab order — feeds
      * [[Embeddings.evaluateAnalogies]] / neighbor math directly. */
    def collectVectors: Seq[(String, Array[Float])] =
      words.indices.map(i => words(i) -> vector(i))

    /** word → vector table (gensim KeyedVectors equivalent). */
    def vectors(spark: SparkSession): DataFrame = {
      import spark.implicits._
      words.indices.map(i => (words(i), counts(i), vector(i).toSeq))
        .toDF("word", "count", "vector")
    }

    /** Top-n cosine neighbors of `term`, excluding itself. */
    def neighbors(term: String, n: Int): Seq[(String, Double)] = {
      val qi = words.indexOf(term)
      require(qi >= 0, s"Sgns.neighbors: '$term' not in vocabulary")
      val q = vector(qi)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i); i += 1
        }
        if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
      }
      words.indices.filter(_ != qi)
        .map(i => (words(i), cos(q, vector(i))))
        .sortBy { case (w, c) => (-c, w) }.take(n)
    }

    /** S8 persistence: parquet vocab+vectors + a meta row. */
    def save(spark: SparkSession, dir: String): Unit = {
      import spark.implicits._
      vectors(spark).write.mode("overwrite").parquet(s"$dir/vectors")
      Seq((vectorSize, words.length)).toDF("vector_size", "vocab_size")
        .write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  def load(spark: SparkSession, dir: String): Model = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val dim = meta.getInt(0)
    val rows = spark.read.parquet(s"$dir/vectors")
      .select(col("word"), col("count"), col("vector")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Float](2).toArray))
      .sortBy { case (w, c, _) => (-c, w) }
    val syn0 = new Array[Float](rows.length * dim)
    rows.zipWithIndex.foreach { case ((_, _, v), i) =>
      System.arraycopy(v, 0, syn0, i * dim, dim)
    }
    Model(rows.map(_._1), rows.map(_._2), dim, syn0)
  }

  // --- deterministic RNG (splitmix64) -------------------------------
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s += 1; splitmix64(s) }
    /** uniform in [0, n) */
    def nextInt(n: Int): Int = (Math.floorMod(nextLong(), n.toLong)).toInt
    /** uniform in [0, 1) */
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  }

  // --- sigmoid table (word2vec.c's EXP_TABLE) -----------------------
  private val ExpTableSize = 1000
  private val MaxExp = 6.0
  private lazy val expTable: Array[Float] = Array.tabulate(ExpTableSize) { i =>
    val x = (i.toDouble / ExpTableSize * 2 - 1) * MaxExp
    val e = math.exp(x)
    (e / (e + 1)).toFloat
  }

  private def sigmoid(x: Double): Float =
    if (x >= MaxExp) 1.0f
    else if (x <= -MaxExp) 0.0f
    else expTable(((x + MaxExp) / (2 * MaxExp) * ExpTableSize / 2).toInt
      .min(ExpTableSize - 1))

  /** Negative-sampling cumulative table over count^0.75 (Mikolov's
    * noise distribution): sample by binary search on a uniform draw —
    * exact, no precision loss from the C implementation's int table. */
  private[embed] def noiseCdf(counts: Array[Long]): Array[Double] = {
    val cdf = new Array[Double](counts.length)
    var acc = 0.0
    var i = 0
    while (i < counts.length) {
      acc += math.pow(counts(i).toDouble, 0.75)
      cdf(i) = acc
      i += 1
    }
    i = 0
    while (i < counts.length) { cdf(i) /= acc; i += 1 }
    cdf
  }

  private def sampleNoise(cdf: Array[Double], u: Double): Int = {
    var lo = 0
    var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Cumulative start offsets for the exact global alpha schedule:
    * `offsets(p)` = number of sentences in partitions before `p` under
    * the canonical partition-major order, so `offsets(p) + localPos`
    * is a sentence's TRUE global position (no equal-partition
    * approximation). */
  private[embed] def exactOffsets(counts: Array[Long]): Array[Long] = {
    val off = new Array[Long](counts.length)
    var acc = 0L
    var i = 0
    while (i < counts.length) { off(i) = acc; acc += counts(i); i += 1 }
    off
  }

  /** gensim's linear learning-rate decay as a closed form of global
    * progress: `alpha0 * (1 - pos/total)` floored at `minAlpha`. The
    * trainer calls exactly this — SgnsSpec asserts the schedule
    * against it. */
  private[embed] def alphaAt(alpha0: Double, minAlpha: Double,
                             globalPos: Double, totalWork: Double): Double =
    math.max(minAlpha,
      alpha0 * (1.0 - math.min(globalPos, totalWork) / totalWork))

  /** gensim/word2vec.c subsampling keep-probability for a word with
    * count `c` in a corpus of `total` tokens at threshold `sample`:
    * p_keep = (sqrt(f/t) + 1) · t/f with f = c/total, t = sample. */
  private[embed] def keepProbability(c: Long, total: Long, sample: Double): Double =
    if (sample <= 0) 1.0
    else {
      val f = c.toDouble / total
      val p = (math.sqrt(f / sample) + 1.0) * sample / f
      if (p > 1.0) 1.0 else p
    }

  /** Fit SGNS over a tokens column (array<string> contexts). */
  def fit(df: DataFrame, cfg: Config = Config()): Model = {
    val spark = df.sparkSession
    require(cfg.vectorSize > 0 && cfg.window > 0 && cfg.negative >= 0 &&
      cfg.epochs > 0 && cfg.numPartitions > 0, "Sgns.fit: bad config")

    // --- vocabulary: (count desc, word asc), minCount filter --------
    val vocabRows = df.select(explode(col(cfg.contextCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .where(col("c") >= cfg.minCount)
      .orderBy(col("c").desc, col("w").asc)
      .collect()
    val words = vocabRows.map(_.getString(0))
    val counts = vocabRows.map(_.getLong(1))
    val v = words.length
    require(v > 0, "Sgns.fit: empty vocabulary")
    require(2L * v * cfg.vectorSize <= MaxSynapses,
      s"Sgns.fit: $v words x ${cfg.vectorSize} dims = ${2L * v * cfg.vectorSize} " +
        s"synapse floats exceeds MaxSynapses=$MaxSynapses - raise minCount or " +
        "shrink vectorSize (SGNS weights are driver-held, like gensim's)")
    val totalTokens = counts.sum
    val index: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](v * 2)
      var i = 0
      while (i < v) { m.put(words(i), i); i += 1 }
      m
    }
    val bIndex = spark.sparkContext.broadcast(index)

    // --- sentences as index arrays, deterministically partitioned ---
    // content-hash partitioning + in-partition sort: the result cannot
    // depend on the input's physical layout
    import spark.implicits._
    val sentences = df.select(col(cfg.contextCol).as("s"))
      .where(size(col("s")) > 0)
      .withColumn("_h", xxhash64(col("s")))
      .repartition(cfg.numPartitions, col("_h"))
      .sortWithinPartitions(col("_h"), col("s"))
      .select(col("s")).as[Seq[String]]
      .mapPartitions { it =>
        val idx = bIndex.value
        it.map { toks =>
          val b = new scala.collection.mutable.ArrayBuffer[Int](toks.size)
          toks.foreach { t =>
            val i = idx.get(t)
            if (i != null) b += i.intValue
          }
          b.toArray
        }.filter(_.nonEmpty)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // --- exact global alpha schedule: per-partition sentence counts
    // give each partition its true global offset (partition-major
    // order; at numPartitions=1 this is the plain sequential counter).
    // The count pass also materializes the cache; their sum is the
    // sentence total. ---
    val partSentCounts = sentences.rdd
      .mapPartitionsWithIndex((pid, it) => Iterator((pid, {
        var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
      })))
      .collect().sortBy(_._1).map(_._2)
    val nSentences = partSentCounts.sum
    require(nSentences > 0, "Sgns.fit: no non-empty contexts")
    val partOffsets = exactOffsets(partSentCounts)

    val cdf = noiseCdf(counts)
    val keepP = new Array[Double](v)
    var i = 0
    while (i < v) { keepP(i) = keepProbability(counts(i), totalTokens, cfg.sample); i += 1 }
    val bCdf = spark.sparkContext.broadcast(cdf)
    val bKeep = spark.sparkContext.broadcast(keepP)

    // --- init: syn0 uniform (-0.5, 0.5)/dim seeded per (word, seed);
    // syn1neg zeros (word2vec.c) ------------------------------------
    val dim = cfg.vectorSize
    var syn0 = new Array[Float](v * dim)
    var syn1 = new Array[Float](v * dim)
    i = 0
    while (i < v) {
      var d = 0
      while (d < dim) {
        val h = splitmix64(splitmix64(cfg.seed ^ i.toLong * 0x100000001b3L) + d)
        syn0(i * dim + d) =
          ((((h >>> 11).toDouble / (1L << 53).toDouble) - 0.5) / dim).toFloat
        d += 1
      }
      i += 1
    }


    // --- epochs: broadcast weights, local SGD, weighted average -----
    val totalWork = nSentences.toDouble * cfg.epochs
    var epoch = 0
    while (epoch < cfg.epochs) {
      val bSyn0 = spark.sparkContext.broadcast(syn0)
      val bSyn1 = spark.sparkContext.broadcast(syn1)
      val doneWork = nSentences.toDouble * epoch
      val (s0Sum, s1Sum, wSum) = sentences.rdd
        .mapPartitionsWithIndex { (pid, it) =>
          val l0 = bSyn0.value.clone()
          val l1 = bSyn1.value.clone()
          val lCdf = bCdf.value
          val lKeep = bKeep.value
          val rng = new Rng(splitmix64(cfg.seed ^ (epoch.toLong << 32) ^ pid))
          val lOff = partOffsets(pid).toDouble
          val neu1e = new Array[Float](dim)
          var pairs = 0L
          var sent = 0L
          it.foreach { s =>
            // linear alpha decay on EXACT global progress: this
            // partition's precomputed sentence offset + local position
            // (partition-major order) — gensim's closed-form schedule,
            // no equal-partition approximation
            val alpha = alphaAt(cfg.alpha, cfg.minAlpha,
              doneWork + lOff + sent.toDouble, totalWork)
            // subsample once per occurrence (gensim: per-position)
            val kept = s.filter(w => lKeep(w) >= 1.0 || rng.nextDouble() < lKeep(w))
            var pos = 0
            while (pos < kept.length) {
              val center = kept(pos)
              // dynamic window (word2vec.c's reduced window b)
              val b = rng.nextInt(cfg.window)
              var p2 = math.max(0, pos - cfg.window + b)
              val end = math.min(kept.length - 1, pos + cfg.window - b)
              while (p2 <= end) {
                if (p2 != pos) {
                  val ctx = kept(p2)
                  // SGNS pair update: l1 = syn0[ctx] vs center + noise
                  java.util.Arrays.fill(neu1e, 0.0f)
                  var t = 0
                  while (t <= cfg.negative) {
                    val (target, label) =
                      if (t == 0) (center, 1.0f)
                      else {
                        var nz = sampleNoise(lCdf, rng.nextDouble())
                        if (nz == center) nz = (nz + 1) % lCdf.length
                        (nz, 0.0f)
                      }
                    var dot = 0.0
                    var d = 0
                    while (d < dim) {
                      dot += l0(ctx * dim + d).toDouble * l1(target * dim + d)
                      d += 1
                    }
                    val g = ((label - sigmoid(dot)) * alpha).toFloat
                    d = 0
                    while (d < dim) {
                      neu1e(d) += g * l1(target * dim + d)
                      l1(target * dim + d) += g * l0(ctx * dim + d)
                      d += 1
                    }
                    t += 1
                  }
                  var d = 0
                  while (d < dim) { l0(ctx * dim + d) += neu1e(d); d += 1 }
                  pairs += 1
                }
                p2 += 1
              }
              pos += 1
            }
            sent += 1
          }
          // a partition that trained zero pairs (empty, or everything
          // subsampled away) must NOT contribute its unchanged
          // broadcast copy to the average — it would dilute the real
          // updates at weight 1. Emit nothing instead.
          if (pairs == 0L) Iterator.empty else Iterator((l0, l1, pairs))
        }
        .treeAggregate((null: Array[Double], null: Array[Double], 0L))(
          seqOp = { case ((a0, a1, aw), (p0, p1, pw)) =>
            val o0 = if (a0 == null) new Array[Double](v * dim) else a0
            val o1 = if (a1 == null) new Array[Double](v * dim) else a1
            val w = pw.toDouble // pw >= 1: zero-pair partitions emit nothing
            var j = 0
            while (j < o0.length) {
              o0(j) += p0(j) * w; o1(j) += p1(j) * w; j += 1
            }
            (o0, o1, aw + pw)
          },
          combOp = { case ((a0, a1, aw), (b0, b1, bw)) =>
            if (a0 == null) (b0, b1, aw + bw)
            else if (b0 == null) (a0, a1, aw + bw)
            else {
              var j = 0
              while (j < a0.length) { a0(j) += b0(j); a1(j) += b1(j); j += 1 }
              (a0, a1, aw + bw)
            }
          })
      bSyn0.destroy(); bSyn1.destroy()
      if (wSum > 0L) { // all-zero-pair epoch: keep the previous weights
        val wTot = wSum.toDouble
        val n0 = new Array[Float](v * dim)
        val n1 = new Array[Float](v * dim)
        var j = 0
        while (j < n0.length) {
          n0(j) = (s0Sum(j) / wTot).toFloat
          n1(j) = (s1Sum(j) / wTot).toFloat
          j += 1
        }
        syn0 = n0
        syn1 = n1
      }
      epoch += 1
    }
    sentences.unpersist(blocking = false)
    bIndex.destroy(); bCdf.destroy(); bKeep.destroy()
    Model(words, counts, dim, syn0)
  }
}
