package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Seeded, Reddit-shaped input generators with their ground truth.
  *
  * Everything here is plain Scala with no Spark: the same seed gives
  * byte-identical input lines on any machine, and the expected outputs
  * (context rows, thread-document count) come from an independent
  * re-implementation of the paper's prep filters over the generated
  * records, so the Spark pipeline is checked against code it does not
  * share.
  */
object Gen {

  /** splitmix64 stream: fully specified, so inputs never depend on a
    * JDK's RNG implementation. */
  final class Rng(seed: Long) {
    private var s = seed * 0x2545f4914f6cdd1dL + 0x632be59bd9b4e019L
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var x = s
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
    def chance(p: Double): Boolean = nextDouble() < p
    def gaussian(): Double = {
      val u = math.max(nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * nextDouble())
    }
    /** Discrete Pareto (tail index `alpha`, at least `min`, at most
      * `cap`) drawn in stratum `i` of `n`: n stratified draws have nearly
      * the same heavy tail for every seed, so the work a workload does
      * moves little between seeds while its rows still change. */
    def pareto(i: Int, n: Int, min: Int, alpha: Double, cap: Int): Int = {
      val u = (i + nextDouble()) / n
      math.min(cap, (min * math.pow(1 - u, -1 / alpha)).toInt)
    }
    def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
      val a = xs.toArray[Any]
      var i = a.length - 1
      while (i > 0) { val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
    }
  }

  /** Zipf(s) sampler over `n` ranks (rank 0 most popular). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(rng: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def sha256(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def q(s: String): String = "\"" + s + "\""

  /** One month: 2021-06-01 00:00 UTC onward. */
  val MonthStart: Long = 1622505600L
  val MonthSeconds: Int = 30 * 86400

  /** A pseudo-word per index: three consonant-vowel syllables, never an
    * English stop word, distinct for distinct indexes below 8000. */
  def word(i: Int): String = {
    val syl = Array("ka", "lo", "mi", "nu", "pe", "ra", "so", "ti", "vu", "ze",
      "bo", "da", "fi", "gu", "he", "jo", "ku", "ly", "mo", "ny")
    syl(i / 400 % 20) + syl(i / 20 % 20) + syl(i % 20)
  }

  /** The paper's §3.1 / §3.2 author cut: keep rows whose count has
    * percent rank (rank − 1)/(n − 1), ties at their lowest rank, at
    * most 1 − pct. */
  def keepBelowTopPercent[K](counts: Map[K, Int], pct: Double): Set[K] = {
    val n = counts.size
    if (n == 0) return Set.empty
    val freq = counts.values.groupBy(identity).map { case (c, cs) => c -> cs.size }
    val below = freq.keys.toSeq.sorted.scanLeft(0L)((acc, c) => acc + freq(c))
    val rankOf = freq.keys.toSeq.sorted.zip(below).toMap
    counts.collect {
      case (k, c) if (if (n == 1) 0.0 else rankOf(c).toDouble / (n - 1)) <= 1.0 - pct => k
    }.toSet
  }

  /** Top-N keys by count, ties broken by key ascending. */
  def topN(keys: Iterable[String], n: Int): Set[String] =
    keys.groupBy(identity).map { case (k, v) => (k, v.size) }.toSeq
      .sortBy { case (k, c) => (-c, k) }.take(n).map(_._1).toSet

  // --------------------------------------------------------- c2v_month

  final case class Comment(id: String, linkId: String, author: String,
                           subreddit: String, body: String, createdUtc: Long)

  def commentJson(c: Comment, score: Int): String =
    s"""{"id":${q(c.id)},"parent_id":${q(c.linkId)},"score":$score,"link_id":${q(c.linkId)},""" +
      s""""author":${q(c.author)},"subreddit":${q(c.subreddit)},"body":${q(c.body)},""" +
      s""""created_utc":${c.createdUtc}}"""

  /** Malformed line: PERMISSIVE reads it as an all-null row. */
  def malformed(rng: Rng): String = s"""{"id":"x${rng.nextInt(1000000)}","author":"""

  /** `communities` is `Params.k(topN)`: one planted community per
    * cluster the paper's k asks for at this vocabulary size. */
  final case class C2vParams(subreddits: Int = 220, communities: Int = 5,
                             authors: Int = 800, topN: Int = 200,
                             pHome: Double = 0.9, pProfile: Double = 0.03,
                             pDeleted: Double = 0.03, pMalformed: Double = 0.002)

  final case class C2vData(lines: IndexedSeq[String],
                           community: Map[String, Int],
                           expectedContexts: IndexedSeq[String],
                           params: C2vParams) {
    def expectedCount: Int = expectedContexts.size
    def expectedHash: String = sha256(expectedContexts)
  }

  def c2v(seed: Long, p: C2vParams = C2vParams()): C2vData = {
    val rng = new Rng(seed)
    val subs = IndexedSeq.tabulate(p.subreddits)(i => f"sr$i%04d")
    // balanced planted communities over a seeded permutation of the
    // popularity order, so every community has head and tail members
    val order = rng.shuffle(subs.indices)
    val community = order.zipWithIndex.map { case (s, r) => subs(s) -> r % p.communities }.toMap
    val members = subs.groupBy(community).map { case (c, ss) => c -> ss.sorted }
    val global = new Zipf(p.subreddits, 1.0)
    val local = members.map { case (c, ss) => c -> new Zipf(ss.size, 1.0) }

    val records = IndexedSeq.newBuilder[Comment]
    val lines = IndexedSeq.newBuilder[String]
    var n = 0
    for (a <- 0 until p.authors) {
      val name = f"user$a%05d"
      val home = rng.nextInt(p.communities)
      val activity = rng.pareto(a, p.authors, 2, 1.3, 150)
      for (_ <- 0 until activity) {
        val sub =
          if (rng.chance(p.pProfile)) "u_" + name
          else if (rng.chance(p.pHome)) members(home)(local(home).sample(rng))
          else subs(global.sample(rng))
        val author = if (rng.chance(p.pDeleted)) "[deleted]" else name
        val c = Comment(java.lang.Long.toString(1000000L + n, 36), "t3_" +
          java.lang.Long.toString(rng.nextInt(50000), 36), author, sub,
          word(rng.nextInt(8000)), MonthStart + rng.nextInt(MonthSeconds))
        n += 1
        if (rng.chance(p.pMalformed)) lines += malformed(rng)
        else { records += c; lines += commentJson(c, rng.nextInt(200) - 20) }
      }
    }
    C2vData(lines.result(), community, c2vContexts(records.result(), p.topN), p)
  }

  /** §3.1 filters in plain Scala: drop `u_*` profiles → top-N
    * subreddits → drop `[deleted]` → per-author sorted context →
    * drop the top 5% most active → minimum length 2. Rows are
    * `"<context>\t<length>"`, sorted. */
  def c2vContexts(rows: Seq[Comment], topN: Int): IndexedSeq[String] = {
    val noProfiles = rows.filterNot(_.subreddit.startsWith("u_"))
    val top = Gen.topN(noProfiles.map(_.subreddit), topN)
    val kept = noProfiles.filter(c => top(c.subreddit) && c.author != "[deleted]")
    val contexts = kept.groupBy(_.author).map { case (a, cs) => a -> cs.map(_.subreddit).sorted }
    val keep = keepBelowTopPercent(contexts.map { case (a, cs) => a -> cs.size }, 0.05)
    contexts.collect {
      case (a, cs) if keep(a) && cs.size >= 2 => cs.mkString(" ") + "\t" + cs.size
    }.toIndexedSeq.sorted
  }

  // -------------------------------------------------------- bow_topics

  val StopWords: IndexedSeq[String] = IndexedSeq("the", "and", "of", "to", "is", "it", "that", "this")

  /** `topics` is `Params.k(topN)`, the paper's LDA k at this many
    * top-N subreddits. */
  final case class BowParams(topics: Int = 5, topicWords: Int = 40, backgroundWords: Int = 40,
                             subreddits: Int = 240, topN: Int = 200, threads: Int = 800,
                             hotThreads: Int = 3, hotComments: Int = 400, authors: Int = 2000,
                             bodyWords: Int = 16)

  final case class Submission(id: String, author: String, subreddit: String,
                              selftext: String, createdUtc: Long)

  final case class BowData(submissionLines: IndexedSeq[String],
                           commentLines: IndexedSeq[String],
                           topicOf: Map[String, Int], // planted topic per thread fullname
                           expectedThreads: Set[String],
                           params: BowParams) {
    def expectedDocs: Int = expectedThreads.size
  }

  /** Time from submission to comment: a share on each side of the
    * exclusive (3 s, 3 day) window, boundary values included. */
  private def delay(rng: Rng): Long = {
    val u = rng.nextDouble()
    if (u < 0.06) rng.nextInt(4) // 0..3 s: dropped (bound is exclusive)
    else if (u < 0.12) 259200L + rng.nextInt(200000) // 3 days or more: dropped
    else math.min(259199L, 4L + (-math.log(1 - rng.nextDouble()) * 20000).toLong)
  }

  def bow(seed: Long, p: BowParams = BowParams()): BowData = {
    val rng = new Rng(seed)
    val subs = IndexedSeq.tabulate(p.subreddits)(i => f"topic$i%04d")
    val order = rng.shuffle(subs.indices)
    val topicOfSub = order.zipWithIndex.map { case (s, r) => subs(s) -> r % p.topics }.toMap
    val subPop = new Zipf(p.subreddits, 0.8)
    val topicZipf = new Zipf(p.topicWords, 0.7)
    val authorPop = new Zipf(p.authors, 0.9)
    def topicWord(t: Int) = word(t * p.topicWords + topicZipf.sample(rng))
    def background() = word(4000 + rng.nextInt(p.backgroundWords))
    def text(t: Int, n: Int) = Seq.fill(n) {
      val u = rng.nextDouble()
      if (u < 0.7) topicWord(t) else if (u < 0.9) background()
      else StopWords(rng.nextInt(StopWords.size))
    }.mkString(" ")
    def author(): String =
      if (rng.chance(0.02)) "[deleted]" else f"user${authorPop.sample(rng)}%05d"

    val subRecords = IndexedSeq.newBuilder[Submission]
    val subLines = IndexedSeq.newBuilder[String]
    val comRecords = IndexedSeq.newBuilder[Comment]
    val comLines = IndexedSeq.newBuilder[String]
    val topicOf = Map.newBuilder[String, Int]
    var nc = 0
    for (i <- 0 until p.threads) {
      val id = java.lang.Long.toString(2000000L + i, 36)
      val profile = rng.chance(0.01)
      val sub = if (profile) "u_poster" + i else subs(subPop.sample(rng))
      val t = if (profile) rng.nextInt(p.topics) else topicOfSub(sub)
      val selftext = if (rng.chance(0.02)) "[removed]" else text(t, 12)
      val s = Submission(id, author(), sub, selftext, MonthStart + rng.nextInt(MonthSeconds))
      topicOf += ("t3_" + id) -> t
      if (rng.chance(0.002)) subLines += malformed(rng)
      else {
        subRecords += s
        subLines += s"""{"author":${q(s.author)},"created_utc":${q(s.createdUtc.toString)},""" +
          s""""id":${q(id)},"score":${rng.nextInt(500)},"selftext":${q(selftext)},""" +
          s""""title":${q(text(t, 5))},"url":"https://example.org/$id","subreddit":${q(sub)}}"""
      }
      val nComments = if (i < p.hotThreads) p.hotComments else rng.pareto(i, p.threads, 2, 1.6, 300)
      for (_ <- 0 until nComments) {
        val body = if (rng.chance(0.02)) "[deleted]" else text(t, p.bodyWords)
        val c = Comment(java.lang.Long.toString(5000000L + nc, 36), "t3_" + id, author(),
          sub, body, s.createdUtc + delay(rng))
        nc += 1
        if (rng.chance(0.002)) comLines += malformed(rng)
        else { comRecords += c; comLines += commentJson(c, rng.nextInt(100)) }
      }
    }
    BowData(subLines.result(), comLines.result(), topicOf.result(),
      bowThreads(subRecords.result(), comRecords.result(), p.topN), p)
  }

  /** §3.2 stage 1 filters and join in plain Scala; returns the thread
    * fullnames that keep at least one comment, i.e. one thread document
    * each. */
  def bowThreads(subs: Seq[Submission], comments: Seq[Comment], topN: Int): Set[String] = {
    val c0 = comments.filterNot(_.subreddit.startsWith("u_"))
    val s0 = subs.filterNot(_.subreddit.startsWith("u_"))
    val top = Gen.topN(c0.map(_.subreddit), topN)
    val removed = Set("[removed]", "[deleted]")
    val c1 = c0.filter(c => top(c.subreddit) && c.author != "[deleted]" && !removed(c.body))
    val s1 = s0.filter(s => top(s.subreddit) && s.author != "[deleted]" && !removed(s.selftext))
    val keepAuthors = keepBelowTopPercent(c1.groupBy(_.author).map { case (a, cs) => a -> cs.size }, 0.05)
    val created = s1.map(s => ("t3_" + s.id) -> s.createdUtc).toMap
    c1.iterator.filter(c => keepAuthors(c.author)).flatMap { c =>
      created.get(c.linkId).filter { t => val d = c.createdUtc - t; d > 3 && d < 259200 }
        .map(_ => c.linkId)
    }.toSet
  }

  // ----------------------------------------------------- app_recluster

  /** `clusters` is `Params.k(words)`, the app's default k at this
    * vocabulary size. */
  final case class AppParams(words: Int = 1000, dim: Int = 100, clusters: Int = 25,
                             noise: Double = 0.09)

  final case class AppData(words: IndexedSeq[String], vectors: IndexedSeq[Array[Float]],
                           planted: IndexedSeq[Int], params: AppParams)

  /** Vocabulary-sized (word, vector) table with planted clusters: unit
    * Gaussian centers plus isotropic noise. */
  def app(seed: Long, p: AppParams = AppParams()): AppData = {
    val rng = new Rng(seed)
    val centers = IndexedSeq.fill(p.clusters) {
      val v = Array.fill(p.dim)(rng.gaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val planted = IndexedSeq.fill(p.words)(rng.nextInt(p.clusters))
    val vectors = planted.map(c => Array.tabulate(p.dim)(d => (centers(c)(d) + p.noise * rng.gaussian()).toFloat))
    AppData(IndexedSeq.tabulate(p.words)(i => f"sr$i%05d"), vectors, planted, p)
  }

  /** The subreddit subset of the i-th request of a seeded session, 30–70%
    * of the vocabulary. The share walks a low-discrepancy sequence, so
    * any few consecutive requests cover the range evenly whatever the
    * seed. */
  def appRequest(seed: Long, i: Int, d: AppData): IndexedSeq[String] = {
    val rng = new Rng(seed * 1000003L + i)
    val x = (i + 3) * 0.6180339887 + (seed % 1000) * 0.001
    val share = 0.3 + 0.4 * (x - math.floor(x))
    d.words.filter(_ => rng.chance(share))
  }
}
