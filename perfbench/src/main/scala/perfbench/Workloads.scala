package perfbench

import graft.Caches
import graft.cluster.{Clustering, Coherence, Comparison, Topics}
import graft.embed.Sgns
import graft.export.Tsne
import graft.operators.Relational
import graft.pipelines.Community2Vec
import graft.sources.{Readers, Writers}
import graft.text.TextPipeline
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The paper's hyperparameters, shaped like its `params.yaml`.
  * Execution settings (partitions, parallelism) stay at the library
  * defaults. */
object Params {
  /** The reference's k is 250 at its top_n = 10000 subreddits (KMeans
    * `n_clusters` default and the app's default, LDA `k`); k keeps that
    * ratio at the generated vocabulary size. */
  def k(vocabulary: Int): Int = math.max(2, math.round(vocabulary * 250.0 / 10000).toInt)
  val sgns: Sgns.Config = Sgns.Config(vectorSize = 100, negative = 20, sample = 0.0, epochs = 5)
  val kmeansMaxIter = 300 // sklearn's default, used by the paper and its app
  val ldaMaxIter = 50
  val topTerms = 20 // gensim CoherenceModel(topn=20)
}

/** One operation's outcome: quality figures and failed checks. */
final case class OpOutcome(quality: Map[String, Double], errors: Seq[String])

/** A workload: set-up (generate, write, scan), warm-up operations, then
  * timed operations, each checked against the generator's ground truth. */
trait Workload {
  /** Generates and writes the inputs, and scans them once. */
  def setup(spark: SparkSession): Unit
  /** One timed operation; returns a check to run after the clock stops. */
  def op(i: Int, tr: Tracer): () => OpOutcome
  /** Drops what an operation left cached, so nothing carries over. */
  def cleanup(spark: SparkSession): Unit = {
    Caches.release()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Workload {
  def apply(name: String, seed: Long, dir: String): Workload = name match {
    case "c2v_month" => new C2vMonth(seed, dir)
    case "bow_topics" => new BowTopics(seed, dir)
    case "app_recluster" => new AppRecluster(seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Writes `lines` as `parts` newline-JSON files under `dir`, the way
    * a dump arrives in chunks, so the scan has more than one split. */
  def writeParts(dir: String, lines: IndexedSeq[String], parts: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val per = (lines.size + parts - 1) / parts
    lines.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(Paths.get(dir, f"part-$i%05d.json"), chunk.asJava)
    }
  }

  /** NMI of predicted against planted labels, and the same for a seeded
    * shuffle of the predictions (the chance level). */
  def nmiWithChance(pairs: Seq[(Int, Int)], seed: Long): (Double, Double) = {
    def nmi(ps: Seq[(Int, Int)]) = Comparison.normalizedMutualInformation(
      Comparison.fromTriples(ps.groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toDouble) }.toSeq))
    val shuffled = new Gen.Rng(seed).shuffle(pairs.map(_._1).toIndexedSeq).zip(pairs.map(_._2))
    (nmi(pairs), nmi(shuffled))
  }
}

/** One month of comments → user contexts → SGNS → KMeans, metrics and
  * comparison → t-SNE: the paper's headline community2vec DAG. */
final class C2vMonth(seed: Long, dir: String) extends Workload {
  private var spark: SparkSession = _
  private var data: Gen.C2vData = _
  private val k = Params.k(Gen.C2vParams().topN)

  def setup(s: SparkSession): Unit = {
    spark = s
    data = Gen.c2v(seed)
    Workload.writeParts(s"$dir/in/comments", data.lines, 8)
    Readers.comments(spark, s"$dir/in/comments").count()
  }

  def op(i: Int, tr: Tracer): () => OpOutcome = {
    val (model, assigned, comparison) = tr.op("pass") {
      val comments = tr.span("sources", "read_comments") {
        Readers.comments(spark, s"$dir/in/comments")
      }
      tr.span("pipelines", "user_contexts") {
        val (contexts, _) = Community2Vec.userContexts(comments, data.params.topN, 0.05, 2)
        Writers.csvBzip2(contexts, s"$dir/in/out/contexts")
      }
      val sentences = tr.span("sources", "read_contexts") {
        Readers.csv(spark, "subreddit_concat STRING, context_length INT", Seq(s"$dir/in/out/contexts"))
          .select(split(col("subreddit_concat"), " ").as("context_words"))
      }
      val model = tr.span("embed", "sgns_fit") { Sgns.fit(sentences, Params.sgns) }
      val vectors = tr.span("embed", "vectors") { model.vectors(spark) }
      val cfg = Clustering.Config(k = k, maxIter = Params.kmeansMaxIter, vecCol = "vector", predictionCol = "cluster")
      val assigned = tr.span("cluster", "kmeans") {
        val km = Clustering.fit(vectors, cfg)
        val a = Clustering.assign(km, vectors, cfg)
        Clustering.metrics(a)
        a
      }
      val comparison = tr.span("cluster", "compare") {
        val ss = spark; import ss.implicits._
        val truth = data.community.toSeq.toDF("word", "community")
        Comparison.compareAll(Comparison.contingency(assigned.join(truth, "word"), "cluster", "community"))
      }
      tr.span("export", "tsne") { Tsne.projectToCsv(vectors, "word", "vector", s"$dir/in/out/tsne") }
      (model, assigned, comparison)
    }
    () => check(model, assigned, comparison)
  }

  private def check(model: Sgns.Model, assigned: DataFrame, comparison: Map[String, Double]): OpOutcome = {
    val errors = Seq.newBuilder[String]
    val contexts = Readers.csv(spark, "subreddit_concat STRING, context_length INT",
      Seq(s"$dir/in/out/contexts")).collect().map(r => r.getString(0) + "\t" + r.getInt(1)).sorted.toSeq
    if (contexts.size != data.expectedCount)
      errors += s"contexts: ${contexts.size} rows, expected ${data.expectedCount}"
    else if (Gen.sha256(contexts) != data.expectedHash) errors += "contexts: content hash differs"

    val tsneRows = spark.read.option("header", "true").csv(s"$dir/in/out/tsne").count()
    if (tsneRows != model.words.length) errors += s"tsne: $tsneRows rows for ${model.words.length} words"

    val pairs = assigned.select("word", "cluster").collect().map(r => (r.getInt(1), data.community(r.getString(0))))
    if (pairs.map(_._1).distinct.length > k) errors += "kmeans: more clusters than k"
    val (nmi, nmiChance) = Workload.nmiWithChance(pairs.toSeq, seed)
    if (math.abs(nmi - comparison("nmi")) > 1e-9) errors += s"compare: nmi ${comparison("nmi")} != $nmi"
    if (nmi < nmiChance + 0.1) errors += f"cluster_nmi $nmi%.3f not above chance $nmiChance%.3f + 0.1"

    // share of each subreddit's 10 nearest neighbours in its own community
    val words = model.words
    val vecs = words.indices.map { i =>
      val v = model.vector(i).map(_.toDouble); val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def dot(a: Array[Double], b: Array[Double]) = { var s = 0.0; var d = 0; while (d < a.length) { s += a(d) * b(d); d += 1 }; s }
    val prec = words.indices.map { i =>
      val nn = words.indices.filter(_ != i).sortBy(j => -dot(vecs(i), vecs(j))).take(10)
      nn.count(j => data.community(words(j)) == data.community(words(i))) / 10.0
    }
    val prec10 = prec.sum / prec.size
    val precChance = 1.0 / k
    if (prec10 < precChance + 0.1) errors += f"nbr_prec10 $prec10%.3f not above chance $precChance%.3f + 0.1"
    OpOutcome(Map("nmi" -> nmi, "nmi_chance" -> nmiChance, "nbr_prec10" -> prec10,
      "nbr_prec10_chance" -> precChance), errors.result())
  }
}

/** Submissions and comments → thread documents → text pipeline → online
  * LDA → u_mass coherence → per-document topics. */
final class BowTopics(seed: Long, dir: String) extends Workload {
  private var spark: SparkSession = _
  private var data: Gen.BowData = _
  private var umassChance: Option[Double] = None
  private val k = Params.k(Gen.BowParams().topN)

  def setup(s: SparkSession): Unit = {
    spark = s
    data = Gen.bow(seed)
    Workload.writeParts(s"$dir/in/submissions", data.submissionLines, 2)
    Workload.writeParts(s"$dir/in/comments", data.commentLines, 8)
    Readers.submissions(spark, s"$dir/in/submissions").count()
    Readers.comments(spark, s"$dir/in/comments").count()
  }

  def op(i: Int, tr: Tracer): () => OpOutcome = {
    val (vectorized, terms, umass) = tr.op("pass") {
      val (subs, comments) = tr.span("sources", "read_json") {
        (Readers.submissions(spark, s"$dir/in/submissions"), Readers.comments(spark, s"$dir/in/comments"))
      }
      tr.span("pipelines", "thread_docs") {
        val joined = Community2Vec.joinedSubmissionsComments(subs, comments, data.params.topN, 0.05,
          Some(259200L), Some(3L))
        Writers.parquet(Relational.threadDoc(joined, "fullname_id", Seq("subreddit"),
          "comments_created_utc", "body"), s"$dir/in/out/docs")
      }
      val docs = tr.span("sources", "read_docs") { Readers.parquet(spark, s"$dir/in/out/docs") }
      val (pipeline, vectorized) = tr.span("text", "fit_transform") { TextPipeline.fitTransform(docs) }
      val model = tr.span("cluster", "lda_fit") {
        Topics.fit(vectorized, Topics.Config(k = k, maxIter = Params.ldaMaxIter))
      }
      val terms = tr.span("cluster", "top_terms") {
        val vocab = TextPipeline.vocabulary(pipeline)
        model.describeTopics(Params.topTerms).orderBy("topic").collect()
          .map(r => r.getSeq[Int](1).map(vocab(_))).toSeq
      }
      val umass = tr.span("cluster", "umass") {
        Coherence.uMass(vectorized, "fullname_id", "tokensNoStopWords", terms)
      }
      tr.span("cluster", "doc_topics") {
        Writers.parquet(Topics.documentTopics(model, vectorized, "fullname_id"), s"$dir/in/out/doc_topics")
      }
      (vectorized, terms, umass)
    }
    () => check(vectorized, terms, umass)
  }

  private def check(vectorized: DataFrame, terms: Seq[Seq[String]], umass: Seq[Double]): OpOutcome = {
    val errors = Seq.newBuilder[String]
    val docIds = Readers.parquet(spark, s"$dir/in/out/docs").select("fullname_id").collect().map(_.getString(0))
    if (docIds.length != data.expectedDocs || docIds.toSet != data.expectedThreads)
      errors += s"thread docs: ${docIds.length} (${docIds.toSet.size} distinct), expected ${data.expectedDocs}"

    val top = Readers.parquet(spark, s"$dir/in/out/doc_topics")
      .groupBy("fullname_id").agg(max_by(col("topic"), col("prob")).as("topic"))
      .collect().map(r => (r.getInt(1), data.topicOf(r.getString(0))))
    if (top.length != data.expectedDocs) errors += s"doc topics: ${top.length} docs, expected ${data.expectedDocs}"
    val (nmi, nmiChance) = Workload.nmiWithChance(top.toSeq, seed)
    if (nmi < nmiChance + 0.1) errors += f"topic_nmi $nmi%.3f not above chance $nmiChance%.3f + 0.1"

    // chance coherence: the same number of terms per topic, drawn at
    // random from the fitted vocabulary (data-dependent only, so once)
    val chance = umassChance.getOrElse {
      val vocab = vectorized.select(explode(col("tokensNoStopWords"))).distinct().collect().map(_.getString(0)).sorted
      val rng = new Gen.Rng(seed)
      val random = terms.map(t => rng.shuffle(vocab.toIndexedSeq).take(t.size))
      val c = Coherence.uMass(vectorized, "fullname_id", "tokensNoStopWords", random)
      c.sum / c.size
    }
    umassChance = Some(chance)
    val umassMean = umass.sum / umass.size
    if (umass.size != k || umass.exists(u => u.isNaN || u.isInfinite))
      errors += s"umass: ${umass.size} finite scores expected $k"
    if (umassMean <= chance) errors += f"umass_mean $umassMean%.3f not above chance $chance%.3f"
    OpOutcome(Map("nmi" -> nmi, "nmi_chance" -> nmiChance, "umass_mean" -> umassMean,
      "umass_chance" -> chance), errors.result())
  }
}

/** The Dash app as a closed loop with one client: each request filters
  * the cached vector table to a subreddit subset, reclusters it at the
  * app's default k scaled to the vocabulary and collects (word, cluster). */
final class AppRecluster(seed: Long, dir: String) extends Workload {
  private var spark: SparkSession = _
  private var data: Gen.AppData = _
  private var table: DataFrame = _
  private lazy val planted = data.words.zip(data.planted).toMap
  private val k = Params.k(Gen.AppParams().words)

  def setup(s: SparkSession): Unit = {
    spark = s
    data = Gen.app(seed)
    val ss = spark; import ss.implicits._
    Writers.parquet(data.words.zip(data.vectors.map(_.toSeq)).toDF("word", "vector"), s"$dir/in/vectors")
    table = Readers.parquet(spark, s"$dir/in/vectors").persist()
    table.count()
  }

  override def cleanup(spark: SparkSession): Unit = Caches.release()

  def op(i: Int, tr: Tracer): () => OpOutcome = {
    val subset = Gen.appRequest(seed, i, data)
    val reply = tr.op("request") {
      val rows = tr.span("pipelines", "filter") {
        val ss = spark; import ss.implicits._
        Relational.semiJoin(table, subset.toDF("word"), "word")
      }
      val cfg = Clustering.Config(k = k, maxIter = Params.kmeansMaxIter, vecCol = "vector", predictionCol = "cluster")
      val model = tr.span("cluster", "fit") { Clustering.fit(rows, cfg) }
      tr.span("cluster", "assign") {
        Clustering.assign(model, rows, cfg).select("word", "cluster").collect()
          .map(r => (r.getString(0), r.getInt(1)))
      }
    }
    () => {
      val errors = Seq.newBuilder[String]
      if (reply.map(_._1).sorted.toSeq != subset.sorted)
        errors += s"request $i: ${reply.length} rows for a subset of ${subset.size}"
      val clusters = reply.map(_._2).distinct
      if (clusters.length > k || clusters.exists(c => c < 0 || c >= k))
        errors += s"request $i: ${clusters.length} cluster ids for k=$k"
      val (nmi, chance) = Workload.nmiWithChance(reply.map(r => (r._2, planted(r._1))).toSeq, seed + i)
      if (nmi < chance + 0.1) errors += f"request $i: nmi $nmi%.3f not above chance $chance%.3f + 0.1"
      OpOutcome(Map("nmi" -> nmi, "nmi_chance" -> chance), errors.result())
    }
  }
}
