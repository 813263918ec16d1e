package graft

import graft.multimodal.Multimodal
import graft.sources.{Readers, Tables, Writers}
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** End-to-end seams: sources round-trips, streaming ≡ batch, multimodal
  * plumbing, and the full query registry over sf0.001. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("S1 permissive JSON scan: schema projection + malformed → nulls") {
    val dir = java.nio.file.Files.createTempDirectory("json").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/c.json"),
      """{"id":"c1","author":"a","subreddit":"s","created_utc":10,"score":1,"extra_field":"dropped","body":"b","link_id":"t3_x","parent_id":"t1_y"}
        |{"id":"c2","author":"b","subreddit":"s","created_utc":"not_an_int","score":2,"body":"b2","link_id":"t3_x","parent_id":"t1_y"}
        |""".stripMargin)
    val df = Readers.comments(spark, s"$dir/c.json")
    assert(df.columns.toSeq == Seq("id", "parent_id", "score", "link_id",
      "author", "subreddit", "body", "created_utc"))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getInt(7) == 10)
    assert(rows(1).isNullAt(7), "malformed int must surface as null (PERMISSIVE)")
  }

  test("S5/S6/S2 sinks round-trip: bzip2 CSV and parquet") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString
    val df = Seq(("AskReddit aww", 2L), ("nba funny", 2L))
      .toDF("subreddit_concat", "context_length")
    Writers.csvBzip2(df.select("subreddit_concat"), s"$dir/csv")
    assert(new java.io.File(s"$dir/csv").listFiles().exists(_.getName.endsWith(".bz2")))
    val back = Readers.csv(spark, "subreddit_list STRING NOT NULL", Seq(s"$dir/csv"))
    assert(back.as[String].collect().toSet == Set("AskReddit aww", "nba funny"))
    Writers.parquet(df, s"$dir/pq")
    assert(spark.read.parquet(s"$dir/pq").count() == 2)
    Writers.orc(df, s"$dir/orc")
    assert(Readers.orc(spark, s"$dir/orc").count() == 2)
    // S7: single-file CSV with header
    Writers.singleCsv(df, s"$dir/single")
    val files = new java.io.File(s"$dir/single").listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = java.nio.file.Files.readAllLines(files.head.toPath)
    assert(lines.get(0) == "subreddit_concat,context_length" && lines.size == 3)
    // newline-JSON round-trip through the S1 schema'd reader
    Writers.jsonGzip(df, s"$dir/json")
    assert(new java.io.File(s"$dir/json").listFiles().exists(_.getName.endsWith(".gz")))
    val jback = Readers.json(spark,
      "subreddit_concat STRING, context_length BIGINT", Seq(s"$dir/json"))
    assert(jback.as[(String, Long)].collect().toSet ==
      Set(("AskReddit aww", 2L), ("nba funny", 2L)))
  }

  test("partitioned zstd parquet: pruned reads, one file per partition value") {
    val dir = java.nio.file.Files.createTempDirectory("part").toString
    val df = (1 to 300).map(i => (i.toLong, s"t${i % 3}", s"payload$i"))
      .toDF("id", "kind", "payload")
    Writers.partitionedParquetZstd(df, s"$dir/pq", Seq("kind"), sortCols = Seq("id"))
    // layout: one directory per value, exactly one zstd file inside each
    val kinds = new java.io.File(s"$dir/pq").listFiles()
      .filter(_.getName.startsWith("kind=")).map(_.getName).sorted
    assert(kinds.toSeq == Seq("kind=t0", "kind=t1", "kind=t2"))
    val filesPerKind = kinds.map(k =>
      new java.io.File(s"$dir/pq/$k").listFiles().count(_.getName.endsWith(".parquet")))
    assert(filesPerKind.forall(_ == 1),
      s"repartition must yield one file per partition value, got ${filesPerKind.toSeq}")
    // a filter on the partition column must prune at planning time
    val pruned = spark.read.parquet(s"$dir/pq").where(col("kind") === "t1")
    assert(pruned.count() == 100)
    val plan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters: [") && plan.contains("kind"),
      "partition-column filter must appear as a PartitionFilter:\n" + plan)
  }

  test("q87 plan: gram stream shuffles as a LONG hash, never the string") {
    val d = sf("sf0.001")
    val plan = Queries.all("q87_crossdoc_substring").fn(spark, d)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the dup-gram count shuffle keys on the md5-60 LONG (gh) — a plan
    // that exchanges the gram STRING would ship ~8 tokens per window
    assert(plan.contains("hashpartitioning(gh"),
      "gram count shuffle must key on the long hash:\n" + plan.take(2000))
    assert(!plan.contains("hashpartitioning(gram"),
      "the gram string must never be a shuffle key")
    assert(!plan.contains("CartesianProduct"), "q87 must stay linear")
  }

  test("streaming as-of replay ≡ batch custom as-of operator") {
    val d = sf("sf0.001")
    val streamed = graft.streaming.StreamAsOf
      .replayParquet(spark, d, queryName = "test_asof_stream")
      .as[(Long, Long, Long)].collect().toSet
    val e = graft.sources.Tables.events(spark, d)
      .withColumn("_t", expr("ts DIV 1000000"))
    val o = spark.read.parquet(s"$d/orders.parquet")
      .withColumn("_ot", unix_millis(col("o_orderdate").cast("timestamp")))
    val batch = graft.plans.AsOf.latest(e, o, "user_id", "o_custkey", "_t", "_ot",
        Seq("o_orderkey"))
      .select(col("event_id"), col("o_orderkey"), col("_ot"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming hourly aggregation ≡ batch q28 (same semantics)") {
    val d = sf("sf0.001")
    val streamed = EventStream.replayParquet(spark, d, queryName = "test_stream")
      .select("bucket_ms", "event_type", "cnt", "sum_value_micro")
    val batch = Queries.all("q28_events_hourly").fn(spark, d)
    val s = streamed.as[(Long, String, Long, Long)].collect().toSet
    val b = batch.as[(Long, String, Long, Long)].collect().toSet
    assert(s == b)
  }

  test("stream-static enrichment join ≡ batch join+agg") {
    val d = sf("sf0.001")
    val streamed = EventStream.replayEnriched(spark, d, queryName = "test_enrich")
      .select("c_nationkey", "cnt", "sum_value_micro")
      .as[(Long, Long, Long)].collect().toSet
    val ev = graft.sources.Tables.events(spark, d)
    val batch = EventStream.enrichedTotalsByNation(
        ev, spark.read.parquet(s"$d/customer.parquet"))
      .select("c_nationkey", "cnt", "sum_value_micro")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream near-dup: bucket state carries across micro-batches, cap respected") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamNearDup.{BandRow, Hit}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[BandRow]
    val q = graft.streaming.StreamNearDup
      .bucketHits(src.toDS(), tauNum = 1, tauDenom = 2, maxBucket = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_state").start()
    val sigA = Array(1L, 2L, 3L, 4L); val sigB = Array(1L, 2L, 9L, 9L)
    val far = Array(9L, 9L, 9L, 8L)
    // batch 1: docs 1 and 2 in bucket "b" — 2 agrees with 1 on 2/4 slots
    src.addData(BandRow("b", 1L, sigA), BandRow("b", 2L, sigB))
    q.processAllAvailable()
    // batch 2: doc 3 must hit BOTH stored docs (state carried); doc 4
    // arrives after the cap (2) is full — it still probes but isn't
    // stored, and matches nothing anyway
    src.addData(BandRow("b", 3L, sigA), BandRow("b", 4L, far))
    q.processAllAvailable()
    // batch 3: doc 5 ≡ sigA must hit ONLY the stored docs 1 and 2 —
    // doc 3 was never added to the full bucket
    src.addData(BandRow("b", 5L, sigA))
    q.processAllAvailable()
    val hits = spark.table("neardup_state").as[Hit].collect()
      .map(h => h.doc_id -> h.keeper).toSet
    q.stop()
    assert(hits == Set(2L -> 1L, 3L -> 1L, 3L -> 2L, 5L -> 1L, 5L -> 2L))
  }

  test("streaming dedup: survivors' texts ≡ batch distinct texts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def doc(i: Int) = (i.toLong, s"document body ${i % 15}", // 15 distinct texts
      new java.sql.Timestamp(base.getTime + i * 1000L))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.streaming.StreamDedup
      .firstSeen(source.toDF.toDF("doc_id", "text", "event_time"),
        "doc_id", "text", "event_time", watermark = "10 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out")
      .start()
    source.addData((1 to 25).map(doc)) // dups of 15 texts within watermark
    q.processAllAvailable()
    source.addData((26 to 40).map(doc)) // more dups, later arrivals
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sdedup_out").select("text").as[String].collect()
    // contract: every within-horizon duplicate is dropped (batch 1 emits
    // exactly the 15 distinct texts — the watermark does not advance
    // mid-batch), while repeats arriving after their state expired are
    // re-admitted (bounded state ⇒ bounded dedup horizon). After batch 1
    // the watermark is 25s−10s = 15s, so state for texts first seen at
    // t ≤ 5s (expiry = first-seen + 10s ≤ watermark) is evicted: batch 2
    // re-emits exactly texts 1–5.
    assert(got.toSet == (0 until 15).map(i => s"document body $i").toSet)
    val counts = got.groupBy(identity).view.mapValues(_.length)
    assert(counts.values.forall(_ <= 2), "at most one re-admission per text")
    val readmitted = counts.filter(_._2 == 2).keySet
    assert(readmitted == (1 to 5).map(i => s"document body $i").toSet,
      s"out-of-horizon repeats must re-admit; got $readmitted")
  }

  test("stateful streaming sessionize ≡ batch sessionize") {
    val d = sf("sf0.001")
    val streamed = graft.streaming.StatefulSessions.replayParquet(spark, d, 3600000L)
      .collect().map(s => (s.user_id, s.session_seq, s.n_events,
        s.session_start_ms, s.session_end_ms)).toSet
    val batch = graft.operators.Relational.sessionize(
        graft.sources.Tables.events(spark, d), "user_id",
        expr("ts DIV 1000000"), "event_id", 3600000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("stateful sessionize carries state across micro-batches") {
    val d = sf("sf0.001")
    // Split events into 3 time-ordered parquet files with staggered
    // mtimes: the file source (oldest-first) + maxFilesPerTrigger=1
    // replays them as 3 micro-batches (+ the sentinel batch), so
    // sessions spanning a file boundary genuinely cross batches.
    val tmp = java.nio.file.Files.createTempDirectory("multibatch")
    val evDir = tmp.resolve("events.parquet")
    java.nio.file.Files.createDirectory(evDir)
    val ev = graft.sources.Tables.events(spark, d)
    // cut at distinct ms values so no boundary event equals the watermark
    val cuts = ev.selectExpr("ts DIV 1000000 AS ms").distinct()
      .orderBy("ms").as[Long].collect()
    val (c1, c2) = (cuts(cuts.length / 3), cuts(2 * cuts.length / 3))
    val ranges = Seq(
      s"ts DIV 1000000 <= $c1",
      s"ts DIV 1000000 > $c1 AND ts DIV 1000000 <= $c2",
      s"ts DIV 1000000 > $c2")
    ranges.zipWithIndex.foreach { case (pred, i) =>
      val scratch = java.nio.file.Files.createTempDirectory(s"mb_$i")
      ev.where(pred).coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = new java.io.File(scratch.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = evDir.resolve(f"p$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 10000L))
    }
    val streamed = graft.streaming.StatefulSessions.replayParquet(
        spark, tmp.toString, 3600000L, queryName = "mb_sessions",
        maxFilesPerTrigger = Some(1))
      .collect().map(s => (s.user_id, s.session_seq, s.n_events,
        s.session_start_ms, s.session_end_ms)).toSet
    val batch = graft.operators.Relational.sessionize(
        graft.sources.Tables.events(spark, d), "user_id",
        expr("ts DIV 1000000"), "event_id", 3600000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("M4 IDF path: vectorized column is IDF-rescaled") {
    val docs = Seq((1, "apple apple banana"), (2, "banana cherry"), (3, "apple date"))
      .toDF("id", "document_text")
    val (model, out) = graft.text.TextPipeline.fitTransform(docs,
      graft.text.TextPipeline.Config(minDF = 0.0, maxDF = 1e9,
        stopLanguage = None, useIdf = true))
    assert(out.columns.contains("count_vectorized") && out.columns.contains("vectorized"))
    val vocab = graft.text.TextPipeline.vocabulary(model)
    val appleIdx = vocab.indexOf("apple")
    val v = out.where(col("id") === 1).select("vectorized").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    // IDF(apple) = ln((n+1)/(df+1)) = ln(4/3); tf = 2
    assert(math.abs(v(appleIdx) - 2 * math.log(4.0 / 3)) < 1e-9)
  }

  test("X5 grid search keeps the best (ties → later config)") {
    val rnd = new scala.util.Random(3)
    val ctx = (1 to 200).map { _ =>
      if (rnd.nextBoolean()) Seq("a1", "b1", "c1") else Seq("a2", "b2", "c2")
    }.toDF("context_words")
    val analogies = graft.embed.Embeddings.analogiesFromPairs(
      Seq(("a1", "b1"), ("a2", "b2")), "pairs")
    val (best, all) = graft.embed.Embeddings.gridSearch(spark, ctx,
      graft.embed.Sgns.Config(epochs = 1, window = 3, numPartitions = 1),
      alphas = Seq(0.025, 0.05), vectorSizes = Seq(4), samples = Seq(0.0),
      negatives = Seq(20), analogies = analogies)
    assert(all.size == 2)
    assert(best.accuracy == all.map(_.accuracy).max)
    // ties break toward the LATER configuration (reference acc >= best rule)
    val tied = all.filter(_.accuracy == best.accuracy)
    assert(best.params == tied.last.params)
  }

  test("multimodal: deterministic stub features with real batch shape") {
    val docs = Tables.documents(spark, sf("sf0.001")).limit(50)
    val media = Multimodal.fromText(docs, "doc_id", "text")
      .repartition(4) // exercise the per-partition decoder init
      .as[Multimodal.MediaRow]
    val feats1 = Multimodal.pseudoFeatures(media).collect().sortBy(_.media_id)
    val feats2 = Multimodal.pseudoFeatures(media).collect().sortBy(_.media_id)
    assert(feats1.length == 50)
    assert(feats1.map(_.checksum).toSeq == feats2.map(_.checksum).toSeq)
    assert(feats1.forall(_.embedding.length == 8))
    assert(feats1.forall(f => f.n_bytes > 0))
    // resize: 1:1 shape, metadata rewritten with the payload
    val resized = Multimodal.pseudoResize(media, 64, 32).collect()
    assert(resized.length == 50 &&
      resized.forall(r => r.width == 64 && r.height == 32 && r.payload.length == 32))
    // frame sampling: 1:N fan-out, every 2nd 16-byte frame survives
    val frames = Multimodal.pseudoSampleFrames(media, frameBytes = 16, everyN = 2)
      .collect().groupBy(_.media_id)
    val byId = media.collect().map(r => r.media_id -> r.payload.length).toMap
    frames.foreach { case (id, fs) =>
      val total = (byId(id) + 15) / 16 // ceil(frames)
      assert(fs.length == (total + 1) / 2, s"media $id frame count")
      assert(fs.forall(_.frame_idx % 2 == 0))
    }
  }

  test("multimodal: portable decoder — exact modular math + NULL propagation") {
    import spark.implicits._
    val p = graft.functions.HashFns.MersennePrime
    val params = graft.functions.HashFns.hashParams(4, 7L)
    val rows = Seq(
      Multimodal.MediaRow(1L, "text/plain", "ab".getBytes("UTF-8"), 0, 0),
      Multimodal.MediaRow(2L, "text/plain", Array.empty[Byte], 0, 0),
      Multimodal.MediaRow(3L, "text/plain", null, 0, 0))
    val out = Multimodal.pseudoFeaturesPortable(spark.createDataset(rows), params)
      .collect().sortBy(_.media_id)
    // "ab" = bytes 97, 98 → ((0*31+97)*31+98) mod p = 3105
    val expect = ((97L * 31) + 98) % p
    assert(out(0).checksum.contains(expect))
    assert(out(0).n_bytes.contains(2L))
    assert(out(0).embedding.contains(
      params.map { case (a, b) => (a * expect + b) % p }.mkString(",")))
    // empty payload: checksum 0, embedding still derived
    assert(out(1).checksum.contains(0L) && out(1).n_bytes.contains(0L))
    assert(out(1).embedding.contains(
      params.map { case (_, b) => b % p }.mkString(",")))
    // NULL payload NULL-propagates (q46 convention), never crashes
    assert(out(2).checksum.isEmpty && out(2).n_bytes.isEmpty && out(2).embedding.isEmpty)
  }

  test("every registered query answers with rows on sf0.001") {
    val d = sf("sf0.001")
    Queries.all.foreach { case (name, q) =>
      val n = q.fn(spark, d).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
