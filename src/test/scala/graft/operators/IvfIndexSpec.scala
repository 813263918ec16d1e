package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted IVF index must return exactly what the transient
  * [[Similarity.ivfTopK]] returns for the same router config, survive a
  * save/load round-trip bit-for-bit, and prune the corpus scan to the
  * probed cell directories (static partition pruning).
  */
class IvfIndexSpec extends SparkSpec {

  private def asRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("query_id"), col("rank"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("built index ≡ transient ivfTopK; save/load round-trips") {
    val d = sf("sf0.001")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val qs = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))

    val transient = asRows(Similarity.ivfTopK(qs, emb,
      "query_id", "vec_id", "embedding", k = 5, nlist = 8, nprobe = 3))

    val idx = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    val built = asRows(idx.search(qs, "query_id", "embedding", k = 5, nprobe = 3))
    assert(built == transient)

    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    idx.save(dir)
    val loaded = IvfIndex.load(spark, dir, "vec_id")
    val reread = asRows(loaded.search(qs, "query_id", "embedding", k = 5, nprobe = 3))
    assert(reread == built)

    // cell directories on disk + static partition pruning in the scan
    val cellDirs = new java.io.File(s"$dir/corpus").listFiles()
      .filter(_.getName.startsWith("_cell=")).map(_.getName).toSet
    assert(cellDirs.size == 8, s"expected 8 cell dirs, got $cellDirs")
    val plan = loaded.search(qs, "query_id", "embedding", k = 5, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_cell"),
      s"corpus scan should carry a _cell partition filter:\n$plan")
  }

  test("append routes on existing cells (no refit); compact preserves search") {
    val d = sf("sf0.001")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val a = emb.where(col("vec_id") % 3 =!= 0) // the built corpus
    val b = emb.where(col("vec_id") % 3 === 0) // the appended ingest batch
    val qs = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_a").toString

    val idx = IvfIndex.build(a, "vec_id", "embedding", nlist = 8)
    idx.save(dir)
    // fold b in as TWO append generations (the daily cadence)
    val loaded0 = IvfIndex.load(spark, dir, "vec_id")
    loaded0.append(b.where(col("vec_id") % 6 === 0), "embedding", dir)
    loaded0.append(b.where(col("vec_id") % 6 === 3), "embedding", dir)

    // the appended corpus must equal assigning A ∪ B under the SAME
    // persisted router — append may never refit, drop, or re-route
    import org.apache.spark.ml.functions.array_to_vector
    val router = org.apache.spark.ml.clustering.KMeansModel
      .load(s"$dir/router").setPredictionCol("_c")
    val expected = router.transform(emb.withColumn("_features",
        array_to_vector(graft.functions.VectorFns.toDoubles(col("embedding")))))
      .select(col("vec_id"), col("_c")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val onDisk = spark.read.parquet(s"$dir/corpus")
      .select(col("vec_id"), col("_cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(onDisk == expected,
      "post-append corpus must equal the fixed-router assignment of A ∪ B")

    // a planted B-side result must be reachable post-append
    val post = asRows(IvfIndex.load(spark, dir, "vec_id")
      .search(qs, "query_id", "embedding", k = 5, nprobe = 8))
    assert(post.exists(_._3 % 3 == 0),
      "appended vectors must be searchable (some top-5 hit from B)")

    // compact: crowded cells shrink to one file, search is unchanged
    val auditBefore = IvfIndex.audit(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(auditBefore.exists(_._2 > 1), "fixture must crowd some cell")
    val stats = IvfIndex.compact(spark, dir, maxFilesPerPartition = 1)
    assert(stats.nonEmpty && stats.forall(_.filesAfter == 1))
    val auditAfter = IvfIndex.audit(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(auditAfter.forall(_._2 == 1L))
    val postCompact = asRows(IvfIndex.load(spark, dir, "vec_id")
      .search(qs, "query_id", "embedding", k = 5, nprobe = 8))
    assert(postCompact == post, "search-after-compact must equal before")
  }

  test("searchBulk ≡ search row-for-row for BOTH router families, " +
    "with no BroadcastExchange anywhere in the bulk plan") {
    val d = sf("sf0.001")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    // the FULL table as queries — the shape the broadcast contract
    // exists for; also exercises self-exclusion on every row
    val qs = emb.select(col("vec_id").as("query_id"), col("embedding"))

    Seq(
      "kmeans" -> IvfIndex.build(emb, "vec_id", "embedding", nlist = 8),
      "seeded" -> IvfIndex.buildSeeded(emb, "vec_id", "embedding", nlist = 8)
    ).foreach { case (fam, idx) =>
      val viaSearch = asRows(
        idx.search(qs, "query_id", "embedding", k = 5, nprobe = 3))
      // cosine ties between DIFFERENT ids resolve identically (id asc)
      // in both plans, so set equality here is row-for-row equality
      val viaBulk = asRows(
        idx.searchBulk(qs, "query_id", "embedding", k = 5, nprobe = 3,
          saltFactor = 4))
      assert(viaBulk == viaSearch,
        s"$fam: bulk plan must return exactly the broadcast plan's rows")
      idx.close()
      graft.Caches.release()
    }

    // plan pin: the bulk path must never broadcast — not the query
    // side (the contract being lifted), not anything else. Executed
    // (post-AQE) plan, so a runtime demotion to broadcast would fail
    // here too.
    val dir = java.nio.file.Files.createTempDirectory("ivf_bulk").toString
    IvfIndex.buildSeeded(emb, "vec_id", "embedding", nlist = 8).save(dir)
    val bulk = IvfIndex.load(spark, dir, "vec_id")
      .searchBulk(qs, "query_id", "embedding", k = 5, nprobe = 3)
    bulk.collect()
    val plan = bulk.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"searchBulk must not broadcast either join side:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"the probe join must be the hinted shuffled-hash join (no sort " +
        s"of either side, probe side builds):\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("_cell"),
      s"static cell pruning must survive the bulk plan:\n$plan")
    graft.Caches.release()
  }

  test("seeded router: load auto-detects the family, centers and " +
    "search round-trip, append routes onto the FIXED cells") {
    val d = sf("sf0.001")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val a = emb.where(col("vec_id") % 3 =!= 0)
    val b = emb.where(col("vec_id") % 3 === 0)
    val qs = emb.where(col("vec_id") < 15)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_seed").toString

    val idx = IvfIndex.buildSeeded(a, "vec_id", "embedding", nlist = 8)
    val pre = asRows(idx.search(qs, "query_id", "embedding", k = 5, nprobe = 3))
    idx.save(dir)
    assert(new java.io.File(s"$dir/seeded_router").isDirectory,
      "seeded router must persist under its own layout")

    val loaded = IvfIndex.load(spark, dir, "vec_id")
    assert(loaded.router.isInstanceOf[IvfIndex.SeededRouter],
      "load must detect the seeded family from the layout")
    assert(loaded.router.centers.map(_._1).toSeq == (0 until 8) &&
      loaded.router.centers.zip(idx.router.centers).forall {
        case ((ci, cv), (bi, bv)) => ci == bi && cv.toSeq == bv.toSeq
      }, "centers must round-trip bit-for-bit")
    assert(asRows(loaded.search(qs, "query_id", "embedding",
      k = 5, nprobe = 3)) == pre)
    // the seeded corpus rides the same partitionBy(_cell) layout, so a
    // probe scan must prune statically exactly like the KMeans path
    val plan = loaded.corpus.where(col("_cell").isin(0, 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_cell"),
      s"seeded-corpus probe must be partition-pruned, got:\n$plan")

    // append = assignment under the SAME centers; the on-disk corpus
    // must equal assigning A ∪ B one-shot with the loaded router
    loaded.append(b, "embedding", dir)
    val expected = loaded.router.assign(emb, "vec_id", "embedding")
      .select(col("vec_id"), col("_cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val onDisk = spark.read.parquet(s"$dir/corpus")
      .select(col("vec_id"), col("_cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(onDisk == expected,
      "post-append corpus must equal the fixed-router assignment of A ∪ B")
    graft.Caches.release()

    // rebuilding into the same dir with the OTHER router family must
    // not leave a stale artifact for load to prefer: a leftover
    // seeded_router would silently shadow the new KMeans router and
    // route probes against centroids that no longer match the corpus
    IvfIndex.build(emb, "vec_id", "embedding", nlist = 8).save(dir)
    assert(!new java.io.File(s"$dir/seeded_router").exists,
      "saving a KMeans router must clear the stale seeded artifact")
    assert(IvfIndex.load(spark, dir, "vec_id").router
      .isInstanceOf[IvfIndex.KMeansRouter])
    IvfIndex.buildSeeded(emb, "vec_id", "embedding", nlist = 8).save(dir)
    assert(!new java.io.File(s"$dir/router").exists,
      "saving a seeded router must clear the stale KMeans artifact")
    assert(IvfIndex.load(spark, dir, "vec_id").router
      .isInstanceOf[IvfIndex.SeededRouter])
    graft.Caches.release()
  }

  test("build fits Spark's KMeans centers in fewer jobs than the estimator") {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    def jobsOf[T](body: => T): (T, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = body
        ListenerBusDrain.drain(spark.sparkContext)
        (r, jobs.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (idx, buildJobs) = jobsOf(IvfIndex.build(emb, "vec_id", "embedding", nlist = 8))
    val (ref, refJobs) = jobsOf(new KMeans().setK(8).setSeed(11).setMaxIter(8)
      .setFeaturesCol("_features")
      .fit(emb.withColumn("_features",
        array_to_vector(graft.functions.VectorFns.toDoubles(col("embedding"))))))
    assert(idx.router.centers.map(_._2.toSeq).toSeq ==
      ref.clusterCenters.map(_.toArray.toSeq).toSeq)
    assert(buildJobs < refJobs, s"build ran $buildJobs jobs, the estimator $refJobs")
    idx.close()
  }
}
