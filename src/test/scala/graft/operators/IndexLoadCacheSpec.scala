package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-20 optimization pins.
  *
  * 1–3: the per-dir meta/router caches in the three index loaders (one
  * Spark read per saved artifact generation instead of one per
  * micro-batch) must never serve STALE config — a re-save of the same
  * dir with different parameters is a new generation and a fresh read.
  * A stale hit would probe with the wrong hash family / router, which
  * is exactly the failure the generation key exists to prevent. The
  * re-save must also REPLACE the dir's entry: a cache that kept every
  * generation would grow by one entry per ingest-loop pass.
  *
  * 4: the [[IvfIndex.searchBulk]] join-strategy gate — above the
  * build-row bound the replicated probe side (which carries the wide
  * `_qnv` vector and, as a shuffled-hash build side, cannot spill)
  * falls back to sort-merge. Join strategy only: the returned rows must
  * be identical. */
class IndexLoadCacheSpec extends SparkSpec {

  /** After a re-save and reload, `dir` holds exactly one entry, and it
    * is not the pre-save generation. */
  private def assertReplaced(generations: Map[String, String], dir: String,
                             oldGen: String): Unit = {
    assert(!generations.toSet.contains(dir -> oldGen),
      s"the pre-save generation of $dir must be evicted, got $generations")
    assert(generations.contains(dir),
      s"the reload must cache the new generation of $dir")
  }

  test("DedupIndex.load meta cache: a re-save with different params " +
    "is a fresh read, repeated loads reuse the generation") {
    val docs = graft.sources.Tables.table(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("text")).limit(50)
    val dir = java.nio.file.Files.createTempDirectory("meta_cache").toString
    DedupIndex.build(docs, "doc_id", "text",
      numBands = 4, rowsPerBand = 2).save(dir)
    val first = DedupIndex.load(spark, dir, "doc_id").meta
    assert(first.numBands == 4 && first.rowsPerBand == 2)
    assert(DedupIndex.load(spark, dir, "doc_id").meta == first,
      "same generation must round-trip (cache-hit path)")
    val oldGen = DedupIndex.metaCache.generations(s"$dir/meta")
    DedupIndex.build(docs, "doc_id", "text",
      numBands = 8, rowsPerBand = 4).save(dir)
    val second = DedupIndex.load(spark, dir, "doc_id").meta
    assert(second.numBands == 8 && second.rowsPerBand == 4,
      "a re-save must be a cache MISS — stale meta would probe with " +
        "the wrong hash family")
    assertReplaced(DedupIndex.metaCache.generations, s"$dir/meta", oldGen)
    graft.Caches.release()
  }

  test("SemDedupIndex.load meta cache: a re-save with different router " +
    "bits is a fresh read") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .limit(50)
    val dir = java.nio.file.Files.createTempDirectory("sem_meta_cache").toString
    SemDedupIndex.buildOrthant(emb, "vec_id", "embedding", bits = 3).save(dir)
    assert(SemDedupIndex.load(spark, dir, "vec_id").meta.orthantBits == 3)
    val oldGen = SemDedupIndex.metaCache.generations(s"$dir/meta")
    SemDedupIndex.buildOrthant(emb, "vec_id", "embedding", bits = 5).save(dir)
    assert(SemDedupIndex.load(spark, dir, "vec_id").meta.orthantBits == 5,
      "a re-save must be a cache miss")
    assertReplaced(SemDedupIndex.metaCache.generations, s"$dir/meta", oldGen)
    graft.Caches.release()
  }

  test("IvfIndex.load router cache: a re-save with different nlist is " +
    "a fresh read") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .limit(80)
    val dir = java.nio.file.Files.createTempDirectory("ivf_router_cache").toString
    IvfIndex.buildSeeded(emb, "vec_id", "embedding", nlist = 4).save(dir)
    assert(IvfIndex.load(spark, dir, "vec_id").router.centers.length == 4)
    val routerDir = s"$dir/seeded_router"
    val oldGen = IvfIndex.routerCache.generations(routerDir)
    IvfIndex.buildSeeded(emb, "vec_id", "embedding", nlist = 8).save(dir)
    assert(IvfIndex.load(spark, dir, "vec_id").router.centers.length == 8,
      "a re-save must be a cache miss — stale centroids would route " +
        "probes against the wrong cell assignment")
    assertReplaced(IvfIndex.routerCache.generations, routerDir, oldGen)
    graft.Caches.release()
  }

  test("searchBulk gate: above the build-row bound the probe join " +
    "falls back to sort-merge with identical rows") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val qs = emb.select(col("vec_id").as("query_id"), col("embedding"))
    val idx = IvfIndex.buildSeeded(emb, "vec_id", "embedding", nlist = 8)
    def run() = {
      val df = idx.searchBulk(qs, "query_id", "embedding",
        k = 5, nprobe = 3, saltFactor = 4)
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      (rows, df.queryExecution.executedPlan.toString)
    }
    val (hashRows, hashPlan) = run()
    assert(hashPlan.contains("ShuffledHashJoin"),
      s"default gate must keep the hinted shuffled-hash join:\n$hashPlan")
    spark.conf.set("graft.ivf.bulkHashJoinMaxBuildRows", "1")
    try {
      val (mergeRows, mergePlan) = run()
      assert(mergePlan.contains("SortMergeJoin"),
        s"an over-bound probe batch must fall back to sort-merge " +
          s"(spillable build):\n$mergePlan")
      assert(!mergePlan.contains("BroadcastExchange"),
        s"the fallback must still never broadcast:\n$mergePlan")
      assert(mergeRows == hashRows,
        "the gate changes join strategy only — rows must be identical")
    } finally spark.conf.unset("graft.ivf.bulkHashJoinMaxBuildRows")
    idx.close()
    graft.Caches.release()
  }
}
