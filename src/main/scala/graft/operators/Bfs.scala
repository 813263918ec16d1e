package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distance by synchronous frontier expansion —
  * the TRAVERSAL member of the graph family (PageRank/HITS/PPR rank,
  * LabelProp partitions, KCore densifies, connected components via
  * Dedup.keeperTransitive): dist(node) = min #hops from any seed,
  * computed level by level. A crawl pipeline uses it for frontier
  * depth quotas and contamination blast-radius ("everything within 3
  * hops of a flagged source"); a graph-feature pipeline uses it as the
  * distance-to-anchor feature.
  *
  * Determinism: synchronous min-plus relaxation — a node's distance is
  * FINAL the first round it is reached (all edges cost 1), so a fixed
  * round count R yields exactly the nodes at distance ≤ R, identically
  * on any engine.
  *
  * Scale design: the per-round work is FRONTIER-BOUNDED, not
  * graph-bounded — round k joins the adjacency ONLY against the nodes
  * first reached at k−1 (one hash join + distinct + one left-anti join
  * against the settled set, all key-partitioned). The settled set is
  * lineage-truncated per round (the Hits.matFlat / Dedup pattern: the
  * round plan references it twice — union + anti-join — so plain
  * persist+count would nest 2^k plan copies and the per-action
  * stringification goes CPU-bound). Unreached nodes never enter any
  * frame.
  */
object Bfs {

  /** `edges`: (`src`, `dst`) UNDIRECTED, pre-deduped; `seeds`: one
    * column `node`. Returns (node, dist) for every node within
    * `rounds` hops of any seed, dist = the minimum hop count. */
  def hopDistance(edges: DataFrame, seeds: DataFrame,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, "hopDistance: rounds must be >= 1")
    val spark = edges.sparkSession
    // round-14 lazy matFlat (see Hits/LabelProp): constant-depth plans
    // via the LogicalRDD rebuild, per-round persists dedup the double
    // reference (frontier filter + anti-join), but nothing materializes
    // until the one action at the end — a single job for the whole
    // traversal. Handles release only after that action.
    def matFlat(df: DataFrame): (DataFrame, DataFrame) = {
      val p = df.persist()
      (spark.createDataFrame(p.rdd, p.schema), p)
    }
    val adj = edges.select(col("src").as("node"), col("dst").as("nbr"))
      .union(edges.select(col("dst").as("node"), col("src").as("nbr")))
      .persist()
    // Broadcast the frontier semi-join and the settled-set anti-join
    // build sides when provably small (guide §3.1, the Hits/LabelProp/
    // PageRank gate, same config key and the same meaning: a NODE
    // count): the adjacency then streams from its cache each round
    // instead of re-shuffling. Every frame this loop builds (settled
    // set, frontier, candidates) is a subset of adj's node ids plus the
    // seeds, so that node count ≤ the bound implies they all broadcast;
    // a web-scale node set fails the gate and the shuffle plan stands.
    // The count is one upfront action that fills the cache every round
    // reads anyway. Join strategy only.
    val bcastMax = spark.conf.getOption("graft.graph.broadcastScoresMaxRows")
      .map(_.toLong).getOrElse(4000000L)
    val nodes = adj.select(col("node")).union(seeds.select(col("node")))
      .distinct().count()
    val bc: DataFrame => DataFrame =
      if (nodes <= bcastMax) (df: DataFrame) => broadcast(df)
      else identity[DataFrame]
    val handles = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var (d, dHandle) = matFlat(
      seeds.select(col("node")).distinct()
        .select(col("node"), lit(0L).as("dist")))
    handles += dHandle
    var k = 1
    while (k <= rounds) {
      val frontier = d.where(col("dist") === (k - 1)).select(col("node"))
      val cand = adj
        .join(bc(frontier.select(col("node").as("nbr"))), Seq("nbr"),
          "left_semi")
        .select(col("node")).distinct()
      val fresh = cand.join(bc(d.select(col("node"))), Seq("node"), "left_anti")
        .select(col("node"), lit(k.toLong).as("dist"))
      val (next, nextHandle) = matFlat(d.unionByName(fresh))
      handles += nextHandle
      d = next; dHandle = nextHandle
      k += 1
    }
    dHandle.count() // the traversal's ONE action — fills every cache
    handles.filter(_ ne dHandle).foreach(_.unpersist(blocking = false))
    adj.unpersist(blocking = false)
    graft.Caches.track(dHandle)
    d
  }

  /** Convergence witness for the fixed-round traversal: per round
    * r = 0..`rounds`, the frontier size (nodes FIRST reached at hop r —
    * exactly the dist histogram of [[hopDistance]]'s output, zero-
    * filled from a rounds spine) and the cumulative settled count. A
    * final-row `frontier = 0` PROVES the fixpoint: nothing was reached
    * at hop R, so nothing is reachable beyond it and the R-round answer
    * is the complete reachable set. Costs one bounded aggregation over
    * the traversal result; the trailing window runs over R+1 rows
    * (round-count-bounded, not data-bounded). */
  def frontierTrace(dist: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = dist.sparkSession
    val spine = spark.range(0, rounds + 1L)
      .select(col("id").cast("long").as("round"))
    val hist = dist.groupBy(col("dist").as("round"))
      .agg(count(lit(1)).cast("long").as("frontier"))
    spine.join(hist, Seq("round"), "left")
      .na.fill(0L, Seq("frontier"))
      .withColumn("settled", sum(col("frontier"))
        .over(Window.orderBy(col("round"))
          .rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
  }

  /** SQL mirror of [[frontierTrace]] as a CTE over `d$rounds` (append
    * after [[unrolledSqlCtes]]). Select `round, frontier, settled`
    * from `fronttrace`. */
  def traceSqlCte(rounds: Int): String =
    s"""fronttrace AS (
       |  SELECT g.round, CAST(COALESCE(h.frontier, 0) AS BIGINT) AS frontier,
       |         CAST(SUM(COALESCE(h.frontier, 0)) OVER (ORDER BY g.round
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS BIGINT) AS settled
       |  FROM (SELECT unnest(generate_series(0, $rounds)) AS round) g
       |  LEFT JOIN (SELECT dist AS round, CAST(COUNT(*) AS BIGINT) AS frontier
       |             FROM d$rounds GROUP BY dist) h ON g.round = h.round)""".stripMargin

  /** SQL mirror of [[hopDistance]], unrolled: chained CTEs `d0..dR`
    * over caller-supplied CTEs `adj(node, nbr)` (both edge directions)
    * and `seeds(node)`. Select `node, dist` from `d$rounds`. Per-round
    * CTEs are `AS MATERIALIZED` (the settled set is referenced twice
    * per round). */
  def unrolledSqlCtes(rounds: Int): String =
    ("d0 AS MATERIALIZED (SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM seeds)" +:
      (1 to rounds).map { k =>
        s"""f$k AS MATERIALIZED (SELECT node FROM d${k - 1} WHERE dist = ${k - 1}),
           |c$k AS MATERIALIZED (SELECT DISTINCT a.node FROM adj a
           |        JOIN f$k f ON a.nbr = f.node),
           |d$k AS MATERIALIZED (SELECT node, dist FROM d${k - 1}
           |        UNION ALL
           |        SELECT c.node, CAST($k AS BIGINT) AS dist FROM c$k c
           |        LEFT JOIN d${k - 1} p ON c.node = p.node
           |        WHERE p.node IS NULL)""".stripMargin
      }).mkString(",\n")
}
