package graft
package registry

import graft.operators._
import graft.registry.QueryKit._
import org.apache.spark.sql.functions._

/** Graph keys over the purchase and co-purchase networks, with their
  * unrolled-iteration oracles.
  */
object GraphQueries {

  /** q_pagerank's oracle, the 5 iterations unrolled as chained CTEs — each
    * mirrors Graph.pagerank's iteration expression-for-expression
    * (round-12 decimal contribution/dangling sums; double +,*,/ in the
    * same order), so the rank vector is bit-identical by construction.
    * Every CTE is MATERIALIZED: DuckDB inlines multiply-referenced CTEs,
    * so an unrolled chain re-evaluates each level ~3x per successor —
    * exponential in depth (measured: minutes at 5 levels, <0.5 s
    * materialized).
    */
  private def pagerankOracleSql(iters: Int): String = {
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |st AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / n AS rank FROM nodes CROSS JOIN st)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""d$i AS MATERIALIZED (SELECT coalesce(CAST(sum(CAST(round(r.rank, 12) AS DECIMAL(28,12))) AS DOUBLE), CAST(0 AS DOUBLE)) AS dm
         |       FROM r$p r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
         |c$i AS MATERIALIZED (SELECT e.dst AS node, CAST(sum(CAST(round(r.rank / deg.deg, 12) AS DECIMAL(28,12))) AS DOUBLE) AS cin
         |       FROM e JOIN r$p r ON e.src = r.node JOIN deg ON e.src = deg.src GROUP BY 1),
         |r$i AS MATERIALIZED (SELECT nodes.node,
         |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
         |         + CAST(0.85 AS DOUBLE) * (coalesce(c$i.cin, CAST(0 AS DOUBLE)) + d$i.dm / n) AS rank
         |       FROM nodes CROSS JOIN st CROSS JOIN d$i LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""\nSELECT CASE WHEN node % 2 = 0 THEN concat('c', node >> 1)
         |            ELSE concat('s', node >> 1) END AS node,
         |  round(rank, 6) AS rank
         |FROM r$iters ORDER BY rank DESC, node LIMIT 25""".stripMargin
  }

  /** q_bfs_hops' oracle — `iters` min-distance-propagation rounds unrolled
    * as MATERIALIZED chained CTEs (same exponential-inlining hazard as
    * [[componentsOracleSql]]); the 999999 sentinel mirrors
    * Graph.Unreached so no NULL semantics are involved anywhere.
    */
  private def bfsOracleSql(source: Long, iters: Int): String = {
    val head =
      s"""WITH h AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT src, dst FROM h UNION SELECT dst AS src, src AS dst FROM h),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
         |d0 AS MATERIALIZED (SELECT node,
         |  CASE WHEN node = $source THEN CAST(0 AS BIGINT)
         |       ELSE CAST(999999 AS BIGINT) END AS hop FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""m$i AS MATERIALIZED (SELECT e.dst AS node, min(d.hop) + 1 AS nhop
         |       FROM e JOIN d$p d ON e.src = d.node GROUP BY 1),
         |d$i AS MATERIALIZED (SELECT d.node,
         |       least(d.hop, coalesce(m.nhop, CAST(999999 AS BIGINT))) AS hop
         |       FROM d$p d LEFT JOIN m$i m ON d.node = m.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""\nSELECT hop, count(*) AS n_nodes FROM d$iters
         |WHERE hop < 999999 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_components' oracle — `iters` min-label-propagation rounds unrolled
    * as chained CTEs, mirroring Graph.connectedComponents round-for-round.
    * Labels are the long node ids under min, rendered to 'c<k>'/'s<k>'
    * only at the output; equality is structural by construction. CTEs
    * MATERIALIZED for the same exponential-inlining reason as
    * [[pagerankOracleSql]] (2^iters base re-evaluations otherwise).
    */
  private def componentsOracleSql(iters: Int): String = {
    val head =
      """WITH h AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_totalprice > 495000),
        |e AS MATERIALIZED (SELECT src, dst FROM h UNION SELECT dst AS src, src AS dst FROM h),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
        |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""m$i AS MATERIALIZED (SELECT e.dst AS node, min(l.label) AS nmin
         |       FROM e JOIN l$p l ON e.src = l.node GROUP BY 1),
         |l$i AS MATERIALIZED (SELECT l.node, least(l.label, coalesce(m.nmin, l.label)) AS label
         |       FROM l$p l LEFT JOIN m$i m ON l.node = m.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""\nSELECT CASE WHEN label % 2 = 0 THEN concat('c', label >> 1)
         |            ELSE concat('s', label >> 1) END AS component,
         |  count(*) AS n_nodes
         |FROM l$iters GROUP BY 1 ORDER BY n_nodes DESC, component LIMIT 25""".stripMargin
  }

  /** Shared CTE prefix for the co-purchase graph keys: customers sharing
    * a (part, ship-month) cell — Graph.coPurchaseEdges' mirror (canonical
    * src<dst, distinct). Callers append further CTEs or a SELECT.
    */
  private val coPurchaseEdgesSql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT DISTINCT l_partkey AS p, date_trunc('month', l_shipdate) AS m,
      |    o_custkey AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.c AS src, b.c AS dst
      |  FROM cells a JOIN cells b ON a.p = b.p AND a.m = b.m AND a.c < b.c)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_pagerank", (s, dir) => {
      // purchase-network centrality: customer→supplier edges from
      // orders⋈lineitem, 5 damped synchronous iterations (d = 0.85) with
      // uniform dangling-mass redistribution; top-25 by rounded rank,
      // rendered to 'c<key>'/'s<key>' only at the 25-row output boundary.
      Graph.pagerank(purchaseEdges(s, dir), iters = 5, damping = 0.85)
        .select(purchaseNode(col("node")).as("node"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("node"))
        .limit(25)
    },
      Oracle(pagerankOracleSql(5))),

    QuerySpec("q_bfs_hops", (s, dir) => {
      // BFS hop histogram from customer 1 over the undirected purchase
      // graph: 6 rounds of min-distance propagation, same co-partitioned
      // BSP shape as q_components; sentinel (not NULL) for unreached so
      // the propagation is pure integer arithmetic cross-engine
      Graph.shortestHops(purchaseEdges(s, dir), source = 2L, iters = 6)
        .where(col("hop") < Graph.Unreached)
        .groupBy(col("hop"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("hop"))
    },
      Oracle(bfsOracleSql(source = 2L, iters = 6))),

    QuerySpec("q_triangles", (s, dir) =>
      // exact triangle count + clustering coefficient of the co-purchase
      // graph via degree-ordered orientation: wedge join bounded by
      // Σ outdeg² ≤ O(|E|^1.5) no matter the hubs; edge list from the
      // process-shared materialization (a warehouse edge table)
      Graph.triangleStats(s.read.parquet(sharedCoPurchaseEdges(s, dir))),
      Oracle(
        s"""$coPurchaseEdgesSql,
          |deg AS MATERIALIZED (
          |  SELECT node, count(*) AS deg FROM (
          |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t GROUP BY 1),
          |w AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
          |tri AS (SELECT count(*) AS n_triangles
          |        FROM e e1 JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
          |          JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
          |SELECT (SELECT count(*) FROM deg) AS n_nodes,
          |  (SELECT count(*) FROM e) AS n_edges,
          |  w.n_wedges, tri.n_triangles,
          |  round(3.0 * tri.n_triangles / nullif(CAST(w.n_wedges AS DOUBLE), 0), 6)
          |    AS global_cc
          |FROM tri, w""".stripMargin)),

    QuerySpec("q_degree_hist", (s, dir) =>
      // co-purchase degree distribution: the hub/isolate shape audit —
      // two partial-aggregated keyed passes, output distinct-degree small
      Graph.degreeHistogram(s.read.parquet(sharedCoPurchaseEdges(s, dir))),
      Oracle(
        s"""$coPurchaseEdgesSql
          |SELECT deg, count(*) AS n_nodes FROM (
          |  SELECT node, count(*) AS deg FROM (
          |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t GROUP BY 1)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q_components", (s, dir) => {
      // premium-purchase network: connected components of the
      // customer–supplier graph restricted to top-priced orders (sparse by
      // construction), 10 rounds of min-label propagation (resolves
      // diameter ≤ 10 — at 5 this graph was measurably unconverged: the
      // label count depended on the id ordering); 25 largest components
      Graph.connectedComponents(
        purchaseEdges(s, dir, col("o_totalprice") > 495000), iters = 10)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_nodes"))
        .select(purchaseNode(col("label")).as("component"), col("n_nodes"))
        .orderBy(col("n_nodes").desc, col("component"))
        .limit(25)
    },
      Oracle(componentsOracleSql(10)))
  )
}
