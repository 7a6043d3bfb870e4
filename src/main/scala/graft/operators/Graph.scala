package graft.operators

import graft.Graft
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Iterative graph analytics on DataFrames — PageRank as the
  * representative fixed-iteration algorithm (the influence/centrality
  * readout over an interaction graph, e.g. which suppliers sit at the
  * center of the purchase network).
  *
  * Size gate: the BSP loops (pagerank, label propagation, BFS) first read
  * the edge list with ONE capped collect ([[LocalGraph.edges]]), kept per
  * input table snapshot so a repeated query skips it. A graph of
  * at most `localSolveMaxEdges` edges (default [[LocalGraph.MaxEdges]], 1M)
  * with integral ids is solved in the driver on a CSR and returned as a
  * local frame with the loop's exact rows; a small graph otherwise pays a
  * job round-trip per round for work a driver does in milliseconds. Over
  * the cap, or with string ids, the distributed loop below runs unchanged.
  *
  * Scale shape of the distributed loop: each iteration is ONE keyed join of
  * the edge list against the |nodes|-sized rank frame plus one
  * partial-aggregated groupBy — the classic BSP step expressed
  * declaratively, so Catalyst/AQE pick the join strategy per iteration
  * (broadcast once ranks fit, shuffle-hash otherwise) and a 100 TB edge
  * list just means a bigger shuffle. Edge/node/degree frames are computed
  * once and persisted across iterations; the dangling-node mass is a
  * ONE-ROW broadcast frame per iteration (the house stats-frame idiom — no
  * driver collect in the loop).
  *
  * Determinism (the oracle contract): per-edge contributions and the
  * dangling mass are rounded to 12 decimals and accumulated in decimal
  * (Fns.exactSum idiom), and every remaining op is +,*,/ on doubles in a
  * fixed expression order — so the rank vector is BIT-IDENTICAL across
  * engines, partition counts and iteration replays. No transcendental
  * functions are involved.
  */
object Graph {

  private def term(c: Column): Column = round(c, 12).cast("decimal(28,12)")

  /** Broadcast hint for the node-sized frames of the BSP loops, gated on
    * the measured node count. The loops' per-round frames (rank, labels,
    * frontier, degree) are all |V|-bounded, but they are localCheckpoint
    * outputs — LogicalRDDs whose size statistics the planner does NOT
    * have — so left alone every round plans a shuffle join of BOTH sides
    * (measured: the per-iteration joins, not the one-time edge build,
    * dominate q_pagerank/q_bfs_hops at sf0.1). The node count is already
    * a known scalar in every loop; below `spark.graft.graph.broadcastNodes`
    * (default 10⁶ ≈ tens of MB framed) the hint pins the node-sized side
    * as the broadcast build and the edge list never moves. Above the
    * threshold (web-scale graphs) the hint is withheld and the loops keep
    * the co-partitioned shuffle shape — the broadcast budget, not the
    * rung, decides.
    */
  private def hintSmall(df: DataFrame, n: Long): DataFrame = {
    val cap = df.sparkSession.conf
      .get("spark.graft.graph.broadcastNodes", "1000000").toLong
    if (n <= cap) broadcast(df) else df
  }

  /** `iters` synchronous PageRank iterations with damping `d` over a
    * directed edge list (srcCol, dstCol). Nodes are the union of both
    * endpoints; rank initializes uniform at 1/N; dangling mass (nodes with
    * no out-edges) redistributes uniformly each iteration:
    * `r'(v) = (1-d)/N + d·(Σ_{u→v} r(u)/deg(u) + D/N)`.
    *
    * Returns (node, rank) for ALL nodes, rank unrounded (callers round at
    * the output boundary). Graphs under the size gate solve in the driver,
    * bit-identical ([[LocalGraph.pagerank]]); a damping outside [0, 1]
    * always runs distributed (the kernel's exact sums assume ranks ≤ 1).
    */
  def pagerank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
               srcCol: String = "src", dstCol: String = "dst",
               localSolveMaxEdges: Long = LocalGraph.MaxEdges): DataFrame = {
    val cap = if (damping >= 0 && damping <= 1) localSolveMaxEdges else 0L
    LocalGraph.edges(edges, srcCol, dstCol, cap, undirected = false).map { g =>
      val rank = LocalGraph.pagerank(g, iters, damping)
      LocalGraph.frame(edges.sparkSession, g, "node", "rank", DoubleType)(rank(_))
    }.getOrElse(pagerankLoop(edges, iters, damping, srcCol, dstCol))
  }

  private def pagerankLoop(edges: DataFrame, iters: Int, damping: Double,
                           srcCol: String, dstCol: String): DataFrame = {
    val setup = rankSetup(edges, srcCol, dstCol)
    val n = setup.n
    var rank = setup.rank
    for (_ <- 1 to iters) {
      val agg = Graft.materialize(rankContributions(setup, rank), eager = false)
      // the NULL group IS the dangling mass; absent (no dangling nodes or
      // an empty graph) the coalesced re-aggregate still yields one row
      val dangling = broadcast(agg.where(col("node").isNull)
        .agg(coalesce(sum(col("__in")), lit(0.0)).as("__dm")))
      rank = Graft.materialize(rank.select(col("node"), col("__deg"))
        .join(hintSmall(agg.where(col("node").isNotNull), n), Seq("node"), "left")
        .crossJoin(dangling)
        .select(col("node"),
          (lit((1 - damping) / n) + lit(damping) *
            (coalesce(col("__in"), lit(0.0)) + col("__dm") / lit(n.toDouble)))
            .as("rank"),
          col("__deg")), eager = false)
    }
    rank.select(col("node"), col("rank"))
  }

  /** [[pagerank]]'s loop-invariant frames: the deduplicated edge list `e`
    * (src, dst), the node count `n`, and the initial rank state `rank`
    * (node, rank = 1/n, __deg).
    */
  private[graft] final case class RankSetup(e: DataFrame, n: Long, rank: DataFrame)

  private[graft] def rankSetup(edges: DataFrame, srcCol: String, dstCol: String): RankSetup = {
    // materialize every frame the loop re-reads: each iteration
    // references the previous rank TWICE (dangling mass + contributions),
    // so an unmaterialized lineage re-evaluates rank_{i-1} twice per step
    // — 2^iters evaluations of the base by the last iteration (measured:
    // 20 s vs 5 s at sf0.1). Checkpointing collapses each frame to a
    // LogicalRDD: plans stay shallow, every step runs once. LAZY defers
    // only a frame's final stage into its first consumer's job: under AQE,
    // building the checkpoint already runs the frame's shuffle map stages
    // as jobs, so every lazy frame with an exchange costs its map-stage
    // jobs at construction (why small graphs skip this loop: see the size
    // gate in the header). On a real cluster the same truncation holds; a
    // reliable checkpoint dir (vs executor-local blocks) is the only swap
    // for fault tolerance at 100 TB. Remaining cost profile at sf0.1 (600k edges, 16.5k
    // nodes): ~3.9 s one-time input materialization, ~0.27 s per
    // iteration — the marginal iteration cost is the scale-relevant term.
    // edges are hash-partitioned on src before the checkpoint, and the
    // layout survives it (Graft.materialize): above
    // spark.graft.graph.broadcastNodes each iteration's edge⋈rank join
    // shuffles only the rank side to the edge list's partitioning. The
    // count is explicit because a coalesced layout is one a join's other
    // side cannot be shuffled to match, so both sides would move again.
    // repartition BEFORE distinct: hash(src) clusters every (src, dst)
    // duplicate into one partition, so the dedup aggregate runs on the
    // repartition's exchange instead of adding its own hash(src, dst)
    // exchange first — one |E|-sized shuffle per query, in the setup.
    val parts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val e = Graft.materialize(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(parts, col("src")).dropDuplicates(), eager = false)
    val nodes = Graft.materialize(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct(), eager = false)
    val n = nodes.count() // scalar metadata, not data
    // out-degree joins into the rank STATE once: each iteration's state
    // row is (node, rank, __deg), so the loop never re-joins deg — one
    // fewer join and one fewer broadcast build per iteration, and the
    // per-row terms are untouched (deg carried vs re-joined is the same
    // value), so the rank vector stays bit-identical.
    val deg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    val rank = Graft.materialize(nodes.withColumn("rank", lit(1.0 / n))
      .join(hintSmall(deg.withColumnRenamed("src", "node"), n), Seq("node"), "left"),
      eager = false)
    RankSetup(e, n, rank)
  }

  /** One pagerank iteration's contribution aggregate (node, __in),
    * pre-checkpoint. ONE aggregate per iteration: per-edge contribution
    * rows keyed by their destination UNION the dangling nodes' rank rows
    * keyed by NULL (real node ids are non-null by precondition — an edge
    * list with NULL endpoints has no rank semantics), so the dangling mass
    * rides the same shuffle/partial-agg pass as the contributions instead
    * of paying its own aggregate + rank⋈deg join per iteration. Per-row
    * terms are unchanged (round-12 decimal), so the rank vector stays
    * bit-identical to the two-aggregate form. Node-sized sides carry the
    * broadcast hint when |V| fits the budget (see hintSmall): the edge list
    * then never moves and the shuffle per iteration shrinks to the
    * partial-aggregated contribution sums.
    */
  private[graft] def rankContributions(setup: RankSetup, rank: DataFrame): DataFrame = {
    val nodeType = rank.schema("node").dataType
    val srcRank = rank.withColumnRenamed("node", "src")
    setup.e
      .join(hintSmall(srcRank.where(col("__deg").isNotNull)
        .select(col("src"), col("rank"), col("__deg")), setup.n), Seq("src"))
      .select(col("dst").as("node"), term(col("rank") / col("__deg")).as("__c"))
      .unionByName(srcRank.where(col("__deg").isNull)
        .select(lit(null).cast(nodeType).as("node"), term(col("rank")).as("__c")))
      .groupBy("node")
      .agg(sum(col("__c")).cast("double").as("__in"))
  }

  /** Hop value standing in for "unreached" in [[shortestHops]] — a plain
    * sentinel instead of NULL so the min-propagation is pure integer
    * arithmetic on both engines (NULL-handling in least()/min() differs
    * subtly across engines; a sentinel cannot).
    */
  val Unreached = 999999L

  /** Single-source BFS hop distances over an UNDIRECTED graph, by
    * FRONTIER-ONLY (active-set) propagation: round i expands only the
    * nodes FIRST REACHED in round i−1 — in exact BFS a node's hop is
    * final the moment it is first proposed, so re-joining settled nodes
    * (the naive min-propagation shape: edge list ⋈ full |nodes| distance
    * frame, every round) is pure waste. Per round the edge join touches
    * only the frontier's adjacency (a semi-join against the
    * frontier-sized id set — broadcast when small, which on real graphs
    * is every late round), the anti-join against the reached set filters
    * already-settled proposals, and rounds past the graph's diameter
    * from `source` cost ~nothing because the frontier is empty. Output
    * contract unchanged from the min-propagation form (spec-pinned by a
    * randomized differential): after `iters` rounds every node within
    * `iters` hops carries its exact hop count, farther nodes
    * [[Unreached]]. Same one-time setup as the other BSP loops: the
    * symmetrized edge list hash-partitions on src once and checkpoints.
    * Graphs under the size gate run the same BFS in the driver
    * ([[LocalGraph.hops]]).
    */
  def shortestHops(edges: DataFrame, source: Long, iters: Int = 6,
                   srcCol: String = "src", dstCol: String = "dst",
                   localSolveMaxEdges: Long = LocalGraph.MaxEdges): DataFrame =
    LocalGraph.edges(edges, srcCol, dstCol, localSolveMaxEdges, undirected = true).map { g =>
      val hop = LocalGraph.hops(g, source, iters)
      LocalGraph.frame(edges.sparkSession, g, "node", "hop", LongType)(hop(_))
    }.getOrElse(hopsLoop(edges, source, iters, srcCol, dstCol))

  /** The undirected loops' one-time setup ([[shortestHops]],
    * [[connectedComponents]]): the symmetrized, deduplicated edge list
    * `und` (src, dst), its nodes (node) and the node count `n`, which
    * gates the loops' broadcast hints (every per-round frame is ≤ |V|).
    */
  private final case class Undirected(und: DataFrame, nodes: DataFrame, n: Long)

  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): Undirected = {
    val half = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // repartition before distinct (see pagerank): the symmetrized list is
    // deduped on the same hash(src) exchange that lays it out for the
    // per-round joins — one 2|E|-sized shuffle, not two; the node
    // derivation below then needs NO exchange at all (hash(src) already
    // clusters src, and symmetrization puts every endpoint in src)
    val und = Graft.materialize(half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).dropDuplicates(), eager = false)
    val nodes = Graft.materialize(und.select(col("src").as("node")).distinct(), eager = false)
    // the count reads the checkpoint the loop touches anyway
    Undirected(und, nodes, nodes.count())
  }

  /** The exact label-sum fixpoint probe of the min-label loops: labels
    * only ever DECREASE under min-propagation, so for integral ids an
    * exact decimal(38,0) sum of `labelCol` (exact at any id range and node
    * count) is unchanged iff NO label changed. One cheap aggregate over a
    * just-checkpointed frame — and the action that materializes it.
    */
  private[operators] def labelSum(lab: DataFrame, labelCol: String): java.math.BigDecimal = {
    val r = lab.agg(sum(col(labelCol).cast("decimal(38,0)"))).head()
    if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
  }

  private def hopsLoop(edges: DataFrame, source: Long, iters: Int,
                       srcCol: String, dstCol: String): DataFrame = {
    val Undirected(und, nodes, n) = undirected(edges, srcCol, dstCol)
    var reached = Graft.materialize(nodes.where(col("node") === source)
      .select(col("node"), lit(0L).as("hop")), eager = false)
    var frontier = reached
    var i = 1
    // EARLY EXIT on an empty frontier: BFS is semantically finished the
    // round nothing new is reached — the remaining rounds of a fixed-count
    // loop are pure job overhead (the graph's diameter from `source` is
    // usually far under the caller's `iters` guard). `newly` is
    // checkpointed either way, so the emptiness probe reads the cache the
    // union consumes — no extra compute, one cheap action per round.
    // frontier/reached carry the broadcast hint when |V| fits the budget
    // (see hintSmall): the semi- and anti-joins then build from the
    // node-sized side and the symmetrized edge list never re-shuffles.
    while (i <= iters && !frontier.isEmpty) {
      val proposals = und
        .join(hintSmall(frontier.select(col("node").as("src")), n), Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
      val newly = Graft.materialize(proposals
        .join(hintSmall(reached, n), Seq("node"), "left_anti")
        .select(col("node"), lit(i.toLong).as("hop")), eager = false)
      reached = Graft.materialize(reached.unionByName(newly), eager = false)
      frontier = newly
      i += 1
    }
    nodes.join(reached, Seq("node"), "left")
      .select(col("node"), coalesce(col("hop"), lit(Unreached)).as("hop"))
  }

  /** `iters` rounds of synchronous min-label propagation over an
    * UNDIRECTED graph (the edge list is symmetrized here): every node
    * starts labeled with itself; each round it takes the minimum of its
    * own label and its neighbors' — after k rounds equal labels mark
    * connected components up to diameter k (components wider than that
    * are split deterministically, same on every engine: pick `iters`
    * ≥ the diameter you care to resolve). This is the transitive-closure
    * step behind dedup clustering ("collapse near-dup PAIRS into GROUPS")
    * expressed as bounded BSP joins.
    *
    * No floats anywhere — labels are the node ids under their natural min
    * (longs or strings; the id type passes through untouched) — so
    * cross-engine equality is structural, not numeric. Prefer LONG ids:
    * the per-round join/aggregate shuffles 8-byte keys instead of strings
    * (measured ~40% cheaper on the edge materialization alone). Same
    * scale shape and lineage-truncation story as [[pagerank]]: per round,
    * ONE keyed join of the symmetrized edge list against the
    * |nodes|-sized label frame + a partial-aggregated min, everything
    * localCheckpoint'd. Graphs under the size gate run the same k rounds in
    * the driver ([[LocalGraph.minLabels]]).
    */
  def connectedComponents(edges: DataFrame, iters: Int = 5,
                          srcCol: String = "src", dstCol: String = "dst",
                          localSolveMaxEdges: Long = LocalGraph.MaxEdges): DataFrame =
    LocalGraph.edges(edges, srcCol, dstCol, localSolveMaxEdges, undirected = true).map { g =>
      LocalGraph.labelFrame(edges.sparkSession, g, "node", "label", LocalGraph.minLabels(g, iters))
    }.getOrElse(labelLoop(edges, iters, srcCol, dstCol))

  private def labelLoop(edges: DataFrame, iters: Int,
                        srcCol: String, dstCol: String): DataFrame = {
    val Undirected(und, nodes, n) = undirected(edges, srcCol, dstCol)
    // EARLY EXIT at the label fixpoint ([[labelSum]], the same test
    // Dedup.connectedComponents uses): once stable, every further round
    // is a no-op and the output is already the `iters`-round answer
    // (stable ⇒ identical for any larger round count). Non-integral ids
    // (string labels don't sum) run the fixed round count unchanged.
    val integralIds = LocalGraph.integral(nodes.schema("node").dataType)
    var label = nodes.withColumn("label", col("node"))
    var prevSum = if (integralIds) labelSum(label, "label") else null
    var iter = 0
    var converged = false
    // label frames carry the broadcast hint when |V| fits the budget (see
    // hintSmall): the per-round edge⋈label join then builds from the
    // node-sized side and the symmetrized edge list never re-shuffles
    while (iter < iters && !converged) {
      val neighborMin = und
        .join(hintSmall(label.withColumnRenamed("node", "src"), n), Seq("src"))
        .select(col("dst").as("node"), col("label"))
        .groupBy("node")
        .agg(min(col("label")).as("__nmin"))
      label = Graft.materialize(label
        .join(hintSmall(neighborMin, n), Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("__nmin"), col("label"))).as("label")),
        eager = false)
      if (integralIds) {
        val s = labelSum(label, "label")
        converged = s.compareTo(prevSum) == 0
        prevSum = s
      }
      iter += 1
    }
    label
  }

  /** Customer co-purchase edge list: customers who bought the same part
    * in the same ship month share an edge. The blocking cell is
    * (part, month) — NATURALLY bounded fan-out (a cell holds the handful
    * of buyers of one part in one month, never "everyone active that
    * month"), so the within-cell pair join is Σ C(cell,2) with small
    * cells: the same bounded-block discipline as the near-dup candidate
    * generators, here falling out of the domain model for free. Both
    * shuffles key on small-group columns ((part,month), then the edge
    * pair for distinct); no cell grows with corpus REPLICATION, only
    * with genuine per-part-per-month activity.
    */
  def coPurchaseEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    // repartition on the blocking cell BEFORE distinct: the dedup rides
    // the hash(p, m) exchange that also co-locates both sides of the
    // within-cell self-join below — one fact-sized shuffle, not two, and
    // the join itself adds none
    val cells = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("p"),
        date_trunc("month", col("l_shipdate")).as("m"),
        col("o_custkey").as("c"))
      .repartition(col("p"), col("m")).dropDuplicates()
    cells.as("a")
      .join(cells.as("b"),
        col("a.p") === col("b.p") && col("a.m") === col("b.m") &&
          col("a.c") < col("b.c"))
      .select(col("a.c").as("src"), col("b.c").as("dst"))
      .distinct()
  }

  /** Exact triangle count + global clustering coefficient over an
    * undirected edge list, by DEGREE-ORDERED ORIENTATION (the standard
    * distributed formulation): orient every edge from its
    * (degree, id)-smaller endpoint to the larger, enumerate wedges as
    * pairs of out-neighbors of a common source, and close each wedge
    * against the oriented edge list. The orientation is the whole scale
    * story — out-degree is bounded by O(√|E|) REGARDLESS of hubs (a hub's
    * edges orient away from its low-degree neighbors), so the wedge join
    * is Σ outdeg² ≤ O(|E|^1.5) worst-case instead of the unoriented
    * Σ deg² which a single hub drives quadratic. Every triangle yields
    * exactly one wedge (at its order-minimal vertex), so the closing
    * join's cardinality IS the triangle count — no ÷3/÷6 correction and
    * no double counting to dedup.
    *
    * One row out: nodes, edges, wedges (unoriented, Σ C(deg,2)),
    * triangles, and global clustering coefficient 3·T/W — all exact
    * integer arithmetic until the one output division.
    */
  def triangleStats(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    // canonical lo<hi + distinct; checkpointed — read three times (degrees,
    // wedge self-join, closing probe), recomputing the upstream join per
    // read would triple the dominant cost
    val e = Graft.materialize(edges
      .select(least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct(), eager = false)
    val deg = Graft.materialize(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")), eager = false)
    // degrees are node-cardinality small next to the edge list — broadcast
    // onto both endpoints rather than shuffling edges twice
    val withDeg = e
      .join(broadcast(deg.select(col("node").as("src"), col("deg").as("ds"))), Seq("src"))
      .join(broadcast(deg.select(col("node").as("dst"), col("deg").as("dd"))), Seq("dst"))
    val lt = col("ds") < col("dd") ||
      (col("ds") === col("dd") && col("src") < col("dst"))
    val oriented = Graft.materialize(withDeg
      .select(when(lt, col("src")).otherwise(col("dst")).as("u"),
        when(lt, col("dst")).otherwise(col("src")).as("v"),
        when(lt, col("dd")).otherwise(col("ds")).as("dv")), eager = false)
    // wedge = ordered pair of out-neighbors of a common u; the closing
    // edge, when present, is oriented exactly (v-side order-min → max)
    val cands = oriented.as("x")
      .join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (col("x.dv") < col("y.dv") ||
            (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.v").as("u"), col("y.v").as("v"))
    val triF = cands
      .join(oriented.select(col("u"), col("v")), Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodesF = deg.agg(count(lit(1)).as("n_nodes"))
    val edgesF = e.agg(count(lit(1)).as("n_edges"))
    // wedge total in decimal: Σ deg·(deg−1)/2 overflows a long sum long
    // before the frames above become a problem
    val wedgeF = deg.agg(
      sum((col("deg") * (col("deg") - 1) / 2).cast("decimal(38,0)"))
        .cast("long").as("n_wedges"))
    nodesF.crossJoin(broadcast(edgesF))
      .crossJoin(broadcast(wedgeF))
      .crossJoin(broadcast(triF))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") /
          nullif(col("n_wedges").cast("double"), lit(0.0)), 6)
          .as("global_cc"))
  }

  /** Degree distribution of an undirected edge list: (degree → node
    * count), the first-look shape audit of any graph (hubs, isolates,
    * power-law tail). Two keyed aggregates, both partial-aggregated;
    * output is distinct-degree small.
    */
  def degreeHistogram(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst"): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("deg"))
  }
}
