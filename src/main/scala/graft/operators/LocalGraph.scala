package graft.operators

import graft.StateCache
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The driver side of the graph loops' one size gate, shared by
  * [[Graph.pagerank]], [[Graph.connectedComponents]], [[Graph.shortestHops]]
  * and [[Dedup.connectedComponents]].
  *
  * A BSP loop pays a job round-trip (and, under AQE, its lazy checkpoints'
  * map-stage jobs) per round, whatever the graph's size; a graph with a few
  * thousand nodes spends nearly all of its time there. So [[edges]] reads the
  * edge list with ONE capped collect, and a graph of at most `cap` edges with
  * integral ids is solved here, in memory, on a CSR over primitive arrays —
  * the same size-based switch Spark itself makes for broadcast joins. Over
  * the cap (or with non-integral ids) the caller runs its distributed loop
  * unchanged.
  *
  * Every kernel reproduces its distributed loop exactly, row for row:
  * pagerank bit for bit (same decimal terms, same double expression order),
  * k-round min-label propagation (not union-find), BFS within the round
  * budget, and union-find for Dedup's converge-to-fixpoint components.
  *
  * The read is kept per input snapshot: when every leaf of the edge frame's
  * plan is a table snapshot that `Sources.parquetSnapshot` handed out and
  * its path still lists that file set (and the plan is deterministic),
  * the gate's outcome — the [[Csr]], or the verdict that the graph is over
  * the cap or has a null id — is a [[graft.StateCache]] value tied to all
  * of those snapshots, so a later call over the same tables runs no
  * collect, no scan and no job. It lives until a table it reads lists a
  * new file set, or the context stops. Anything else (checkpoint-backed
  * frames, direct `spark.read` reads, literal frames, nondeterministic
  * plans) is read on every call. A kept [[Csr]] is shared by every later
  * call, so it is read-only.
  *
  * Driver memory at the 1M-edge cap: the collected rows (Spark Row
  * objects, on the order of 100 B an edge) live until they are unpacked
  * into long arrays. A directed [[Csr]] of m edges holds at most 28·m
  * bytes (2m node ids, 2m + 1 offsets, m targets: 28 MB at the cap); its
  * symmetrized form shares the ids and adds at most 16·m (16 MB). One kept
  * edge plan therefore holds at most 44 MB, and a kernel's state is a few
  * arrays of one slot per node on top.
  */
private[graft] object LocalGraph {

  /** The gate's edge cap, the default of every entry point's
    * `localSolveMaxEdges`: 1M edges fits a default-sized driver (see the
    * memory note above); raise it in step with `spark.driver.memory`.
    */
  val MaxEdges: Long = 1000L * 1000L

  /** The id types every graph kernel takes: the integral types, which a
    * long holds exactly (and a decimal label sum adds exactly).
    */
  def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** A read-only graph on dense ids: the distinct node ids ascending (a
    * node's dense id is its index there, so dense order IS id order), and
    * the CSR of its arcs — duplicate arcs dropped, self-loops kept.
    * `idType` is the id type the distributed loop would output (the wider
    * of the two endpoint types). The arrays never leave it: a kept graph is
    * shared by every call over the same snapshots.
    */
  final class Csr private (ids: Array[Long], offsets: Array[Int],
                           targets: Array[Int], val idType: DataType) {
    def n: Int = ids.length
    /** The node id of dense id `v`. */
    def id(v: Int): Long = ids(v)
    /** The dense id of node `id`, negative when it is not a node. */
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    /** `v`'s arcs are `target(k)` for `k` in `start(v) until end(v)`. */
    def start(v: Int): Int = offsets(v)
    def end(v: Int): Int = offsets(v + 1)
    def target(k: Int): Int = targets(k)
    def degree(v: Int): Int = end(v) - start(v)

    /** The undirected graph: every arc with its reverse. Same nodes, so
      * the ids are shared.
      */
    def symmetrized: Csr = {
      val arcs = new Array[Long](2 * targets.length)
      var k = 0
      var v = 0
      while (v < n) {
        while (k < offsets(v + 1)) {
          arcs(2 * k) = v.toLong << 32 | targets(k)
          arcs(2 * k + 1) = targets(k).toLong << 32 | v
          k += 1
        }
        v += 1
      }
      Csr.of(ids, arcs, idType)
    }
  }

  private object Csr {
    /** The graph on `nodes` (distinct, ascending) with `arcs` packed as
      * (src << 32 | dst) on dense ids: one sort orders them by source and
      * drops duplicates in a single pass.
      */
    def of(nodes: Array[Long], arcs: Array[Long], idType: DataType): Csr = {
      val uniq = distinctSorted(arcs)
      val offsets = new Array[Int](nodes.length + 1)
      val targets = new Array[Int](uniq.length)
      var i = 0
      while (i < uniq.length) {
        offsets((uniq(i) >>> 32).toInt + 1) += 1
        targets(i) = uniq(i).toInt
        i += 1
      }
      i = 0
      while (i < nodes.length) { offsets(i + 1) += offsets(i); i += 1 }
      new Csr(nodes, offsets, targets, idType)
    }
  }

  /** The gate: the edge list as a [[Csr]] (symmetrized when `undirected`)
    * when it has at most `cap` edges with integral, non-null ids, else None
    * and the caller's distributed path runs. A cap below 1 turns the gate
    * off without a job. The outcome is kept per input snapshot (see the
    * header): the symmetrized graph is derived from the kept directed one,
    * so a directed and an undirected key over one edge plan share a read.
    */
  def edges(edges: DataFrame, srcCol: String, dstCol: String, cap: Long,
            undirected: Boolean): Option[Csr] = {
    val pair = edges.select(col(srcCol), col(dstCol))
    val types = pair.schema.fields.map(_.dataType)
    if (cap < 1 || !types.forall(integral)) return None
    val spark = pair.sparkSession
    val plan = pair.queryExecution.analyzed
    val tables = Sources.snapshotSources(spark, plan)
    def kept(symmetric: Boolean)(read: => Option[Csr]): Option[Csr] = tables.fold(read) { sources =>
      StateCache.value(spark, ("LocalGraph.edges", plan.canonicalized, sources, cap, symmetric), sources)(read)
    }
    val directed = kept(symmetric = false)(collect(pair, srcCol, dstCol, cap, types.maxBy(_.defaultSize)))
    if (undirected) kept(symmetric = true)(directed.map(_.symmetrized)) else directed
  }

  private def collect(pair: DataFrame, srcCol: String, dstCol: String, cap: Long,
                      idType: DataType): Option[Csr] = {
    // the one collect a gated key runs while its plan is built — it stands
    // in for every BSP round's jobs; capped at cap + 1 rows (never a count
    // followed by a collect), so an over-cap input sends at most that many
    // rows to the driver. It plans as CollectLimitExec, whose executeTake
    // reads ONE partition in a first job and, while fewer than cap + 1 rows
    // have arrived, the next partitions in further jobs (4× as many each
    // time, spark.sql.limit.scaleUpFactor): an under-cap graph is read in
    // one job from a single-partition input, two from 2-5 partitions,
    // three from 6-25. Neither one-job form is taken:
    //   - limit(cap + 1) followed by a single-partition exchange runs one
    //     job, but every input partition writes up to cap + 1 rows to
    //     shuffle first, so an over-cap graph (the 100× rung) ships up to
    //     its whole edge list through the exchange before the gate says no;
    //   - raising spark.sql.limit.initialNumPartitions reads every
    //     partition in the first job, but it is a session conf: setting it
    //     here mutates the caller's shared session for every other query.
    val rows = pair.select(col(srcCol).cast(LongType), col(dstCol).cast(LongType))
      .limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
    if (rows.length > cap || rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val m = rows.length
    val src = new Array[Long](m)
    val dst = new Array[Long](m)
    var i = 0
    while (i < m) { src(i) = rows(i).getLong(0); dst(i) = rows(i).getLong(1); i += 1 }
    val ids = new Array[Long](2 * m)
    System.arraycopy(src, 0, ids, 0, m)
    System.arraycopy(dst, 0, ids, m, m)
    val nodes = distinctSorted(ids)
    val arcs = new Array[Long](m)
    i = 0
    while (i < m) {
      arcs(i) = java.util.Arrays.binarySearch(nodes, src(i)).toLong << 32 |
        java.util.Arrays.binarySearch(nodes, dst(i))
      i += 1
    }
    Some(Csr.of(nodes, arcs, idType))
  }

  /** `a` sorted in place, returned without duplicates. */
  private def distinctSorted(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var k = 0
    var i = 0
    while (i < a.length) {
      if (k == 0 || a(i) != a(k - 1)) { a(k) = a(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, k)
  }

  /** Spark's `round(x, 12).cast("decimal(28,12)")` on a double, as the
    * unscaled long of the decimal: Round's double path (BigDecimal.valueOf,
    * HALF_UP) then Cast's (Decimal(double), changePrecision HALF_UP).
    */
  private def term(x: Double): Long = {
    val d = Decimal(java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue())
    require(d.changePrecision(28, 12), s"pagerank term $x overflows decimal(28,12)")
    d.toUnscaledLong
  }

  /** Spark's decimal(38,12) → double cast of an exact sum of terms. */
  private def toDouble(unscaled: Long): Double = Decimal(unscaled, 38, 12).toDouble

  /** [[Graph.pagerank]] on a directed [[Csr]], bit-identical to the
    * distributed loop: each source's per-edge term `round(rank / deg, 12)`
    * and each dangling node's `round(rank, 12)` are exact decimals summed
    * as unscaled longs (damping in [0, 1] keeps every rank ≤ 1, so a sum
    * of |V| terms cannot overflow), cast to double as Spark casts, and the
    * update keeps the loop's expression order
    * `(1-d)/n + d·(in + dm/n)` from the initial rank `1.0/n`.
    */
  def pagerank(g: Csr, iters: Int, damping: Double): Array[Double] = {
    val n = g.n
    val base = (1 - damping) / n
    var rank = Array.fill(n)(1.0 / n)
    val in = new Array[Long](n)
    for (_ <- 1 to iters) {
      java.util.Arrays.fill(in, 0L)
      var dm = 0L
      var v = 0
      while (v < n) {
        val deg = g.degree(v)
        if (deg == 0) dm = Math.addExact(dm, term(rank(v)))
        else {
          val t = term(rank(v) / deg.toDouble)
          var k = g.start(v)
          while (k < g.end(v)) {
            in(g.target(k)) = Math.addExact(in(g.target(k)), t)
            k += 1
          }
        }
        v += 1
      }
      val dmD = toDouble(dm)
      val next = new Array[Double](n)
      v = 0
      while (v < n) { next(v) = base + damping * (toDouble(in(v)) + dmD / n.toDouble); v += 1 }
      rank = next
    }
    rank
  }

  /** [[Graph.connectedComponents]] on an undirected [[Csr]]: at most
    * `iters` synchronous rounds of label ← min(label, neighbors' labels),
    * stopping at the fixpoint. Labels are dense ids (dense order is id
    * order, so the min is the same node either way).
    */
  def minLabels(g: Csr, iters: Int): Array[Int] = {
    var label = Array.tabulate(g.n)(identity)
    var round = 0
    var changed = true
    while (round < iters && changed) {
      val next = label.clone()
      changed = false
      var v = 0
      while (v < g.n) {
        var k = g.start(v)
        while (k < g.end(v)) {
          val l = label(g.target(k))
          if (l < next(v)) { next(v) = l; changed = true }
          k += 1
        }
        v += 1
      }
      label = next
      round += 1
    }
    label
  }

  /** [[Graph.shortestHops]] on an undirected [[Csr]]: BFS from `source`
    * for at most `iters` rounds; nodes farther away (or every node, when
    * `source` is not in the graph) get [[Graph.Unreached]].
    */
  def hops(g: Csr, source: Long, iters: Int): Array[Long] = {
    val hop = Array.fill(g.n)(Graph.Unreached)
    val s = g.indexOf(source)
    if (s < 0) return hop
    hop(s) = 0L
    val queue = new Array[Int](g.n)
    queue(0) = s
    var head = 0
    var tail = 1
    while (head < tail && hop(queue(head)) < iters) {
      val v = queue(head)
      head += 1
      var k = g.start(v)
      while (k < g.end(v)) {
        val t = g.target(k)
        if (hop(t) == Graph.Unreached) { hop(t) = hop(v) + 1; queue(tail) = t; tail += 1 }
        k += 1
      }
    }
    hop
  }

  /** [[Dedup.connectedComponents]] on a [[Csr]]: union-find to the
    * fixpoint, each node labeled with its component's minimum dense id (a
    * union hangs the larger root under the smaller, so every root is its
    * set's minimum).
    */
  def components(g: Csr): Array[Int] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var v = 0
    while (v < g.n) {
      var k = g.start(v)
      while (k < g.end(v)) {
        val (a, b) = (find(v), find(g.target(k)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
        k += 1
      }
      v += 1
    }
    Array.tabulate(g.n)(find)
  }

  /** A local (idCol, valueCol) frame with one row per node of `g`, the id
    * in `g.idType`.
    */
  def frame(spark: SparkSession, g: Csr, idCol: String, valueCol: String,
            valueType: DataType)(value: Int => Any): DataFrame =
    build(spark, g, idCol, valueCol, valueType, value, relabel = false)

  /** [[frame]] of dense-id labels, relabeled to node ids in `g.idType`. */
  def labelFrame(spark: SparkSession, g: Csr, idCol: String, labelCol: String,
                 label: Array[Int]): DataFrame =
    build(spark, g, idCol, labelCol, LongType, v => g.id(label(v)), relabel = true)

  /** One partition: what reads a node-sized result (an aggregate, a
    * top-k) then plans no exchange and runs as one job.
    */
  private def build(spark: SparkSession, g: Csr, idCol: String, valueCol: String,
                    valueType: DataType, value: Int => Any, relabel: Boolean): DataFrame = {
    val out = Seq(AttributeReference(idCol, LongType)(), AttributeReference(valueCol, valueType)())
    val rows = Array.tabulate[InternalRow](g.n)(v => new GenericInternalRow(Array[Any](g.id(v), value(v))))
    GraftBridge.ofRows(spark, LocalRelation(out, rows.toSeq))
      .select(col(idCol).cast(g.idType).as(idCol),
        if (relabel) col(valueCol).cast(g.idType).as(valueCol) else col(valueCol))
      .coalesce(1)
  }
}
