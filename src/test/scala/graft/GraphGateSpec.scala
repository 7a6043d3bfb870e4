package graft

import scala.collection.mutable.ArrayBuffer

import graft.operators.{Dedup, Graph, LocalGraph}
import graft.registry.QueryKit
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectLimitExec, LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.GraftTestBridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The graph loops' size gate ([[LocalGraph]]): both sides return the same
  * rows bit for bit, the gate switches exactly at the cap, and its read is
  * kept per input snapshot — a gated key over unchanged tables runs one
  * job, and a new file set, or an input that is not a table snapshot, is
  * read again.
  */
class GraphGateSpec extends SparkSpec {
  import spark.implicits._

  /** Solved in the driver: no checkpoint behind the frame. */
  private def local(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.isEmpty

  /** A random long-id graph with duplicate edges, self-loops, dangling
    * nodes and nodes that appear only as dst; ids are spread and signed.
    */
  private def randomEdges(seed: Long): Seq[(Long, Long)] = {
    val gen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 80)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
      onlyDst <- Gen.listOfN(3, Gen.zip(Gen.choose(0, n - 1), Gen.choose(n, n + 5)))
    } yield es ++ es.take(m / 4) ++ (0 until n by 7).map(i => (i, i)) ++ onlyDst
    gen(Gen.Parameters.default, Seed(seed)).get
      .map { case (a, b) => (a * 7919L - 100000L, b * 7919L - 100000L) }
  }

  private def graphs: Seq[(String, DataFrame)] =
    (1L to 4L).map(s => s"seed $s" -> randomEdges(s).toDF("src", "dst")) ++ Seq(
      "single edge" -> Seq((5L, 7L)).toDF("src", "dst"),
      "empty" -> Seq.empty[(Long, Long)].toDF("src", "dst"),
      "int ids" -> randomEdges(7L).map { case (a, b) => (a.toInt, b.toInt) }.toDF("src", "dst"))

  /** (local, distributed) results of one loop on one graph. */
  private def bothSides(f: Long => DataFrame): (DataFrame, DataFrame) = {
    val (l, d) = (f(LocalGraph.MaxEdges), f(0L))
    assert(local(l) && !local(d))
    assert(l.schema.map(_.dataType) === d.schema.map(_.dataType))
    (l, d)
  }

  private def longs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap

  test("both sides of the gate agree bit for bit on random long-id graphs") {
    for (((name, edges), g) <- graphs.zipWithIndex) {
      for (iters <- Seq(g % 3, 5)) {
        val (l, d) = bothSides(cap => Graph.pagerank(edges, iters = iters, localSolveMaxEdges = cap))
        def bits(df: DataFrame) = df.collect()
          .map(r => r.getAs[Number](0).longValue -> java.lang.Double.doubleToLongBits(r.getDouble(1))).toMap
        assert(bits(l) === bits(d), s"pagerank $name iters=$iters")
      }
      for (iters <- Seq(1 + g % 2, 10)) {
        val (l, d) = bothSides(cap => Graph.connectedComponents(edges, iters = iters, localSolveMaxEdges = cap))
        assert(longs(l) === longs(d), s"components $name iters=$iters")
      }
      val present = edges.head(1).headOption.map(_.getAs[Number](0).longValue).getOrElse(0L)
      for ((source, iters) <- Seq(present -> 6, present -> g % 3, 424242L -> 6)) {
        val (l, d) = bothSides(cap => Graph.shortestHops(edges, source, iters = iters, localSolveMaxEdges = cap))
        assert(longs(l) === longs(d), s"hops $name source=$source iters=$iters")
      }
      val pairs = edges.toDF("id_a", "id_b")
      val (l, d) = bothSides(cap => Dedup.connectedComponents(pairs, localSolveMaxEdges = cap))
      assert(longs(l) === longs(d), s"dedup components $name")
    }
  }

  test("string ids always take the distributed path") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    assert(!local(Graph.pagerank(edges)))
    assert(!local(Graph.connectedComponents(edges)))
    assert(!local(Graph.shortestHops(edges, 1L)))
    assert(!local(Dedup.connectedComponents(edges.toDF("id_a", "id_b"))))
  }

  test("the gate solves exactly `cap` edges locally and `cap + 1` distributed, with the same rows") {
    val cap = 50L
    // a path 0-1-...-n: n distinct edges
    def path(n: Int): DataFrame = (0 until n).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    for ((n, gated) <- Seq(50 -> true, 51 -> false)) {
      val edges = path(n)
      val pr = Graph.pagerank(edges, localSolveMaxEdges = cap)
      val cc = Graph.connectedComponents(edges, iters = 60, localSolveMaxEdges = cap)
      val hops = Graph.shortestHops(edges, 0L, iters = 60, localSolveMaxEdges = cap)
      val dedup = Dedup.connectedComponents(edges.toDF("id_a", "id_b"), localSolveMaxEdges = cap)
      Seq(pr, cc, hops, dedup).foreach(df => assert(local(df) === gated, s"n=$n"))
      // the other side of the gate returns the same rows
      val other = if (gated) 0L else LocalGraph.MaxEdges
      assert(pr.collect().toSet === Graph.pagerank(edges, localSolveMaxEdges = other).collect().toSet)
      assert(longs(cc) === longs(Graph.connectedComponents(edges, iters = 60, localSolveMaxEdges = other)))
      assert(longs(hops) === longs(Graph.shortestHops(edges, 0L, iters = 60, localSolveMaxEdges = other)))
      assert(longs(dedup) ===
        longs(Dedup.connectedComponents(edges.toDF("id_a", "id_b"), localSolveMaxEdges = other)))
      assert(longs(cc).values.toSet === Set(0L) && longs(hops)(n.toLong) === n.toLong)
    }
  }

  /** `f`'s value and the queries it ran, each with its action's name. */
  private def executions[T](f: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = ArrayBuffer[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // earlier tests' queries are still on the asynchronous bus: deliver
    // them before listening, so only this block's are recorded
    GraftTestBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val v = f
      GraftTestBridge.drainListenerBus(spark.sparkContext)
      (v, seen.synchronized(seen.toList))
    } finally spark.listenerManager.unregister(listener)
  }

  private def root(qe: QueryExecution) = qe.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
    case p => p
  }

  /** `f`'s value and the number of edge reads the gate at `cap` ran in it. */
  private def gateReads[T](cap: Long)(f: => T): (T, Int) = {
    val (v, qes) = executions(f)
    (v, qes.count { case (_, qe) =>
      root(qe) match { case c: CollectLimitExec => c.limit == cap + 1; case _ => false }
    })
  }

  test("an over-cap input sends at most cap + 1 rows to the driver") {
    val cap = 100L
    val edges = spark.range(0, 5000, 1, 8).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val (out, qes) = executions(Graph.connectedComponents(edges, iters = 2, localSolveMaxEdges = cap))
    val collects = qes.collect { case ("collect", qe) => qe }
    assert(!local(out))
    assert(collects.nonEmpty)
    collects.foreach { qe =>
      assert(root(qe).isInstanceOf[CollectLimitExec], root(qe).treeString)
      assert(root(qe).asInstanceOf[CollectLimitExec].limit === cap + 1)
    }
    assert(out.count() === 5001L)
  }

  /** `edges` written as a parquet table under a new directory. */
  private def table(edges: DataFrame, name: String): String = {
    val path = s"${java.nio.file.Files.createTempDirectory("graft-gate").toString}/$name.parquet"
    edges.write.parquet(path)
    path
  }

  test("a repeated q_pagerank or q_components runs 1 job and scans no file") {
    for (key <- Seq("q_pagerank", "q_components")) {
      val first = SparkEntry.queries(key)(spark, sfDir).collect() // reads the edge list
      val (rows, probe) = JobProbe.during(spark)(SparkEntry.queries(key)(spark, sfDir).collect())
      assert(rows.toSeq === first.toSeq, key)
      assert(probe.jobs === 1, s"$key ran ${probe.jobs} jobs")
      assert(!probe.rddNames.contains("FileScanRDD"), s"$key: ${probe.rddNames}")
    }
  }

  test("an append or an in-place rewrite of an input table reads the edge list again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gate-tables").toString
    Tables.orders(spark, sfDir).write.parquet(s"$dir/orders.parquet")
    Tables.lineitem(spark, sfDir).write.parquet(s"$dir/lineitem.parquet")
    val cap = LocalGraph.MaxEdges
    def ranks(edges: DataFrame) = Graph.pagerank(edges, iters = 3).collect().toSet
    /** The rows the gate computes from the same edges with no memo: a
      * literal frame is read on every call.
      */
    def unkept(edges: DataFrame) = ranks(spark.createDataFrame(edges.collectAsList(), edges.schema))
    def source(table: String) = Sources.parquetSnapshot(spark, s"$dir/$table.parquet").source
    def tied(s: StateCache.Source) = StateCache.built(spark).exists(_._2.contains(s))
    def check(change: String): Unit = {
      val edges = QueryKit.purchaseEdges(spark, dir)
      val (first, reads) = gateReads(cap)(ranks(edges))
      assert(reads === 1, change)
      assert(first === unkept(edges), change)
      val (again, rereads) = gateReads(cap)(ranks(QueryKit.purchaseEdges(spark, dir)))
      assert(rereads === 0 && again === first, change)
    }
    check("first read")
    val (orders, lineitem) = (source("orders"), source("lineitem"))
    assert(tied(orders) && tied(lineitem))
    val stale = QueryKit.purchaseEdges(spark, dir)
    // new orders for existing order keys under other customers: new edges
    Tables.orders(spark, sfDir).limit(40).withColumn("o_custkey", col("o_custkey") + 1)
      .write.mode("append").parquet(s"$dir/orders.parquet")
    // a frame built before the append reads a snapshot its path has moved past
    assert(gateReads(cap)(ranks(stale))._2 === 1 && gateReads(cap)(ranks(stale))._2 === 1)
    check("append to orders")
    assert(!tied(orders) && source("orders") != orders)
    assert(source("lineitem") === lineitem && tied(lineitem)) // the kept read's other table
    Tables.lineitem(spark, sfDir).where(col("l_suppkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    check("rewrite of lineitem")
    assert(!tied(lineitem) && source("lineitem") != lineitem)
  }

  test("an over-cap graph is probed once per snapshot, with the loop's rows") {
    val cap = 100L
    val path = table(spark.range(0, 500, 1, 4).select(col("id").as("src"), (col("id") + 1).as("dst")), "chain")
    def run() = Graph.connectedComponents(Sources.readParquet(spark, path), iters = 2, localSolveMaxEdges = cap)
    val (first, reads) = gateReads(cap)(run())
    val (second, rereads) = gateReads(cap)(run())
    assert(reads === 1 && rereads === 0)
    assert(!local(first) && !local(second))
    val distributed = Graph.connectedComponents(Sources.readParquet(spark, path), iters = 2, localSolveMaxEdges = 0L)
    assert(longs(second) === longs(distributed) && longs(first) === longs(distributed))
  }

  test("checkpointed, nondeterministic and directly read edges read on every call") {
    val cap = 1000L
    val path = table(randomEdges(11L).toDF("src", "dst"), "random")
    def reads(edges: => DataFrame): Int =
      gateReads(cap)((1 to 2).map(_ => Graph.connectedComponents(edges, localSolveMaxEdges = cap)))._2
    assert(reads(Sources.readParquet(spark, path)) === 1) // the snapshot's read is kept
    assert(reads(Graft.materialize(Sources.readParquet(spark, path), eager = true)) === 2)
    assert(reads(Sources.readParquet(spark, path).where(rand(7) >= 0)) === 2)
    assert(reads(spark.read.parquet(path)) === 2)
  }
}
