package graft

import scala.collection.mutable.ArrayBuffer

import graft.operators.{Dedup, Graph, LocalGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectLimitExec, LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.GraftTestBridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The graph loops' size gate ([[LocalGraph]]): both sides return the same
  * rows bit for bit, the gate switches exactly at the cap, and a gated key
  * runs a handful of jobs instead of one per BSP round.
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

  test("an over-cap input sends at most cap + 1 rows to the driver") {
    val cap = 100L
    val collects = ArrayBuffer[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "collect") collects.synchronized(collects += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val edges = spark.range(0, 5000, 1, 8).select(col("id").as("src"), (col("id") + 1).as("dst"))
    // earlier tests' collects are still on the asynchronous bus: deliver
    // them before listening, so only this test's reads are recorded
    GraftTestBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    val out = try {
      val df = Graph.connectedComponents(edges, iters = 2, localSolveMaxEdges = cap)
      GraftTestBridge.drainListenerBus(spark.sparkContext)
      df
    } finally spark.listenerManager.unregister(listener)
    assert(!local(out))
    assert(collects.nonEmpty)
    collects.foreach { qe =>
      val root = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      assert(root.isInstanceOf[CollectLimitExec], root.treeString)
      assert(root.asInstanceOf[CollectLimitExec].limit === cap + 1)
    }
    assert(out.count() === 5001L)
  }

  test("q_pagerank and q_components run at most 3 jobs each") {
    for (key <- Seq("q_pagerank", "q_components")) {
      SparkEntry.queries(key)(spark, sfDir).collect() // the tables' first read lists their files
      val (rows, probe) = JobProbe.during(spark)(SparkEntry.queries(key)(spark, sfDir).collect())
      assert(rows.nonEmpty, key)
      assert(probe.jobs <= 3, s"$key ran ${probe.jobs} jobs")
    }
  }
}
