package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SpecBridge}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioningLike, Partitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph}

/** The iterative loops must produce identical results in BOTH
  * materialization modes of [[Graft.materialize]]: executor-local blocks
  * (default, single-JVM) and reliable checkpoints under
  * `spark.graft.checkpointDir` (the cluster mode, where loop state must
  * survive executor loss). Checked by running each loop twice and
  * comparing row sets exactly.
  */
class CheckpointModeSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def withReliableCheckpoints[T](f: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-spec").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try f
    finally {
      spark.conf.unset("spark.graft.checkpointDir")
      SpecBridge.clearCheckpointDir(spark)
      // best-effort cleanup of the spec's checkpoint files
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm))
        p.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  private def edges: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 10L), (5L, 5L),
      (6L, 7L), (7L, 8L), (8L, 6L), (20L, 21L))
      .toDF("src", "dst")
  }

  private def docs: DataFrame = Tables.documents(spark, sfDir)

  /** The reliable-checkpoint directories (`rdd-*` names) behind a frame. */
  private def checkpointDirs(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
    }.flatten.map(new org.apache.hadoop.fs.Path(_).getName).toSet

  /** The `rdd-*` directories under the context's checkpoint dir. */
  private def checkpointDirsOnDisk(): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(spark.sparkContext.getCheckpointDir.get)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
      .map(_.getPath.getName).filter(_.startsWith("rdd-")).toSet
  }

  // The graph specs pin `localSolveMaxEdges = 0`: these tiny long-id
  // graphs would otherwise solve in the driver, past every checkpoint.
  test("pagerank identical under local and reliable checkpoints") {
    val local = rows(Graph.pagerank(edges, iters = 5, localSolveMaxEdges = 0)
      .select(col("node"), round(col("rank"), 10).as("r")))
    val reliable = withReliableCheckpoints {
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      val r = rows(Graph.pagerank(edges, iters = 5, localSolveMaxEdges = 0)
        .select(col("node"), round(col("rank"), 10).as("r")))
      // the conf was actually honored: the context now has a checkpoint dir
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      r
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(local == reliable)
  }

  test("BFS hops and label propagation identical under both modes") {
    val localHops = rows(Graph.shortestHops(edges, source = 1L, iters = 6, localSolveMaxEdges = 0))
    val localCc = rows(Graph.connectedComponents(edges, iters = 10, localSolveMaxEdges = 0))
    val (relHops, relCc) = withReliableCheckpoints {
      (rows(Graph.shortestHops(edges, source = 1L, iters = 6, localSolveMaxEdges = 0)),
        rows(Graph.connectedComponents(edges, iters = 10, localSolveMaxEdges = 0)))
    }
    assert(localHops == relHops)
    assert(localCc == relCc)
  }

  test("BFS hops and label propagation identical under both modes at the default cap") {
    val localHops = rows(Graph.shortestHops(edges, source = 1L, iters = 6))
    val localCc = rows(Graph.connectedComponents(edges, iters = 10))
    val (relHops, relCc) = withReliableCheckpoints {
      (rows(Graph.shortestHops(edges, source = 1L, iters = 6)),
        rows(Graph.connectedComponents(edges, iters = 10)))
    }
    assert(localHops == relHops)
    assert(localCc == relCc)
    // and the driver-side solve returns the distributed loop's rows
    assert(localHops == rows(Graph.shortestHops(edges, source = 1L, iters = 6, localSolveMaxEdges = 0)))
    assert(localCc == rows(Graph.connectedComponents(edges, iters = 10, localSolveMaxEdges = 0)))
  }

  test("near-dedup pipeline identical under both modes") {
    val batch = docs.where(col("doc_id") % 2 === 1)
    val store = Dedup.minhashSignatures(docs.where(col("doc_id") % 2 === 0))
    def run(): Set[String] = rows(
      Dedup.nearDedupIncremental(batch, store, 0.7).select("doc_id"))
    val local = run()
    val reliable = withReliableCheckpoints(run())
    assert(local == reliable)
    assert(local.nonEmpty)
  }

  test("snapshot bars frame identical under both modes") {
    // each mode builds its own bars frame: two copies of the events table
    // are two snapshots, so the reliable run cannot reuse the local frame
    def store(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-snap").toString
      Tables.events(spark, sfDir).write.parquet(s"$dir/events.parquet")
      dir
    }
    def run(dir: String): Set[String] =
      Seq("q_ohlc_daily", "q_sma", "q_gap_off_peak", "q_gap_on_peak", "q_pct_change_ndays",
        "q_sector_price", "q_pivot_wide", "q_latest_date")
        .flatMap(k => rows(SparkEntry.queries(k)(spark, dir)).map(k + _)).toSet
    val (localDir, reliableDir) = (store(), store())
    val local = run(localDir)
    val reliable = withReliableCheckpoints {
      val r = run(reliableDir)
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      r
    }
    assert(local.nonEmpty)
    assert(local == reliable)
  }

  test("dedup connected components identical under both modes (incl. distributed rounds)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 9L))
      .toDF("id_a", "id_b")
    def run(): Set[String] = rows(Dedup.connectedComponents(pairs))
    // force the distributed label-propagation rounds too (local solve off)
    def runDistributed(): Set[String] =
      rows(Dedup.connectedComponents(pairs, localSolveMaxEdges = 0L))
    val (l1, l2) = (run(), runDistributed())
    val (r1, r2) = withReliableCheckpoints((run(), runDistributed()))
    assert(l1 == r1)
    assert(l2 == r2)
    assert(l1 == l2)
  }

  test("a lazy frame under reliable checkpoints is computed once") {
    // a lazy reliable checkpoint computes the frame in its first job and
    // again in the job that writes the files; the eager write computes once
    val n = 1000L
    val computed = spark.sparkContext.longAccumulator("graft-ckpt-rows")
    val bump = udf { (x: Long) => computed.add(1); x }.asNondeterministic()
    withReliableCheckpoints {
      val m = Graft.materialize(spark.range(n).select(bump(col("id")).as("x")), eager = false)
      assert(m.count() === n)
      assert(m.count() === n)
    }
    assert(computed.value === n)
  }

  test("distributed dedup components delete each superseded round's checkpoint files") {
    import spark.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    withReliableCheckpoints {
      val comps = Dedup.connectedComponents(chain, maxIter = 10, localSolveMaxEdges = 0)
      val kept = checkpointDirs(comps)
      assert(kept.size === 1)
      assert(checkpointDirsOnDisk() === kept)
      val labels = comps.collect()
      assert(labels.length === 64 && labels.forall(_.getLong(1) === 0L))
    }
  }

  test("Graft.materialize with only checkpointDir is reliable") {
    def run(): (Set[String], Long) = {
      val base = Graft.materialize(spark.range(10).toDF("v"), eager = true)
      val total = Graft.materialize(base.agg(sum(col("v")).as("s")), eager = true)
      (checkpointDirs(base) ++ checkpointDirs(total), total.head().getLong(0))
    }
    val (localDirs, localSum) = run()
    assert(localDirs.isEmpty)
    withReliableCheckpoints {
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      val (dirs, s) = run()
      assert(dirs.size === 2)
      assert(dirs.subsetOf(checkpointDirsOnDisk()))
      assert(s === localSum)
    }
    assert(localSum === 45L)
  }

  test("checkpointing query keys return identical rows under both modes") {
    val keys = Seq("q_pairs_spread", "q_pair_quality", "q_time_between", "q_concurrency")
    def run(): Map[String, Set[String]] =
      keys.map(k => k -> rows(SparkEntry.queries(k)(spark, sfDir))).toMap
    val local = run()
    val reliable = withReliableCheckpoints(run())
    keys.foreach(k => assert(local(k).nonEmpty, k))
    assert(local == reliable)
  }

  test("StateCache.flush frees every owned frame, checkpoint files included, under both modes") {
    def run(): Unit = {
      StateCache.flush(spark) // earlier suites built these frames in the other mode
      val bars = rows(SparkEntry.queries("q_ohlc_daily")(spark, sfDir))
      assert(rows(SparkEntry.queries("q_pair_quality")(spark, sfDir)).nonEmpty)
      val owned = StateCache.ownedIds(spark)
      assert(owned.size >= 3, owned) // the daily frame and both pair tables
      val reliable = spark.sparkContext.getCheckpointDir.isDefined
      val files = owned.map(id => s"rdd-$id")
      if (reliable) assert(files.subsetOf(checkpointDirsOnDisk()), files)
      StateCache.flush(spark)
      assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(owned).isEmpty)
      if (reliable) assert(checkpointDirsOnDisk().intersect(files).isEmpty)
      val again = SparkEntry.queries("q_ohlc_daily")(spark, sfDir)
      assert(GraftBridge.checkpointRddIds(again).toSet.intersect(owned).isEmpty) // rebuilt
      assert(rows(again) === bars)
      StateCache.flush(spark) // leave no frame behind whose files the mode's cleanup deletes
    }
    run()
    withReliableCheckpoints(run())
  }

  // ---- the layout a frame keeps through Graft.materialize ----

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The partitioning the checkpoint behind `df` declares. */
  private def layout(df: DataFrame): Partitioning =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.outputPartitioning }.get

  private def partitions(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd.getNumPartitions }.get

  test("a materialized frame keeps its hash layout under both modes with AQE on") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val df = spark.range(0, 2000).select(($"id" % 37).as("k"), $"id".as("v")).repartition($"k")
    val want = rows(df.groupBy("k").agg(sum("v")))
    def check(mode: String): Unit = for (eager <- Seq(false, true)) {
      val m = Graft.materialize(df, eager)
      layout(m) match {
        case h: HashPartitioningLike =>
          assert(h.expressions.map(_.toString).exists(_.startsWith("k#")), s"$mode: $h")
          assert(h.numPartitions === partitions(m), s"$mode: $h")
        case other => fail(s"$mode, eager=$eager: $other")
      }
      val agg = m.groupBy("k").agg(sum("v"))
      val plan = agg.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"$mode, eager=$eager:\n$plan")
      assert(rows(agg) == want, s"$mode, eager=$eager")
    }
    check("local")
    withReliableCheckpoints(check("reliable"))
  }

  test("a join of kept-layout frames with different coalescing returns the unpartitioned join") {
    import spark.implicits._
    val frames = Seq(
      spark.range(0, 20000).select(($"id" % 101).as("k"), $"id".as("a")),
      spark.range(0, 300).select(($"id" % 101).as("k"), ($"id" * 7).as("b")),
      spark.range(0, 1000).select(($"id" % 53).as("k"), ($"id" + 1).as("c")))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // three layouts of one key: AQE-coalesced to a few partitions, to
      // one, and an uncoalesced explicit count
      val kept = Seq(
        withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "48k",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k") {
          Graft.materialize(frames(0).repartition($"k"), eager = true)
        },
        Graft.materialize(frames(1).repartition($"k"), eager = true),
        Graft.materialize(frames(2).repartition(3, $"k"), eager = true))
      val layouts = kept.map(layout)
      assert(layouts.map(_.numPartitions).distinct.size === 3, layouts)
      layouts.foreach(l => assert(l.isInstanceOf[HashPartitioningLike], l))
      for (i <- 0 until 3; j <- i + 1 until 3)
        assert(rows(kept(i).join(kept(j), "k")) == rows(frames(i).join(frames(j), "k")), (i, j))
    }
  }

  test("distributed pagerank over the broadcast cap shuffles the edge list once per query") {
    import spark.implicits._
    val raw = for (i <- 0L until 30L; j <- 0L until 30L if (i * 7 + j * 3) % 5 != 0) yield (i, j)
    val edges = (raw ++ raw.take(100)).toDF("src", "dst")
    def ranks(): Set[String] = rows(Graph.pagerank(edges, iters = 3, localSolveMaxEdges = 0))
    val broadcastRanks = ranks()
    withConf("spark.graft.graph.broadcastNodes" -> "0", "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (shuffledRanks, probe) = JobProbe.during(spark)(ranks())
      // every other shuffle moves node-sized rows; only the setup's
      // repartition writes the edge list
      assert(probe.shuffleRecords.count(_ >= raw.size) === 1, probe.shuffleRecords)
      assert(shuffledRanks == broadcastRanks)
    }
  }
}
