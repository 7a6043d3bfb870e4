package graft

import graft.plans.{GraftFunctions, GroupTopKStrategy, RewriteWindowTopK}
import org.apache.spark.sql.SparkSession

/** One-call enablement of every graft extension on a live session: the
  * SQL functions (graft_dot, graft_dot_int8, graft_quantize_int8,
  * graft_minhash, graft_simhash, graft_hyperplane_lsh, graft_winnow), the
  * GroupTopK planner strategy, and the window-top-k rewrite rule. For
  * sessions built from config, `spark.sql.extensions=graft.plans
  * .GraftExtensions` does the same at construction time.
  */
object Graft {

  /** Memory gauge of the reaper's flush; the disk gauge is 4× it. */
  private val FlushBytes = 4L << 30

  /** Drop all cross-query executor state between independent benchmark
    * queries: every persisted RDD (a finished query's localCheckpoint
    * blocks — garbage once its action returned, but pinned until an
    * explicit unpersist) and the SQL relation cache. Without this, a
    * multi-hundred-query battery accumulates every query's checkpointed
    * edge lists / gap frames / rank iterates in the block manager until
    * the heap gives out (observed: the 100× ScaleBench battery OOM'd on
    * q_bfs_hops's 120M-row symmetrized edge checkpoint after ~390 prior
    * query runs). Blocking=false: eviction proceeds asynchronously, the
    * next query's timing is unaffected.
    *
    * Frames owned by a live [[StateCache]] entry survive: evicting those
    * would re-pay the shared model/pair builds once per query, which is
    * the cost the cache exists to amortize.
    */
  def dropQueryState(spark: SparkSession): Unit = {
    val owned = StateCache.ownedIds(spark)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!owned.contains(id)) rdd.unpersist(blocking = false)
    }
    // Past a storage gauge even the owned frames go (the heap-OOM guard
    // wins); they rebuild lazily. TWO gauges: localCheckpoints persist at
    // MEMORY_AND_DISK, so under memory pressure blocks evict to disk,
    // where a memory-only gauge would sit below threshold while
    // checkpoint data accumulated unboundedly on this host's slow disk.
    val info = spark.sparkContext.getRDDStorageInfo
    if (info.map(_.memSize).sum > FlushBytes || info.map(_.diskSize).sum > 4 * FlushBytes) {
      StateCache.flush(spark)
      spark.catalog.clearCache()
    }
  }

  /** Scratch directory for shuffle/spill files in the single-node entry
    * points: RAM-backed /dev/shm when available (this container's disk
    * writes ~3 MB/s — every shuffle write would otherwise serialize on
    * it; tmpfs measures ~13× faster here), else the JVM tmpdir. A real
    * cluster sets SPARK_LOCAL_DIRS/spark.local.dir to NVMe per executor —
    * this helper only picks the local-mode default.
    *
    * /dev/shm is used only with real headroom (≥ 4 GiB usable): spilling
    * into a near-full RAM-backed mount (Docker's 64 MB tmpfs default)
    * trades an ENOSPC/OOM for the slow disk it was avoiding. The
    * GRAFT_LOCAL_DIR env var / graft.local.dir system property override
    * both choices; SPARK_LOCAL_DIRS still wins over everything where set.
    */
  def localScratchDir: String =
    sys.env.get("GRAFT_LOCAL_DIR")
      .orElse(sys.props.get("graft.local.dir"))
      .getOrElse {
        val shm = new java.io.File("/dev/shm")
        val minFree = 4L * 1024 * 1024 * 1024
        if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= minFree)
          "/dev/shm/graft-spark-local"
        else System.getProperty("java.io.tmpdir")
      }

  /** The session of the single-node entry points (Bench, ScaleBench,
    * Verify and the dev tools): `local[SPARK_GRAFT_CPUS]`, defaulting to
    * every available core, with one shuffle partition per core and
    * scratch under [[localScratchDir]].
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localScratchDir)
      // Local-bench input-split sizing: the corpora here are MBs, so the
      // 128 MB default folds every text file into one split and per-row
      // CPU (regex scoring, kernels) serializes on one core. 1 MB splits
      // restore scan parallelism at this SF; a real cluster keeps the
      // default (100 TB / 128 MB is ~10^6 tasks of parallelism already).
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "256k")
      // Post-shuffle parallelism at this SF: AQE coalesces by target
      // minPartitionSize (1 MB default), which folds these corpora's
      // MB-scale shuffles into 1-4 partitions and serializes every
      // window/aggregate stage downstream. 64 KB keeps small shuffles
      // spread across the cores (measured: q_tfidf 1.9→1.1 s, q_pmi
      // 1.3→1.0 s, q_rolling_corr 1.4→0.9 s, in-JVM interleaved A/B).
      // Scale-safe by construction: the knob only binds when a shuffle is
      // tiny; production-sized shuffles coalesce by size as before.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materialize an intermediate a query re-reads — the one checkpoint
    * path of the library. RELIABLE checkpoint when a checkpoint location
    * is configured (cluster runs — the frame survives executor loss,
    * which executor-local blocks do not), local checkpoint otherwise
    * (single-JVM sessions, where executor loss IS process death). The
    * location comes from the SparkContext checkpoint dir if set, else the
    * `spark.graft.checkpointDir` conf (wired to the context on first
    * use). `eager = false` pipelines a local checkpoint into the first
    * job that touches the frame instead of paying a barrier job per frame
    * — the right default inside iterative loops and shared-subtree
    * caches; `eager = true` when the caller immediately needs an action
    * over the frame anyway (e.g. a count that gates the algorithm).
    * Reliable checkpoints are always eager: a lazy one computes the frame
    * in its first job and again in the follow-up job that writes the
    * files, while the eager path computes it once, inside the write job.
    *
    * The frame keeps the layout its rows have (`GraftBridge.withFinalLayout`):
    * a frame hash-partitioned on a key before the checkpoint reads back
    * partitioned on it, so a window, aggregate or join on that key plans
    * no exchange of its own.
    */
  def materialize(df: org.apache.spark.sql.DataFrame, eager: Boolean): org.apache.spark.sql.DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      df.sparkSession.conf.getOption("spark.graft.checkpointDir")
        .filter(_.nonEmpty).foreach(sc.setCheckpointDir)
    val checkpointed =
      if (sc.getCheckpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager)
    org.apache.spark.sql.GraftBridge.withFinalLayout(checkpointed, df)
  }

  /** Spread an under-partitioned input across `spark.sql.shuffle.partitions`
    * — the one partition rule of the per-row kernels (screen dots, shingle
    * and signature passes, decimal refines). A corpus that fits in one file
    * arrives as ONE scan split and would serialize those kernels on one
    * core. Gated: an input that already has at least that many partitions
    * (every table at cluster scale) passes through without an exchange.
    */
  private[graft] def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  def enable(spark: SparkSession): Unit = {
    GraftFunctions.register(spark)
    if (!spark.experimental.extraStrategies.contains(GroupTopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GroupTopKStrategy
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteWindowTopK)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteWindowTopK
    }
  }
}
