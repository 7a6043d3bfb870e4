package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import graft.Graft
import org.apache.spark.sql.SparkSession

/** `graftbench.Main --workload W --seed N --seconds S --trace 0|1`
  *
  * Set-up (session start, input generation, memo builds, warmup) is timed
  * once; then one client runs the workload's ops in a closed loop for S
  * seconds, checking every op's checksums. The
  * last stdout line is the result JSON. `--trace 1` records spans and the
  * benchmark's listener, and reports per-layer metrics instead of the
  * end-to-end ones. `--record FILE` writes the checksums seen. The run's
  * artifacts go to [[Main.OutDir]].
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        record: Option[String])

  val OutDir = ".bench_work/out"

  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("record"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(localDir: File, warehouse: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getAbsolutePath)
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      // the same local sizing graft.Bench uses for MB-scale inputs
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "256k")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after the latest collection, summed over the heap pools'
    * collection usage.
    */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv.toSeq) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"graftbench: ${e.getMessage}"); sys.exit(2)
    }
    val code = try run(a) catch {
      case e: Throwable =>
        System.err.println(s"graftbench: run failed: ${Errors.brief(e)}")
        e.printStackTrace()
        3
    }
    sys.exit(code)
  }

  def run(a: Args): Int = {
    val workload = Workloads(a.workload, a.seed)
    val work = new File(s".bench_work/${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${ProcessHandle.current().pid()}")
      .getAbsoluteFile
    Files.delete(work)
    val localDir = new File(work, "local")
    // graft keeps its index and memo roots under this directory
    System.setProperty("graft.local.dir", localDir.getAbsolutePath)
    val refs = Refs.load(new File("perfbench/ref/checksums.json"))

    // ---- set-up: one cold session per run ----
    localDir.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(localDir, new File(work, "warehouse"))
    val s0 = System.nanoTime()
    val ctx = new Ctx(spark, work, new Tracing(new Tracer(a.trace, spark.sparkContext), spark), cores, a.seed, refs)
    val written = workload.setup(ctx)
    val m0 = System.nanoTime()
    workload.memoBuild(ctx)
    val w0 = System.nanoTime()
    workload.warm(ctx)
    Graft.dropQueryState(spark)
    val t1 = System.nanoTime()
    val setupS = (t1 - t0) / 1e9
    val memoS = (w0 - m0) / 1e9
    log(f"setup $setupS%.2f s: session ${(s0 - t0) / 1e9}%.2f, inputs ${(m0 - s0) / 1e9}%.2f, " +
      f"memo builds $memoS%.2f, warmup ${(t1 - w0) / 1e9}%.2f s")
    ctx.tracer.spans.clear()
    val ledger = new Ledger(ctx, workload)

    // ---- timed closed loop ----
    val loop = ClosedLoop.run(a.seconds, workload.maxOps, workload.round)(
      workload.label) { i =>
      ctx.tracer.startOp(i)
      ledger.beginOp(i)
      val t0 = System.nanoTime()
      val r = ctx.tracer.span("op")(workload.op(ctx, i))
      log(f"op $i ${workload.label(i)} ${(System.nanoTime() - t0) / 1e9}%.3f s${r.map(" " + _).getOrElse("")}")
      r
    } { i =>
      ledger.beforeReap(i)
      ctx.tracer.span("graft.dropQueryState")(Graft.dropQueryState(spark))
    }
    // Collections once the loop and its last reap are done, never between
    // ops. After each one the context cleaner drops the shuffle files and
    // broadcasts that became unreachable. A finished query's files can take
    // up to three rounds to go, and a round can free nothing before one
    // that frees much, so collect until two rounds in a row free nothing.
    // What is left on the heap and on disk is what the workload retained.
    def scratch(): Long = Files.bytes(localDir) + workload.storeRoots(ctx).map(Files.bytes).sum
    var settled = Seq(scratch())
    while (settled.size < 12 && (settled.size < 4 || settled.takeRight(3).distinct.size > 1)) {
      System.gc()
      Thread.sleep(300)
      settled :+= scratch()
    }
    log(s"retained scratch bytes over ${settled.size - 1} collections: ${settled.mkString(", ")}")
    val heapMb = heapAfterGcMb
    val scratchMb = settled.last / 1048576.0
    ctx.tracing.drain()
    ctx.tracer.startOp(-1) // later jobs belong to no op
    val finishErrors = try workload.finish(ctx, loop.attempted) catch {
      case e: Throwable => Seq(s"invariant check failed: ${Errors.brief(e)}")
    }

    // ---- traced run: per-op ledger and kernel probes ----
    val perLayer: Map[String, (Double, String)] =
      if (a.trace) ledger.summary(loop) ++ Kernels.probe(spark)
      else Map.empty
    ctx.tracing.close()
    val outDir = new File(OutDir)
    outDir.mkdirs()
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    if (a.trace) ledger.write(new File(outDir, s"$tag-ledger.jsonl"), new File(outDir, s"$tag-spans.jsonl"), loop)
    a.record.foreach(p => Json.writeFile(new File(p),
      Map(a.workload -> Map(a.seed.toString -> ListMap(ctx.seen.toSeq: _*)))))
    spark.stop()
    Files.delete(work)

    // ---- result ----
    val ok = loop.okSeconds
    val failed = loop.failed + (if (finishErrors.nonEmpty) 1 else 0)
    val attempted = loop.attempted + (if (finishErrors.nonEmpty) 1 else 0)
    val p50 = if (ok.nonEmpty) Stats.median(ok) else Double.NaN
    val tail = Stats.tail(ok)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", p50, "s"),
      ("ops_per_s", ok.size / loop.wallSeconds, "1/s"),
      ("heap_retained_mb", heapMb, "MB"),
      ("scratch_retained_mb", scratchMb, "MB"))
    val report = Report(a, workload, written, cores, memoS, loop, finishErrors, e2e,
      tail, failed.toDouble / attempted, perLayer)
    report.print()
    Json.writeFile(new File(outDir, s"$tag.json"), report.artifact)
    val metrics =
      if (a.trace) perLayer.toSeq.sortBy(_._1).map { case (k, (v, u)) => (k, v, u) }
      else e2e
    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    println(Json.write(ListMap("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.metrics(metrics))))
    if (correct) 0 else 1
  }
}
