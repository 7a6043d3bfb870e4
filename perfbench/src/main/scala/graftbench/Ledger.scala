package graftbench

import java.io.File
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The traced run's per-op ledger: for every op, the listener's job, stage
  * and task counters, the AQE-final plan counters, the registry's eager
  * jobs and the self time of every span name. The summary reports the mean
  * per op of each per-layer metric.
  */
final class Ledger(ctx: Ctx, workload: Workload) {
  private val persisted = mutable.Map[Int, (Int, Double)]()
  private val startMs = mutable.Map[Int, Long]()
  private val files = mutable.Map[Int, Int]()
  private val compiles = mutable.Map[Int, Long]()

  def beginOp(i: Int): Unit = if (ctx.tracer.enabled) {
    startMs(i) = System.currentTimeMillis()
    compiles(i) = Ledger.codegenCompiles
  }

  /** Data files under `f` modified at or after `sinceMs`. */
  private def dataFilesSince(f: java.io.File, sinceMs: Long): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dataFilesSince(_, sinceMs)).sum).getOrElse(0)
    else if (f.getName.startsWith("part-") && f.lastModified() >= sinceMs) 1 else 0

  /** Persisted RDDs and their size, measured just before the reaper. */
  def beforeReap(i: Int): Unit = if (ctx.tracer.enabled) {
    val sc = ctx.spark.sparkContext
    val info = sc.getRDDStorageInfo
    persisted(i) = (sc.getPersistentRDDs.size, info.map(r => r.memSize + r.diskSize).sum / 1048576.0)
    files(i) = workload.storeRoots(ctx).map(dataFilesSince(_, startMs(i))).sum
    compiles(i) = Ledger.codegenCompiles - compiles(i)
  }

  /** Per-layer metrics of op `i`, by metric name. */
  def opMetrics(i: Int, spans: Seq[Span], jobs: Seq[JobRec]): Seq[(String, Double, String)] = {
    val mine = spans.filter(_.op == i)
    val opSpan = mine.find(s => s.name == "op" && s.parent == -1)
    val wall = opSpan.map(_.dur / 1e9).getOrElse(0.0)
    val c = new Counters
    jobs.foreach(j => c.add(j.counters))
    def dur(n: String) = mine.filter(_.name == n).map(_.dur).sum / 1e9
    val buildIds = mine.filter(_.name == "registry.build").map(_.id).toSet
    val jobIv = jobs.map(j => (ctx.tracer.fromEpochMs(j.startMs), ctx.tracer.fromEpochMs(j.endMs)))
    val idle = opSpan.map(s => (s.dur - Spans.unionLength(jobIv, s.start, s.end)) / 1e9).getOrElse(0.0)
    val p = ctx.plans(i)
    val (rdds, mb) = persisted.getOrElse(i, (0, 0.0))
    val self = Spans.selfByName(mine)
    Seq(
      ("registry.build_s", dur("registry.build"), "s"),
      ("registry.eager_jobs", jobs.count(j => buildIds.contains(j.parent)).toDouble, "count"),
      ("plan.plan_s", dur("plan"), "s"),
      ("plan.exchanges", p.exchanges.toDouble, "count"),
      ("plan.broadcast_joins", p.broadcastJoins.toDouble, "count"),
      ("plan.sort_merge_joins", p.sortMergeJoins.toDouble, "count"),
      ("plan.scans", p.scans.toDouble, "count"),
      ("plan.windows", p.windows.toDouble, "count"),
      ("plan.codegen_compiles", compiles.getOrElse(i, 0L).toDouble, "count"),
      ("exec.cpu_s", c.cpuNs / 1e9, "s"),
      ("exec.run_s", c.runMs / 1e3, "s"),
      ("exec.gc_s", c.gcMs / 1e3, "s"),
      ("sched.core_util", if (wall > 0) c.cpuNs / 1e9 / (wall * ctx.cores) else 0.0, "ratio"),
      ("exchange.shuffle_write_bytes", c.shuffleWrite.toDouble, "B"),
      ("exchange.shuffle_read_bytes", c.shuffleRead.toDouble, "B"),
      ("exchange.fetch_wait_s", c.fetchWaitMs / 1e3, "s"),
      ("exchange.spill_bytes", c.spill.toDouble, "B"),
      ("sched.jobs", jobs.size.toDouble, "count"),
      ("sched.stages", mine.count(_.name == "stage").toDouble, "count"),
      ("sched.tasks", c.tasks.toDouble, "count"),
      ("sched.task_overhead_s", (c.durMs - c.runMs) / 1e3, "s"),
      ("driver.idle_s", idle, "s"),
      ("graft.reaper_s", dur("graft.dropQueryState"), "s"),
      ("graft.persisted_rdds", rdds.toDouble, "count"),
      ("graft.persisted_mb", mb, "MB"),
      ("sources.scan_bytes", c.inBytes.toDouble, "B"),
      ("sources.scan_records", c.inRecords.toDouble, "count"),
      ("sources.write_s", dur("sinks.appendNewerThan") + dur("sinks.restateDays"), "s"),
      ("sources.write_bytes", c.outBytes.toDouble, "B"),
      ("sources.files_written", files.getOrElse(i, 0).toDouble, "count")
    ) ++ Ledger.spanNames.map(n => (s"self.$n", self.getOrElse(n, 0.0), "s"))
  }

  private def perOp(loop: ClosedLoop.Run): Seq[Seq[(String, Double, String)]] = {
    ctx.tracing.drain()
    val spans = ctx.tracer.snapshot
    val jobs = ctx.tracing.jobs.synchronized(ctx.tracing.jobs.jobs.values.toList)
    loop.results.indices.map(i => opMetrics(i, spans, jobs.filter(_.op == i)))
  }

  def summary(loop: ClosedLoop.Run): Map[String, (Double, String)] = {
    val ops = perOp(loop)
    val means = ops.head.indices.map { k =>
      val (name, _, unit) = ops.head(k)
      name -> (ops.map(_(k)._2).sum / ops.size, unit)
    }.toMap
    val ok = loop.okSeconds
    means + ("trace.op_p50_s" -> (if (ok.nonEmpty) Stats.median(ok) else Double.NaN, "s"))
  }

  def write(ledgerFile: File, spansFile: File, loop: ClosedLoop.Run): Unit = {
    val ops = perOp(loop)
    Json.writeLines(ledgerFile, loop.results.zip(ops).zipWithIndex.map { case ((r, ms), i) =>
      ListMap[String, Any]("op" -> i, "label" -> r.label, "seconds" -> r.seconds,
        "failed" -> r.error.isDefined) ++ ms.map { case (k, v, _) => k -> Json.num(v) }
    })
    Json.writeLines(spansFile, ctx.tracer.snapshot.sortBy(_.start).map { s =>
      ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.start, "end_ns" -> s.end)
    })
  }
}

object Ledger {
  /** Generated classes compiled so far in this JVM, on the driver and in
    * local tasks alike: a miss in Spark's codegen cache costs one.
    */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  val spanNames: Seq[String] = Seq("op", "registry.build", "plan", "action",
    "sinks.appendNewerThan", "sinks.restateDays", "graft.dropQueryState", "job", "stage")
}
