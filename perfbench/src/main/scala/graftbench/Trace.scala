package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** One timed interval. Times are `System.nanoTime` nanoseconds; job and
  * stage spans come from listener wall-clock milliseconds mapped onto the
  * same clock. `parent` is -1 for a root.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {

  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  def unionLength(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span: its duration minus the union of its children's
    * intervals within it (children may overlap, e.g. parallel stages).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - unionLength(ch, s.start, s.end))
    }.toMap
  }

  /** Self time summed per span name, in seconds. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}

/** Span recorder for the driver thread. Disabled, it only runs the body:
  * the untraced run takes the same code path without the bookkeeping.
  * Spans stay in memory and are written once at the end of the run.
  */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private var stack: List[Int] = Nil
  @volatile var op: Int = -1
  // listener times are epoch milliseconds; nanoTime = epochMs * 1e6 - offset
  val offsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nextId(): Int = ids.incrementAndGet()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - offsetNs
  def current: Int = stack.headOption.getOrElse(-1)

  def record(s: Span): Unit = spans.synchronized { spans += s }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = current
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        record(Span(id, name, parent, op, t0, System.nanoTime()))
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, if (parent < 0) null else parent.toString)
      }
    }

  def startOp(i: Int): Unit = {
    op = i
    if (enabled) sc.setLocalProperty(Tracer.OpProp, i.toString)
  }

  def snapshot: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {
  val OpProp = "graftbench.op"
  val SpanProp = "graftbench.span"
}

/** Task-metric totals for one job (summed over its stages' tasks). */
final class Counters {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var durMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
  var outRecords = 0L

  def add(o: Counters): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; durMs += o.durMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spill += o.spill; inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; outRecords += o.outRecords
  }
}

final case class JobRec(id: Int, op: Int, parent: Int, spanId: Int, startMs: Long,
                        var endMs: Long, counters: Counters)

/** The benchmark's own SparkListener: one record per job (its op, the
  * bench span it started under, its interval and its tasks' metrics) and
  * one span per stage. Events arrive on the listener bus thread; read the
  * records only after [[org.apache.spark.graftbench.BusBridge.drain]].
  */
final class BenchListener(tracer: Tracer) extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSpan = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toInt)
    val rec = JobRec(e.jobId, prop(Tracer.OpProp).getOrElse(-1), prop(Tracer.SpanProp).getOrElse(-1),
      tracer.nextId(), e.time, e.time, new Counters)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      tracer.record(Span(j.spanId, "job", j.parent, j.op, tracer.fromEpochMs(j.startMs),
        tracer.fromEpochMs(j.endMs)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (jid <- stageJob.get(info.stageId); j <- jobs.get(jid);
         s <- info.submissionTime; c <- info.completionTime) {
      val id = stageSpan.getOrElseUpdate(info.stageId, tracer.nextId())
      tracer.record(Span(id, "stage", j.spanId, j.op, tracer.fromEpochMs(s), tracer.fromEpochMs(c)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = new Counters
      c.tasks = 1
      c.runMs = m.executorRunTime
      c.cpuNs = m.executorCpuTime
      c.gcMs = m.jvmGCTime
      c.durMs = e.taskInfo.duration
      c.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
      c.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      c.inBytes = m.inputMetrics.bytesRead
      c.inRecords = m.inputMetrics.recordsRead
      c.outBytes = m.outputMetrics.bytesWritten
      c.outRecords = m.outputMetrics.recordsWritten
      stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.counters.add(c))
    }
  }
}

/** Node counts of a physical plan, read from the AQE-final plan. */
final case class PlanCounts(exchanges: Int, broadcastJoins: Int, sortMergeJoins: Int,
                            scans: Int, windows: Int) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(exchanges + o.exchanges,
    broadcastJoins + o.broadcastJoins, sortMergeJoins + o.sortMergeJoins,
    scans + o.scans, windows + o.windows)
}

object PlanCounts {
  val zero: PlanCounts = PlanCounts(0, 0, 0, 0, 0)

  /** Walk into AQE wrappers, query stages and subqueries so each physical
    * node of the plan that ran is seen once.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Nil
    case other =>
      other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  def of(plan: SparkPlan): PlanCounts = {
    val ns = nodes(plan)
    PlanCounts(
      exchanges = ns.count(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
      broadcastJoins = ns.count(_.isInstanceOf[BroadcastHashJoinExec]),
      sortMergeJoins = ns.count(_.isInstanceOf[SortMergeJoinExec]),
      scans = ns.count(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]),
      windows = ns.count(_.isInstanceOf[WindowExec]))
  }
}

/** Per-session tracing: the span recorder plus the listeners it needs. */
final class Tracing(val tracer: Tracer, spark: SparkSession) {
  val jobs = new BenchListener(tracer)
  if (tracer.enabled) spark.sparkContext.addSparkListener(jobs)
  def drain(): Unit = if (tracer.enabled) org.apache.spark.graftbench.BusBridge.drain(spark.sparkContext)
  def close(): Unit = if (tracer.enabled) {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
  }
}
