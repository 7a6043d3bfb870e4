package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** What ran while a block ran: the Spark jobs started, the RDDs of
  * every stage submitted (by RDD class name, e.g. FileScanRDD) and the
  * shuffle records each stage wrote.
  */
final class JobProbe extends SparkListener {
  private val jobCount = new AtomicInteger()
  private val names = new ConcurrentLinkedQueue[String]()
  override def onJobStart(e: SparkListenerJobStart): Unit = jobCount.incrementAndGet()
  private val shuffled = new ConcurrentLinkedQueue[Long]()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.rddInfos.foreach(r => names.add(r.name))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    shuffled.add(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
  def jobs: Int = jobCount.get()
  def rddNames: Set[String] = names.asScala.toSet
  /** Shuffle records written, one entry per completed stage. */
  def shuffleRecords: Seq[Long] = shuffled.asScala.toSeq
}

object JobProbe {
  def during[T](spark: SparkSession)(f: => T): (T, JobProbe) = {
    val sc = spark.sparkContext
    GraftTestBridge.drainListenerBus(sc)
    val probe = new JobProbe
    sc.addSparkListener(probe)
    try {
      val v = f
      GraftTestBridge.drainListenerBus(sc)
      (v, probe)
    } finally sc.removeSparkListener(probe)
  }
}
