package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.functions.Fns
import graft.sources.{DailySummary, Sinks, Sources}
import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The events table's daily summary across appends: a snapshot that only
  * gained files merges the old summary forward with the new files' rows,
  * equal to a full rebuild row for row; every other change rebuilds and
  * frees the old frame; the append watermark reads the live summary.
  */
class SummaryRefreshSpec extends SparkSpec {
  import spark.implicits._

  private val types = Seq("click", "error", "purchase", "signup", "view")

  /** `n` seeded events over users 1-5 and days 2024-01-01..06 on an hourly
    * grid, so (user, ts) ties across batches are common.
    */
  private def batch(rnd: scala.util.Random, n: Int, firstId: Long): DataFrame =
    (0 until n).map { i =>
      val ts = java.time.LocalDateTime.of(2024, 1, 1 + rnd.nextInt(6), 9 + rnd.nextInt(8), 0)
      (firstId + i, 1L + rnd.nextInt(5), java.sql.Timestamp.valueOf(ts),
        types(rnd.nextInt(types.size)), math.round(rnd.nextDouble() * 10000) / 100.0)
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("ts", $"ts".cast("timestamp_ntz"))

  /** A store `<dir>/events.parquet` of 40 seeded events in 3 files. */
  private def store(seed: Long = 7L): String = {
    val dir = Files.createTempDirectory("graft_refresh").toString
    batch(new scala.util.Random(seed), 40, 0L).repartition(3).write.parquet(s"$dir/events.parquet")
    dir
  }

  private def path(dir: String) = s"$dir/events.parquet"
  private def summary(dir: String) = DailySummary.of(spark, Tables.eventsSnapshot(spark, dir))
  private def rebuilt(dir: String) =
    DailySummary.build(Fns.normalizeTsNtz(spark.read.parquet(path(dir)), "ts"))
  private def sorted(df: DataFrame): Seq[Row] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq.sortBy(_.toString)
  private def persisted(df: DataFrame): Boolean =
    GraftBridge.checkpointRddIds(df).forall(spark.sparkContext.getPersistentRDDs.contains)
  private def dataFiles(dir: String): Seq[java.nio.file.Path] =
    Files.list(Paths.get(path(dir))).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
  private def dropWithCrc(file: java.nio.file.Path): Unit = {
    Files.delete(file)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }

  test("random appends, later ticks on existing days included, refresh to the full rebuild") {
    val dir = store()
    val rnd = new scala.util.Random(11L)
    assert(sorted(summary(dir)) === sorted(rebuilt(dir)))
    for (round <- 1 to 5) {
      val before = summary(dir)
      batch(rnd, 5 + rnd.nextInt(20), 1000L * round).write.mode("append").parquet(path(dir))
      val snap = Tables.eventsSnapshot(spark, dir)
      assert(snap.base.isDefined && snap.added.nonEmpty, round) // a strict extension
      val after = DailySummary.of(spark, snap)
      assert(persisted(before), round) // the new frame's first job reads the old one
      assert(sorted(after) === sorted(rebuilt(dir)), round)
      summary(dir) // the first call after the new frame filled frees the old one
      assert(!persisted(before), round)
    }
  }

  test("an in-place rewrite, a delete and a new schema rebuild and free the old frame") {
    def rewrite(dir: String): Unit = {
      val (a, b) = (dataFiles(dir).head, dataFiles(dir)(1))
      dropWithCrc(a)
      Files.copy(b, a, StandardCopyOption.REPLACE_EXISTING)
    }
    def delete(dir: String): Unit = dropWithCrc(dataFiles(dir).head)
    def widen(dir: String): Unit =
      batch(new scala.util.Random(3L), 5, 500L).withColumn("extra", lit(1))
        .write.mode("append").parquet(path(dir))
    for ((name, change) <- Seq("rewrite" -> rewrite _, "delete" -> delete _, "new schema" -> widen _)) {
      val dir = store()
      val before = summary(dir)
      before.collect()
      assert(persisted(before), name)
      change(dir)
      val snap = Tables.eventsSnapshot(spark, dir)
      assert(snap.base.isEmpty, name)
      assert(!persisted(before), name)
      assert(sorted(DailySummary.of(spark, snap)) === sorted(rebuilt(dir)), name)
    }
  }

  test("a rewrite of only _SUCCESS or a .crc file keeps the summary; an append still merges forward") {
    val dir = store()
    val before = summary(dir)
    before.collect()
    val source = Tables.eventsSnapshot(spark, dir).source
    val later = System.currentTimeMillis() + 5000
    Files.list(Paths.get(path(dir))).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("_") || p.getFileName.toString.endsWith(".crc"))
      .foreach(p => assert(p.toFile.setLastModified(later), p))
    val (kept, probe) = JobProbe.during(spark)(summary(dir))
    assert(Tables.eventsSnapshot(spark, dir).source === source)
    assert(GraftBridge.checkpointRddIds(kept) === GraftBridge.checkpointRddIds(before))
    assert(probe.jobs === 0)
    // an append rewrites _SUCCESS and adds .crc files, and is still an extension
    batch(new scala.util.Random(5L), 6, 900L).write.mode("append").parquet(path(dir))
    assert(Tables.eventsSnapshot(spark, dir).base === Some(source))
    assert(sorted(summary(dir)) === sorted(rebuilt(dir)))
  }

  test("appendNewerThan filters the same rows with a live summary and without one") {
    val (live, cold) = (store(), store())
    summary(live).collect()
    def snap(dir: String) = Sources.parquetSnapshot(spark, path(dir))
    assert(DailySummary.watermark(spark, snap(live), "user_id", "ts").isDefined)
    assert(DailySummary.watermark(spark, snap(cold), "user_id", "ts").isEmpty)
    // per user: a row before its watermark, one AT it, one after; and a new user
    val marks = spark.read.parquet(path(cold)).groupBy($"user_id").agg(max($"ts").as("m"))
      .as[(Long, java.time.LocalDateTime)].collect()
    val incoming = (marks.toSeq.flatMap { case (u, m) =>
      Seq((9000L + u, u, m.minusHours(1), "view", 1.0), (9100L + u, u, m, "view", 2.0),
        (9200L + u, u, m.plusHours(1), "view", 3.0))
    } :+ ((9999L, 42L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0), "click", 4.0)))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val (_, fromSummary) = JobProbe.during(spark)(
      Sinks.appendNewerThan(spark, incoming, path(live), "user_id", "ts"))
    val (_, fromScan) = JobProbe.during(spark)(
      Sinks.appendNewerThan(spark, incoming, path(cold), "user_id", "ts"))
    assert(!fromSummary.rddNames.contains("FileScanRDD"), fromSummary.rddNames)
    assert(fromScan.rddNames.contains("FileScanRDD"), fromScan.rddNames)
    val appended = sorted(spark.read.parquet(path(live)).where($"event_id" >= 9000L))
    assert(appended === sorted(spark.read.parquet(path(cold)).where($"event_id" >= 9000L)))
    assert(appended.map(_.getAs[Long]("event_id")).toSet ===
      (marks.map(9200L + _._1).toSet + 9999L))
  }

  test("after an append, no job scans a store file that existed before it") {
    val dir = store()
    val keys = Seq("q_ohlc_daily", "q_sma", "q_gap_off_peak", "q_gap_on_peak",
      "q_pct_change_ndays", "q_sector_price", "q_pivot_wide", "q_latest_date")
    keys.foreach(k => SparkEntry.queries(k)(spark, dir).collect())
    def uri(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val old = dataFiles(dir).map(p => uri(p.toString)).toSet
    val scanned = new ScannedFiles
    GraftTestBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(scanned)
    try {
      Sinks.appendNewerThan(spark, batch(new scala.util.Random(9L), 8, 700L)
        .withColumn("ts", $"ts" + expr("INTERVAL 10 DAYS")), path(dir), "user_id", "ts")
      keys.foreach(k => SparkEntry.queries(k)(spark, dir).collect())
      GraftTestBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(scanned)
    val files = scanned.files.asScala.map(uri).toSet
    val added = dataFiles(dir).map(p => uri(p.toString)).toSet -- old
    assert(added.nonEmpty)
    assert(files.nonEmpty && files.subsetOf(added), s"scanned $files, added $added")
  }

  /** Every file a finished query's scans listed. */
  private final class ScannedFiles extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    val files = new ConcurrentLinkedQueue[String]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
      }.flatten.foreach(files.add)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
