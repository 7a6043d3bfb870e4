package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.plans.GraftFunctions
import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("readCsvSmall normalizes headers the way the reference does") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "holdings.csv")
    val w = new java.io.PrintWriter(f)
    w.println("Ticker,Weight,Shares Held")
    w.println("BRK.B,12.5,100")
    w.println("-,1.0,5")
    w.println("A6Z,2.0,7")
    w.println("MSFT,50.0,200")
    w.close()
    val df = Sources.readCsvSmall(spark, f.getAbsolutePath)
    assert(df.columns.toSeq === Seq("ticker", "weight", "shares_held"))
    val clean = Sources.cleanHoldings(df).orderBy($"ticker").collect()
    assert(clean.map(_.getString(0)).toSeq === Seq("brk_b", "msft"))
    assert(clean(0).getDouble(1) === 0.125)
  }

  test("holdingsWide pivots shares AND weight per ticker, one row per date") {
    val clean = Seq(("brk_b", 0.125, 100L), ("msft", 0.5, 200L))
      .toDF("ticker", "weight", "shares_held")
    val wide = Sources.holdingsWide(clean, "2024-01-02", Seq("brk_b", "msft"))
    assert(wide.columns.toSeq ===
      Seq("date", "brk_b_shares", "brk_b_weight", "msft_shares", "msft_weight"))
    val r = wide.head()
    assert(r.getLong(1) === 100L && r.getDouble(2) === 0.125)
    assert(r.getLong(3) === 200L && r.getDouble(4) === 0.5)
  }

  test("readCsv with a declared schema skips inference and normalizes headers") {
    val dir = Files.createTempDirectory("graft_csv2").toFile
    val f = new java.io.File(dir, "prices.csv")
    val w = new java.io.PrintWriter(f)
    w.println("Date,Close Price")
    w.println("2024-01-02,101.5")
    w.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("Date", org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("Close Price", org.apache.spark.sql.types.DoubleType)))
    val df = Sources.readCsv(spark, f.getAbsolutePath, schema)
    assert(df.columns.toSeq === Seq("date", "close_price"))
    val r = df.head()
    assert(r.getDate(0).toString === "2024-01-02" && r.getDouble(1) === 101.5)
  }

  test("appendNewerThan is idempotent for already-seen timestamps") {
    val out = Files.createTempDirectory("graft_sink").toFile.getAbsolutePath + "/t"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch1 = Seq((1L, ts("2024-01-01 00:00:00"), 1.0)).toDF("user_id", "ts", "value")
    Sinks.appendNewerThan(spark, batch1, out, "user_id", "ts")
    // re-append same batch → nothing new; plus one genuinely new row
    val batch2 = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1.0),
      (1L, ts("2024-01-02 00:00:00"), 2.0)).toDF("user_id", "ts", "value")
    Sinks.appendNewerThan(spark, batch2, out, "user_id", "ts")
    val rows = spark.read.parquet(out).orderBy($"ts").collect()
    assert(rows.length === 2)
    assert(rows.map(_.getDouble(2)).toSeq === Seq(1.0, 2.0))
  }

  test("restateDays lays out day partitions that serve date-pruned reads") {
    val out = Files.createTempDirectory("graft_byday").toFile.getAbsolutePath + "/t"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, ts("2024-01-02 10:00:00"), 2.0),
      (3L, ts("2024-01-02 11:00:00"), 3.0)).toDF("user_id", "ts", "value")
    Sinks.restateDays(df, out, "ts")
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("day="))
    assert(dirs.toSet === Set("day=2024-01-01", "day=2024-01-02"))
    val pruned = spark.read.parquet(out).where($"day" === "2024-01-02")
    assert(pruned.count() === 2)
    // the date filter must hit the partition column, not a post-scan filter
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"), plan)
  }

  test("restateDays overwrites only the touched day partitions, idempotently") {
    val out = Files.createTempDirectory("graft_restate").toFile.getAbsolutePath + "/t"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Sinks.restateDays(Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, ts("2024-01-02 10:00:00"), 999.0) // bad value, to be corrected
    ).toDF("user_id", "ts", "value"), out, "ts")
    // restate ONLY day 2 with the corrected pull
    val fix = Seq((2L, ts("2024-01-02 10:00:00"), 2.0)).toDF("user_id", "ts", "value")
    Sinks.restateDays(fix, out, "ts")
    Sinks.restateDays(fix, out, "ts") // idempotent: same result twice
    val rows = spark.read.parquet(out).orderBy($"ts")
      .select($"value").as[Double].collect().toSeq
    assert(rows === Seq(1.0, 2.0)) // day 1 untouched, day 2 converged
  }

  test("events stream source feeds the shared windowedAgg transform") {
    val streamDir = Files.createTempDirectory("graft_stream")
    Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("part-0.parquet"))
    val stream = Sources.readEventsStream(spark, streamDir.toString)
    assert(stream.isStreaming)
    val agg = graft.streaming.EventsStream.windowedAgg(stream)
    val query = agg.writeStream.format("memory").queryName("src_win")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      // append mode: nothing finalizes (watermark never passes), but the
      // pipeline runs — state is bounded, schema is the batch schema
      assert(spark.table("src_win").schema.fieldNames.toSeq
        === Seq("wstart", "event_type", "n", "total"))
    } finally query.stop()
  }

  // ---- the snapshot reader: one listing and schema per file set ----

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** A one-table events store `<dir>/events.parquet` with `days` days of
    * ticks for two users; returns the store dir.
    */
  private def eventsStore(days: Int): String = {
    val dir = Files.createTempDirectory("graft_snap").toFile.getAbsolutePath
    val rows = for (d <- 1 to days; u <- 1L to 2L; h <- Seq(10, 14))
      yield (u, ts(f"2024-01-$d%02d $h:00:00"), d * 10.0 + u + h / 100.0)
    rows.toDF("user_id", "ts", "value").write.parquet(s"$dir/events.parquet")
    dir
  }

  private def dayPull(d: Int) =
    Seq((1L, ts(f"2024-01-$d%02d 12:00:00"), 1.0), (2L, ts(f"2024-01-$d%02d 12:00:00"), 2.0))
      .toDF("user_id", "ts", "value")

  private def barsRdd(dir: String): Int =
    org.apache.spark.sql.GraftBridge.checkpointRddIds(
      SparkEntry.queries("q_ohlc_daily")(spark, dir)).head

  test("snapshot reader: a read after appendNewerThan returns the new rows") {
    val path = s"${eventsStore(2)}/events.parquet"
    assert(Sources.readParquet(spark, path).count() === 8)
    Sinks.appendNewerThan(spark, dayPull(3), path, "user_id", "ts")
    assert(Sources.readParquet(spark, path).count() === 10)
    assert(Sources.readParquet(spark, path).where($"ts" >= ts("2024-01-03 00:00:00"))
      .count() === 2)
  }

  test("appendNewerThan appends files in the incoming column order") {
    // the key is not the first column: a USING join on it would move it first
    val store = Files.createTempDirectory("graft_order").toFile.getAbsolutePath + "/t"
    def pull(d: Int) = Seq((10L * d + 1, 1L, ts(f"2024-01-$d%02d 12:00:00"), 1.0),
      (10L * d + 2, 2L, ts(f"2024-01-$d%02d 12:00:00"), 2.0)).toDF("event_id", "user_id", "ts", "value")
    val order = pull(1).columns.toSeq
    (1 to 3).foreach(d => Sinks.appendNewerThan(spark, pull(d), store, "user_id", "ts"))
    val files = new java.io.File(store).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 3)
    for (f <- files) assert(spark.read.parquet(f.getPath).columns.toSeq === order, f.getName)
    assert(spark.read.parquet(store).columns.toSeq === order)
    assert(spark.read.parquet(store).count() === 6)
  }

  test("snapshot reader: a read after restateDays in place returns the restated day") {
    val out = Files.createTempDirectory("graft_snap_restate").toFile.getAbsolutePath + "/t"
    Sinks.restateDays(Seq((1L, ts("2024-01-01 10:00:00"), 1.0), (2L, ts("2024-01-02 10:00:00"), 999.0))
      .toDF("user_id", "ts", "value"), out, "ts")
    def values = Sources.readParquet(spark, out).orderBy($"ts").select($"value").as[Double]
      .collect().toSeq
    assert(values === Seq(1.0, 999.0))
    Sinks.restateDays(Seq((2L, ts("2024-01-02 10:00:00"), 2.0)).toDF("user_id", "ts", "value"),
      out, "ts")
    assert(values === Seq(1.0, 2.0))
  }

  test("snapshot reader: a second read of an unchanged path starts no Spark job") {
    val path = s"${eventsStore(2)}/events.parquet"
    val (first, cold) = JobProbe.during(spark)(Sources.readParquet(spark, path))
    assert(cold.jobs >= 1) // the first read infers the schema with a job
    val (second, warm) = JobProbe.during(spark)(Sources.readParquet(spark, path))
    assert(warm.jobs === 0)
    assert(second.schema === first.schema)
    // a fresh instance per read: the two reads still self-join apart
    assert(first.join(second, first("user_id") === second("user_id") && first("ts") === second("ts"))
      .count() === 8)
  }

  test("snapshot fingerprint: the listStatus walk digests what listFiles lists") {
    val out = Files.createTempDirectory("graft_snap_fp").toFile.getAbsolutePath + "/t"
    Seq((1L, ts("2024-01-01 10:00:00"), 1.0), (2L, ts("2024-01-02 10:00:00"), 2.0))
      .toDF("user_id", "ts", "value").withColumn("day", to_date($"ts"))
      .write.partitionBy("day").parquet(out)
    val onDisk = Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(onDisk.exists(_.endsWith(".crc")) && onDisk.contains("_SUCCESS"), onDisk)
    assert(onDisk.count(_.startsWith("day=")) === 2, onDisk)
    val root = new org.apache.hadoop.fs.Path(out)
    val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(root, true)
    val listed = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) listed += it.next()
    assert(listed.result().size >= 3) // _SUCCESS and one data file per day
    assert(Sources.fingerprint(spark, out) === Sources.digest(listed.result()))
    assert(Sources.fingerprint(spark, s"$out-missing") === Sources.digest(Nil))
  }

  test("the bars frame of a live snapshot survives Graft.dropQueryState") {
    val dir = eventsStore(3)
    val before = SparkEntry.queries("q_ohlc_daily")(spark, dir).collect().toSet
    val id = barsRdd(dir)
    assert(StateCache.ownedIds(spark).contains(id))
    Graft.dropQueryState(spark)
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    // the next bars key reuses the same frame and reads no events file
    val (after, probe) = JobProbe.during(spark)(
      SparkEntry.queries("q_ohlc_daily")(spark, dir).collect().toSet)
    assert(barsRdd(dir) === id)
    assert(after === before)
    assert(!probe.rddNames.contains("FileScanRDD"), probe.rddNames)
  }

  test("over N appends, one bars snapshot per path stays persisted") {
    val dir = eventsStore(2)
    val ids = (3 to 6).map { d =>
      Sinks.appendNewerThan(spark, dayPull(d), s"$dir/events.parquet", "user_id", "ts")
      val bars = SparkEntry.queries("q_ohlc_daily")(spark, dir)
      assert(bars.count() === 2 * d) // one bar per user and day, the new day included
      val id = barsRdd(dir)
      assert(spark.sparkContext.getPersistentRDDs.contains(id))
      id
    }
    assert(ids.distinct.size === ids.size) // each append made a new snapshot
    val live = spark.sparkContext.getPersistentRDDs.keySet.intersect(ids.toSet)
    assert(live === Set(ids.last), live)
    assert(StateCache.ownedIds(spark).intersect(ids.toSet) === Set(ids.last))
  }

  test("graft_* SQL functions are callable after registration") {
    GraftFunctions.register(spark)
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b").createOrReplaceTempView("vecs")
    assert(spark.sql("SELECT graft_dot(a, b) FROM vecs").head.getDouble(0) === 11.0)
    Seq((Seq("a", "b", "c"))).toDF("toks").createOrReplaceTempView("toks_v")
    val sig = spark.sql("SELECT graft_minhash(toks, 8) FROM toks_v").head.getSeq[Long](0)
    assert(sig.length === 8)
    val fp = spark.sql("SELECT graft_simhash(toks) FROM toks_v").head.getLong(0)
    // same fingerprint via the Column API on equivalent input
    val viaColumn = Seq("a b c").toDF("text")
      .select(graft.operators.Dedup.simhash("text")).head.getLong(0)
    assert(fp === viaColumn)
  }
}
