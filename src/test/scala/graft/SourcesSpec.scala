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

  test("writeByDay partitions by day and serves date-pruned reads") {
    val out = Files.createTempDirectory("graft_byday").toFile.getAbsolutePath + "/t"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, ts("2024-01-02 10:00:00"), 2.0),
      (3L, ts("2024-01-02 11:00:00"), 3.0)).toDF("user_id", "ts", "value")
    Sinks.writeByDay(df, out, "ts")
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("day="))
    assert(dirs.toSet === Set("day=2024-01-01", "day=2024-01-02"))
    val pruned = spark.read.parquet(out).where($"day" === "2024-01-02")
    assert(pruned.count() === 2)
    // the date filter must hit the partition column, not a post-scan filter
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"), plan)
  }

  test("writeByDay in ORC: same partition pruning AND predicate pushdown") {
    val out = Files.createTempDirectory("graft_orc").toFile.getAbsolutePath + "/t"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, ts("2024-01-02 10:00:00"), 2.0),
      (3L, ts("2024-01-02 11:00:00"), 3.0)).toDF("user_id", "ts", "value")
    Sinks.writeByDay(df, out, "ts", format = "orc")
    val pruned = spark.read.orc(out)
      .where($"day" === "2024-01-02" && $"value" > 2.5)
    assert(pruned.count() === 1)
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"), plan) // day -> directory pruning
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(value,2.5)"), plan) // value -> ORC reader
  }

  test("restateDays overwrites only the touched day partitions, idempotently") {
    val out = Files.createTempDirectory("graft_restate").toFile.getAbsolutePath + "/t"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Sinks.writeByDay(Seq(
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

  test("writeZOrdered clusters BOTH dimensions: per-file spans shrink vs an unordered write") {
    import org.apache.spark.sql.functions.{col, input_file_name, max => fmax, min => fmin}
    val dir = Files.createTempDirectory("graft_zorder").toFile.getAbsolutePath
    val ev = Tables.events(spark, sfDir).select($"user_id", $"value")
    // average per-file span of a column, as a fraction of its global span
    def meanSpanFrac(path: String, c: String): Double = {
      val df = spark.read.parquet(path)
      val glob = df.agg(fmax(col(c)).cast("double") - fmin(col(c)).cast("double"))
        .head().getDouble(0)
      val spans = df.groupBy(input_file_name())
        .agg((fmax(col(c)).cast("double") - fmin(col(c)).cast("double")).as("s"))
        .select($"s").as[Double].collect()
      spans.sum / spans.length / glob
    }
    Sinks.writeZOrdered(ev, s"$dir/z", "user_id", "value", numFiles = 16)
    ev.repartition(16).write.parquet(s"$dir/plain") // baseline: hash-scattered
    // z-ordered files cover a small window of each dimension; hash
    // partitioning makes every file span ~the whole domain
    val (zu, zv) = (meanSpanFrac(s"$dir/z", "user_id"), meanSpanFrac(s"$dir/z", "value"))
    val (pu, pv) = (meanSpanFrac(s"$dir/plain", "user_id"), meanSpanFrac(s"$dir/plain", "value"))
    assert(zu < pu * 0.6, s"user_id span: z=$zu plain=$pu")
    assert(zv < pv * 0.6, s"value span: z=$zv plain=$pv")
    // rows survive the round trip and predicates still push down
    assert(spark.read.parquet(s"$dir/z").count() === ev.count())
    val plan = spark.read.parquet(s"$dir/z").where($"user_id" === 3)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,3)]"), plan)
  }

  test("readCsvCorpus: declared schema, malformed rows quarantined, same reject-sink contract") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "shard-000.csv")
    val w = new java.io.PrintWriter(f)
    w.println("doc_id,text,n_chars")
    w.println("1,hello world,11")
    w.println("2,bonjour,7")
    w.println("3,type drift,not_a_number") // malformed numeric cell
    w.println("4,ok,2")
    w.close()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("n_chars", LongType)))
    val df = Sources.readCsvCorpus(spark, f.getAbsolutePath, schema).persist()
    assert(df.where($"__corrupt".isNull).count() === 3)
    val bad = df.where($"__corrupt".isNotNull)
    assert(bad.count() === 1)
    assert(bad.select($"__corrupt").as[String].head.contains("not_a_number"))
    val cleanDir = new java.io.File(dir, "clean").getAbsolutePath
    val rejDir = new java.io.File(dir, "rejects").getAbsolutePath
    val (nClean, nBad) = Sinks.writeWithRejects(df, cleanDir, rejDir)
    assert(nClean === 3 && nBad === 1)
    assert(spark.read.parquet(rejDir).select($"raw_line").as[String].head
      .contains("not_a_number"))
  }

  test("readJsonlCorpus: declared schema, corrupt lines quarantined not dropped") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl").toFile
    val f = new java.io.File(dir, "shard-000.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"doc_id": 1, "text": "hello world", "lang": "en"}""")
    w.println("""{"doc_id": 2, "text": "bonjour", "lang": "fr"}""")
    w.println("""{"doc_id": 3, "text": "truncated""") // malformed line
    w.println("""{"doc_id": 4, "text": "ok", "lang": "en"}""")
    w.close()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    // persist before corrupt-column-only queries (documented Spark
    // restriction on raw JSON scans)
    val df = Sources.readJsonlCorpus(spark, f.getAbsolutePath, schema).persist()
    val clean = df.where($"__corrupt".isNull)
    val bad = df.where($"__corrupt".isNotNull)
    assert(clean.count() === 3)
    assert(clean.orderBy($"doc_id").select($"doc_id").as[Long].collect().toSeq === Seq(1L, 2L, 4L))
    // the quarantined row carries the raw line for a reject sink
    assert(bad.count() === 1)
    assert(bad.select($"__corrupt").as[String].head.contains("truncated"))
    // downstream operators run unchanged on the clean side
    val scored = graft.operators.TextAnalysis.qualityScore(clean.drop("__corrupt"))
    assert(scored.count() === 3)

    // the landing sink splits clean/reject without dropping either side
    val cleanDir = new java.io.File(dir, "clean").getAbsolutePath
    val rejDir = new java.io.File(dir, "rejects").getAbsolutePath
    val (nClean, nBad) = Sinks.writeWithRejects(df, cleanDir, rejDir)
    assert(nClean === 3 && nBad === 1)
    assert(spark.read.parquet(cleanDir).columns.toSeq.sorted === Seq("doc_id", "lang", "text"))
    assert(spark.read.parquet(rejDir).select($"raw_line").as[String].head.contains("truncated"))
    // the ledger counts are per-CALL deltas, not cumulative path totals:
    // a second append over pre-existing data reports only its own rows
    val (nClean2, nBad2) = Sinks.writeWithRejects(df, cleanDir, rejDir)
    assert(nClean2 === 3 && nBad2 === 1)
    assert(spark.read.parquet(cleanDir).count() === 6)
    assert(spark.read.parquet(rejDir).count() === 2)
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

  test("snapshot reader: a read after restateDays in place returns the restated day") {
    val out = Files.createTempDirectory("graft_snap_restate").toFile.getAbsolutePath + "/t"
    Sinks.writeByDay(Seq((1L, ts("2024-01-01 10:00:00"), 1.0), (2L, ts("2024-01-02 10:00:00"), 999.0))
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
    Sinks.writeByDay(Seq((1L, ts("2024-01-01 10:00:00"), 1.0), (2L, ts("2024-01-02 10:00:00"), 2.0))
      .toDF("user_id", "ts", "value"), out, "ts")
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
