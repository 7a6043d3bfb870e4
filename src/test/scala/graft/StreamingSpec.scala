package graft

import java.sql.Timestamp

import graft.streaming.EventsStream
import graft.streaming.EventsStream.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class StreamDoc(doc_id: Long, ts: Timestamp, text: String)
case class CardDoc(doc_id: Long, text: String, lang: String, source: String,
                   n_chars: Long)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedAgg emits finalized hourly windows once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = EventsStream.windowedAgg(
      input.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")))
    val query = out.writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(1L, ts("2024-01-01 10:05:00"), "click", 1.0),
        Ev(2L, ts("2024-01-01 10:20:00"), "click", 2.0))
      query.processAllAvailable()
      // watermark passes 11:00 only after an event at >= 12:00
      input.addData(Ev(3L, ts("2024-01-01 12:30:00"), "view", 5.0))
      query.processAllAvailable()
      input.addData(Ev(4L, ts("2024-01-01 14:30:00"), "view", 5.0))
      query.processAllAvailable()
      val rows = spark.table("win_agg").collect()
      val w10 = rows.find(_.getTimestamp(0) == ts("2024-01-01 10:00:00"))
      assert(w10.isDefined, s"expected finalized 10:00 window, got ${rows.mkString(";")}")
      assert(w10.get.getLong(2) === 2L)
      assert(w10.get.getDouble(3) === 3.0)
    } finally query.stop()
  }

  test("streaming query restarts from its checkpoint without duplicating output") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_restart").toFile.getAbsolutePath
    val (ckpt, outDir) = (s"$dir/ckpt", s"$dir/out")
    val input = MemoryStream[Ev]
    def start() = EventsStream.windowedAgg(
      input.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try {
      input.addData(
        Ev(1L, ts("2024-01-01 10:05:00"), "click", 1.0),
        Ev(2L, ts("2024-01-01 10:20:00"), "click", 2.0))
      q1.processAllAvailable()
      input.addData(Ev(3L, ts("2024-01-01 12:30:00"), "view", 5.0))
      q1.processAllAvailable() // watermark passes 11:00 → 10:00 window committed
    } finally q1.stop()
    // restart from the SAME checkpoint: committed state must not re-emit
    val q2 = start()
    try {
      input.addData(Ev(4L, ts("2024-01-01 14:30:00"), "view", 5.0))
      q2.processAllAvailable() // finalizes the 12:00 window
    } finally q2.stop()
    val out = spark.read.parquet(outDir)
    val w10 = out.where($"wstart" === ts("2024-01-01 10:00:00")).collect()
    assert(w10.length === 1, s"10:00 window must appear exactly once: ${w10.mkString(";")}")
    assert(w10.head.getLong(2) === 2L && w10.head.getDouble(3) === 3.0)
    assert(out.where($"wstart" === ts("2024-01-01 12:00:00")).count() === 1)
  }

  test("streamingTopEntities emits each finalized window's top-k once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = EventsStream.streamingTopEntities(
      input.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")), k = 2)
    val query = out.writeStream.format("memory").queryName("top_ent")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(1L, ts("2024-01-01 10:05:00"), "c", 1.0),
        Ev(1L, ts("2024-01-01 10:10:00"), "c", 1.0),
        Ev(1L, ts("2024-01-01 10:15:00"), "c", 1.0),
        Ev(2L, ts("2024-01-01 10:20:00"), "c", 1.0),
        Ev(2L, ts("2024-01-01 10:25:00"), "c", 1.0),
        Ev(3L, ts("2024-01-01 10:30:00"), "c", 1.0))
      query.processAllAvailable()
      // advance the watermark well past 11:00 so the 10:00 window finalizes
      // through both stateful stages
      input.addData(Ev(9L, ts("2024-01-01 14:00:00"), "c", 1.0))
      query.processAllAvailable()
      input.addData(Ev(9L, ts("2024-01-01 18:00:00"), "c", 1.0))
      query.processAllAvailable()
      val rows = spark.table("top_ent")
        .where($"wstart" === ts("2024-01-01 10:00:00"))
        .select("user_id", "n").as[(Long, Long)].collect().toSet
      assert(rows === Set((1L, 3L), (2L, 2L)),
        spark.table("top_ent").collect().mkString(";"))
    } finally query.stop()
  }

  test("streamingAsOf enriches each fact with the latest dim at-or-before it") {
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[Ev]
    val dims = MemoryStream[Ev]
    val out = EventsStream.streamingAsOf(facts.toDS(), dims.toDS(), delay = "10 seconds")
    val query = out.writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      dims.addData(
        Ev(1L, ts("2024-01-01 09:00:00"), "purchase", 100.0),
        Ev(1L, ts("2024-01-01 10:30:00"), "purchase", 200.0))
      facts.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), "click", 1.0),
        Ev(1L, ts("2024-01-01 11:00:00"), "click", 2.0),
        Ev(2L, ts("2024-01-01 10:00:00"), "click", 3.0)) // user without dims
      query.processAllAvailable()
      // advance the watermark far past all facts so they finalize
      facts.addData(Ev(99L, ts("2024-01-01 12:00:00"), "click", 0.0))
      dims.addData(Ev(99L, ts("2024-01-01 12:00:00"), "purchase", 0.0))
      query.processAllAvailable()
      val rows = spark.table("asof_stream")
        .where($"user_id" < 99L)
        .orderBy($"user_id", $"ts").collect()
      assert(rows.length === 3, rows.mkString(";"))
      assert(rows(0).getDouble(2) === 1.0 && rows(0).getDouble(3) === 100.0) // 10:00 → 09:00 dim
      assert(rows(1).getDouble(2) === 2.0 && rows(1).getDouble(3) === 200.0) // 11:00 → 10:30 dim
      assert(rows(2).getDouble(2) === 3.0 && rows(2).isNullAt(3)) // no dim yet
    } finally query.stop()
  }

  test("streamingAsOf holds facts at the exact watermark boundary for equal-ts dims") {
    // Spark's late filter ADMITS rows with ts == watermark: a fact must not
    // finalize while wm == fact.ts, because an equal-timestamp dim can
    // still legally arrive in a later batch
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[Ev]
    val dims = MemoryStream[Ev]
    val out = EventsStream.streamingAsOf(facts.toDS(), dims.toDS(), delay = "10 seconds")
    val query = out.writeStream.format("memory").queryName("asof_boundary")
      .outputMode("append").start()
    try {
      facts.addData(Ev(1L, ts("2024-01-01 10:00:00"), "click", 1.0))
      // drive BOTH input watermarks to exactly 10:00:00
      facts.addData(Ev(99L, ts("2024-01-01 10:00:10"), "click", 0.0))
      dims.addData(Ev(99L, ts("2024-01-01 10:00:10"), "purchase", 0.0))
      query.processAllAvailable()
      assert(spark.table("asof_boundary").where($"user_id" === 1L).isEmpty,
        "fact must stay pending while wm == its timestamp")
      // only once the watermark STRICTLY passes the fact does it finalize
      facts.addData(Ev(99L, ts("2024-01-01 10:00:30"), "click", 0.0))
      dims.addData(Ev(99L, ts("2024-01-01 10:00:30"), "purchase", 0.0))
      query.processAllAvailable()
      val r = spark.table("asof_boundary").where($"user_id" === 1L).collect()
      assert(r.length === 1)
      assert(r.head.isNullAt(3), r.mkString(";"))
    } finally query.stop()
  }

  test("streamingAsOf batch mirror equals the batch as-of join operator") {
    import graft.operators.AsOfJoin
    val facts = Seq(
      Ev(1L, ts("2024-01-01 10:00:00"), "click", 1.0),
      Ev(1L, ts("2024-01-01 11:00:00"), "click", 2.0),
      Ev(2L, ts("2024-01-01 10:00:00"), "click", 3.0)).toDS()
    val dims = Seq(
      Ev(1L, ts("2024-01-01 09:00:00"), "purchase", 100.0),
      Ev(1L, ts("2024-01-01 10:30:00"), "purchase", 200.0)).toDS()
    val viaState = EventsStream.streamingAsOf(facts, dims)
      .collect().map(o => (o.user_id, o.ts, o.value, o.dim_value)).toSet
    val viaBatch = AsOfJoin.asOf(
      facts.toDF().select($"user_id", $"ts", $"value"),
      dims.toDF().select($"user_id", $"ts", $"value".as("dim_value")),
      "user_id", "ts", Seq("dim_value"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(viaState === viaBatch)
    assert(viaState.size === 3)
  }

  test("streamStreamJoin pairs facts with recent dims, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[Ev]
    val dims = MemoryStream[Ev]
    val out = EventsStream.streamStreamJoin(
      facts.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")),
      dims.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")),
      lookbackSec = 3600)
    val query = out.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      dims.addData(
        Ev(1L, ts("2024-01-01 09:30:00"), "purchase", 100.0), // within 1h of the click
        Ev(1L, ts("2024-01-01 07:00:00"), "purchase", 50.0))  // too old
      facts.addData(Ev(1L, ts("2024-01-01 10:00:00"), "click", 1.0))
      query.processAllAvailable()
      // advance both watermarks so the left-outer side finalizes
      facts.addData(Ev(99L, ts("2024-01-01 14:00:00"), "click", 0.0))
      dims.addData(Ev(99L, ts("2024-01-01 14:00:00"), "purchase", 0.0))
      query.processAllAvailable()
      val rows = spark.table("ss_join").where($"user_id" === 1L).collect()
      assert(rows.length === 1, rows.mkString(";"))
      assert(rows(0).getDouble(4) === 100.0)
    } finally query.stop()
  }

  test("reachStream: chained dedup + daily window emit exact per-day distinct counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = EventsStream.reachStream(
      input.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")),
      delay = "2 days")
    val query = out.writeStream.format("memory").queryName("reach_stream")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(1L, ts("2024-01-01 09:00:00"), "click", 1.0),
        Ev(1L, ts("2024-01-01 17:00:00"), "view", 1.0), // same user-day: dedup
        Ev(2L, ts("2024-01-01 10:00:00"), "click", 1.0),
        Ev(1L, ts("2024-01-02 08:00:00"), "click", 1.0))
      query.processAllAvailable()
      // advance the watermark far enough to close both days
      input.addData(Ev(9L, ts("2024-01-06 00:00:00"), "click", 1.0))
      query.processAllAvailable()
      val rows = spark.table("reach_stream").collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(rows === Map("2024-01-01" -> 2L, "2024-01-02" -> 1L))
      // batch mirror: identical counts through distinct + the same window
      val batch = EventsStream.reachStream(Seq(
        Ev(1L, ts("2024-01-01 09:00:00"), "click", 1.0),
        Ev(1L, ts("2024-01-01 17:00:00"), "view", 1.0),
        Ev(2L, ts("2024-01-01 10:00:00"), "click", 1.0),
        Ev(1L, ts("2024-01-02 08:00:00"), "click", 1.0)).toDF()
        .withColumn("ts", col("ts").cast("timestamp")))
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(batch === Map("2024-01-01" -> 2L, "2024-01-02" -> 1L))
    } finally query.stop()
  }

  test("reachStream kill-and-restart: dedup state survives, days finalize exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_reach_restart").toFile.getAbsolutePath
    val (ckpt, outDir) = (s"$dir/ckpt", s"$dir/out")
    val input = MemoryStream[Ev]
    def start() = EventsStream.reachStream(
      input.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")),
      delay = "2 days")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try {
      input.addData(
        Ev(1L, ts("2024-01-01 09:00:00"), "click", 1.0),
        Ev(1L, ts("2024-01-01 17:00:00"), "view", 1.0), // same user-day
        Ev(2L, ts("2024-01-01 10:00:00"), "click", 1.0),
        Ev(1L, ts("2024-01-02 08:00:00"), "click", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // while the query is DOWN: a re-delivery of a user-day committed before
    // the kill (must hit the CHECKPOINTED dedup state, not recount) plus a
    // far-future event that closes both days after the restart
    input.addData(
      Ev(1L, ts("2024-01-01 23:00:00"), "view", 1.0),
      Ev(9L, ts("2024-01-06 00:00:00"), "click", 1.0))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(outDir).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1))
    // exactly one finalization per day, and the restart re-delivery did
    // not inflate Jan 1 to 3
    assert(rows.sortBy(_._1).toSeq === Seq("2024-01-01" -> 2L, "2024-01-02" -> 1L),
      rows.mkString(";"))
  }

  test("qualityGateStream keeps exactly what the batch gate keeps at the landed threshold") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    // landed corpus with a real quality spread; the stream replays it
    val landed = Tables.documents(spark, sfDir).limit(100)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val thr = TextAnalysis.qualityThreshold(
      landed.toSeq.toDF("doc_id", "text"), 0.25)
    val input = MemoryStream[StreamDoc]
    val out = EventsStream.qualityGateStream(
      input.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")), thr)
    val query = out.writeStream.format("memory").queryName("quality_gate_stream")
      .outputMode("append").start()
    try {
      input.addData(landed.map { case (id, t) => StreamDoc(id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      val streamed = spark.table("quality_gate_stream")
        .select("doc_id").as[Long].collect().toSet
      val batch = TextAnalysis.qualityGate(
        landed.toSeq.toDF("doc_id", "text"), 0.25)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.size < landed.length)
    } finally query.stop()
  }

  test("incrementalDedupStream drops store-known and in-stream duplicate texts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val store = Dedup.fingerprintStore(
      Seq((100L, "seen before")).toDF("doc_id", "text"))
    val input = MemoryStream[StreamDoc]
    val out = EventsStream.incrementalDedupStream(
      input.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")), store)
    val query = out.writeStream.format("memory").queryName("incr_dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        StreamDoc(1L, ts("2024-01-01 10:00:00"), "brand new"),
        StreamDoc(2L, ts("2024-01-01 10:00:10"), "seen before"), // in store
        StreamDoc(3L, ts("2024-01-01 10:00:20"), "brand new"),   // dup of 1
        StreamDoc(4L, ts("2024-01-01 10:00:30"), "another new"))
      query.processAllAvailable()
      val rows = spark.table("incr_dedup_stream").collect()
      val ids = rows.map(_.getLong(0)).toSet
      // store-known text gone; one survivor per distinct new text
      assert(!ids.contains(2L) && ids.contains(4L), rows.mkString(";"))
      assert(ids.intersect(Set(1L, 3L)).size === 1, rows.mkString(";"))
      // batch path: same admission semantics through the same entry point
      val batch = EventsStream.incrementalDedupStream(
        Seq(StreamDoc(1L, ts("2024-01-01 10:00:00"), "brand new"),
          StreamDoc(2L, ts("2024-01-01 10:00:10"), "seen before"),
          StreamDoc(3L, ts("2024-01-01 10:00:20"), "brand new")).toDS().toDF(), store)
      assert(batch.count() === 1)
    } finally query.stop()
  }

  test("IVF index maintains itself as embeddings stream in (same projection, file sink)") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.seedCentroids(emb, 8)
    val src = java.nio.file.Files.createTempDirectory("ivf_src").toString
    val out = java.nio.file.Files.createTempDirectory("ivf_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivf_ckpt").toString
    // first drop: half the corpus
    emb.where($"vec_id" % 2 === 0).write.parquet(s"$src/batch0")
    val stream = spark.readStream.schema(emb.schema).parquet(src + "/*")
    val query = Similarity.buildIvfIndex(stream, cents)
      .writeStream.format("parquet").partitionBy("cent_idx")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try {
      query.processAllAvailable()
      // second drop arrives later; the index catches up incrementally
      emb.where($"vec_id" % 2 === 1).write.parquet(s"$src/batch1")
      query.processAllAvailable()
      val index = spark.read.parquet(out)
      assert(index.count() === emb.count())
      val q = emb.orderBy($"vec_id".desc).limit(1)
      val streamed = Similarity.ivfTopKIndexed(index, cents, q, 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val direct = Similarity.ivfTopKIndexed(Similarity.buildIvfIndex(emb, cents), cents, q, 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(streamed === direct)
    } finally query.stop()
  }

  test("windowedAgg batch and streaming logic share one implementation (batch path)") {
    val ev = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:59:00"), "click", 2.0),
      (ts("2024-01-01 11:01:00"), "view", 3.0)
    ).toDF("ts", "event_type", "value")
    val out = EventsStream.windowedAgg(ev).orderBy($"wstart", $"event_type").collect()
    assert(out.length === 2)
    assert(out(0).getLong(2) === 2L && out(0).getDouble(3) === 3.0)
  }

  test("funnelStream advances per-user stages in order across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = EventsStream.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel").outputMode("append").start()
    try {
      // wave 1: user 1 views+clicks; user 2 clicks BEFORE viewing (the
      // click must not count — stage 2 needs a click after the view);
      // user 3 views
      input.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), "view", 1.0),
        Ev(1L, ts("2024-01-01 10:05:00"), "click", 1.0),
        Ev(2L, ts("2024-01-01 10:00:00"), "click", 1.0),
        Ev(2L, ts("2024-01-01 10:05:00"), "view", 1.0),
        Ev(3L, ts("2024-01-01 10:00:00"), "view", 1.0))
      query.processAllAvailable()
      // wave 2: user 1 completes the funnel; user 2 purchases without a
      // post-view click (still stage 1); user 3 clicks (stage 2)
      input.addData(
        Ev(1L, ts("2024-01-01 11:00:00"), "purchase", 9.0),
        Ev(2L, ts("2024-01-01 11:00:00"), "purchase", 9.0),
        Ev(3L, ts("2024-01-01 11:00:00"), "click", 1.0))
      query.processAllAvailable()
      val rows = spark.table("funnel")
        .select($"user_id", $"stage").as[(Long, Int)].collect().sorted
      assert(rows === Array((1L, 1), (1L, 2), (1L, 3), (2L, 1), (3L, 1), (3L, 2)),
        rows.mkString(","))
      // stage counts match the batch window query's semantics: 3/2/1
      val counts = spark.table("funnel").groupBy($"stage").count()
        .as[(Int, Long)].collect().sortBy(_._1)
      assert(counts === Array((1, 3L), (2, 2L), (3, 1L)))
    } finally query.stop()
    // batch mirror: the same operator over the same rows as a plain
    // Dataset emits the same stage advances
    val batch = Seq(
      Ev(1L, ts("2024-01-01 10:00:00"), "view", 1.0),
      Ev(1L, ts("2024-01-01 10:05:00"), "click", 1.0),
      Ev(2L, ts("2024-01-01 10:00:00"), "click", 1.0),
      Ev(2L, ts("2024-01-01 10:05:00"), "view", 1.0),
      Ev(3L, ts("2024-01-01 10:00:00"), "view", 1.0),
      Ev(1L, ts("2024-01-01 11:00:00"), "purchase", 9.0),
      Ev(2L, ts("2024-01-01 11:00:00"), "purchase", 9.0),
      Ev(3L, ts("2024-01-01 11:00:00"), "click", 1.0)).toDS()
    val batchRows = EventsStream.funnelStream(batch)
      .select($"user_id", $"stage").as[(Long, Int)].collect().sorted
    assert(batchRows === Array((1L, 1), (1L, 2), (1L, 3), (2L, 1), (3L, 1), (3L, 2)))
  }

  test("curationStream ≡ the batch pipeline stage for stage, replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, TextAnalysis}
    val all = Tables.documents(spark, sfDir).limit(120)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val benchDF = all.filter(_._1 % 10 == 0).toSeq.toDF("doc_id", "text")
    val corpus = all.filter(_._1 % 10 != 0)
    val corpusDF = corpus.toSeq.toDF("doc_id", "text")
    val thr = TextAnalysis.qualityThreshold(corpusDF, 0.25)
    val store = Dedup.fingerprintStore(
      Seq((9000L, corpus.head._2)).toDF("doc_id", "text")) // head text pre-seen
    val screen = Dedup.gramScreen(benchDF)

    val input = MemoryStream[StreamDoc]
    val out = EventsStream.curationStream(
      input.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")),
      thr, store, screen)
    val query = out.writeStream.format("memory").queryName("curation_stream")
      .outputMode("append").start()
    try {
      // feed in doc_id order so stream first-arrival == batch keep-first
      input.addData(corpus.sortBy(_._1).map { case (id, t) =>
        StreamDoc(id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      val streamed = spark.table("curation_stream")
        .select("doc_id").as[Long].collect().toSet

      // batch mirror through the SAME stage operators q_pipeline_e2e uses
      val gated = TextAnalysis.qualityGate(corpusDF, 0.25, keep = Seq("text"))
        .withColumn("__h", md5($"text"))
      val unseen = gated.join(store, gated("__h") === store("text_hash"), "left_anti")
      val deduped = graft.plans.GroupTopK.topKPerKey(
        unseen, Seq("__h"), Seq($"doc_id".asc), 1)
      val batch = screen(deduped).select("doc_id").as[Long].collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.size < corpus.length)

      // replaying the same wave admits nothing new (dedup state) and the
      // sink keeps exactly one row per admitted doc
      input.addData(corpus.sortBy(_._1).map { case (id, t) =>
        StreamDoc(id, ts("2024-01-01 10:30:00"), t) }.toSeq: _*)
      query.processAllAvailable()
      val replayed = spark.table("curation_stream").select("doc_id").as[Long].collect()
      assert(replayed.toSet === batch && replayed.length === replayed.toSet.size)
    } finally query.stop()
  }

  test("winsorizeStream clips against landed bounds; unseen groups pass unclipped") {
    implicit val sqlCtx = spark.sqlContext
    // landed bounds: group g with [lo, hi] = [2.0, 8.0] (from a landed
    // frame via the exact quantiles); the live stream then carries values
    // inside, below, above, and from a group the landed corpus never saw
    val landed = Seq.tabulate(101)(i => ("click", i * 0.1)).toDF("event_type", "value")
    val bounds = graft.operators.Quantiles.quantileCont(
      landed, "event_type", "value", Seq(0.2 -> "__lo", 0.8 -> "__hi"))
    val input = MemoryStream[Ev]
    val out = EventsStream.winsorizeStream(
      input.toDS().toDF().withColumn("ts", col("ts").cast("timestamp")), bounds)
    val query = out.writeStream.format("memory").queryName("winsor_stream")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), "click", 5.0),   // inside
        Ev(2L, ts("2024-01-01 10:00:01"), "click", -3.0),  // below lo -> 2.0
        Ev(3L, ts("2024-01-01 10:00:02"), "click", 99.0),  // above hi -> 8.0
        Ev(4L, ts("2024-01-01 10:00:03"), "mystery", 99.0)) // no bounds
      query.processAllAvailable()
      val rows = spark.table("winsor_stream")
        .select($"user_id", $"value_w", $"clipped")
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
      assert(rows(1L) === ((5.0, false)))
      assert(rows(2L) === ((2.0, true)))
      assert(rows(3L) === ((8.0, true)))
      assert(rows(4L) === ((99.0, false))) // new entity not distorted
    } finally query.stop()
  }

  test("gram screen on a stream: batch rows, conf named over cap") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir).limit(100)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val bench = docs.filter(_._1 % 10 == 0).toSeq.toDF("doc_id", "text")
    // one corpus doc copies a suite doc, so the screen has a row to drop
    val copied = docs.find(_._1 % 10 == 0).get._2
    val corpus = docs.filter(_._1 % 10 != 0).toSeq :+ (99999L -> copied)
    val screen = Dedup.gramScreen(bench)
    val input = MemoryStream[StreamDoc]
    val stream = input.toDS().toDF()
    val query = screen(stream).writeStream.format("memory").queryName("gram_screen")
      .outputMode("append").start()
    try {
      input.addData(corpus.map { case (id, t) => StreamDoc(id, ts("2024-01-01 10:00:00"), t) }: _*)
      query.processAllAvailable()
      val streamed = spark.table("gram_screen").select("doc_id").as[Long].collect().toSet
      val batch = screen(corpus.toDF("doc_id", "text")).select("doc_id").as[Long].collect().toSet
      assert(streamed === batch)
      assert(batch.nonEmpty && batch.size < corpus.length)
    } finally query.stop()
    val e = intercept[IllegalArgumentException] {
      Dedup.gramScreen(bench, cap = Some(0L))(stream)
    }
    assert(e.getMessage.contains("spark.graft.decontaminate.maxSuiteGrams"))
  }

  test("cardMergeBatch kill-and-restart: card converges to the batch card, " +
    "replay absorbed by delta overwrite + hash anti-join") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_card_stream").toString
    val (ckpt, store) = (s"$dir/ckpt", s"$dir/card")
    val input = MemoryStream[CardDoc]
    var seen = Vector.empty[Long]
    def start() = input.toDS().toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        EventsStream.cardMergeBatch(batch, store, id)
        seen :+= id
      }
      .option("checkpointLocation", ckpt).start()
    def doc(id: Long, text: String, lang: String, src: String) =
      CardDoc(id, text, lang, src, text.length.toLong)

    // wave 1: two cells, one exact dup inside the batch
    val q1 = start()
    try {
      input.addData(
        doc(1, "a b c", "en", "s1"),
        doc(2, "a b c", "en", "s1"),
        doc(3, "x y", "fr", "s1"))
      q1.processAllAvailable()
    } finally q1.stop()

    // wave 2 lands while the query is DOWN: a cross-BATCH dup of doc 1
    // (must count as a doc but not as a new distinct hash) plus a new cell
    input.addData(
      doc(4, "a b c", "en", "s1"),
      doc(5, "k l m n", "en", "s2"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = EventsStream.readCard(spark, store)
      .as[(String, String, Long, Long, Long, Double, Double)].collect().toSet
    // expected == the BATCH datasetCard over the union of both waves
    val all = Seq(
      doc(1, "a b c", "en", "s1"), doc(2, "a b c", "en", "s1"),
      doc(3, "x y", "fr", "s1"), doc(4, "a b c", "en", "s1"),
      doc(5, "k l m n", "en", "s2")).toDF()
    val expected = graft.operators.TextAnalysis.datasetCard(all)
      .as[(String, String, Long, Long, Long, Double, Double)].collect().toSet
    assert(got === expected)
    // s1/en holds docs 1,2,4 — one distinct text across three docs
    assert(got.exists { case (s, l, n, _, _, _, d) =>
      s == "s1" && l == "en" && n == 3 && math.abs(d - 2.0 / 3) < 1e-6
    })

    // REPLAY a committed batch straight through the merge body (the
    // at-least-once path a crash between store write and checkpoint
    // commit produces): delta partition 0 overwrites itself, the hash
    // anti-join re-drops everything — the card must not move
    EventsStream.cardMergeBatch(
      Seq(doc(1, "a b c", "en", "s1"), doc(2, "a b c", "en", "s1"),
        doc(3, "x y", "fr", "s1")).toDF(), store, 0L)
    val replayed = EventsStream.readCard(spark, store)
      .as[(String, String, Long, Long, Long, Double, Double)].collect().toSet
    assert(replayed === expected)
    assert(seen.size === 2)
  }
}
