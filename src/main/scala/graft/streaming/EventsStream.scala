package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the events stream — the always-on version of
  * the reference's daily batch pull (main.py's per-day append loop becomes a
  * watermarked continuous aggregation).
  *
  * Every transform here is identical in batch and streaming (the watermark
  * is applied only when the source is streaming), so the batch oracle
  * queries validate the streaming logic too.
  */
object EventsStream {

  /** Tumbling-window aggregate per event type: 1-hour windows, 1-hour
    * watermark for late data. State is bounded by (windows in watermark ×
    * event types) — constant per key at any scale.
    */
  def windowedAgg(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("total"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("total"))
  }

  /** Hopping-window face of [[windowedAgg]] (the streaming side of
    * q_sliding_window): 1 h windows sliding every 30 min, so each event
    * lands in size/slide = 2 open windows. State is (types × open windows)
    * and the watermark finalizes a window once per slide step — the
    * overlap multiplies state by the constant size/slide, never the event
    * rate.
    */
  def slidingAgg(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("total"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("total"))
  }

  /** Daily OHLCV bars maintained continuously — the streaming face of the
    * bar columns of Ohlc.dailySummary (identical aggregate functions), with
    * a 1-day watermark bounding state to the open day per entity.
    */
  def streamingBars(events: DataFrame): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 day") else events
    src
      .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("volume"))
      .select(col("user_id"), col("w.start").cast("date").as("d"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
  }

  /** Watermarked stream-stream interval join: each fact (click) row pairs
    * with the dim (purchase) rows for the same key within `lookbackSec`
    * BEFORE it. Both sides' state is bounded by watermark + interval — the
    * built-in symmetric hash join handles cleanup. This is the Spark-native
    * shape when "recent context rows" are wanted; when ONLY the latest
    * at-or-before row matters, use [[streamingAsOf]].
    */
  def streamStreamJoin(facts: DataFrame, dims: DataFrame, lookbackSec: Long = 3600): DataFrame = {
    val f = (if (facts.isStreaming) facts.withWatermark("ts", "1 hour") else facts)
      .select(col("user_id"), col("ts").as("fact_ts"), col("value").as("fact_value"))
    val d = (if (dims.isStreaming) dims.withWatermark("ts", "1 hour") else dims)
      .select(col("user_id").as("d_user_id"), col("ts").as("dim_ts"),
        col("value").as("dim_value"))
    f.join(d,
      col("user_id") === col("d_user_id") &&
        col("dim_ts") >= col("fact_ts") - expr(s"interval $lookbackSec seconds") &&
        col("dim_ts") <= col("fact_ts"),
      "leftOuter")
      .select(col("user_id"), col("fact_ts"), col("fact_value"), col("dim_ts"), col("dim_value"))
  }

  /** Streaming NEAR-dedup for a document stream: rows whose SimHash64
    * fingerprints collide within the watermark delay collapse to the first
    * arrival — trivially-reformatted duplicates (the normalizer runs before
    * hashing) fold together without any pairwise comparison, the only
    * near-dup shape a one-pass stream admits (bucketed LSH candidate
    * generation needs a second pass over the bucket; run the batch
    * operators over the landed data for hamming > 0 recall). State per
    * fingerprint expires with the watermark — O(docs within the delay).
    * Batch path: the same fingerprint through dropDuplicates.
    */
  def nearDedupWithinWatermark(docs: DataFrame, textCol: String = "text",
                               delay: String = "1 hour"): DataFrame = {
    val normed = lower(regexp_replace(col(textCol), "\\s+", " "))
    val keyed = docs.withColumn("__simhash",
      graft.plans.Exprs.simhash(split(trim(normed), " ")))
    val out =
      if (docs.isStreaming)
        keyed.withWatermark("ts", delay).dropDuplicatesWithinWatermark("__simhash")
      else keyed.dropDuplicates("__simhash")
    out.drop("__simhash")
  }

  /** Daily-reach maintenance — the streaming side of q_rolling_distinct's
    * lambda pair: the stream maintains the DEDUPLICATED (user, day) grain
    * (dropDuplicatesWithinWatermark — first arrival per user-day wins,
    * state expires with the watermark, so memory is O(active user-days in
    * the delay), never O(users ever)) and folds it into exact per-day
    * distinct counts with a tumbling daily window — two chained stateful
    * operators, watermark propagated between them. The trailing-7-day
    * union is the batch side's job (Activity.rollingDistinct over the
    * same grain): exact multi-day DISTINCT in a sliding window would need
    * per-window set state, which is precisely what the grain avoids.
    * Batch path: plain distinct + the same daily aggregate (the mirror
    * the oracle checks).
    */
  def reachStream(events: DataFrame, delay: String = "2 days"): DataFrame = {
    val keyed = events.select(col("user_id"),
      date_trunc("DAY", col("ts")).as("d"))
    val grain =
      if (events.isStreaming)
        keyed.withWatermark("d", delay)
          .dropDuplicatesWithinWatermark("user_id", "d")
      else keyed.distinct()
    grain
      .groupBy(window(col("d"), "1 day").as("w"))
      .agg(count(lit(1)).as("daily_active"))
      .select(col("w.start").cast("date").as("d"), col("daily_active"))
  }

  /** Streaming exact dedup on `keys`: duplicates arriving within the
    * watermark delay of each other collapse to the first arrival; state per
    * key expires with the watermark, so memory is O(keys within the delay),
    * not O(all keys ever) — the difference between dropDuplicates (unbounded
    * state, eventually OOM on an infinite stream) and the production shape.
    * Batch path: plain dropDuplicates (same key semantics, no time bound).
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           delay: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)

  /** Streaming incremental dedup — the continuous face of
    * `Dedup.deduplicateIncremental`: a live document stream anti-joins its
    * md5 fingerprints against the persisted STORE (stream-static left_anti
    * — the static side re-resolves per micro-batch, so appending to the
    * store tightens dedup going forward without a restart), and duplicates
    * WITHIN the stream collapse via watermark-bounded first-arrival state.
    * State is O(fingerprints within the delay); history costs one
    * fingerprint join, never a text comparison.
    */
  def incrementalDedupStream(docs: DataFrame, store: DataFrame,
                             textCol: String = "text",
                             delay: String = "1 hour",
                             idCol: String = "doc_id"): DataFrame = {
    val hashed = docs.withColumn("__h", md5(col(textCol)))
    val unseen = hashed.join(store, hashed("__h") === store("text_hash"), "left_anti")
    val out =
      if (docs.isStreaming)
        unseen.withWatermark("ts", delay).dropDuplicatesWithinWatermark("__h")
      else
        // batch mirror of first-arrival: keep-MIN-id via the GroupTopK
        // heap — dropDuplicates keeps an arbitrary partition-order row,
        // which no oracle can reproduce
        graft.plans.GroupTopK.topKPerKey(unseen, Seq("__h"), Seq(col(idCol).asc), 1)
    out.drop("__h")
  }

  /** One micro-batch of streaming dataset-card maintenance — the release
    * card (q_dataset_card's grain) kept current with EXACTLY-ONCE
    * semantics on the at-least-once foreachBatch delivery, from two
    * replay-convergent stores:
    *  - additive stats (docs / chars / tokens per (source, lang)) land as
    *    per-batch DELTA partitions keyed by batchId via dynamic
    *    partition overwrite — a replayed batch overwrites ITS OWN
    *    partition with identical content and converges;
    *  - the exact-dup hash store appends only hashes ABSENT from the
    *    store: the batch's distinct hashes broadcast INTO a store
    *    semi-join (store SCAN-only, never shuffled) and the surviving
    *    duplicates broadcast back for the anti-join, so a replay
    *    re-drops whatever the crashed attempt already appended.
    * The card itself is DERIVED ([[readCard]]), never stored — no
    * read-modify-write race exists for it.
    */
  def cardMergeBatch(batch: DataFrame, storeDir: String, batchId: Long,
                     textCol: String = "text"): Unit = {
    val s = batch.sparkSession
    val b = batch.persist() // read twice: stats pass + hash pass
    try {
      if (!b.isEmpty) {
        b.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(graft.operators.TextAnalysis.tokenCount(textCol)).as("total_tokens"))
          .withColumn("__batch", lit(batchId))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch").parquet(s"$storeDir/deltas")
        val hashes = b
          .select(col("source"), col("lang"), md5(col(textCol)).as("h"))
          .distinct()
        val hashDir = s"$storeDir/hashes"
        val p = new org.apache.hadoop.fs.Path(hashDir)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val fresh =
          if (fs.exists(p) && fs.listStatus(p).nonEmpty) {
            val store = s.read.parquet(hashDir)
            val dups = store.join(broadcast(hashes), Seq("source", "lang", "h"),
              "left_semi")
            hashes.join(broadcast(dups), Seq("source", "lang", "h"), "left_anti")
          } else hashes
        fresh.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(hashDir)
      }
    } finally { b.unpersist(); () }
  }

  /** Derive the current dataset card from the two card stores — identical
    * columns and rounding to the batch [[graft.operators.TextAnalysis
    * .datasetCard]], so one oracle checks both faces. Deltas aggregate to
    * the card grain; the dup rate reads the hash store's per-grain
    * distinct counts (exact — the store IS the distinct set).
    */
  def readCard(s: org.apache.spark.sql.SparkSession, storeDir: String): DataFrame = {
    val stats = s.read.parquet(s"$storeDir/deltas")
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_chars")).as("total_chars"),
        sum(col("total_tokens")).as("total_tokens"))
    val dist = s.read.parquet(s"$storeDir/hashes")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_distinct"))
    stats.join(dist, Seq("source", "lang"))
      .select(col("source"), col("lang"), col("n_docs"), col("total_chars"),
        col("total_tokens"),
        round(col("total_tokens") / col("n_docs").cast("double"), 6).as("mean_tokens"),
        round(lit(1.0) - col("n_distinct") / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
      .orderBy(col("source"), col("lang"))
  }

  /** Streaming quality gate — the continuous face of
    * `TextAnalysis.qualityGate`: each arriving document is scored at scan
    * speed and kept iff its quality clears the threshold frame
    * (`TextAnalysis.qualityThreshold(landedCorpus, q)` — a ONE-ROW static
    * frame, broadcast-joined on a constant key so the stream side never
    * shuffles). The quantile comes from the LANDED corpus by contract —
    * a live stream cannot see its own percentile, and pinning the cut to
    * data at rest makes replayed batches make identical decisions. For
    * live refresh, wrap in foreachBatch and recompute the threshold per
    * micro-batch.
    */
  def qualityGateStream(docs: DataFrame, threshold: DataFrame,
                        textCol: String = "text", idCol: String = "doc_id",
                        keep: Seq[String] = Nil): DataFrame =
    graft.operators.TextAnalysis.qualityScore(docs, textCol, idCol, keep)
      .withColumn("__k", lit(1))
      .join(broadcast(threshold.withColumn("__k", lit(1))), "__k")
      .where(col("quality") >= col("__thr"))
      .drop("__k", "__thr")

  /** Streaming winsorization — robust normalization's continuous face,
    * completing the batch/streaming symmetry for the exact-quantile
    * family. Each arriving row's value clips to its group's [lo, hi]
    * bounds computed from the LANDED corpus
    * (`Quantiles.quantileCont(landed, key, value, Seq(lo -> "__lo",
    * hi -> "__hi"))`) — a live stream cannot see its own quantiles, and
    * pinning the bounds to data at rest makes replayed batches make
    * identical decisions (the same contract as the quality-gate threshold
    * and the decontamination gram set). The bounds frame is group-sized and
    * broadcast; the stream side never shuffles (stateless stream-static
    * left join + projection). Rows whose group has no landed bounds pass
    * through UNCLIPPED with `clipped = false` — a new entity must not be
    * silently distorted by another group's tails; refresh the bounds via
    * foreachBatch re-resolution when live refresh matters.
    */
  def winsorizeStream(stream: DataFrame, bounds: DataFrame,
                      keyCol: String = "event_type",
                      valueCol: String = "value"): DataFrame =
    stream
      .join(broadcast(bounds.select(col(keyCol), col("__lo"), col("__hi"))),
        Seq(keyCol), "left")
      .withColumn("value_w",
        when(col("__lo").isNull, col(valueCol))
          .when(col(valueCol) < col("__lo"), col("__lo"))
          .when(col(valueCol) > col("__hi"), col("__hi"))
          .otherwise(col(valueCol)))
      .withColumn("clipped", col("__lo").isNotNull && col(valueCol).isNotNull &&
        (col(valueCol) < col("__lo") || col(valueCol) > col("__hi")))
      .drop("__lo", "__hi")

  /** Streaming drift monitor — each micro-batch's Population Stability
    * Index against the LANDED reference distribution
    * ([[graft.operators.Quantiles.psiReference]]): the retrain alarm,
    * continuously. The reference bin bounds and smoothed proportions are
    * materialized ONCE at build time (model-sized: group × k rows — a
    * micro-batch must never re-run the landed quantiles); each batch then
    * bins at scan speed against the broadcast bounds and `sink` receives
    * one (group, psi, batch_id) row per group per batch. Groups absent
    * from the reference emit nothing — a new entity has no reference
    * distribution to drift from; extend the landed corpus and rebuild the
    * monitor when it should.
    */
  def psiMonitor(stream: DataFrame, reference: DataFrame,
                 keyCol: String = "event_type", valueCol: String = "value",
                 k: Int = 10)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Quantiles
    val spark = reference.sparkSession
    val (bounds, props) = Quantiles.psiReference(reference, keyCol, valueCol, k)
    // BOTH reference frames collapse to local relations at build time —
    // passing the lazy `bounds` plan through would re-run the landed
    // quantile aggregation inside every micro-batch (and silently shift
    // the baseline if the reference path grows between batches)
    val boundsLocal = spark.createDataFrame(
      spark.sparkContext.parallelize(bounds.collect().toSeq, 1), bounds.schema)
    val propsLocal = spark.createDataFrame(
      spark.sparkContext.parallelize(props.collect().toSeq, 1), props.schema)
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(Quantiles.psiAgainst(batch.toDF(), keyCol, valueCol, k, boundsLocal, propsLocal)
          .withColumn("batch_id", lit(batchId)), batchId)
        ()
    }
  }

  /** Streaming grid-KS drift monitor — [[psiMonitor]]'s sup-norm sibling
    * ([[graft.operators.Quantiles.ksAgainst]]): each micro-batch's
    * empirical CDF is compared against the LANDED reference's quantile
    * grid at the grid points, where the reference CDF is i/k by
    * construction — so scoring a batch never touches reference rows, only
    * the model-sized broadcast bounds. PSI reacts to mass reallocation
    * between bins; KS bounds the worst single CDF gap — a narrow shift
    * that PSI smears across two bins still moves the sup-norm. Same
    * build-once contract: bounds materialize at query build, a batch must
    * never re-run the landed quantiles.
    */
  def ksMonitor(stream: DataFrame, reference: DataFrame,
                keyCol: String = "event_type", valueCol: String = "value",
                k: Int = 10)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Quantiles
    val spark = reference.sparkSession
    val (bounds, _) = Quantiles.psiReference(reference, keyCol, valueCol, k)
    // materialize at build time (same contract as psiMonitor): a lazy
    // bounds plan would re-execute the reference quantiles every batch
    val boundsLocal = spark.createDataFrame(
      spark.sparkContext.parallelize(bounds.collect().toSeq, 1), bounds.schema)
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(Quantiles.ksAgainst(batch.toDF(), keyCol, valueCol, k, boundsLocal)
          .withColumn("batch_id", lit(batchId)), batchId)
        ()
    }
  }

  /** Streaming benchmark decontamination — the continuous face of
    * `Dedup.decontaminate`. The batch shape (explode grams → semi-join →
    * doc-level anti-join) needs a stream-derived dirty-id set joined back
    * against its own stream, which structured streaming cannot express
    * statelessly; instead the decision is made PER ROW: the benchmark's
    * distinct gram set collapses to a ONE-ROW static frame (the same
    * landed-data contract as the gate threshold), broadcast-joins on a
    * constant key, and `arrays_overlap` answers "shares any 8-gram" at
    * scan speed with zero state. Identical admission semantics to the
    * batch anti-join — both test gram-set intersection with the suite.
    * Scale shape: the suite-size term is gone from the per-row cost. An
    * earlier shape confirmed with `arrays_overlap` against the full gram
    * array (O(|bg|) for every row its bloom pre-screen flagged) — at the
    * 10× rung that term DOMINATED the measured ratio (fixed-suite 1.05×
    * vs 16.8× with the suite grown alongside the corpus). The screen is
    * now ONE exact probe: the suite's distinct grams live in a broadcast,
    * executor-cached hash set ([[graft.plans.StringSetContains]]) and
    * `exists` asks each DOC gram for O(1) exact membership — O(doc grams)
    * per row total, zero false positives, no join, no bloom needed at
    * broadcastable suite sizes (past broadcast scale,
    * `Dedup.decontaminateBloom`'s bloom + confirm-join is the shape).
    */
  def decontaminateStream(docs: DataFrame, benchGrams: DataFrame, n: Int = 8,
                          textCol: String = "text"): DataFrame =
    decontaminator(benchGrams, n, textCol)(docs)

  /** The decontamination screen as a reusable transform: building it runs
    * the gram-set collect ONCE (one job over the static suite) and ships
    * it as a broadcast; applying it is pure plan construction. Use this
    * form wherever the screen is applied repeatedly — foreachBatch
    * pipelines must NOT rebuild the set per micro-batch.
    */
  def decontaminator(benchGrams: DataFrame, n: Int = 8,
                     textCol: String = "text"): DataFrame => DataFrame = {
    import graft.operators.Dedup
    import graft.plans.Exprs
    val spark = benchGrams.sparkSession
    // the suite gram set is collected for the broadcast probe set — gated
    // like every driver-sized precondition (default 10M grams ≈ ~0.5 GB):
    // past broadcast scale the right shape is Dedup.decontaminateBloom's
    // bloom + exact confirm JOIN, and this fails loudly saying so
    val cap = spark.conf
      .get("spark.graft.decontaminate.maxSuiteGrams", "10000000").toLong
    val grams = benchGrams.select(explode(col("__bg")).as("g")).distinct()
      .limit((cap + 1).toInt)
      .collect().map(_.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    require(grams.length <= cap,
      s"decontaminator ships the suite gram set as a broadcast — got more than $cap " +
        s"distinct grams; use Dedup.decontaminateBloom past broadcast scale or raise " +
        s"spark.graft.decontaminate.maxSuiteGrams")
    val bc = spark.sparkContext.broadcast(grams)
    val inSuite = (g: Column) => Exprs.stringSetContains(g, bc)
    docs =>
      docs
        .withColumn("__toks", Dedup.tokens(textCol))
        .withColumn("__grams", Dedup.ngramsOfTokens("__toks", n))
        .where(!exists(col("__grams"), inSuite))
        .drop("__toks", "__grams")
  }

  /** The benchmark gram set for [[decontaminateStream]] as a one-row
    * static frame (column `__bg`).
    */
  def benchmarkGrams(benchmark: DataFrame, n: Int = 8,
                     textCol: String = "text"): DataFrame =
    benchmark
      .select(graft.operators.Dedup.tokens(textCol).as("__toks"))
      .select(explode(graft.operators.Dedup.ngramsOfTokens("__toks", n)).as("g"))
      .distinct()
      .agg(collect_list(col("g")).as("__bg"))

  /** The curation pipeline's CONTINUOUS face — q_pipeline_e2e stage for
    * stage: quantile quality gate (threshold from the landed corpus) →
    * incremental exact dedup (persisted fingerprint store + in-stream
    * watermark state) → benchmark decontamination (one-row gram-set
    * broadcast). Every per-stage contract carries over: the static frames
    * re-resolve per micro-batch, state is bounded by the watermark, and a
    * replayed batch makes identical decisions end to end. Emits the
    * curated manifest (id, ts, n_tokens, quality).
    */
  def curationStream(docs: DataFrame, threshold: DataFrame, store: DataFrame,
                     benchGrams: DataFrame, n: Int = 8,
                     textCol: String = "text", idCol: String = "doc_id",
                     delay: String = "1 hour"): DataFrame = {
    val gated = qualityGateStream(docs, threshold, textCol, idCol,
      keep = Seq(textCol, "ts"))
    val deduped = incrementalDedupStream(gated, store, textCol, delay)
    decontaminateStream(deduped, benchGrams, n, textCol)
      .select(col(idCol), col("ts"), col("n_tokens"), col("quality"))
  }

  case class AsOfIn(user_id: Long, ts: Timestamp, is_dim: Boolean, value: Double)
  case class AsOfBuffers(facts: Seq[(Long, Double)], dims: Seq[(Long, Double)])
  case class AsOfOut(user_id: Long, ts: Timestamp, value: Double, dim_value: Option[Double])

  /** Streaming as-of join — the continuous version of AsOfJoin.asOf: every
    * fact row is enriched with the LATEST dim value at-or-before its event
    * time, exactly once, late data included up to the watermark delay.
    *
    * Mechanics: both streams union into one keyed stream (one shuffle, like
    * the batch operator); per key, facts buffer until the watermark passes
    * their timestamp — only then can no older dim still arrive, so the
    * at-or-before lookup is final. Emitted facts leave the state; dims
    * older than every remaining fact collapse to a single floor entry.
    * State per key is O(events within the watermark delay), the same bound
    * the built-in stream-stream join carries. Event-time timeout flushes
    * keys whose facts ripen with no new rows arriving.
    */
  def streamingAsOf(facts: Dataset[Ev], dims: Dataset[Ev],
                    delay: String = "10 seconds"): Dataset[AsOfOut] = {
    import facts.sparkSession.implicits._
    val streaming = facts.isStreaming
    val tagged = facts.map(e => AsOfIn(e.user_id, e.ts, is_dim = false, e.value))
      .union(dims.map(e => AsOfIn(e.user_id, e.ts, is_dim = true, e.value)))
    val src = if (streaming) tagged.withWatermark("ts", delay) else tagged

    // state buffers hold MICROseconds — Timestamp.getTime alone is millis
    // and would silently truncate parquet's micro-precision event times
    def micros(t: Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000
    def fromMicros(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }

    def lookup(dims: Seq[(Long, Double)], tsUs: Long): Option[Double] =
      dims.foldLeft(Option.empty[(Long, Double)]) { (best, d) =>
        if (d._1 <= tsUs && best.forall(_._1 <= d._1)) Some(d) else best
      }.map(_._2)

    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[AsOfIn], state: GroupState[AsOfBuffers]) => {
          val prev = state.getOption.getOrElse(AsOfBuffers(Nil, Nil))
          val incoming = rows.toSeq
          val fs = prev.facts ++ incoming.filter(!_.is_dim).map(e => (micros(e.ts), e.value))
          var ds = prev.dims ++ incoming.filter(_.is_dim).map(e => (micros(e.ts), e.value))
          val wmUs =
            if (!streaming) Long.MaxValue
            else state.getCurrentWatermarkMs() match {
              case ms if ms >= Long.MaxValue / 1000 => Long.MaxValue
              case ms => ms * 1000
            }
          // a fact is final once the watermark passed it STRICTLY: Spark's
          // late filter admits rows with ts == watermark, so an equal-ts
          // dim can still arrive while wm == fact.ts
          val (ripe, pending) = fs.partition(f => wmUs == Long.MaxValue || f._1 < wmUs)
          val out = ripe.sortBy(f => (f._1, f._2)).map { case (t, v) =>
            AsOfOut(userId, fromMicros(t), v, lookup(ds, t))
          }
          if (streaming) {
            // dims older than every pending fact collapse to the single
            // latest one ≤ that horizon (the as-of floor); newer dims stay
            val horizon = (pending.map(_._1) :+ wmUs).min
            val floor = ds.filter(_._1 <= horizon).sortBy(_._1).lastOption
            ds = floor.toSeq ++ ds.filter(_._1 > horizon)
            if (pending.isEmpty && ds.isEmpty) state.remove()
            else {
              state.update(AsOfBuffers(pending, ds))
              // arm a timer ONLY while facts are pending (to flush them
              // when the watermark ripens past their ts). A key holding
              // just its as-of floor needs no timer: timeouts reset every
              // invocation, so not re-arming stops idle keys from being
              // timer-woken on every watermark advance forever.
              if (pending.nonEmpty) {
                val wmMs = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                  math.max(pending.map(_._1 / 1000).min, wmMs + 1))
              }
            }
          }
          out.iterator
        })
  }

  /** Sessionization through the built-in session window — the declarative
    * sibling of [[sessionize]] (custom state) and operators.Sessionize
    * (batch windows): `session_window(ts, gap)` merges events whose gaps
    * stay under `gapSec`, state expires with the watermark, and the SAME
    * expression aggregates a batch frame. Prefer this when per-session
    * output is a plain aggregate; drop to [[sessionize]] when the session
    * logic needs imperative state (mid-session emission, custom close
    * conditions).
    */
  def sessionizeWindowed(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "10 seconds") else events
    src
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSec seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("total_value"))
  }

  case class WinCount(wstart: Timestamp, wend: Timestamp, user_id: Long, n: Long)
  case class TopKBuf(items: Seq[(Long, Long)]) // (n, user_id), bounded at k
  case class TopOut(wstart: Timestamp, user_id: Long, n: Long)

  /** Continuous per-window top-k — "most active entities each hour",
    * emitted once per finalized window: a watermarked windowed count
    * (stateful op #1) feeds a per-window top-k selection
    * (flatMapGroupsWithState, stateful op #2). The second stage needs NO
    * state and no timeout: an append-mode window aggregate finalizes a
    * window WHOLESALE — the batch in which the watermark first passes the
    * window end evicts every (window, entity) count at once — so each
    * group call sees its window's complete count set and can rank
    * immediately. The selection therefore only ever touches finalized
    * counts (bounded by entities per window), never the raw stream. Ties
    * resolve (count desc, entity asc): deterministic, batch-mirrorable —
    * on a batch frame the same code ranks in one pass (the oracle shape
    * for `q_stream_topk`).
    */
  def streamingTopEntities(events: DataFrame, k: Int): Dataset[TopOut] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", "1 hour") else events
    val counts = src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("w.end").as("wend"),
        col("user_id"), col("n"))
      .as[WinCount]

    def better(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

    counts
      .groupByKey(_.wstart)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (wstart: Timestamp, rows: Iterator[WinCount], state: GroupState[TopKBuf]) => {
          val top = rows.map(r => (r.n, r.user_id)).toSeq.sortWith(better).take(k)
          top.iterator.map { case (n, u) => TopOut(wstart, u, n) }
        })
  }

  case class FunnelState(t1: Long, t2: Long, t3: Long) // epoch ms, -1 = stage not reached
  case class FunnelOut(user_id: Long, stage: Int, ts: Timestamp)

  /** Streaming face of the batch ordered funnel (q_funnel): per-user O(1)
    * state holds the first-hit time of each completed stage, and a row is
    * emitted the moment a user ADVANCES a stage — stage n+1 fires only on
    * an event strictly after stage n's hit, the batch query's gating.
    * Events are processed in event-time order within each micro-batch;
    * fed in event-time order (what the watermark bounds), the emitted
    * stage counts equal the batch window query's exactly — the greedy
    * first-view / first-click-after / first-purchase-after chain IS the
    * batch conditional-min chain. An earlier-stage event that arrives
    * AFTER a later batch already advanced past it is ignored (it cannot
    * improve a min already committed downstream) — the standard streaming
    * funnel contract. Works identically on a batch Dataset (spec-mirrored).
    */
  def funnelStream(events: Dataset[Ev],
                   stages: Seq[String] = Seq("view", "click", "purchase")): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    require(stages.length == 3)
    val src = if (events.isStreaming) events.withWatermark("ts", "10 seconds") else events
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Ev], state: GroupState[FunnelState]) => {
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = Seq.newBuilder[FunnelOut]
          rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            if (s.t1 < 0 && e.event_type == stages(0)) {
              s = s.copy(t1 = t); out += FunnelOut(userId, 1, e.ts)
            } else if (s.t1 >= 0 && s.t2 < 0 && e.event_type == stages(1) && t > s.t1) {
              s = s.copy(t2 = t); out += FunnelOut(userId, 2, e.ts)
            } else if (s.t2 >= 0 && s.t3 < 0 && e.event_type == stages(2) && t > s.t2) {
              s = s.copy(t3 = t); out += FunnelOut(userId, 3, e.ts)
            }
          }
          state.update(s)
          out.result().iterator
        })
  }

  case class Ev(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  case class SessionState(nEvents: Long, total: Double, startMs: Long, lastMs: Long)
  case class SessionOut(user_id: Long, n_events: Long, total_value: Double, duration_sec: Double)

  /** Sessionization with explicit state: a session closes after `gapSec` of
    * event-time inactivity — either inline (the key's next event arrives
    * past the gap) or via event-time timeout once the watermark passes the
    * gap. Event-time (not processing-time) timeout matters operationally:
    * batches trigger only on data/watermark progress, so an idle stream is
    * idle — no busy empty-batch loop. State per user is O(1).
    */
  def sessionize(events: Dataset[Ev], gapSec: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val src = if (streaming) events.withWatermark("ts", "10 seconds") else events
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.nEvents, s.total, (s.lastMs - s.startMs) / 1000.0))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= gapSec * 1000 =>
                  cur = Some(s.copy(nEvents = s.nEvents + 1, total = s.total + e.value, lastMs = t))
                case Some(s) =>
                  closed += SessionOut(userId, s.nEvents, s.total, (s.lastMs - s.startMs) / 1000.0)
                  cur = Some(SessionState(1, e.value, t, t))
                case None =>
                  cur = Some(SessionState(1, e.value, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (streaming) {
                // must stay ahead of the current watermark or Spark rejects it
                val wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(math.max(s.lastMs + gapSec * 1000, wm + 1))
              }
            }
            closed.result().iterator
          }
        })
  }
}
