package graft

import graft.functions.Fns
import graft.operators._
import graft.streaming.EventsStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Conventions shared by every query and its DuckDB oracle:
  *   - float aggregations accumulate in decimal and cast out once
  *     (Fns.exactSum / dotExact), so results are bit-identical across
  *     engines and partition counts;
  *   - every division is guarded with nullif;
  *   - timestamps are normalized to TIMESTAMP_NTZ (what DuckDB calls
  *     TIMESTAMP), so parquet round-trips agree;
  *   - computed doubles are rounded identically on both sides.
  */
object SparkEntry {

  /** Events with `ts` normalized to TIMESTAMP_NTZ — the type DuckDB calls
    * TIMESTAMP, so parquet output round-trips agree with the oracle. The
    * physical encoding of `ts` has changed between testdata generations
    * (nanos-as-long vs TIMESTAMP(MICROS)), so branch on what actually
    * loaded rather than assuming one encoding.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.events(s, dir)
    Fns.normalizeTsNtz(df, "ts")
  }

  private def ordersNtz(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz"))

  private def lineitemNtz(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).withColumn("l_shipdate", col("l_shipdate").cast("timestamp_ntz"))

  /** The event types q_pivot_wide and q_unpivot spread into columns. */
  private val pivotTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The daily summary of the events table's current snapshot
    * (Ohlc.dailySummary: the daily bars, each day's `last_ts`, its last
    * purchase value as `shares` and last signup value as `outstanding`,
    * and one `sum_<type>` per pivot type): built once per snapshot and
    * shared by every daily-series key over it (and by Sinks' restates of
    * derived tables). The frame is a lazy checkpoint — it fills in the
    * first job that reads it and cuts the lineage there, so no shuffle
    * stays reachable — owned by a [[StateCache]] entry tied to the
    * snapshot, so the between-queries reaper keeps it and a later read of
    * the events path that lists a changed file set frees it. A table
    * without `event_type` (bare ticks) still gets its bars.
    */
  private def daily(s: SparkSession, dir: String): DataFrame = {
    val snap = Tables.eventsSnapshot(s, dir)
    StateCache.frame(s, s"daily:$dir@${snap.source.fingerprint}", Some(snap.source)) {
      Graft.materialize(dailySummary(Fns.normalizeTsNtz(snap.df, "ts")), eager = false)
    }
  }

  /** The aggregate behind [[daily]], over normalized events. */
  private[graft] def dailySummary(ev: DataFrame): DataFrame = {
    val typed = ev.columns.contains("event_type")
    Ohlc.dailySummary(ev,
      if (typed) Seq("shares" -> "purchase", "outstanding" -> "signup") else Nil,
      if (typed) pivotTypes else Nil)
  }

  private def bars(s: SparkSession, dir: String): DataFrame =
    daily(s, dir).select("user_id", "d", "open", "high", "low", "close", "volume")

  // String literals in comparisons coerce to the ts column's own timestamp
  // type, so cutoffs work whether the source reads as LTZ or NTZ.
  private def tsNtz(litStr: String): Column = lit(litStr)

  private val entityDay = Window.partitionBy(col("user_id")).orderBy(col("d"))

  // close-to-close daily return over entityDay, zero-close-guarded —
  // shared by every return-statistic key (volatility, beta, autocorr,
  // seasonality, skew/kurt, lead-lag) so the guard and the lag tie
  // semantics cannot drift between them or their mirrored oracles
  private def dailyReturn: Column =
    col("close") / nullif(lag(col("close"), 1).over(entityDay), lit(0.0)) - 1

  // q_macd truncation depths: 60 lags leave < 1% tail weight on the
  // 26-span EMA ((25/27)^60 ≈ 0.0098), 15 on the 9-span signal. Shared
  // with the oracle generator so the lag terms mirror 1:1.
  private val macdLags = 60
  private val signalLags = 15

  private def exactSumD(c: Column): Column = sum(c.cast("decimal(28,6)")).cast("double")

  // returns are O(1e-2): 12 fractional digits keep the decimal-exact sum
  // meaningful where 6 would quantize the signal away
  private def exactSumD12(c: Column): Column = sum(c.cast("decimal(28,12)")).cast("double")

  /** The decimal moments of paired series x, y — (s1, s2, sxx, syy, sxy,
    * n), each sum by `exactSum` — for [[pearson]].
    */
  private def pearsonMoments(x: Column, y: Column, exactSum: Column => Column): Seq[Column] =
    Seq(exactSum(x).as("s1"), exactSum(y).as("s2"),
      exactSum(x * x).as("sxx"), exactSum(y * y).as("syy"), exactSum(x * y).as("sxy"),
      count(lit(1)).cast("double").as("n"))

  /** Pearson correlation from decimal moments, rounded to 6 (NULL on a
    * zero-variance series): over the columns n, sx, sy, sxx, syy, sxy —
    * [[pearsonMoments]]' names by default.
    */
  private def pearson(sx: String = "s1", sy: String = "s2", sxx: String = "sxx",
                      syy: String = "syy", sxy: String = "sxy"): Column = {
    val n = col("n")
    round((n * col(sxy) - col(sx) * col(sy)) /
      nullif(sqrt(n * col(sxx) - col(sx) * col(sx)) *
        sqrt(n * col(syy) - col(sy) * col(sy)), lit(0.0)), 6)
  }

  /** The 10 most active entities (most daily bars, ties to the lower id)
    * of a bars frame, as (user_id) — the series the pair keys correlate.
    */
  private def topActive(b: DataFrame): DataFrame =
    b.groupBy(col("user_id")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("user_id")).limit(10).select("user_id")

  // ---- per-context shared artifacts ------------------------------------
  // Model-sized state that several query keys consume (trained codebooks,
  // a materialized truth set, persisted index builds) is built once per
  // (SparkContext, dataset) through [[StateCache]].

  /** SemDeDup ensemble centroids (two granularities k and k/2, iters = 2,
    * k from `Similarity.autoCellCount` — √n-scaled so the in-cell screen
    * stays ~linear across rungs; every corpus ≤ 2048 vectors floors to
    * k = 8, so the bench/verify clusterings are the SAME (8, 4) ensemble
    * as the fixed-k era) trained once per (process, dataset) on the
    * deterministic 25% sample. q_semdedup keeps rows with them;
    * q_pair_quality scores the SAME clustering's recall — retraining
    * inside the diagnostic would score a different model than the one
    * the dedup key ships.
    */
  private def sharedSemCents(s: SparkSession, dir: String): Seq[Array[Array[Double]]] =
    StateCache.value(s, s"semcents:$dir") {
      val emb = Tables.embeddings(s, dir)
      val k = Similarity.autoCellCount(graft.operators.PairGate.corpusCount(emb))
      val sample = Sampling.deterministicSample(emb, "vec_id", 0.25)
      Seq(k, math.max(2, k / 2)).map(g => Similarity.kmeansCentroids(sample, g, 2))
    }

  /** The SemDeDup ensemble's verified pair list (id_a, id_b) at τ = 0.4,
    * materialized once per (process, dataset) from [[sharedSemCents]] —
    * q_pair_quality scores its recall. q_semdedup no longer reads this
    * TABLE (its keep path folds the same deterministic pair stream
    * without materializing it), but both keys derive from the SAME shared
    * centroids and τ, so they still describe one clustering.
    */
  private def sharedSemPairs(s: SparkSession, dir: String): DataFrame =
    StateCache.frame(s, s"sempairs04:$dir") {
      Graft.materialize(Similarity.semdedupPairsEnsemble(
        Tables.embeddings(s, dir), sharedSemCents(s, dir), 0.4)
        .select("id_a", "id_b"), eager = true)
    }

  /** The exact cosine-pair truth set at τ = 0.4 (id_a, id_b), materialized
    * once per (process, dataset) for q_pair_quality's recall rows — a
    * diagnostic that deliberately pays for the exact truth TABLE.
    * q_dedup_embedding_keep no longer reads it: the keep path folds the
    * ungated exact pair stream through the spanning forest instead of
    * materializing it, so it completes at rungs where this table is
    * over-cap.
    */
  private def sharedExactPairs(s: SparkSession, dir: String): DataFrame =
    StateCache.frame(s, s"exact04:$dir") {
      Graft.materialize(
        Similarity.cosinePairsExact(Tables.embeddings(s, dir), 0.40).select("id_a", "id_b"),
        eager = true)
    }

  /** The purchase network of q_pagerank, q_bfs_hops and q_components:
    * customer→supplier edges (src, dst) from orders⋈lineitem, node ids
    * custkey·2 / suppkey·2+1 — LONGS through the whole iteration (the
    * distinct/joins shuffle 8-byte keys, not strings; measured ~40%
    * cheaper on the edge build), rendered by [[purchaseNode]] only at the
    * output boundary. `orderFilter` restricts the orders side.
    */
  private[graft] def purchaseEdges(s: SparkSession, dir: String,
                                   orderFilter: Column = lit(true)): DataFrame =
    Tables.orders(s, dir).where(orderFilter)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))

  /** A purchase-network node id rendered as 'c<custkey>' / 's<suppkey>'. */
  private def purchaseNode(id: Column): Column =
    when(id % 2 === 0, concat(lit("c"), shiftright(id, 1)))
      .otherwise(concat(lit("s"), shiftright(id, 1)))

  // Persisted ANN indexes live under the session-scoped scratch root: the
  // applicationId in the path means concurrent runs (Bench + Verify on the
  // same dataset) can never read each other's half-written index, and the
  // build runs ONCE per process so per-pass bench timings measure the
  // partition-pruned PROBE — the number the *_indexed keys exist to show —
  // not a k-means retrain + parquet write.
  private def indexRoot(s: SparkSession): String =
    s"${Graft.localScratchDir}/graft-index-${s.sparkContext.applicationId}"

  /** The bar store behind q_incremental_bars: the pre-cutoff history's
    * mergeable bars persisted as day-partitioned parquet, built ONCE per
    * (process, dataset). The query then measures what an incremental
    * refresh actually costs — a bar-store read + the fresh batch's
    * aggregate + a bar-sized merge — instead of silently re-deriving
    * history from ticks on every run (which models recompute, not
    * persistence).
    */
  private def sharedBarStore(s: SparkSession, dir: String): String =
    StateCache.value(s, s"barstore:$dir") {
      val path = s"${indexRoot(s)}/bars_${new java.io.File(dir).getName}"
      Ohlc.mergeableBars(events(s, dir).where(col("ts") < tsNtz("2024-01-20")))
        .write.mode("overwrite").partitionBy("d").parquet(path)
      path
    }

  /** Customer co-purchase edge list, built once per (process, dataset)
    * and persisted under the index root: q_triangles and q_degree_hist
    * both consume it, and the construction (fact join + two distinct
    * shuffles) dominates either key's own aggregate — sharing halves the
    * family's cost without coupling the queries (each reads a plain
    * parquet, exactly what a warehouse's materialized edge table is).
    */
  private def sharedCoPurchaseEdges(s: SparkSession, dir: String): String =
    StateCache.value(s, s"copurchase:$dir") {
      val path = s"${indexRoot(s)}/copurchase_${new java.io.File(dir).getName}"
      Graph.coPurchaseEdges(Tables.orders(s, dir), Tables.lineitem(s, dir))
        .write.mode("overwrite").parquet(path)
      path
    }

  private def sharedIvfIndex(s: SparkSession, dir: String): (String, Array[Array[Double]]) =
    StateCache.value(s, s"ivfidx:$dir") {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.kmeansCentroids(
        Sampling.deterministicSample(emb, "vec_id", 0.25), 16, 2)
      val path = s"${indexRoot(s)}/ivf_${new java.io.File(dir).getName}"
      Similarity.buildIvfIndex(emb, cents).write.mode("overwrite")
        .partitionBy("cent_idx").parquet(path)
      (path, cents)
    }

  /** The incremental-maintenance demo index: built from the 90% "historical"
    * slice, then the 10% "daily batch" appended with the FROZEN centroids
    * (Similarity.appendToIvfIndex) — built once per process so the append
    * is never replayed into the same partitions. Also captures the
    * cell-occupancy drift across the append (the retrain trigger).
    */
  private def sharedIvfAppendIndex(s: SparkSession, dir: String)
      : (String, Array[Array[Double]], Double) =
    StateCache.value(s, s"ivfappend:$dir") {
      val emb = Tables.embeddings(s, dir)
      val hist = emb.where(col("vec_id") % 10 =!= 0)
      val batch = emb.where(col("vec_id") % 10 === 0)
      val cents = Similarity.kmeansCentroids(
        Sampling.deterministicSample(hist, "vec_id", 0.25), 16, 2)
      val path = s"${indexRoot(s)}/ivf_append_${new java.io.File(dir).getName}"
      Similarity.buildIvfIndex(hist, cents).write.mode("overwrite")
        .partitionBy("cent_idx").parquet(path)
      val baseCounts = Similarity.ivfCellCounts(s.read.parquet(path))
      Similarity.appendToIvfIndex(path, batch, cents)
      val drift = Similarity.ivfOccupancyDrift(
        baseCounts, Similarity.ivfCellCounts(s.read.parquet(path)))
      (path, cents, drift)
    }

  /** The full-corpus PQ codebooks (m = 8, ksub = 16, iters = 2) behind the
    * in-memory ADC keys: q_pq_topk ships them and q_ann_recall's
    * pq_adc/pq_adc_rerank methods score them. Trained once per (process,
    * dataset) — the k-means iterations are the dominant cost of either
    * key, and retraining inside the diagnostic would DECOUPLE the scored
    * books from the shipped ones (the recall metric exists to describe
    * the index q_pq_topk serves; the training is deterministic, so the
    * memo changes no value anywhere — it removes a redundant identical
    * train).
    */
  private def sharedPqBooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    StateCache.value(s, s"pqbooks:$dir") {
      Similarity.pqCodebooks(Tables.embeddings(s, dir), m = 8, ksub = 16, iters = 2)
    }

  private def sharedIvfPqIndex(s: SparkSession, dir: String)
      : (String, Array[Array[Double]], Array[Array[Array[Double]]]) =
    StateCache.value(s, s"ivfpqidx:$dir") {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.kmeansCentroids(
        Sampling.deterministicSample(emb, "vec_id", 0.25), 16, 2)
      val (books, index) = Similarity.buildIvfPqResidualIndex(emb, cents)
      val path = s"${indexRoot(s)}/ivfpq_${new java.io.File(dir).getName}"
      index.write.mode("overwrite").partitionBy("cent_idx").parquet(path)
      (path, cents, books)
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline computation: daily bars ⋈ share snapshots ⋈
    * shares outstanding → calculated sector price (sector.py:86-112).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_sector_price")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference surface: stock-pipeline semantics ----
    "q_ohlc_daily" -> ((s, dir) =>
      bars(s, dir).select("user_id", "d", "open", "high", "low", "close", "volume")),

    "q_ohlc_15min" -> ((s, dir) =>
      Ohlc.bars(events(s, dir), "15 minutes")
        .select("user_id", "bucket", "open", "high", "low", "close", "volume")),

    "q_fill_forward" -> ((s, dir) =>
      Ohlc.fillForward(
        bars(s, dir).select("user_id", "d", "close"), Seq("close"))),

    "q_incremental_append" -> ((s, dir) => {
      val ev = events(s, dir)
      Incremental
        .newerThanExisting(ev.where(col("ts") < tsNtz("2024-01-20")), ev, "user_id", "ts")
        .select("event_id", "user_id", "ts")
    }),

    "q_incremental_shuffled" -> ((s, dir) => {
      // the high-key-cardinality variant: per-key max joins as a plain
      // keyed join (AQE-planned) instead of a broadcast — same oracle
      val ev = events(s, dir)
      Incremental
        .newerThanExisting(ev.where(col("ts") < tsNtz("2024-01-20")), ev, "user_id", "ts",
          broadcastLatest = false)
        .select("event_id", "user_id", "ts")
    }),

    "q_latest_date" -> ((s, dir) =>
      daily(s, dir)
        .groupBy(col("user_id"))
        .agg(max(col("last_ts")).as("latest_ts"), to_date(max(col("last_ts"))).as("latest_d"))),

    "q_scd2" -> ((s, dir) =>
      // type-2 history of each user's event_type: validity intervals from
      // one lag+lead window pair sharing a single sort/exchange
      Cdc.scd2(events(s, dir), "user_id", "event_type", "ts", "event_id")),

    "q_cdc_merge" -> ((s, dir) => {
      // MERGE INTO shape: the pre-split snapshot (latest value per user)
      // merged with the post-split changelog; 'error' events are delete
      // tombstones. One union + one row_number shuffle on the key — no
      // join, so the changelog never has to fit a broadcast.
      val ev = events(s, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val snapshot = ev.where(col("ts") < tsNtz("2024-01-20"))
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("user_id"), col("value"), col("ts"))
      val changes = ev.where(col("ts") >= tsNtz("2024-01-20"))
        .select(col("user_id"), col("value"), col("ts"), col("event_id"),
          col("event_type"))
      Cdc.mergeChangelog(snapshot, changes, "user_id", "ts", "event_id",
        "event_type", deleteOp = "error", valueCols = Seq("value"))
    }),

    "q_sma" -> ((s, dir) =>
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        Fns.sma(col("close"), 5, entityDay).as("sma_5"))),

    "q_rolling_median" -> ((s, dir) =>
      // per-entity trailing-7-row rolling MEDIAN of the daily close — the
      // robust rolling stat a spike-heavy series needs where the SMA gets
      // dragged by outliers. percentile() over a BOUNDED frame buffers at
      // most 7 values per row (frame-bounded, scale-safe — unlike a
      // whole-group percentile); interpolation matches quantile_cont.
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        round(expr("percentile(close, 0.5)")
          .over(entityDay.rowsBetween(-6, 0)), 6).as("roll_med"))),

    "q_dollar_volume" -> ((s, dir) =>
      bars(s, dir).select(
        col("user_id"), col("d"),
        round(Fns.dollarVolume(col("open"), col("close"), col("volume")), 6)
          .as("dollar_volume"))),

    "q_gap_off_peak" -> ((s, dir) =>
      bars(s, dir).select(
        col("user_id"), col("d"), col("open"),
        round(Fns.gapOffPeak(col("open"), entityDay), 6).as("gap_pct"))),

    "q_gap_on_peak" -> ((s, dir) =>
      bars(s, dir).select(
        col("user_id"), col("d"),
        round(Fns.gapOnPeak(col("open"), col("close")), 6).as("gap_pct"))),

    "q_pct_change_ndays" -> ((s, dir) =>
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        round(Fns.pctChangeFromFirst(col("close"), 5, entityDay), 6).as("pct_change"))),

    "q_drawdown" -> ((s, dir) => {
      val runMax = max(col("close"))
        .over(entityDay.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        round((col("close") / nullif(runMax, lit(0.0)) - 1) * 100, 6).as("drawdown_pct"))
    }),

    "q_ewma" -> ((s, dir) => {
      // EWMA(α = 1/2) over a 10-bar trailing window, α chosen so every
      // weight is a power of two: scaled ×2⁹ the weights are INTEGERS,
      // the weighted sum is decimal-exact, and the oracle matches
      // bit-for-bit (no pow(), no float accumulation order). The window
      // cap is the 100 TB form of pandas ewm(): weight 2⁻¹⁰ < 0.1% —
      // unbounded-preceding recursion buys nothing but an unbounded frame.
      // One window pass (all lags share entityDay); partial weights are
      // renormalized by the sum of PRESENT weights, pandas adjust=true.
      val n = 10
      val terms = (0 until n).map { i =>
        val lg = lag(col("close"), i).over(entityDay)
        (coalesce(lg.cast("decimal(28,6)") * lit(1L << (n - 1 - i)),
          lit(0).cast("decimal(28,6)")),
          when(lg.isNotNull, lit(1L << (n - 1 - i))).otherwise(lit(0L)))
      }
      val num = terms.map(_._1).reduce(_ + _)
      val den = terms.map(_._2).reduce(_ + _)
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        round(num.cast("double") / den.cast("double"), 6).as("ewma_half"))
    }),

    "q_volatility" -> ((s, dir) => {
      // 20-bar rolling annualized volatility of simple returns — the
      // q_zscore recipe inside a window frame: returns are pure double
      // arithmetic (identical in any engine), their window sums are
      // decimal-exact, the final sqrt is IEEE — so a rolling stddev
      // hash-matches the oracle without trusting anyone's float
      // accumulation order. NULL until the frame holds 20 returns.
      val r = dailyReturn
      val win = entityDay.rowsBetween(-19, Window.currentRow)
      val full = row_number().over(entityDay) >= 21
      val s1 = sum(r.cast("decimal(38,12)")).over(win).cast("double")
      val s2 = sum((r * r).cast("decimal(38,12)")).over(win).cast("double")
      val nn = lit(20.0)
      bars(s, dir).select(
        col("user_id"), col("d"),
        round(when(full,
          sqrt((s2 - s1 * s1 / nn) / (nn - 1)) * sqrt(lit(252.0))), 6).as("ann_vol"))
    }),

    "q_corr_pairs" -> ((s, dir) => {
      // pairwise close-price correlation over the 10 most-active entities
      // (the sector-correlation-matrix shape): restricting to a ranked
      // top-N makes the pair space N², not corpus², and the per-pair
      // stats come from decimal-exact sums of double products (the
      // q_zscore recipe) so corr() hash-matches without the builtin's
      // engine-specific float accumulation. The day-aligned self-join is
      // broadcast — N series of daily bars is model-sized by design.
      val b = bars(s, dir)
      val tb = b.join(broadcast(topActive(b)), Seq("user_id")).select("user_id", "d", "close")
      val pairs = tb.select(col("user_id").as("u1"), col("d"), col("close").as("x"))
        .join(broadcast(tb.select(col("user_id").as("u2"), col("d"), col("close").as("y"))),
          Seq("d"))
        .where(col("u1") < col("u2"))
      val m = pearsonMoments(col("x"), col("y"), exactSumD)
      pairs.groupBy(col("u1"), col("u2")).agg(m.head, m.tail: _*)
        .select(col("u1"), col("u2"), pearson().as("corr_close"))
    }),

    "q_vwap" -> ((s, dir) =>
      // per-entity-day VWAP over the raw ticks (each event = one trade at
      // `value`): decimal-exact price×1 sums — the intraday execution
      // benchmark beside the (open+close)/2 proxy in q_dollar_volume.
      // One partial-combined aggregate; the shuffle carries day rows.
      events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_trades"),
          round(exactSumD(col("value")) / count(lit(1)), 6).as("vwap"))),

    "q_lead_lag" -> ((s, dir) => {
      // lead–lag cross-correlation: corr(r_a[t], r_b[t−1]) over the top-10
      // active entities — does yesterday's B move predict today's A? The
      // q_corr_pairs recipe with ONE extra lag window; pair space stays
      // N²·days with N ranked top-10, decimal-exact moments.
      val b = bars(s, dir)
      val ret = b.join(broadcast(topActive(b)), Seq("user_id"))
        .select(col("user_id"), col("d"),
          dailyReturn
            .as("r"))
        .where(col("r").isNotNull)
      val lagged = ret.select(col("user_id").as("u2"), col("d"),
        lag(col("r"), 1).over(Window.partitionBy(col("user_id")).orderBy(col("d")))
          .as("rb"))
        .where(col("rb").isNotNull)
      val pairs = ret.select(col("user_id").as("u1"), col("d"), col("r").as("ra"))
        .join(broadcast(lagged), Seq("d"))
        .where(col("u1") =!= col("u2"))
      val m = pearsonMoments(col("ra"), col("rb"), exactSumD12)
      pairs.groupBy(col("u1"), col("u2")).agg(m.head, m.tail: _*)
        .select(col("u1"), col("u2"), pearson().as("leadlag_corr"))
    }),

    "q_beta" -> ((s, dir) => {
      // per-entity market beta: OLS slope of the entity's daily return on
      // the equal-weighted market return. Returns are a lag window per
      // entity; the market series is a DAY-keyed aggregate (bounded by the
      // calendar, broadcast back); the per-entity slope is one keyed
      // aggregate of decimal-exact cross-moments — the q_corr_pairs recipe
      // against a single common factor, so the pair space is N·days, not N².
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
      val ret = b.select(col("user_id"), col("d"),
        dailyReturn
          .as("r"))
        .where(col("r").isNotNull)
      val mkt = ret.groupBy(col("d"))
        .agg((exactSumD12(col("r")) / count(lit(1))).as("mr"))
      ret.join(broadcast(mkt), Seq("d"))
        .groupBy(col("user_id"))
        .agg(exactSumD12(col("r")).as("sr"), exactSumD12(col("mr")).as("sm"),
          exactSumD12(col("r") * col("mr")).as("srm"),
          exactSumD12(col("mr") * col("mr")).as("smm"),
          count(lit(1)).cast("double").as("n"))
        .select(col("user_id"),
          round((col("n") * col("srm") - col("sr") * col("sm")) /
            nullif(col("n") * col("smm") - col("sm") * col("sm"), lit(0.0)), 6)
            .as("beta"))
    }),

    "q_autocorr" -> ((s, dir) => {
      // per-entity lag-1 autocorrelation of daily returns (momentum vs
      // mean-reversion diagnostic): one window pass derives (r_t, r_{t-1})
      // pairs, one keyed aggregate of decimal-exact moments — no join at all
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
      val ret = b.select(col("user_id"), col("d"),
        dailyReturn
          .as("r"))
      val pairs = ret
        .select(col("user_id"), col("r"), lag(col("r"), 1).over(entityDay).as("rp"))
        .where(col("r").isNotNull && col("rp").isNotNull)
      val m = pearsonMoments(col("r"), col("rp"), exactSumD12)
      pairs.groupBy(col("user_id")).agg(m.head, m.tail: _*)
        .select(col("user_id"), col("n").cast("long").as("n_pairs"), pearson().as("ac1"))
    }),

    "q_rolling_corr" -> ((s, dir) => {
      // rolling market correlation: each entity's trailing-30-row Pearson
      // correlation with the equal-weighted market return — q_beta's
      // cross-moments moved into a BOUNDED frame (five decimal window
      // sums + a count share one sort/exchange), so per-row state is the
      // 30-row frame, never the series; warm-up rows (n < 10) emit NULL.
      // The -0.0 a near-zero correlation can round to is normalized on
      // both sides (+ 0.0), the q_trend_decompose lesson.
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
      val ret = b.select(col("user_id"), col("d"), dailyReturn.as("r"))
        .where(col("r").isNotNull)
      val mkt = ret.groupBy(col("d"))
        .agg((exactSumD12(col("r")) / count(lit(1))).as("mr"))
      val f = entityDay.rowsBetween(-29, 0)
      def ws(c: Column) = sum(c.cast("decimal(28,12)")).over(f).cast("double")
      ret.join(broadcast(mkt), Seq("d"))
        .select(col("user_id"), col("d"),
          ws(col("r")).as("sr"), ws(col("mr")).as("sm"),
          ws(col("r") * col("mr")).as("srm"),
          ws(col("r") * col("r")).as("srr"),
          ws(col("mr") * col("mr")).as("smm"),
          count(lit(1)).over(f).cast("double").as("n"))
        .select(col("user_id"), col("d"),
          when(col("n") >= 10,
            pearson(sx = "sr", sy = "sm", sxx = "srr", syy = "smm", sxy = "srm") + lit(0.0))
            .as("roll_corr"))
    }),

    "q_obv" -> ((s, dir) => {
      // on-balance volume: running sum of sign(Δclose)·volume per entity —
      // integer arithmetic throughout (sign is exact, volume is a count),
      // so the cumulative sum is associative and bit-stable
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"), col("volume"))
      val signed = b.select(col("user_id"), col("d"),
        (signum(col("close") - lag(col("close"), 1).over(entityDay)).cast("long")
          * col("volume")).as("sv"))
      signed.select(col("user_id"), col("d"),
        sum(coalesce(col("sv"), lit(0L)))
          .over(entityDay.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("obv"))
    }),

    "q_seasonality" -> ((s, dir) => {
      // day-of-week seasonality of daily returns across all entities —
      // calendar-keyed (7-row output), decimal-exact mean
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
      val ret = b.select(col("d"),
        dailyReturn
          .as("r"))
        .where(col("r").isNotNull)
      ret.groupBy(dayofweek(col("d")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n"),
          round(exactSumD12(col("r")) / count(lit(1)), 6).as("avg_ret"))
    }),

    "q_benford" -> ((s, dir) =>
      // Benford first-digit screen on the value column per event type —
      // digit from the exact DECIMAL string, never float log10
      Profile.benford(events(s, dir), "value", "event_type")),

    "q_ab_test" -> ((s, dir) => {
      // two-proportion z-test between hash-assigned variants (the
      // experiment-readout primitive): per-user conversion flags from one
      // keyed aggregate, variant rates from a 2-row aggregate, the z
      // statistic from the pooled-variance formula — mirrored term for
      // term in the oracle so the doubles agree bit-for-bit
      val ev = events(s, dir)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .select(pmod(col("user_id"), lit(2L)).as("variant"), col("converted"))
      val rates = perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("k"))
      val a = rates.where(col("variant") === 0)
        .select(col("n").as("n1"), col("k").as("k1"))
      val b = rates.where(col("variant") === 1)
        .select(col("n").as("n2"), col("k").as("k2"))
      val p1 = col("k1").cast("double") / col("n1").cast("double")
      val p2 = col("k2").cast("double") / col("n2").cast("double")
      val pp = (col("k1") + col("k2")).cast("double") /
        (col("n1") + col("n2")).cast("double")
      a.crossJoin(b).select(
        col("n1"), col("n2"),
        round(p1, 6).as("p1"), round(p2, 6).as("p2"),
        round((p1 - p2) /
          nullif(sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("n1").cast("double") +
             lit(1.0) / col("n2").cast("double"))), lit(0.0)), 6).as("z"))
    }),

    "q_table_diff" -> ((s, dir) => {
      // snapshot reconciliation (the "data diff" a pipeline runs after a
      // backfill): latest value per key in two ingest windows, full-outer
      // joined → added / removed / changed / unchanged. One shuffle per
      // snapshot aggregate + the keyed full outer; AQE skew-splits it.
      val ev = events(s, dir)
      def snap(lo: String, hi: String) = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        ev.where(col("ts") >= tsNtz(lo) && col("ts") < tsNtz(hi))
          .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
          .select(col("user_id"), col("value"))
      }
      val a = snap("2024-01-01", "2024-01-15")
      val b = snap("2024-01-15", "2024-02-01")
      a.select(col("user_id"), col("value").as("old_value"))
        .join(b.select(col("user_id"), col("value").as("new_value")),
          Seq("user_id"), "full_outer")
        .select(col("user_id"), col("old_value"), col("new_value"),
          when(col("old_value").isNull, lit("added"))
            .when(col("new_value").isNull, lit("removed"))
            .when(col("old_value") === col("new_value"), lit("unchanged"))
            .otherwise(lit("changed")).as("status"))
    }),

    "q_user_growth" -> ((s, dir) => {
      // cumulative-distinct growth curve: windows can't COUNT DISTINCT, so
      // each user contributes on its FIRST-SEEN day (one keyed min) and
      // the curve is a running sum over the day-keyed counts — the
      // standard rewrite that scales (day table is calendar-bounded)
      val firstSeen = events(s, dir)
        .groupBy(col("user_id")).agg(to_date(min(col("ts"))).as("d"))
      val byDay = firstSeen.groupBy(col("d")).agg(count(lit(1)).as("new_users"))
      byDay.select(col("d"), col("new_users"),
        sum(col("new_users")).over(
          Window.orderBy(col("d"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum_users"))
    }),

    "q_gap_detect" -> ((s, dir) => {
      // per-entity calendar-gap audit (the missing-days check behind
      // q_fill_forward): distinct active days, expected span, missing
      // count and the longest gap from one lag window — integers
      // throughout, no date spine materialized
      val days = bars(s, dir).select(col("user_id"), col("d"))
      val gap = datediff(col("d"), lag(col("d"), 1).over(entityDay))
      days
        .select(col("user_id"), col("d"), gap.as("__gap"))
        .groupBy(col("user_id"))
        .agg(min(col("d")).as("first_d"), max(col("d")).as("last_d"),
          count(lit(1)).as("n_days"),
          (datediff(max(col("d")), min(col("d"))) + lit(1) - count(lit(1)))
            .cast("long").as("n_missing"),
          coalesce(max(col("__gap")), lit(1)).cast("long").as("max_gap"))
    }),

    "q_rolling_outliers" -> ((s, dir) => {
      // trailing-window anomaly flags: a bar is an outlier when its close
      // sits more than 3σ from the TRAILING 20-bar mean (prior bars only,
      // so the flag is causal — usable in a live monitor). Decimal-exact
      // frame sums, σ from the same two sums as q_volatility; windows
      // share the entityDay sort → one window exchange.
      val prior = entityDay.rowsBetween(-20, -1)
      val cnt = count(lit(1)).over(prior).cast("double")
      val s1 = sum(col("close").cast("decimal(28,6)")).over(prior).cast("double")
      val s2 = sum((col("close") * col("close")).cast("decimal(28,6)"))
        .over(prior).cast("double")
      val mean = s1 / cnt
      val variance = (s2 - s1 * s1 / cnt) / nullif(cnt - 1.0, lit(0.0))
      bars(s, dir)
        .select(col("user_id"), col("d"), col("close"),
          when(cnt >= 10.0,
            abs(col("close") - mean) > lit(3.0) * sqrt(greatest(variance, lit(0.0))))
            .as("is_outlier"))
    }),

    "q_ks_test" -> ((s, dir) => {
      // exact two-sample Kolmogorov–Smirnov statistic per event type
      // between the ingest halves — the distribution-free drift test
      // beside q_psi_drift's binned PSI. One per-type sort: cumulative
      // counts use the DEFAULT (RANGE, peers-inclusive) frame in both
      // engines, so ties evaluate the CDF after all equal values — the
      // textbook D = max|F1−F2| over the pooled sample.
      val ev = events(s, dir)
      val half = tsNtz("2024-01-20")
      val tagged = ev.where(col("value").isNotNull)
        .select(col("event_type"), col("value"),
          when(col("ts") < half, 1L).otherwise(0L).as("a"))
      val cumW = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val totW = Window.partitionBy(col("event_type"))
      tagged
        .select(col("event_type"),
          sum(col("a")).over(cumW).as("c1"),
          sum(lit(1L) - col("a")).over(cumW).as("c2"),
          sum(col("a")).over(totW).as("n1"),
          sum(lit(1L) - col("a")).over(totW).as("n2"))
        .groupBy(col("event_type"))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          round(max(abs(col("c1").cast("double") / col("n1").cast("double") -
            col("c2").cast("double") / col("n2").cast("double"))), 6).as("ks"))
    }),

    "q_chi_square" -> ((s, dir) => {
      // chi-square independence screen between event type and day-of-week
      // (the categorical drift test beside q_ks_test's continuous one),
      // decomposed per type: each row is one type's Σ(o−e)²/e against the
      // pooled dow profile (the global statistic is their sum). One
      // (type, dow) contingency aggregate — the shuffle carries ≤
      // |types|·7 partials — margins from windows over the contingency
      // table itself (metadata-sized by construction), terms
      // decimal-summed so the statistic is partition-order-independent
      val ev = events(s, dir)
      val cells = ev.groupBy(col("event_type"),
          dayofweek(col("ts")).cast("long").as("dow"))
        .agg(count(lit(1)).as("o"))
      val rowW = Window.partitionBy(col("event_type"))
      val colW = Window.partitionBy(col("dow"))
      val allW = Window.partitionBy()
      val e = sum(col("o")).over(rowW).cast("double") *
        sum(col("o")).over(colW).cast("double") /
        sum(col("o")).over(allW).cast("double")
      val terms = cells.select(col("event_type"), col("dow"), col("o"),
        e.as("e"),
        ((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
          .as("term"),
        count(lit(1)).over(rowW).as("__rc"))
      terms.groupBy(col("event_type"))
        .agg(sum(col("o")).as("n"),
          round(sum(col("term").cast("decimal(38,18)")).cast("double"), 6)
            .as("chi2"),
          (max(col("__rc")) - lit(1)).cast("long").as("dof"))
    }),

    "q_mannwhitney" -> ((s, dir) => {
      // Mann-Whitney U (Wilcoxon rank-sum) per event type between the
      // ingest halves — the rank-based location drift test beside
      // q_ks_test's sup-norm: tie-averaged ranks from ONE per-type sort
      // (rank() + half the peer count), U from the rank sum, z from the
      // tie-corrected normal approximation. Rank sums are multiples of ½
      // far below 2⁵³ so double addition is exact in any order; the tie
      // term Σ(t³−t) accumulates decimal.
      val ev = events(s, dir)
      val half = tsNtz("2024-01-20")
      val tagged = ev.where(col("value").isNotNull)
        .select(col("event_type"), col("value"),
          when(col("ts") < half, 1L).otherwise(0L).as("a"))
      val ordW = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val peerW = Window.partitionBy(col("event_type"), col("value"))
      val ranked = tagged.select(col("event_type"), col("a"),
        (rank().over(ordW).cast("double") +
          (count(lit(1)).over(peerW).cast("double") - lit(1.0)) / lit(2.0))
          .as("avg_rank"),
        count(lit(1)).over(peerW).as("t"))
      val st = ranked.groupBy(col("event_type")).agg(
        sum(col("a")).cast("double").as("n1"),
        sum(lit(1L) - col("a")).cast("double").as("n2"),
        sum(when(col("a") === 1L, col("avg_rank")).otherwise(lit(0.0)))
          .as("r1"),
        // each (type, value) peer group contributes t³−t once; the per-row
        // share is (t³−t)/t = t²−1, computed in doubles so a billion-row
        // peer group can't overflow integer arithmetic
        sum((col("t").cast("double") * col("t").cast("double") - lit(1.0))
          .cast("decimal(38,6)")).cast("double").as("ties"))
      val n = col("n1") + col("n2")
      val u1 = col("r1") - col("n1") * (col("n1") + lit(1.0)) / lit(2.0)
      val mu = col("n1") * col("n2") / lit(2.0)
      val sigma = sqrt(col("n1") * col("n2") / lit(12.0) *
        ((n + lit(1.0)) - col("ties") / (n * (n - lit(1.0)))))
      st.select(col("event_type"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        round(u1, 6).as("u1"),
        round((u1 - mu) / nullif(sigma, lit(0.0)), 6).as("z"))
    }),

    "q_trend_decompose" -> ((s, dir) => {
      // classical additive decomposition (STL-lite): trend = centered
      // 7-row MA of close, seasonal = per-(entity, weekday) mean of the
      // detrended series, remainder = the rest. Two window families —
      // the (user) sort and the (user, dow) means — each one exchange;
      // frame means accumulate decimal so partial edge windows are exact.
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
      val frame = entityDay.rowsBetween(-3, 3)
      val trended = b.select(col("user_id"), col("d"), col("close"),
        (sum(col("close").cast("decimal(28,6)")).over(frame).cast("double") /
          count(lit(1)).over(frame)).as("trend"))
      val dowW = Window.partitionBy(col("user_id"), dayofweek(col("d")))
      val dt = col("close") - col("trend")
      trended
        .select(col("user_id"), col("d"), col("close"), col("trend"),
          (sum(dt.cast("decimal(28,12)")).over(dowW).cast("double") /
            count(lit(1)).over(dowW)).as("seasonal"))
        .select(col("user_id"), col("d"), col("close"),
          (round(col("trend"), 6) + lit(0.0)).as("trend"),
          (round(col("seasonal"), 6) + lit(0.0)).as("seasonal"),
          // + 0.0 folds IEEE -0.0 to +0.0: DuckDB's round() preserves the
          // sign of a difference that rounds to zero from below, Spark's
          // does not — both sides normalize so the byte hash agrees
          (round(col("close") - col("trend") - col("seasonal"), 6) + lit(0.0))
            .as("remainder"))
    }),

    "q_skew_kurt" -> ((s, dir) => {
      // per-entity skewness and excess kurtosis of daily returns from
      // decimal-exact RAW power sums (38,18 so r⁴ keeps headroom); the
      // central-moment algebra runs on the already-reduced per-key row,
      // mirrored expression-for-expression in the oracle
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
      val ret = b.select(col("user_id"),
        dailyReturn
          .as("r"))
        .where(col("r").isNotNull)
      def ps(p: Column): Column = sum(p.cast("decimal(38,18)")).cast("double")
      val st = ret.groupBy(col("user_id")).agg(
        ps(col("r")).as("s1"), ps(col("r") * col("r")).as("s2"),
        ps(col("r") * col("r") * col("r")).as("s3"),
        ps(col("r") * col("r") * col("r") * col("r")).as("s4"),
        count(lit(1)).cast("double").as("n"))
      val mean = col("s1") / col("n")
      val m2 = col("s2") / col("n") - mean * mean
      val m3 = col("s3") / col("n") - lit(3.0) * mean * (col("s2") / col("n")) +
        lit(2.0) * mean * mean * mean
      val m4 = col("s4") / col("n") - lit(4.0) * mean * (col("s3") / col("n")) +
        lit(6.0) * mean * mean * (col("s2") / col("n")) -
        lit(3.0) * mean * mean * mean * mean
      st.select(col("user_id"), col("n").cast("long").as("n_ret"),
        round(m3 / nullif(sqrt(m2) * m2, lit(0.0)), 6).as("skew"),
        round(m4 / nullif(m2 * m2, lit(0.0)) - lit(3.0), 6).as("ex_kurt"))
    }),

    "q_minmax_scale" -> ((s, dir) => {
      // per-type min-max normalization (the bounded-range feature scaler
      // beside q_zscore's standardizer): one tiny per-type aggregate
      // broadcast back over the stream — rows never shuffle
      val ev = events(s, dir)
      val ranges = broadcast(ev.groupBy(col("event_type"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi")))
      ev.join(ranges, Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("lo")) /
            nullif(col("hi") - col("lo"), lit(0.0)), 6).as("scaled"))
    }),

    "q_lag_features" -> ((s, dir) =>
      // supervised feature/label matrix for sequence models: lags 1–3,
      // trailing MA-5 and the NEXT-day label in ONE window pass (all six
      // functions share the entityDay sort, Catalyst plans one exchange)
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        lag(col("close"), 1).over(entityDay).as("lag1"),
        lag(col("close"), 2).over(entityDay).as("lag2"),
        lag(col("close"), 3).over(entityDay).as("lag3"),
        round(sum(col("close").cast("decimal(28,6)"))
          .over(entityDay.rowsBetween(-4, 0)).cast("double") /
          count(lit(1)).over(entityDay.rowsBetween(-4, 0)), 6).as("ma5"),
        lead(col("close"), 1).over(entityDay).as("label_next"))),

    "q_entropy" -> ((s, dir) => {
      // per-user Shannon entropy of the event-type mix (behavioral
      // diversity): one (user, type) aggregate; per-user totals ride a
      // window over the ≤|type| rows each user owns, so nothing
      // data-sized shuffles twice; Σ −p·ln p accumulates decimal
      val counts = events(s, dir)
        .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
      val perUser = Window.partitionBy(col("user_id"))
      val p = col("c").cast("double") / col("n").cast("double")
      counts
        .withColumn("n", sum(col("c")).over(perUser))
        .select(col("user_id"), col("n"), (-p * log(p)).as("__term"))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"),
          round(sum(col("__term").cast("decimal(28,12)")).cast("double"), 6)
            .as("entropy"))
    }),

    "q_target_encoding" -> ((s, dir) => {
      // smoothed mean target encoding (the categorical→numeric feature
      // transform): enc = (Σ_cat target + m·global_mean)/(n_cat + m) —
      // the m=50 prior keeps rare categories near the global mean instead
      // of memorizing noise. Two aggregates, a one-row broadcast, no
      // per-row state; decimal-exact sums on both engine sides.
      val ev = events(s, dir)
      val m = 50.0
      val overall = broadcast(ev.agg(
        (exactSumD(col("value")) / count(lit(1))).as("gmean")))
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), exactSumD(col("value")).as("sv"))
        .crossJoin(overall)
        .select(col("event_type"), col("n"),
          round((col("sv") + lit(m) * col("gmean")) /
            (col("n").cast("double") + lit(m)), 6).as("enc"))
    }),

    "q_markov_transition" -> ((s, dir) => {
      // event-type transition matrix (behavioral sequence model): per-user
      // lag pairs from ONE window pass, then a (from, to) count and
      // per-from probabilities over the |types|² output — the heavy work
      // is the single per-user sort, the matrix itself is model-sized
      val ev = events(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = ev
        .select(lag(col("event_type"), 1).over(w).as("from_state"),
          col("event_type").as("to_state"))
        .where(col("from_state").isNotNull)
      val perFrom = Window.partitionBy(col("from_state"))
      pairs.groupBy(col("from_state"), col("to_state")).agg(count(lit(1)).as("n"))
        .select(col("from_state"), col("to_state"), col("n"),
          round(col("n").cast("double") /
            sum(col("n")).over(perFrom).cast("double"), 6).as("p"))
    }),

    "q_percentile_rank" -> ((s, dir) =>
      // per-source percent_rank of documents by length — the rank-based
      // curation filter ("keep the top X% per source"); exact window form
      // (the approximate form at corpus scale is the quantile-gate family)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(percent_rank().over(
            Window.partitionBy(col("source")).orderBy(col("n_chars"))), 6)
            .as("pr"))),

    "q_bollinger" -> ((s, dir) => {
      // 20-bar Bollinger bands (SMA ± 2σ): the q_volatility recipe on the
      // price itself — decimal-exact window sums, IEEE sqrt, NULL until
      // the frame holds 20 bars. One window pass, one exchange.
      val win = entityDay.rowsBetween(-19, Window.currentRow)
      val full = row_number().over(entityDay) >= 20
      val s1 = sum(col("close").cast("decimal(38,12)")).over(win).cast("double")
      val s2 = sum((col("close") * col("close")).cast("decimal(38,12)")).over(win).cast("double")
      val nn = lit(20.0)
      val mid = s1 / nn
      val sd = sqrt((s2 - s1 * s1 / nn) / (nn - lit(1.0)))
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        round(when(full, mid), 6).as("bb_mid"),
        round(when(full, mid + lit(2.0) * sd), 6).as("bb_up"),
        round(when(full, mid - lit(2.0) * sd), 6).as("bb_dn"))
    }),

    "q_stochastic" -> ((s, dir) => {
      // 14-bar stochastic oscillator: %K = 100·(close − low14)/(hi14 −
      // low14), %D = 3-bar mean of %K. min/max over a bounded frame are
      // EXACT (no float accumulation), %K is one double division, %D
      // decimal-averages three %K values — all four windows share the
      // entityDay sort, one exchange. NULL until the %K frame holds 14
      // bars (and %D additionally needs 3 full %K rows); a flat 14-bar
      // window (hi = lo) yields NULL via the zero-range guard.
      val kWin = entityDay.rowsBetween(-13, Window.currentRow)
      val kFull = row_number().over(entityDay) >= 14
      val hi = max(col("close")).over(kWin)
      val lo = min(col("close")).over(kWin)
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
      val withK = b.select(col("user_id"), col("d"), col("close"),
        when(kFull, lit(100.0) * (col("close") - lo) / nullif(hi - lo, lit(0.0)))
          .as("__k"))
      val dWin = entityDay.rowsBetween(-2, Window.currentRow)
      val dFull = row_number().over(entityDay) >= 16 // 14 + 2: three full %K rows
      withK.select(col("user_id"), col("d"),
        round(col("__k"), 6).as("pct_k"),
        round(when(dFull,
          sum(col("__k").cast("decimal(28,12)")).over(dWin).cast("double") / lit(3.0)), 6)
          .as("pct_d"))
    }),

    "q_cusum" -> ((s, dir) => {
      // one-sided CUSUM changepoint alarm per entity — the classic
      // sequential drift detector, in its CLOSED scan form: S_t =
      // max(0, S_{t-1} + d_t) unrolls to prefix_t − min(0, min_{j≤t}
      // prefix_j), so the recursion becomes a decimal-exact cumulative
      // sum plus a running min over it — two windows sharing one
      // entityDay exchange, no iteration, no UDF. d_t = close − μ with μ
      // the entity's decimal-exact mean (one keyed aggregate, broadcast
      // back); the alarm fires when S_t clears 4σ (same power sums).
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
      val stats = b.groupBy(col("user_id")).agg(
        (exactSumD12(col("close")) / count(lit(1))).as("mu"),
        exactSumD12(col("close") * col("close")).as("s2"),
        count(lit(1)).cast("double").as("n"))
        .select(col("user_id"), col("mu"),
          sqrt((col("s2") - col("n") * col("mu") * col("mu")) /
            nullif(col("n") - lit(1.0), lit(0.0))).as("sigma"))
      val cumW = entityDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cs = sum((col("close") - col("mu")).cast("decimal(28,12)"))
        .over(cumW).cast("double")
      b.join(broadcast(stats), Seq("user_id"))
        .select(col("user_id"), col("d"), col("mu"), col("sigma"), cs.as("__cs"))
        .select(col("user_id"), col("d"),
          (col("__cs") - least(min(col("__cs")).over(cumW), lit(0.0))).as("__s"),
          col("sigma"))
        .select(col("user_id"), col("d"),
          (round(col("__s"), 6) + lit(0.0)).as("cusum"),
          (col("__s") > lit(4.0) * col("sigma")).as("alarm"))
    }),

    "q_sharpe" -> ((s, dir) => {
      // per-entity annualized Sharpe ratio of daily close-to-close
      // returns — THE portfolio-screening statistic over the bar store:
      // one keyed aggregate of decimal-exact return power sums (the
      // q_volatility recipe without the window), sample σ, ×√252. The
      // shuffle carries three partials per entity; σ=0 entities NULL via
      // the guard, near-zero ratios normalize signed zero on both sides.
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
        .select(col("user_id"), dailyReturn.as("r"))
        .where(col("r").isNotNull)
      b.groupBy(col("user_id")).agg(
          exactSumD12(col("r")).as("s1"),
          exactSumD12(col("r") * col("r")).as("s2"),
          count(lit(1)).cast("double").as("n"))
        .select(col("user_id"),
          (col("s1") / col("n")).as("mu"),
          sqrt((col("s2") - col("n") * (col("s1") / col("n")) * (col("s1") / col("n"))) /
            nullif(col("n") - lit(1.0), lit(0.0))).as("sigma"),
          col("n").cast("long").as("n_days"))
        .select(col("user_id"), col("n_days"),
          (round(col("mu") / nullif(col("sigma"), lit(0.0)) * sqrt(lit(252.0)), 6)
            + lit(0.0)).as("sharpe"))
    }),

    "q_sortino" -> ((s, dir) => {
      // per-entity annualized Sortino ratio: q_sharpe's aggregate with the
      // denominator swapped for DOWNSIDE deviation (√(Σ min(r,0)²/(n−1)))
      // — same one-shuffle three-partials shape, penalizing only
      // sub-zero-return days
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
        .select(col("user_id"), dailyReturn.as("r"))
        .where(col("r").isNotNull)
      b.groupBy(col("user_id")).agg(
          exactSumD12(col("r")).as("s1"),
          exactSumD12(when(col("r") < 0, col("r") * col("r")).otherwise(lit(0.0)))
            .as("sd2"),
          count(lit(1)).cast("double").as("n"))
        .select(col("user_id"), col("n").cast("long").as("n_days"),
          (round((col("s1") / col("n")) /
            nullif(sqrt(col("sd2") / nullif(col("n") - lit(1.0), lit(0.0))), lit(0.0)) *
            sqrt(lit(252.0)), 6) + lit(0.0)).as("sortino"))
    }),

    "q_var_es" -> ((s, dir) => {
      // per-entity historical 95% Value-at-Risk + Expected Shortfall over
      // daily returns, on EXACT discrete-rank semantics (k = ⌈n/20⌉ in
      // pure integer arithmetic, ties broken by date) so both engines pick
      // the identical tail — one window rank + one keyed aggregate; the
      // window partitions per entity, so state is entity-bounded at any
      // corpus width
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
        .select(col("user_id"), col("d"), dailyReturn.as("r"))
        .where(col("r").isNotNull)
      val w = Window.partitionBy(col("user_id")).orderBy(col("r"), col("d"))
      b.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .withColumn("k", expr("(n + 19) div 20"))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_days"),
          (round(max(when(col("rn") === col("k"), col("r"))), 6) + lit(0.0))
            .as("var95"),
          (round(exactSumD12(when(col("rn") <= col("k"), col("r")).otherwise(lit(0.0)))
            / max(col("k")), 6) + lit(0.0)).as("es95"))
    }),

    "q_pairs_spread" -> ((s, dir) => {
      // pairs-trading spread: OLS hedge (close₁ ~ α + β·close₂ on
      // date-aligned bars of entities 1 and 2) and the residual z-score
      // per day — the cointegration-screen readout. Two one-row stat
      // aggregates broadcast back over the aligned frame (the house
      // scalar idiom); decimal-exact moment sums make α, β and every
      // spread bit-identical cross-engine. The aligned frame is pair-
      // sized (days of ONE pair), checkpointed once, read three times.
      val b = bars(s, dir).select(col("user_id"), col("d"), col("close"))
      val al = Graft.materialize(b.where(col("user_id") === 1)
        .select(col("d"), col("close").as("c1"))
        .join(b.where(col("user_id") === 2)
          .select(col("d").as("d2"), col("close").as("c2")),
          col("d") === col("d2"))
        .select(col("d"), col("c1"), col("c2")), eager = false)
      val st = al.agg(
        count(lit(1)).cast("double").as("n"),
        exactSumD12(col("c1")).as("sy"),
        exactSumD12(col("c2")).as("sx"),
        exactSumD12(col("c2") * col("c1")).as("sxy"),
        exactSumD12(col("c2") * col("c2")).as("sxx"))
        .select(col("n"), col("sx"), col("sy"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0))).as("beta"))
        .select(col("beta"),
          ((col("sy") - col("beta") * col("sx")) / col("n")).as("alpha"))
      val sp = Graft.materialize(al.crossJoin(broadcast(st))
        .select(col("d"),
          (col("c1") - (col("alpha") + col("beta") * col("c2"))).as("spread")),
        eager = false)
      val ss = sp.agg(
        count(lit(1)).cast("double").as("n2"),
        exactSumD12(col("spread")).as("s1"),
        exactSumD12(col("spread") * col("spread")).as("s2"))
      sp.crossJoin(broadcast(ss))
        .select(col("d"),
          (round(col("spread"), 6) + lit(0.0)).as("spread"),
          (round((col("spread") - col("s1") / col("n2")) /
            nullif(sqrt((col("s2") - col("n2") * (col("s1") / col("n2")) * (col("s1") / col("n2"))) /
              nullif(col("n2") - lit(1.0), lit(0.0))), lit(0.0)), 6) + lit(0.0)).as("z"))
        .orderBy(col("d"))
    }),

    "q_donchian" -> ((s, dir) => {
      // 20-bar Donchian channel + breakout flag — the rolling-extremes
      // band (turtle-trading entry signal) beside Bollinger's moment
      // band: upper/lower are EXACT frame max/min (no float
      // accumulation), mid one halving, breakout compares close to the
      // PRIOR bar's channel (a new 20-bar high, the causal form — the
      // current channel already contains today's close). Three frame
      // windows + one lag share the entityDay sort: one exchange. NULL
      // until 20 bars.
      val w20 = entityDay.rowsBetween(-19, Window.currentRow)
      val full = row_number().over(entityDay) >= 20
      val up = when(full, max(col("high")).over(w20))
      val dn = when(full, min(col("low")).over(w20))
      bars(s, dir).select(col("user_id"), col("d"), col("close"),
          up.as("__up"), dn.as("__dn"))
        .select(col("user_id"), col("d"), col("close"),
          col("__up").as("dc_up"), col("__dn").as("dc_dn"),
          round((col("__up") + col("__dn")) / lit(2.0), 6).as("dc_mid"),
          (col("close") > lag(col("__up"), 1).over(entityDay)).as("breakout_up"),
          (col("close") < lag(col("__dn"), 1).over(entityDay)).as("breakout_dn"))
    }),

    "q_atr" -> ((s, dir) => {
      // 14-bar Average True Range — the gap-aware volatility band input
      // (Keltner/position-sizing unit): TR = greatest(high−low,
      // |high−prevClose|, |low−prevClose|) so overnight gaps count where
      // high−low alone misses them; ATR is the 14-bar SMA of TR
      // (Cutler-style, same bounded-frame choice as q_rsi — Wilder's
      // recursive smooth is an infinite-lookback EWMA), decimal-exact
      // frame sum. TR needs a prior close, so rows 2..15 warm up: NULL
      // until rn ≥ 15. One lag + one frame window share the entityDay
      // sort — one exchange.
      val prevClose = lag(col("close"), 1).over(entityDay)
      val tr = greatest(col("high") - col("low"),
        abs(col("high") - prevClose), abs(col("low") - prevClose))
      val w14 = entityDay.rowsBetween(-13, Window.currentRow)
      val full = row_number().over(entityDay) >= 15
      bars(s, dir).select(col("user_id"), col("d"),
          col("high"), col("low"), col("close"),
          when(prevClose.isNotNull, tr).as("__tr"))
        .select(col("user_id"), col("d"),
          round(col("__tr"), 6).as("tr"),
          round(when(full,
            sum(col("__tr").cast("decimal(28,12)")).over(w14).cast("double") / lit(14.0)), 6)
            .as("atr"))
    }),

    "q_rsi" -> ((s, dir) => {
      // 14-bar RSI on simple (Cutler) averages: Wilder's recursive smooth
      // is an infinite-lookback EWMA — the SMA form is the standard
      // bounded-frame equivalent, and the one whose window sums are
      // decimal-exact. All-gain frames pin to 100 (the division convention
      // both engines state explicitly). NULL until 14 diffs exist.
      val diff = col("close") - lag(col("close"), 1).over(entityDay)
      val gain = when(diff > 0, diff).otherwise(lit(0.0))
      val loss = when(diff < 0, -diff).otherwise(lit(0.0))
      val win = entityDay.rowsBetween(-13, Window.currentRow)
      val full = row_number().over(entityDay) >= 15
      val ag = sum(gain.cast("decimal(38,12)")).over(win).cast("double")
      val al = sum(loss.cast("decimal(38,12)")).over(win).cast("double")
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        round(when(full,
          when(al === 0.0, lit(100.0))
            .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + ag / al))), 6).as("rsi14"))
    }),

    "q_macd" -> ((s, dir) => {
      // MACD(12, 26) + signal(9): each EMA is the q_ewma truncated form —
      // span-convention weights (1−α)^i over `macdLags` lag terms,
      // renormalized by the PRESENT weight sum (pandas ewm adjust=true; the
      // 60-lag cap leaves < 1% tail weight on the slow EMA). Weights ride
      // as ×10¹² INTEGER literals against scale-6 decimal prices — exact,
      // associative sums whose scale survives Spark's precision-clamp on
      // chained decimal adds (a scale-12 term chain would clamp back to 6
      // and drift vs the oracle); the 10¹² cancels in the num/den ratio.
      // The signal EMA runs over the computed MACD column in a second
      // window pass on the SAME partitioning — two window operators, ONE
      // exchange.
      def trunc(c: Column, span: Int, lags: Int): Column = {
        val a = 2.0 / (span + 1.0)
        val terms = (0 until lags).map { i =>
          val w12 = math.round(math.pow(1.0 - a, i) * 1e12)
          val lg = lag(c, i).over(entityDay)
          (coalesce(lg.cast("decimal(28,6)") * lit(w12),
            lit(0).cast("decimal(28,6)")),
            when(lg.isNotNull, lit(w12)).otherwise(lit(0L)))
        }
        terms.map(_._1).reduce(_ + _).cast("double") /
          terms.map(_._2).reduce(_ + _).cast("double")
      }
      val withMacd = bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        round(trunc(col("close"), 12, macdLags) - trunc(col("close"), 26, macdLags), 6)
          .as("macd"))
      withMacd.select(
        col("user_id"), col("d"), col("close"), col("macd"),
        round(trunc(col("macd"), 9, signalLags), 6).as("signal"))
        .withColumn("histogram", round(col("macd") - col("signal"), 6))
    }),

    "q_anti_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(ordersNtz(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")),

    "q_pivot_wide" -> ((s, dir) => {
      // per-user totals of the daily per-type decimal sums: the decimal
      // sum is exact, so this equals pivotAgg(events, …, exactSumD) bit
      // for bit, without scanning the events
      val totals = pivotTypes.map(t => sum(col(s"sum_$t")).cast("double").as(t))
      daily(s, dir).groupBy(col("user_id")).agg(totals.head, totals.tail: _*)
    }),

    "q_unpivot" -> ((s, dir) =>
      // melt ∘ pivot round trip: the wide frame stacks back to exactly
      // the (user, type) combinations the long form had — the inverse
      // relational op beside q_pivot_wide, checked against the DIRECT
      // long aggregate as the oracle
      PivotOps.melt(
        PivotOps.pivotAgg(events(s, dir), "user_id", "event_type", pivotTypes,
          "value", exactSumD),
        "user_id", pivotTypes,
        keyName = "event_type", valueName = "total")),

    "q_weighted_price" -> ((s, dir) =>
      Analytics.weightedPrice(Tables.lineitem(s, dir), Tables.part(s, dir))),

    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("last_purchase_value"))
      AsOfJoin
        .asOf(clicks, purchases, "user_id", "ts", Seq("last_purchase_value"))
        .select("event_id", "user_id", "ts", "last_purchase_value")
    }),

    "q_asof_ttl" -> ((s, dir) => {
      // feature-store point-in-time join: the as-of match only counts if
      // it's fresh (≤ 1 h old at the fact's timestamp); staler → null
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("value"))
      AsOfJoin.asOfTtl(clicks, purchases, "user_id", "ts",
        "value", "recent_purchase_value", ttlSec = 3600)
        .select("event_id", "user_id", "ts", "recent_purchase_value")
    }),

    "q_asof_forward" -> ((s, dir) => {
      // attribution direction: each click joins the NEXT purchase value
      // at-or-after it (dims deduped per (key, ts) — equal-instant tie
      // resolution is engine-unspecified in DuckDB's ASOF)
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("next_purchase_value"))
      AsOfJoin
        .asOfForward(clicks, purchases, "user_id", "ts", Seq("next_purchase_value"))
        .select("event_id", "user_id", "ts", "next_purchase_value")
    }),

    "q_asof_nearest" -> ((s, dir) => {
      // closest purchase in either direction per click, tie to the earlier
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      AsOfJoin
        .asOfNearest(clicks, purchases, "user_id", "ts", "value", "nearest_purchase_value")
        .select("event_id", "user_id", "ts", "nearest_purchase_value")
    }),

    "q_asof_broadcast" -> ((s, dir) => {
      // identical semantics to q_asof_join through the broadcast-timeline
      // path: facts never shuffle, the probe is a compiled binary search
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click").select("event_id", "user_id", "ts")
      // dedupe the dim side on (key, ts): equal-instant tie resolution is
      // engine-unspecified in DuckDB's ASOF, so both engines see one row
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      AsOfJoin
        .asOfBroadcast(clicks, purchases, "user_id", "ts", "value", "last_purchase_value")
        .select("event_id", "user_id", "ts", "last_purchase_value")
    }),

    "q_sector_price" -> ((s, dir) => {
      // the reference's calculate_sector_price (sector.py:86-112): price
      // history ⋈ share snapshots ⋈ shares outstanding, all date-aligned.
      // Every purchase or signup day has a row in the daily summary, so
      // each as-of lookup is a running last-non-null over the entity's
      // days (same-day snapshots visible): one shuffle, no events scan
      val asOf = entityDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def latest(c: String) = last(col(c), ignoreNulls = true).over(asOf)
      daily(s, dir).select(col("user_id"), col("d"), col("close"),
        round(col("close") * latest("shares") / nullif(latest("outstanding"), lit(0.0)), 6)
          .as("calculated_price"))
    }),

    "q_asof_state" -> ((s, dir) => {
      // the stateful streaming as-of operator, batch-mirrored (same code
      // path the StreamingSpec drives with MemoryStreams): clicks enriched
      // with the latest purchase value at-or-before them
      import s.implicits._
      val ev = events(s, dir).withColumn("ts", col("ts").cast("timestamp"))
      val facts = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[EventsStream.Ev]
      val dims = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
        .withColumn("event_type", lit("purchase"))
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[EventsStream.Ev]
      EventsStream.streamingAsOf(facts, dims).toDF()
        .select(col("user_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("value"), col("dim_value"))
    }),

    "q_stream_join" -> ((s, dir) => {
      // the watermarked interval join, batch-mirrored: purchases within the
      // hour before each click
      val ev = events(s, dir)
      EventsStream.streamStreamJoin(
        ev.where(col("event_type") === "click").select("user_id", "ts", "value"),
        ev.where(col("event_type") === "purchase").select("user_id", "ts", "value"),
        lookbackSec = 3600)
    }),

    "q_kmeans" -> ((s, dir) => {
      // k-means codebook + map-side IVF assignment: cluster occupancy
      val emb = Tables.embeddings(s, dir)
      Similarity.buildIvfIndex(emb, Similarity.kmeansCentroids(emb, 8, iters = 2))
        .groupBy(col("cent_idx"))
        .agg(count(lit(1)).as("n"))
    }),

    "q_incremental_bars" -> ((s, dir) => {
      // incremental refresh through the mergeable-bar algebra: the history
      // half REALLY persists (day-partitioned parquet bar store, built once
      // per process like the ANN indexes), so what this query measures is
      // the incremental path it models — read stored BARS, aggregate only
      // the fresh batch's ticks, merge — never a re-derivation of history.
      // Oracle = full recompute (they must agree).
      val stored = s.read.parquet(sharedBarStore(s, dir))
      val fresh = Ohlc.mergeableBars(events(s, dir).where(col("ts") >= tsNtz("2024-01-20")))
      Ohlc.mergeBars(stored.unionByName(fresh))
        .select("user_id", "d", "open", "high", "low", "close", "volume")
    }),

    "q_stream_topk" -> ((s, dir) =>
      // per-hour most-active entities through the streaming top-k operator's
      // batch mirror (same code path StreamingSpec drives with MemoryStreams)
      EventsStream.streamingTopEntities(
        events(s, dir).withColumn("ts", col("ts").cast("timestamp")), 5).toDF()
        .select(col("wstart").cast("timestamp_ntz").as("wstart"), col("user_id"), col("n"))),

    "q_hll_merge" -> ((s, dir) =>
      // mergeable distinct-count sketches: one HLL per (type, day) partition,
      // unioned per type — the persisted-summary pattern that answers
      // "distinct over any date range" without rescanning raw events.
      // Sketch estimates are engine-specific → rows-only check.
      events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        .groupBy(col("event_type"))
        .agg(expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as long)")
          .as("approx_users"))),

    "q_theta_sets" -> ((s, dir) => {
      // theta-sketch SET ALGEBRA — the operation family HLL cannot do (HLL
      // only unions): intersection and difference cardinalities across
      // pre-aggregated sketches, the audience-overlap / retention shape.
      // One partial-aggregated pass builds a sketch per event type (the
      // exchange carries sketch bytes, never user ids); the set algebra
      // runs on two one-row frames. Below the sketch's nominal capacity
      // (2^12 entries — the testdata's user sets are smaller at every SF)
      // theta sketches are EXACT, so the DuckDB oracle checks exact set
      // cardinalities; above capacity the same query degrades to bounded
      // estimates.
      val ev = events(s, dir)
      val sk = ev.groupBy(col("event_type"))
        .agg(expr("theta_sketch_agg(user_id)").as("sk"))
      val a = sk.where(col("event_type") === "click").select(col("sk").as("a"))
      val b = sk.where(col("event_type") === "purchase").select(col("sk").as("b"))
      a.crossJoin(b).select(
        expr("cast(round(theta_sketch_estimate(a)) as long)").as("n_click"),
        expr("cast(round(theta_sketch_estimate(b)) as long)").as("n_purchase"),
        expr("cast(round(theta_sketch_estimate(theta_union(a, b))) as long)").as("n_union"),
        expr("cast(round(theta_sketch_estimate(theta_intersection(a, b))) as long)")
          .as("n_intersect"),
        expr("cast(round(theta_sketch_estimate(theta_difference(a, b))) as long)")
          .as("n_click_only"))
    }),

    "q_market_day" -> ((s, dir) =>
      events(s, dir)
        .select(to_date(col("ts")).as("d")).distinct()
        .withColumn("prev_market_day", Fns.prevMarketDay(col("d")))
        .withColumn("is_market_day", Fns.isMarketDay(col("d")))),

    "q_parse_magnitude" -> ((s, dir) => {
      val raw = concat(col("p_size").cast("string"),
        when(col("p_partkey") % 2 === 0, " M").otherwise(" B"))
      Tables.part(s, dir).select(
        col("p_partkey"), raw.as("raw"), Fns.parseMagnitude(raw).as("shares"))
    }),

    "q_normalize_symbol" -> ((s, dir) => {
      val sym = concat(
        upper(substring(regexp_replace(col("p_name"), " ", ""), 1, 4)),
        when(col("p_partkey") % 3 === 0, ".B")
          .when(col("p_partkey") % 3 === 1, "_A")
          .otherwise(""))
      Tables.part(s, dir).select(
        col("p_partkey"), sym.as("symbol"),
        Fns.normalizeSymbolSql(sym).as("sql_symbol"),
        Fns.normalizeSymbolYf(sym).as("yf_symbol"))
    }),

    "q_schema_evolution" -> ((s, dir) => {
      val ev = events(s, dir)
      val a = PivotOps.pivotAgg(
        ev.where(col("ts") < tsNtz("2024-01-15") && col("event_type").isin("click", "view")),
        "user_id", "event_type", Seq("click", "view"), "value", exactSumD)
      val b = PivotOps.pivotAgg(
        ev.where(col("ts") >= tsNtz("2024-01-15")
          && col("event_type").isin("click", "view", "purchase")),
        "user_id", "event_type", Seq("click", "view", "purchase"), "value", exactSumD)
      PivotOps.unionEvolved(Seq("a" -> a, "b" -> b))
        .select("snapshot", "user_id", "click", "view", "purchase")
    }),

    "q_window_agg" -> ((s, dir) => EventsStream.windowedAgg(events(s, dir))),

    "q_running_sum" -> ((s, dir) =>
      // per-entity running total through the SKEW FALLBACK plan: the
      // two-stage bucketed window (in-bucket partial on (key, day) →
      // bucket-count prefix offsets → merge join reusing stage 1's
      // partitioning) must equal the plain single-window SQL — the
      // skew-parallel plan's equivalence is DuckDB-checked, not just
      // spec-mirrored. Decimal accumulation keeps the sum order-free.
      Skew.runningSumBucketed(
        events(s, dir).select(col("user_id"), col("ts"),
          col("value").cast("decimal(28,6)").as("value")),
        "user_id", "ts", "value")
        .select(col("user_id"), col("ts"),
          col("value").cast("double").as("value"),
          round(col("running").cast("double"), 6).as("running"))),

    "q_sessionize" -> ((s, dir) =>
      // batch mirror of the streaming flatMapGroupsWithState sessionizer:
      // 30-min inactivity gap closes a session
      Sessionize.byGap(events(s, dir), gapSec = 1800)),

    "q_reach_stream" -> ((s, dir) =>
      // batch mirror of the streaming daily-reach maintenance (the
      // deduplicated user-day grain + tumbling daily distinct count) —
      // the lambda partner of q_rolling_distinct
      EventsStream.reachStream(events(s, dir)).orderBy(col("d"))),

    "q_rolling_distinct" -> ((s, dir) =>
      // trailing 7-day distinct active users per day: dedup to the
      // (user, day) grain FIRST, bounded 7x explode on the grain, two-phase
      // distinct count — never an events x days join
      Activity.rollingDistinct(events(s, dir), windowDays = 7)),

    "q_concurrency" -> ((s, dir) =>
      // max concurrent 30-min-gap sessions per day: sweep-line boundaries
      // + the two-level distributed prefix sum (no global-sort window)
      Activity.maxConcurrent(events(s, dir), gapSec = 1800)),

    "q_path_top" -> ((s, dir) =>
      // top-10 3-step event-type paths: two stacked leads on one entity
      // exchange, vocabulary-sized trigram aggregate, TakeOrdered top-k
      Activity.topPaths(events(s, dir), k = 10)),

    "q_funnel" -> ((s, dir) => {
      // ordered funnel completion (view → click → purchase): each stage's
      // first-hit timestamp is a conditional min over the ENTITY window,
      // gated on the previous stage's hit being strictly earlier — the
      // sequential dependency plans as three STACKED Window ops sharing
      // one user_id exchange (no self-joins, no per-user event arrays),
      // then a per-user rollup that reuses the same partitioning and a
      // three-row stack. At 100 TB the only data-sized shuffle is the one
      // entity exchange.
      val w = Window.partitionBy(col("user_id"))
      val per = events(s, dir)
        .withColumn("a1", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("a2", min(when(col("event_type") === "click" && col("ts") > col("a1"),
          col("ts"))).over(w))
        .withColumn("a3", min(when(col("event_type") === "purchase" && col("ts") > col("a2"),
          col("ts"))).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("a1")).as("t1"), max(col("a2")).as("t2"), max(col("a3")).as("t3"))
      per.agg(count(col("t1")).as("c1"), count(col("t2")).as("c2"), count(col("t3")).as("c3"))
        .select(expr(
          "stack(3, 'view', c1, 'view>click', c2, 'view>click>purchase', c3) AS (stage, users)"))
    }),

    "q_funnel_stream" -> ((s, dir) => {
      // the stateful streaming funnel, batch-mirrored (same
      // flatMapGroupsWithState code path StreamingSpec drives with
      // MemoryStreams): per-user stage-advance emissions. The greedy
      // first-view / first-click-after / first-purchase-after chain must
      // equal q_funnel's batch conditional-min chain — DuckDB-checked
      // here, not just spec-mirrored.
      import s.implicits._
      val ev = events(s, dir).withColumn("ts", col("ts").cast("timestamp"))
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
        .as[EventsStream.Ev]
      EventsStream.funnelStream(ev).toDF()
        .select(col("user_id"), col("stage"),
          col("ts").cast("timestamp_ntz").as("ts"))
    }),

    "q_retention" -> ((s, dir) => {
      // cohort retention: users grouped by first-activity day, counted on
      // each later active day as a day offset — the classic triangle.
      // Activity first collapses to DISTINCT (user, day) (partial-combined
      // aggregate, ~days/user rows), cohorts are a second user-keyed
      // aggregate over that, and the cohort join-back is co-partitioned on
      // user_id — at scale nothing bigger than the deduped activity set
      // ever shuffles.
      val activity = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val cohorts = activity.groupBy(col("user_id")).agg(min(col("day")).as("cohort_d"))
      activity.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_d"), datediff(col("day"), col("cohort_d")).cast("long").as("day_offset"))
        .agg(count(lit(1)).cast("long").as("users"))
    }),

    "q_rollup" -> ((s, dir) => Analytics.rollupDaily(events(s, dir))),

    "q_cube" -> ((s, dir) =>
      // all four grouping sets over (type, day) in one Expand pass — the
      // BI cross-tab beside q_rollup's hierarchy; the Expand multiplies
      // rows before the PARTIAL aggregate, so the shuffle carries group
      // partials, never 4x events
      Analytics.cubeDaily(events(s, dir))),

    "q_grouping_sets" -> ((s, dir) =>
      // the summary-bands-only report: per-type, per-day, grand total —
      // arbitrary GROUPING SETS without cube's (type, day) fine grain
      Analytics.groupingSetsDaily(events(s, dir))),

    "q_pagerank" -> ((s, dir) => {
      // purchase-network centrality: customer→supplier edges from
      // orders⋈lineitem, 5 damped synchronous iterations (d = 0.85) with
      // uniform dangling-mass redistribution; top-25 by rounded rank,
      // rendered to 'c<key>'/'s<key>' only at the 25-row output boundary.
      Graph.pagerank(purchaseEdges(s, dir), iters = 5, damping = 0.85)
        .select(purchaseNode(col("node")).as("node"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("node"))
        .limit(25)
    }),

    "q_market_basket" -> ((s, dir) =>
      // association rules over order baskets (support/confidence/lift):
      // pair space bounded by basket size (co-partitioned self-join on the
      // basket key), item supports by keyed join (an item vocabulary
      // outgrows broadcast at web scale), one-row total broadcast
      Analytics.marketBasket(Tables.lineitem(s, dir), minPairs = 2)),

    "q_histogram" -> ((s, dir) =>
      Profile.histogram(events(s, dir), "value", 50.0, "event_type")),

    "q_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables.documents(s, dir), minCount = 2)),

    "q_pmi" -> ((s, dir) =>
      // top-50 bigram collocations by PMI, keyed unigram joins (vocab-sized
      // sides never broadcast), deterministic tie-break
      TextAnalysis.pmiCollocations(Tables.documents(s, dir), k = 50, minCount = 5)),

    "q_kl_divergence" -> ((s, dir) =>
      // per-source token-distribution KL vs the whole corpus — corpus
      // counts derived from the per-slice aggregate, not a second scan
      TextAnalysis.corpusDivergence(Tables.documents(s, dir), "source")
        .withColumnRenamed("slice", "source")),

    "q_quality_gate" -> ((s, dir) =>
      // FineWeb-style quantile cut: keep docs at or above the corpus' own
      // 25th quality percentile — exact interpolated percentile, so the
      // oracle reproduces the threshold bit-for-bit
      TextAnalysis.qualityGate(Tables.documents(s, dir), 0.25)),

    "q_wordlm" -> ((s, dir) =>
      // word-level LM cross-entropy (the KenLM/CCNet perplexity filter at
      // word granularity) — corpus-trained, decimal-exact, oracle-checked
      TextAnalysis.wordBigramLM(Tables.documents(s, dir))),

    "q_bpe" -> ((s, dir) =>
      // BPE tokenizer: ONE distributed (word,count) aggregate, merges
      // trained driver-side on the vocab-bounded counts (model-sized
      // state, like every codebook here), applied by encoding the
      // distinct vocabulary and broadcast-joining piece counts back —
      // per-doc word/BPE-piece totals. Iterative merge training is not
      // SQL-expressible (rows check; BpeSpec verifies the trainer against
      // hand-worked merges and round-trip/monotonicity properties).
      Bpe.pieceStats(Tables.documents(s, dir), numMerges = 50)),

    "q_unigram_lm" -> ((s, dir) =>
      // Unigram-LM (SentencePiece-family) tokenizer beside BPE: same ONE
      // distributed (word,count) aggregate, Viterbi-EM trained driver-side
      // on the capped counts, applied by broadcast-joining the encoded
      // vocabulary with the compiled graft_unigram_encode Viterbi covering
      // OOV words exactly. Iterative EM is not SQL-expressible (rows
      // check; UnigramSpec verifies round-trip, determinism, and the
      // compiled-vs-driver differential).
      Unigram.pieceStats(Tables.documents(s, dir), vocabSize = 200)),

    "q_tokenizer_quality" -> ((s, dir) =>
      // tokenizer scorecard AS DATA (the family's q_ann_recall analogue):
      // BPE + unigram trained on the same corpus, pieces/word compression,
      // OOV coverage, round-trip exactness, and the compiled ≡ driver
      // agreement measured corpus-wide. maxVocab is deliberately small so
      // the tail of the corpus vocabulary exercises the compiled OOV
      // encoders — the path a top-2²⁰ cap would hide at this sf. Training
      // is iterative (not SQL-expressible) → rows check; the health
      // invariants (roundtrip_exact = n_distinct_words, vocab_agree =
      // vocab_size) are spec-asserted in BpeSpec.
      TokenizerQuality.score(Tables.documents(s, dir), maxVocab = 512)),

    "q_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), k = 3)),

    "q_char_diversity" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.charDiversity(col("text")).as("diversity"))),

    "q_bigram_frac" -> ((s, dir) =>
      TextAnalysis.topBigramFraction(Tables.documents(s, dir))),

    "q_charlm" -> ((s, dir) =>
      TextAnalysis.charBigramLM(Tables.documents(s, dir))),

    "q_compress_ratio" -> ((s, dir) =>
      // deflate-ratio repetition signal — deterministic but
      // java.util.zip-specific, so rows-only (no SQL-engine oracle)
      Tables.documents(s, dir).select(
        col("doc_id"),
        round(graft.plans.Exprs.compressRatio(col("text")), 6).as("compress_ratio"))),

    "q_c4_rules" -> ((s, dir) => {
      // the word-soup corpus carries no placeholder text or code — the two
      // content tripwires are synthesized deterministically (q_boilerplate
      // convention); word-count/word-length variation is natural
      val synth = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 17 === 0, " lorem ipsum dolor sit amet").otherwise(""),
          when(col("doc_id") % 23 === 0, " function() { return 1; }").otherwise(""))
          .as("text"))
      TextAnalysis.c4Rules(synth)
    }),

    "q_mix_temperature" -> ((s, dir) =>
      // languages are the skewed stratum in the testdata (en dominates) —
      // α=0.5 downsamples it toward the flattened mixture
      Sampling.temperatureMix(Tables.documents(s, dir), "lang", "doc_id", 0.5)
        .select("doc_id", "lang", "source")),

    "q_repetition" -> ((s, dir) => {
      // intra-doc repetition: the raw word-soup texts never repeat a
      // sentence, so repeated units are synthesized deterministically
      // (same convention as q_boilerplate/q_url_normalize)
      val withRep = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            ". click here to subscribe. click here to subscribe").otherwise(""),
          when(col("doc_id") % 6 === 0, ". limited time offer only").otherwise(""))
          .as("text"))
      TextAnalysis.repetitionStats(withRep)
    }),

    "q_url_normalize" -> ((s, dir) => {
      // deterministic synthetic URLs (the documents table carries no URL
      // column): both engines build the identical string, then canonicalize
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/docs/"), (col("doc_id") % 5).cast("string"),
        lit("/?utm_source=feed&id="), (col("doc_id") % 3).cast("string"),
        when(col("doc_id") % 2 === 0, "#top").otherwise(""))
      Tables.documents(s, dir).select(
        col("doc_id"), url.as("url"),
        TextAnalysis.canonicalizeUrl(url).as("canon_url"))
    }),

    "q_dedup_url" -> ((s, dir) => {
      // canonical-URL dedup — the FIRST pass of any web-corpus pipeline
      // (two crawls of one page differ only in tracking params/fragment/
      // case): canonicalize, keep the min-id doc per canonical URL via
      // the bounded-heap GroupTopK. Same synthetic URLs as
      // q_url_normalize; ~2 docs per canonical key by construction.
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/docs/"), (col("doc_id") % 5).cast("string"),
        lit("/?utm_source=feed&id="), (col("doc_id") % 3).cast("string"),
        when(col("doc_id") % 2 === 0, "#top").otherwise(""))
      val canon = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), col("n_chars"),
        TextAnalysis.canonicalizeUrl(url).as("canon_url"))
      graft.plans.GroupTopK.topKPerKey(
        canon, Seq("canon_url"), Seq(col("doc_id").asc), 1)
        .select("doc_id", "source", "canon_url")
    }),

    "q_domain_stats" -> ((s, dir) => {
      // per-domain curation stats (the C4/RefinedWeb host-level gate):
      // synthetic URLs by the q_url_normalize convention, grouped by
      // canonical host — docs, chars, tokens, languages per domain
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/docs/"), (col("doc_id") % 5).cast("string"),
        lit("/?utm_source=feed&id="), (col("doc_id") % 3).cast("string"),
        when(col("doc_id") % 2 === 0, "#top").otherwise(""))
      TextAnalysis.domainStats(
        Tables.documents(s, dir).withColumn("url", url))
    }),

    // ---- core analytics ----
    "q1_pricing_summary" -> ((s, dir) =>
      Analytics.pricingSummary(lineitemNtz(s, dir), "2000-09-02")),

    "q_topk_per_key" -> ((s, dir) =>
      plans.GroupTopK.topKPerKey(
        ordersNtz(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)),

    "q3_top_orders" -> ((s, dir) =>
      Analytics.topOrders(
        Tables.customer(s, dir), ordersNtz(s, dir), Tables.lineitem(s, dir),
        "BUILDING", 10)),

    "q5_region_revenue" -> ((s, dir) =>
      Analytics.regionRevenue(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
        ordersNtz(s, dir), Tables.lineitem(s, dir), "ASIA")),

    "q18_big_orders" -> ((s, dir) =>
      // TPC-H Q18 shape: aggregate lineitem quantities first, filter the
      // rare qualifying orders, then join orders + customer against the
      // small survivor set
      Analytics.bigOrders(Tables.customer(s, dir), ordersNtz(s, dir),
        Tables.lineitem(s, dir), minQty = 250, k = 100)),

    "q_forecast_eval" -> ((s, dir) =>
      // naive-forecast eval metrics per type: day bars partial-aggregate
      // first, lag-1 persistence forecast, decimal error moments
      Analytics.forecastEval(events(s, dir))),

    "q_survivorship" -> ((s, dir) => {
      // golden-record merge: documents plus a deterministic 'mirror
      // system' copy of every third doc (longer text, new source) —
      // survivorship must pick the richer mirror while the canonical id
      // stays the original; one partial-aggregated pass per entity
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val mirror = docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" [archived copy]")).as("text"),
          lit("mirror").as("source"))
      Dedup.survivorship(
        docs.unionByName(mirror)
          .withColumn("entity_id", pmod(col("doc_id"), lit(1000000L))))
        .orderBy(col("entity_id"))
    }),

    "q9_profit" -> ((s, dir) =>
      // TPC-H Q9 shape: the widest join tree on the board — two fact
      // joins + broadcast dims, part filter pruned at the scan
      Analytics.profitByNationYear(Tables.nation(s, dir),
        Tables.supplier(s, dir), Tables.part(s, dir), ordersNtz(s, dir),
        Tables.lineitem(s, dir), partType = "PROMO")),

    "q_cohort_orders" -> ((s, dir) =>
      // first-order cohort retention matrix on integer month arithmetic;
      // distinct count on the deduplicated customer-cell grain
      Analytics.orderCohorts(ordersNtz(s, dir))),

    "q_bfs_hops" -> ((s, dir) => {
      // BFS hop histogram from customer 1 over the undirected purchase
      // graph: 6 rounds of min-distance propagation, same co-partitioned
      // BSP shape as q_components; sentinel (not NULL) for unreached so
      // the propagation is pure integer arithmetic cross-engine
      Graph.shortestHops(purchaseEdges(s, dir), source = 2L, iters = 6)
        .where(col("hop") < Graph.Unreached)
        .groupBy(col("hop"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("hop"))
    }),

    "q_gini" -> ((s, dir) =>
      // revenue-concentration audit: per-segment Gini of order value —
      // one per-segment window rank + one decimal-moment aggregate
      Analytics.giniBySegment(Tables.customer(s, dir), ordersNtz(s, dir))),

    "q_zipf_slope" -> ((s, dir) =>
      // corpus health: OLS slope of ln(freq) vs ln(rank) over each
      // source's top-100 terms; vocab-sized throughout
      TextAnalysis.zipfSlope(Tables.documents(s, dir), topK = 100)),

    "q_ngram_novelty" -> ((s, dir) =>
      // per-doc fraction of word-8-grams unique to the doc (memorization/
      // boilerplate inverse): gram-df aggregate + join-back, linear in
      // total grams — no pair enumeration
      TextAnalysis.ngramNovelty(Tables.documents(s, dir), n = 8)),

    "q_dataset_card" -> ((s, dir) =>
      // per-(source, lang) release card: docs/chars/tokens, mean length,
      // exact-dup rate — one keyed aggregate on the card's grain
      TextAnalysis.datasetCard(Tables.documents(s, dir))),

    "q_card_stream" -> ((s, dir) => {
      // streaming card maintenance driven batch-by-batch IN the measured
      // query: three micro-batches into a fresh store, then batch 1
      // REPLAYED (the at-least-once delivery the exactly-once contract
      // absorbs — delta partition overwrites itself, hash append re-drops)
      // before the card is derived; oracle = the batch card's SQL, so
      // convergence is hash-checked, not just spec-asserted
      val docs = Tables.documents(s, dir)
      val store = s"${Graft.localScratchDir}/graft-card-" +
        s"${s.sparkContext.applicationId}-${System.nanoTime}"
      (0 to 2).foreach { i =>
        EventsStream.cardMergeBatch(docs.where(col("doc_id") % 3 === i), store, i.toLong)
      }
      EventsStream.cardMergeBatch(docs.where(col("doc_id") % 3 === 1), store, 1L)
      EventsStream.readCard(s, store)
    }),

    "q13_cust_orders" -> ((s, dir) =>
      // TPC-H Q13 shape: order-count histogram incl. the zero bucket —
      // aggregate-then-outer-join, never join-then-count over the fact
      Analytics.custOrderDistribution(
        Tables.customer(s, dir), ordersNtz(s, dir), "1-URGENT")),

    "q15_top_supplier" -> ((s, dir) =>
      // TPC-H Q15 shape: max-of-aggregate via a one-row broadcast probe
      Analytics.topSupplier(Tables.supplier(s, dir), lineitemNtz(s, dir),
        "1996-01-01", "1996-04-01")),

    "q16_supplier_classes" -> ((s, dir) =>
      // TPC-H Q16 shape: distinct-supplier count per part class with a
      // broadcast anti-join blacklist
      Analytics.supplierClassCount(Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.lineitem(s, dir), k = 50)),

    "q22_idle_customers" -> ((s, dir) =>
      // TPC-H Q22 shape: scalar-subquery threshold (one-row broadcast) +
      // NOT EXISTS as a left-anti join on the priority-pruned fact
      Analytics.idleRichCustomers(
        Tables.customer(s, dir), ordersNtz(s, dir), "1-URGENT")),

    "q4_order_priority" -> ((s, dir) =>
      // TPC-H Q4 shape: EXISTS as a LEFT SEMI join whose late-shipment
      // date residual evaluates inside the hash probe — no distinct, no
      // fact re-read; both sides NTZ so the +60d arithmetic is engine-flat
      Analytics.latePriorityOrders(ordersNtz(s, dir), lineitemNtz(s, dir),
        lagDays = 60)),

    "q11_important_stock" -> ((s, dir) =>
      // TPC-H Q11 shape: group-then-global-threshold — the scalar mean is
      // a one-row broadcast over the GROUPED frame; fact shuffles once
      Analytics.importantStock(Tables.lineitem(s, dir), meanMult = 1.2)),

    "q14_promo_revenue" -> ((s, dir) =>
      // TPC-H Q14 shape: conditional aggregation, one quarter-pruned fact
      // pass joined to the broadcast part dimension
      Analytics.promoRevenue(Tables.part(s, dir), Tables.lineitem(s, dir),
        from = "1996-01-01", until = "1996-04-01")),

    "q17_small_qty_revenue" -> ((s, dir) =>
      // TPC-H Q17 shape: correlated avg-quantity subquery decorrelated to
      // an aggregate broadcast back onto the fact
      Analytics.smallQtyRevenue(Tables.part(s, dir), Tables.lineitem(s, dir),
        avgFrac = 0.2)),

    "q21_last_shippers" -> ((s, dir) =>
      // TPC-H Q21 shape: the EXISTS/NOT-EXISTS correlated pair as one
      // per-order aggregate + a last-date join-back + a sole-supplier check
      Analytics.soleLastShippers(Tables.supplier(s, dir),
        Tables.lineitem(s, dir), k = 25)),

    "q7_nation_trade" -> ((s, dir) =>
      // TPC-H Q7 shape: bilateral trade by year — both dim chains pruned
      // to the two nations then broadcast; cross-pair disjunction after
      Analytics.nationTradeVolume(Tables.nation(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir),
        Tables.orders(s, dir), lineitemNtz(s, dir),
        nationA = "NATION_1", nationB = "NATION_2")),

    "q19_disjunctive" -> ((s, dir) =>
      // TPC-H Q19 shape: three OR'd (brand, size, qty) clauses in ONE
      // scan + broadcast probe
      Analytics.disjunctiveRevenue(Tables.part(s, dir), Tables.lineitem(s, dir))),

    "q20_dominant_suppliers" -> ((s, dir) =>
      // TPC-H Q20 shape: nested aggregate + share filter + PROMO semi-join
      Analytics.dominantSuppliers(Tables.supplier(s, dir), Tables.part(s, dir),
        Tables.lineitem(s, dir), share = 0.15, minParts = 1L)),

    "q_triangles" -> ((s, dir) =>
      // exact triangle count + clustering coefficient of the co-purchase
      // graph via degree-ordered orientation: wedge join bounded by
      // Σ outdeg² ≤ O(|E|^1.5) no matter the hubs; edge list from the
      // process-shared materialization (a warehouse edge table)
      Graph.triangleStats(s.read.parquet(sharedCoPurchaseEdges(s, dir)))),

    "q_degree_hist" -> ((s, dir) =>
      // co-purchase degree distribution: the hub/isolate shape audit —
      // two partial-aggregated keyed passes, output distinct-degree small
      Graph.degreeHistogram(s.read.parquet(sharedCoPurchaseEdges(s, dir)))),

    "q_components" -> ((s, dir) => {
      // premium-purchase network: connected components of the
      // customer–supplier graph restricted to top-priced orders (sparse by
      // construction), 10 rounds of min-label propagation (resolves
      // diameter ≤ 10 — at 5 this graph was measurably unconverged: the
      // label count depended on the id ordering); 25 largest components
      Graph.connectedComponents(
        purchaseEdges(s, dir, col("o_totalprice") > 495000), iters = 10)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_nodes"))
        .select(purchaseNode(col("label")).as("component"), col("n_nodes"))
        .orderBy(col("n_nodes").desc, col("component"))
        .limit(25)
    }),

    "q_sliding_window" -> ((s, dir) =>
      // hopping-window aggregate (1 h size / 30 min slide — each event
      // lands in exactly size/slide = 2 windows): Spark's window()
      // generator expands map-side, so the shuffle carries per-
      // (window, type) partials like the tumbling q_window_agg, never
      // slide-multiplied event rows
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(exactSumD(col("value")), 6).as("sum_value"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("sum_value"))),

    "q_key_skew" -> ((s, dir) => {
      // join-key distribution audit (the observability face of
      // Skew.saltedJoin and runningSumAuto's measured hot-key switch):
      // per-(type, key) counts, each hot key's share of its type, top-10
      // per type via the bounded-heap GroupTopK — no window sort over the
      // key table, totals broadcast from the already-reduced counts
      val ev = events(s, dir)
      val counts = ev.groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy(col("event_type")).agg(sum(col("n")).as("__tot"))
      plans.GroupTopK.topKPerKey(counts, Seq("event_type"),
          Seq(col("n").desc, col("user_id").asc), 10)
        .join(broadcast(totals), Seq("event_type"))
        .select(col("event_type"), col("user_id"), col("n"),
          round(col("n").cast("double") / col("__tot").cast("double"), 6)
            .as("share"))
    }),

    "q_fk_integrity" -> ((s, dir) => {
      // referential-integrity audit across the warehouse's declared FK
      // edges (the data-quality gate a pipeline runs after every load):
      // per edge, child row count + orphan count via one left-anti join
      // against the parent's key projection — small parents broadcast,
      // the lineitem→orders edge shuffles on the uniform key; output is
      // one metadata-sized row per edge
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
        val keys = parent.select(col(pk)).distinct()
        val orphans = child.join(
          if (bcast) broadcast(keys) else keys,
          child(ck) === keys(pk), "left_anti")
        child.agg(count(lit(1)).as("n_rows")).crossJoin(
          orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("fk"), col("n_rows"), col("n_orphans"))
      }
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      val supp = Tables.supplier(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir)
      val part = Tables.part(s, dir)
      edge("lineitem.l_orderkey->orders", li, "l_orderkey", ord, "o_orderkey", bcast = false)
        .unionAll(edge("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey", bcast = true))
        .unionAll(edge("orders.o_custkey->customer", ord, "o_custkey", cust, "c_custkey", bcast = true))
        .unionAll(edge("customer.c_nationkey->nation", cust, "c_nationkey", nat, "n_nationkey", bcast = true))
        .unionAll(edge("supplier.s_nationkey->nation", supp, "s_nationkey", nat, "n_nationkey", bcast = true))
        .unionAll(edge("nation.n_regionkey->region", nat, "n_regionkey", reg, "r_regionkey", bcast = true))
    }),

    // ---- LLM-training-data operators ----
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),

    "q_containment" -> ((s, dir) =>
      // doc-in-doc detection: 5-gram containment |A∩B|/min(|A|,|B|) over
      // rare-gram-blocked candidates (df ∈ [2,5] postings — deterministic
      // blocking, so unlike the LSH keys the oracle replays it exactly
      // and the pair set is hash-verified)
      Dedup.containmentPairs(Tables.documents(s, dir), 0.5)),

    "q_dedup_containment_keep" -> ((s, dir) => {
      // containment dedup end-to-end: doc-in-doc pairs → connected
      // components → keep the min-id doc per cluster (+ singletons) —
      // the q_dedup_embedding_keep shape on the deterministic rare-gram
      // blocking, so the oracle's recursive-CTE closure hash-verifies
      // the component labels here too
      val losers = Dedup.connectedComponents(
          Dedup.containmentPairs(Tables.documents(s, dir), 0.5)
            .select(col("id_a"), col("id_b")))
        .where(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      Tables.documents(s, dir)
        .join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
    }),

    "q_fuzzy_match" -> ((s, dir) =>
      // record linkage discovery: distinct part-name pairs within edit
      // distance 3 under a 2-char prefix block — Levenshtein runs on the
      // VOCABULARY (one groupBy collapses records first), never on record
      // pairs, so cost is vocab²-within-block at any record count
      Dedup.fuzzyValuePairs(Tables.part(s, dir), "p_name", 3)),

    "q_fuzzy_dedup" -> ((s, dir) =>
      // entity resolution end-to-end: fuzzy value pairs → connected
      // components in value space → every record rewritten to its
      // cluster's canonical spelling (min-record-id value). The oracle
      // replays the clustering with a recursive-CTE transitive closure,
      // so the canonical labels are hash-verified.
      Dedup.fuzzyCanonicalize(Tables.part(s, dir), "p_partkey", "p_name", 3)
        .select("p_partkey", "p_name", "canonical")),

    "q_dedup_keep" -> ((s, dir) => Dedup.deduplicate(Tables.documents(s, dir))
      .select("doc_id", "lang", "source", "n_chars")),

    "q_dedup_incremental" -> ((s, dir) => {
      // online dedup: even-id docs stand in for the already-ingested
      // corpus (as a FINGERPRINT store — 16 bytes/doc, never the text);
      // odd-id docs are today's batch. Admit batch docs that are first
      // in-batch for their text AND unseen in the store.
      val docs = Tables.documents(s, dir)
      val store = Dedup.fingerprintStore(docs.where(col("doc_id") % 2 === 0))
      Dedup.deduplicateIncremental(docs.where(col("doc_id") % 2 === 1), store)
        .select("doc_id", "lang", "source", "n_chars")
    }),

    "q_dedup_incremental_near" -> ((s, dir) => {
      // incremental NEAR-dedup: history persists as a MinHash SIGNATURE
      // store (~512 B/doc); today's batch drops docs whose estimated
      // Jaccard vs any store doc clears the threshold, then near-dedups
      // within itself exactly. Signature estimation is engine-specific →
      // rows check; DedupSpec pins the semantics.
      val docs = Tables.documents(s, dir)
      val store = Dedup.minhashSignatures(docs.where(col("doc_id") % 2 === 0))
      Dedup.nearDedupIncremental(docs.where(col("doc_id") % 2 === 1), store, 0.7)
        .select("doc_id", "lang", "source", "n_chars")
    }),

    "q_dedup_minhash" -> ((s, dir) => Dedup.minhashCandidates(Tables.documents(s, dir))),

    "q_dedup_cluster" -> ((s, dir) =>
      // near-dup graph → connected components (cluster id = min doc id)
      Dedup.connectedComponents(
        Dedup.ngramJaccard(Tables.documents(s, dir), 0.4).select("id_a", "id_b"))),

    "q_dedup_near_keep" -> ((s, dir) =>
      Dedup.deduplicateNear(Tables.documents(s, dir), 0.4)
        .select("doc_id", "lang", "source", "n_chars")),

    "q_boilerplate" -> ((s, dir) => {
      // line-level dedup: boilerplate sentences are synthesized
      // deterministically (the raw word-soup texts carry no repeated
      // sentences), then units repeating across ≥ 10 docs are stripped and
      // documents rebuilt in original unit order
      val withBoiler = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, ". subscribe to our newsletter today").otherwise(""),
          when(col("doc_id") % 2 === 0, ". all rights reserved worldwide").otherwise(""))
          .as("text"))
      Dedup.removeBoilerplate(withBoiler, minDocFreq = 10)
    }),

    "q_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: docs sharing any 8-gram with the
      // (deterministically chosen) benchmark slice are removed
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0))
        .select("doc_id", "lang", "source")
    }),

    "q_decontaminate_bloom" -> ((s, dir) => {
      // same semantics as q_decontaminate (same oracle!), but the gram
      // membership set ships as a fixed-size bloom filter with an exact
      // confirm join on the bloom survivors — the shape that scales past
      // a broadcastable benchmark gram set
      val docs = Tables.documents(s, dir)
      Dedup.decontaminateBloom(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0))
        .select("doc_id", "lang", "source")
    }),

    "q_contamination_report" -> ((s, dir) => {
      // the eval-integrity direction of decontamination: per benchmark
      // doc, how many distinct corpus docs share an 8-gram with it —
      // zero-leak suite items included (absence is part of the report)
      val docs = Tables.documents(s, dir)
      Dedup.contaminationReport(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0))
    }),

    "q_chunk_split" -> ((s, dir) =>
      // sliding-window chunking (RAG / long-doc pretraining): 64-token
      // chunks, 16-token overlap, codegen'd scan-speed projection
      TextAnalysis.chunkDocs(Tables.documents(s, dir), size = 64, overlap = 16)),

    "q_pipeline_e2e" -> ((s, dir) => {
      // The curation path END TO END as ONE declarative plan — corpus/
      // benchmark split → corpus-quantile quality gate → exact dedup
      // (keep first) → benchmark decontamination → curated manifest —
      // exactly how the operators compose in production: each stage's
      // output frame feeds the next, Catalyst fuses the whole thing, and
      // the DuckDB oracle replays the composition as chained CTEs. Scale
      // shape is the union of the stages': one percentile aggregate +
      // broadcast-back, hash-partitioned md5 dedup, gram-bucketed
      // decontamination join — no stage materializes, no driver loop.
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 50 === 0)
      val corpus = docs.where(col("doc_id") % 50 =!= 0)
      // gate with pass-through columns — no join-back scan of the corpus;
      // keep-first dedup is the single-pass GroupTopK heap (k=1 per text
      // hash), not a groupBy + self-semi-join that would replicate the
      // whole upstream subtree a second time
      val gated = TextAnalysis.qualityGate(corpus,
        keep = Seq("text", "lang", "source"))
      val deduped = graft.plans.GroupTopK.topKPerKey(
        gated.withColumn("__h", md5(col("text"))),
        Seq("__h"), Seq(col("doc_id").asc), 1).drop("__h")
      // dirty ids derive from the RAW corpus scan (cheap subtree), so the
      // gate+dedup stage is referenced exactly once — the anti-join
      // intersects, making the wider dirty set equivalent
      deduped.join(Dedup.contaminatedIds(corpus, bench), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_tokens"), col("quality"))
    }),

    "q_dag_run" -> ((s, dir) => {
      // the q_pipeline_e2e composition EXPRESSED AS A DAG and executed by
      // the declarative QueryDag orchestrator (the reference's main.py
      // dependency loop as data): corpus/bench splits → quality gate →
      // keep-first dedup → decontaminated manifest, each stage
      // materialized ONCE at its boundary, deterministic topological
      // order, per-stage restatement (QueryDagSpec). Rows are identical
      // to q_pipeline_e2e by construction — the SAME oracle SQL
      // hash-checks both faces, so the orchestrator's stage-boundary
      // semantics are oracle-verified, not just spec'd. Runs the
      // PERSISTED face (parquet stage boundaries under a fresh run id):
      // the failure-recovery path — resume from completed stages after a
      // driver crash, QueryDagSpec's kill-and-restart — is what the
      // oracle hash-checks every round, not a spec-only sibling. A fresh
      // run id per invocation keeps repeat bench passes measuring the
      // full run, never a warm resume.
      import QueryDag.Stage
      val stages = Seq(
        QueryDag.ofQuery("corpus", (s2, d) =>
          Tables.documents(s2, d).where(col("doc_id") % 50 =!= 0)),
        QueryDag.ofQuery("bench", (s2, d) =>
          Tables.documents(s2, d).where(col("doc_id") % 50 === 0)),
        Stage("gated", Seq("corpus"), (_, _, up) =>
          TextAnalysis.qualityGate(up("corpus"), keep = Seq("text", "lang", "source"))),
        Stage("deduped", Seq("gated"), (_, _, up) =>
          graft.plans.GroupTopK.topKPerKey(
            up("gated").withColumn("__h", md5(col("text"))),
            Seq("__h"), Seq(col("doc_id").asc), 1).drop("__h")),
        Stage("curated", Seq("deduped", "corpus", "bench"), (_, _, up) =>
          up("deduped")
            .join(Dedup.contaminatedIds(up("corpus"), up("bench")),
              Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("lang"), col("source"),
              col("n_tokens"), col("quality"))))
      // fresh run id per invocation (repeat bench passes measure the full
      // run, not a warm resume); the PREVIOUS invocation's root is dead
      // the moment a new one starts — queries are independent
      // (dropQueryState contract) — so reap this app's stale roots here
      // rather than letting a 400-query battery fill the scratch mount
      val prefix = s"graft-dag-${s.sparkContext.applicationId}-"
      val scratch = new java.io.File(Graft.localScratchDir)
      Option(scratch.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
        .foreach { d =>
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
            f.delete(); ()
          }
          rm(d)
        }
      val runRoot = s"${Graft.localScratchDir}/$prefix${java.util.UUID.randomUUID()}"
      QueryDag.runPersisted(s, dir, stages, runRoot)("curated")
    }),

    "q_curation_stream" -> ((s, dir) => {
      // DuckDB-checked batch mirror for the streaming curation pipeline
      // (the q_funnel_stream pattern): the SAME curationStream entry point
      // on a batch frame — gate via one-row threshold broadcast,
      // first-arrival dedup (batch mirror: keep-min GroupTopK), per-row
      // gram-overlap decontamination — so the continuous face's admission
      // semantics are oracle-verified, not just spec-asserted
      val docs = Tables.documents(s, dir)
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      val bench = docs.where(col("doc_id") % 50 === 0)
      val corpus = docs.where(col("doc_id") % 50 =!= 0)
      val thr = TextAnalysis.qualityThreshold(corpus, 0.25)
      val store = Dedup.fingerprintStore(corpus.limit(0))
      val bg = streaming.EventsStream.benchmarkGrams(bench)
      streaming.EventsStream.curationStream(corpus, thr, store, bg)
        .select(col("doc_id"), col("n_tokens"), col("quality"))
    }),

    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashFingerprints(Tables.documents(s, dir)).select("id", "simhash")),

    "q_simhash_pairs" -> ((s, dir) =>
      // chunk-bucketed candidates + exact hamming verify (pigeonhole)
      Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 8)),

    // k=25-char windows: an 8-char window collides on ubiquitous English
    // fragments ("ing the "), flagging ~all pairs; 25+w−1 ≈ a 32-char
    // shared phrase is a real containment signal
    "q_winnow_overlap" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(Tables.documents(s, dir), minShared = 5, k = 25, w = 8)),

    // driver's rows-check sorts with pandas, which can't hash array cells —
    // expose the fingerprint set as scalars (count + order-sensitive hash);
    // the raw array stays in the library API (Dedup.winnowFingerprints)
    "q_winnow_fingerprint" -> ((s, dir) =>
      Dedup.winnowFingerprints(Tables.documents(s, dir))
        .select(col("id"), size(col("fps")).cast("long").as("n_fps"),
          xxhash64(col("fps")).as("fps_hash"))),

    "q_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(Tables.documents(s, dir), 0.4)),

    "q_dedup_embedding" -> ((s, dir) => Similarity.cosinePairsExact(Tables.embeddings(s, dir), 0.40)),

    "q_dedup_embedding_keep" -> ((s, dir) => {
      // embedding near-dedup end-to-end: exact cosine pairs → connected
      // components → keep the min-id doc per cluster (+ all singletons).
      // The oracle reproduces the clustering with a recursive-CTE
      // transitive closure, so the component labels are hash-verified.
      // KEEP-SEMANTICS SCALE PATH: the exact pair stream runs UNGATED
      // into the spanning-forest fold — pairs pipeline through
      // per-partition union-find at O(nodes) space and are never
      // materialized as a table, so this key COMPLETES at rungs where the
      // τ=0.4 pair TABLE is far past spark.graft.pairs.maxOutput
      // (q_dedup_embedding, whose output IS that table, stays gated
      // there). Rows are identical to the pair-table path by the
      // spanning-forest connectivity proof (DedupSpec pins equality).
      val pairs = Similarity.cosinePairsExact(
        Tables.embeddings(s, dir), 0.40, gated = false).select("id_a", "id_b")
      val losers = Dedup.connectedComponentsScalable(pairs)
        .where(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      Tables.documents(s, dir)
        .join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
    }),

    "q_semdedup" -> ((s, dir) =>
      // SemDeDup: k-means-cell-bucketed semantic dedup — the pass a
      // pretraining pipeline runs between exact dedup and quality
      // filtering. Cross-cell recall is measured in SimilaritySpec
      // against the exact grid join; kept rows here are the sound result
      // (every drop is exact-cosine-verified). Runs the KEEP-SEMANTICS
      // SCALE PATH (ungated pair stream → spanning-forest fold — see
      // q_dedup_embedding_keep) over the SAME shared ensemble centroids
      // q_pair_quality scores, so both keys describe one deterministic
      // clustering; this key now COMPLETES at rungs where the pair table
      // itself is over-cap.
      {
        val pairs = Similarity.semdedupPairsEnsemble(
          Tables.embeddings(s, dir), sharedSemCents(s, dir), 0.4, gated = false)
          .select("id_a", "id_b")
        val losers = Dedup.connectedComponentsScalable(pairs)
          .where(col("id") =!= col("component"))
          .select(col("id").as("vec_id"))
        Tables.embeddings(s, dir).join(losers, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("label"))
      }),

    "q_ann_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.topK(emb, emb.orderBy(col("vec_id")).limit(1), 10)
    }),

    "q_ann_batch" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.topKBatch(emb, emb.orderBy(col("vec_id")).limit(2), 10)
    }),

    "q_bitext_mine" -> ((s, dir) => {
      // margin-based bitext mining: a FIXED batch of up to 1000 even-id
      // queries against the odd-id corpus; forward margin
      // cos(top1)/mean(top4) > 1.25 keeps ~the top decile. The query
      // batch is the pipeline's unit of work (a full-corpus sweep is
      // repeated batches), so per-batch compute is LINEAR in the corpus
      // at every rung — broadcast-screen, zero shuffle of the corpus side
      val emb = Tables.embeddings(s, dir)
      // id < 2000 = the first 1000 even ids (ids are dense from 0): a
      // pushed-down scan filter, no sort/limit exchange
      Similarity.bitextMine(emb.where(col("vec_id") % 2 === 1),
        emb.where(col("vec_id") % 2 === 0 && col("vec_id") < 2000),
        k = 4, minMargin = 1.25)
    }),

    "q_ann_mmr" -> ((s, dir) => {
      // diversity re-rank after ANN: top-20 brute candidates per query →
      // greedy MMR top-5 (λ = 0.7) so near-duplicate hits can't crowd out
      // coverage. Greedy selection is engine-specific → rows check;
      // SimilaritySpec pins the semantics on a crafted redundant set.
      val emb = Tables.embeddings(s, dir)
      val queries = emb.orderBy(col("vec_id").desc).limit(3)
      Similarity.mmrRerank(Similarity.topKBatch(emb, queries, 20), emb, k = 5)
    }),

    "q_hard_negatives" -> ((s, dir) => {
      // contrastive hard negatives: nearest different-label vectors per
      // anchor — one batched brute-force pass with the label test riding
      // the screen projection (q_ann_batch's plan + one predicate)
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.orderBy(col("vec_id")).limit(3), 10)
    }),

    // threshold 0.4 = q_pair_quality's measured operating point. 0.2 is
    // outside any pair-generator's regime on this corpus: 5.5% of ALL
    // pairs clear it, so the RESULT is Θ(n²) and no algorithm returns it
    // in sub-quadratic time (measured: 7.1M output rows at 10× sf0.1).
    "q_ann_lsh" -> ((s, dir) =>
      Similarity.cosinePairsBucketed(Tables.embeddings(s, dir), 0.4)),

    "q_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.orderBy(col("vec_id").desc).limit(1), 10)
    }),

    "q_ann_ivfpq" -> ((s, dir) => {
      // IVF-PQ: partition-pruned coarse cells + ADC over m-byte codes —
      // the billion-scale composition of q_ann_ivf and q_pq_topk. Codebooks
      // train on a deterministic hash SAMPLE (the production shape at
      // 100 TB: quantizers need representative statistics, not the corpus)
      // while the full corpus is encoded and probed.
      val emb = Tables.embeddings(s, dir)
      val sample = Sampling.deterministicSample(emb, "vec_id", 0.25)
      val cents = Similarity.kmeansCentroids(sample, 16, 2)
      // residual coding (the FAISS IndexIVFPQ default): codes quantize
      // x − cent[cell], probed via the cell-aware LUT kernel
      val (books, index) = Similarity.buildIvfPqResidualIndex(
        emb, cents, m = 8, ksub = 16, iters = 2, trainFraction = 0.25)
      Similarity.ivfPqResidualTopK(index, cents, books,
        emb.orderBy(col("vec_id").desc).limit(1), 10, nprobe = 8)
    }),

    "q_embed_mean" -> ((s, dir) =>
      // per-class mean-pooled embedding (centroid per label) — the pooling
      // pass under classifier prototypes / cluster summaries. posexplode →
      // one partially-aggregated groupBy: the exchange carries
      // (label × dim) partial sums, never vectors. Decimal accumulation ⇒
      // partition-invariant, oracle-exact.
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(round(sum(col("x").cast("double").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("mean_x"))),

    "q_pca_project" -> ((s, dir) => {
      // PCA projection of the embedding corpus onto its top-2 principal
      // components (the whitening/reduction step before cosine geometry):
      // moments from ONE single-stage treeAggregate (fixed-point, bit-
      // deterministic), driver-side Jacobi eigen on the d×d covariance,
      // scan-speed projection through the codegen'd dot kernel — zero
      // shuffle at any corpus size. Engine-specific eigenbasis → rows-only;
      // PcaSpec differentials pin the math.
      val emb = Tables.embeddings(s, dir)
      Pca.fitProject(emb, emb, "vec_id", "embedding", 2)
    }),

    "q_pq_topk" -> ((s, dir) => {
      // product-quantization ADC top-k: train codebooks, encode the corpus
      // to m-byte codes, probe with table lookups only — the memory-resident
      // ANN scan shape. Approximate (rows-only), like IVF/LSH.
      val emb = Tables.embeddings(s, dir)
      val books = sharedPqBooks(s, dir)
      Similarity.pqTopK(Similarity.pqEncoded(emb, books), books,
        emb.orderBy(col("vec_id")).limit(1), 10)
    }),

    "q_ann_ivf_indexed" -> ((s, dir) => {
      // the production IVF shape: the index PERSISTS partitioned by
      // cent_idx, so a probe is a partition-PRUNED scan (`PartitionFilters:
      // [cent_idx IN (…)]` — plan-spec-asserted) plus one dot product per
      // probed row. This key makes CORRECTNESS exercise the pruned on-disk
      // path, not the inline rebuild; train/encode cost amortizes across
      // queries exactly as it would at 100 TB.
      val emb = Tables.embeddings(s, dir)
      val (path, cents) = sharedIvfIndex(s, dir)
      Similarity.ivfTopKIndexed(s.read.parquet(path), cents,
        emb.orderBy(col("vec_id").desc).limit(1), 10, nprobe = 4)
    }),

    "q_ann_ivf_append" -> ((s, dir) => {
      // incremental IVF maintenance end-to-end: probe the index whose last
      // 10% arrived as a frozen-centroid partition APPEND, not a rebuild.
      // The merged index is row-identical to a full rebuild
      // (spec-asserted), so this probe doubles as the maintenance check;
      // occupancy drift rides along as data — the driver sees the retrain
      // signal, not just a green row count.
      val emb = Tables.embeddings(s, dir)
      val (path, cents, drift) = sharedIvfAppendIndex(s, dir)
      Similarity.ivfTopKIndexed(s.read.parquet(path), cents,
        emb.orderBy(col("vec_id").desc).limit(1), 10, nprobe = 4)
        .withColumn("occupancy_drift", round(lit(drift), 6))
    }),

    "q_ann_ivfpq_indexed" -> ((s, dir) => {
      // the billion-scale layout END-TO-END on disk: residual IVF-PQ
      // codes persisted partitioned by cent_idx — a probe reads m-byte
      // codes from the nprobe pruned partitions only and scores with
      // O(m) LUT adds per row. Completes the persisted-index family
      // (q_ann_ivf_indexed covers plain IVF).
      val emb = Tables.embeddings(s, dir)
      val (path, cents, books) = sharedIvfPqIndex(s, dir)
      Similarity.ivfPqResidualTopK(s.read.parquet(path), cents, books,
        emb.orderBy(col("vec_id").desc).limit(1), 10, nprobe = 4)
    }),

    "q_ann_recall" -> ((s, dir) => {
      // driver-visible QUALITY metrics for the rows-only ANN family: no
      // DuckDB oracle can check a sketch, so emit recall@10 vs the exact
      // brute-force ranking AS DATA — the check harness (and any operator
      // dashboard) reads the quality instead of trusting a rows-only green.
      // Truth is one brute scan; each method's candidate ids join against
      // it — all bounded, engine-side work.
      val emb = Tables.embeddings(s, dir)
      val q = emb.orderBy(col("vec_id").desc).limit(1)
      val brute = Similarity.topK(emb, q, 10).select(col("vec_id"), lit(1).as("hit"))
      val books = sharedPqBooks(s, dir)
      val encoded = Similarity.pqEncoded(emb, books)
      // the incrementally-maintained index scores beside the one-shot
      // methods: probing through a frozen-centroid APPEND must not cost
      // recall vs a rebuild (it can't — merged ≡ rebuild — but the metric
      // keeps that claim measured, not assumed, as the corpus drifts)
      val (appendPath, appendCents, _) = sharedIvfAppendIndex(s, dir)
      // the persisted residual IVF-PQ layout scores beside the rest: its
      // recall reflects BOTH approximation axes (cell probe budget × PQ
      // distortion) — the number that tells an operator whether to raise
      // nprobe or re-rank against float vectors
      val (pqPath, pqCents, pqBooks) = sharedIvfPqIndex(s, dir)
      val methods: Seq[(String, DataFrame)] = Seq(
        "ivf_trained" -> Similarity.ivfTopK(emb, q, 10, nlist = 16, nprobe = 4),
        "ivf_append" -> Similarity.ivfTopKIndexed(
          s.read.parquet(appendPath), appendCents, q, 10, nprobe = 4),
        "ivfpq_residual" -> Similarity.ivfPqResidualTopK(
          s.read.parquet(pqPath), pqCents, pqBooks, q, 10, nprobe = 4),
        "pq_adc" -> Similarity.pqTopK(encoded, books, q, 10),
        "pq_adc_rerank" -> Similarity.pqTopKReranked(encoded, books, emb, q, 10))
      methods
        .map { case (m, df) => df.select(lit(m).as("method"), col("vec_id")) }
        .reduce(_.unionByName(_))
        .join(broadcast(brute), Seq("vec_id"), "left")
        .groupBy(col("method"))
        .agg(round(sum(coalesce(col("hit"), lit(0))).cast("double") / 10.0, 6)
          .as("recall_at_10"))
    }),

    "q_pair_quality" -> ((s, dir) => {
      // pair-level quality for the sub-quadratic candidate generators,
      // again as data. Every truth set here is SCALABLE — no all-pairs
      // path: LSH-cosine recall scores against the exact grid theta-join
      // (itself oracle-exact), and the text generators score PRECISION by
      // exact-verifying only their own candidates (recall for those has no
      // sub-quadratic truth; simhash recall is pigeonhole-complete by
      // construction, spec-verified).
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val docs = Tables.documents(s, dir)
      // each candidate pipeline materializes ONCE (pair lists are bounded);
      // the count and the exact-verify join both read the checkpointed rows
      // instead of re-running signatures/buckets
      // τ = 0.4 (the q_dedup_embedding setting): the exact truth set's cost
      // is dominated by per-survivor decimal recompute, so a low threshold
      // that passes ~5% of all pairs turns the truth query quadratic-ish in
      // OUTPUT (measured 33 s vs 1.4 s at sf0.1 for τ 0.2 vs 0.4)
      // LAZY checkpoints: each pair list materializes inside the first
      // count that touches it instead of paying a separate barrier job —
      // three fewer sequential jobs in a query that is a chain of
      // driver-side counts
      def mat(df: DataFrame): DataFrame = Graft.materialize(df, eager = false)
      // the truth set and the SemDeDup centroids are the per-process shared
      // artifacts — scoring retrained models would measure a DIFFERENT
      // clustering than the one q_semdedup ships
      val exact = sharedExactPairs(s, dir)
      val lsh = mat(Similarity.cosinePairsBucketed(emb, 0.4).select("id_a", "id_b"))
      val nTrue = exact.count()
      val lshHit = lsh.join(exact, Seq("id_a", "id_b")).count()
      // ONE fused exact-Jaccard verify covers both text generators: their
      // candidate lists union (deduped) into a single ngramJaccard call, so
      // the corpus is tokenized/n-grammed once instead of once per method;
      // threshold 0 keeps every verified pair so each method's precision
      // filter applies at count time (skips minhashCandidates'
      // est_jaccard join-back, which this metric would discard anyway)
      val mhCands = mat(Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs))
        .select("id_a", "id_b"))
      val nMh = mhCands.count()
      val sh = mat(Dedup.simhashPairs(docs).select("id_a", "id_b"))
      val nSh = sh.count()
      val j = mat(Dedup.ngramJaccard(docs, 0.0,
        candidates = Some(mhCands.unionByName(sh).dropDuplicates("id_a", "id_b"))))
      val mhGood = j.join(mhCands, Seq("id_a", "id_b"))
        .where(col("jaccard") >= 0.4).count()
      val shGood = j.join(sh, Seq("id_a", "id_b"))
        .where(col("jaccard") >= 0.4).count()
      // SemDeDup ensemble recall vs the same exact truth set (its pairs are
      // exact-verified, so precision is 1.0 by construction — recall is the
      // number that can silently regress)
      val sem = sharedSemPairs(s, dir)
      val semHit = sem.join(exact, Seq("id_a", "id_b")).count()
      def ratio(a: Long, b: Long): Double =
        if (b == 0) 1.0 else math.rint(a.toDouble / b * 1e6) / 1e6
      Seq(
        ("lsh_cosine", "recall_vs_exact_t0.4", nTrue, ratio(lshHit, nTrue)),
        ("semdedup_ens2", "recall_vs_exact_t0.4", nTrue, ratio(semHit, nTrue)),
        ("minhash_lsh", "precision_at_j0.4", nMh, ratio(mhGood, nMh)),
        ("simhash_h3", "precision_at_j0.4", nSh, ratio(shGood, nSh)))
        .toDF("method", "metric", "n_pairs", "value")
    }),

    "q_json_props" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(get_json_object(col("props"), "$.k")).as("n_k"))),

    "q_profile" -> ((s, dir) =>
      Profile.numericProfile(Tables.documents(s, dir), Seq("doc_id", "n_chars"))),

    "q_quantiles_approx" -> ((s, dir) =>
      // GK-sketch percentiles — the scale path when exact per-group
      // percentile (which materializes every group's values) won't fit;
      // engine-specific estimates, rows-only check
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(value, 0.5, 1000)").as("p50"),
          expr("approx_percentile(value, 0.95, 1000)").as("p95"))),

    "q_quantiles" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"))),

    "q_robust_stats" -> ((s, dir) =>
      // outlier-robust location/scale per event type — median + MAD +
      // 3σ-equivalent outlier count, both medians from the bounded-memory
      // exact-quantile machinery (mean/σ are poisoned by the outliers a
      // curation pass is hunting; med/MAD are not)
      Quantiles.robustStats(events(s, dir), "event_type", "value")),

    "q_quantiles_scalable" -> ((s, dir) => {
      // the same EXACT quantiles without percentile()'s per-group value
      // buffer (an OOM at corpus scale): radix bisection over the
      // order-preserving double encoding — 8 histogram passes, bucket
      // counts through the shuffle, model-sized driver state. Same oracle
      // as q_quantiles: exactness is the point of the scale path.
      Quantiles.quantileCont(events(s, dir), "event_type", "value",
          Seq(0.5 -> "p50", 0.95 -> "p95"))
        .select(col("event_type"), round(col("p50"), 6).as("p50"),
          round(col("p95"), 6).as("p95"))
    }),

    "q_winsorize" -> ((s, dir) =>
      // robust normalization end-to-end: clip at the exact p01/p99 bounds
      // (bounded-memory bisection quantiles) and report bounds, the
      // decimal-exact winsorized mean and the clipped count per type —
      // the quantile machinery in its pipeline role, oracle-checked
      Quantiles.winsorize(events(s, dir), "event_type", "value")),

    "q_quantile_disc" -> ((s, dir) => {
      // DISCRETE quantiles beside q_quantiles' interpolated ones: the
      // order statistic at rank ceil(q·n), from one per-type sort +
      // conditional min. The rank is computed in EXACT INTEGER
      // arithmetic — ceil(q·n) = (num·n + den − 1) div den for
      // q = num/den — because DuckDB's quantile_disc is boundary-exact
      // (probed: q = 0.07, n = 100 returns element 7 although the double
      // product is 7.000000000000001, whose ceil is 8), so a double
      // ceil(q·n) here would diverge exactly at group sizes where q·n is
      // integral-but-fp-noisy. This is the exact window form (like
      // q_percentile_rank); the corpus-scale path is the bisection
      // family, where a discrete quantile is a pure counting resolve.
      val ev = events(s, dir).where(col("value").isNotNull)
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val ranked = ev.select(col("event_type"), col("value"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("event_type"))).as("n"))
      def pick(num: Long, den: Long): Column =
        min(when(col("rn") === expr(s"(n * ${num}L + ${den - 1}L) div ${den}L"),
          col("value")))
      ranked.groupBy(col("event_type")).agg(
        round(pick(1L, 2L), 6).as("p50_disc"),
        round(pick(19L, 20L), 6).as("p95_disc"))
    }),

    "q_attribution" -> ((s, dir) => {
      // last-touch attribution: each purchase credits the user's most
      // recent PRIOR non-purchase event type (the marketing-attribution
      // readout) — the carry-forward last-touch is one entity-time window
      // pass with a deterministic (ts, event_id) ROWS frame; the credit
      // table is a |types|-sized aggregate
      val ev = events(s, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val touch = last(
        when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(w)
      ev.select(col("event_type"), touch.as("touch"))
        .where(col("event_type") === "purchase" && col("touch").isNotNull)
        .groupBy(col("touch")).agg(count(lit(1)).as("n_conversions"))
    }),

    "q_time_between" -> ((s, dir) => {
      // inter-event cadence per type (the behavioral "time between
      // purchases" metric): consecutive same-(user, type) gaps from ONE
      // lag window over epoch-MICROSECOND integers (sub-second exact —
      // whole-second casts truncate differently than DuckDB's fractional
      // epoch()), then per-type count / decimal-exact mean / max / exact
      // interpolated median — percentile() on the gap set, the
      // q_quantiles exact form
      val ev = events(s, dir)
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val epoch = unix_micros(col("ts").cast("timestamp"))
      // checkpointed: the radix quantile makes several passes over its
      // input, and re-deriving gaps re-runs the window sort each pass —
      // one materialization replaces ~4 window sorts (measured 2.3 s →
      // ~1.3 s at sf0.1)
      val gaps = Graft.materialize(ev.select(col("event_type"),
          (epoch - lag(epoch, 1).over(w)).as("gap"))
        .where(col("gap").isNotNull), eager = false)
      // outputs stay UNROUNDED and the sum stays SCALE-0: round(x, 6) at
      // the e11-microsecond magnitude is engine-divergent at the ulp, and
      // DuckDB's DECIMAL(p,6)→DOUBLE cast divides by 10⁶ in float (a
      // scale-6 integer sum converts to ...011.06 where Spark gives
      // ...011.0 — observed at sf0.01). Integer gaps want DECIMAL(38,0):
      // no scale division, both engines convert exactly below 2⁵³, and
      // the raw division of identical operands — plus quantileCont's
      // DuckDB-exact interpolation — is bit-identical
      // the cadence stats are collected ONCE (per-type output, driver-sized
      // by contract) and double as the radix bisection's per-group counts —
      // quantileCont then skips its own counting pass over the gaps cache
      // (one fewer job; the values are exactly groupCounts' `count(gap is
      // not null)` because the frame is already gap-non-null-filtered)
      val statAgg = gaps.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_gaps"),
        (sum(col("gap").cast("decimal(38,0)")).cast("double") /
          count(lit(1))).as("mean_gap_us"),
        max(col("gap")).as("max_gap_us"))
      val statRows = statAgg.collect()
      val stats = s.createDataFrame(
        java.util.Arrays.asList(statRows: _*), statAgg.schema)
      val ns = statRows.map(r =>
        (if (r.isNullAt(0)) Quantiles.NullKey else r.getString(0)) -> r.getLong(1)).toMap
      val med = Quantiles.quantileContWithCounts(gaps, "event_type", "gap",
        Seq(0.5 -> "p50_gap_us"), ns)
      stats.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("n_gaps"), col("mean_gap_us"),
          col("max_gap_us"), col("p50_gap_us"))
    }),

    "q_robust_scale" -> ((s, dir) => {
      // robust scaler (the outlier-immune companion to q_zscore and
      // q_minmax_scale): (x − median)/IQR per type, median and quartiles
      // from the bounded-memory bisection evaluated in DuckDB's exact
      // interpolation arithmetic; bounds are a per-type one-row frame
      // broadcast back, so event rows never shuffle
      val ev = events(s, dir).where(col("value").isNotNull)
      val bounds = Quantiles.quantileCont(ev, "event_type", "value",
        Seq(0.25 -> "__q1", 0.5 -> "__med", 0.75 -> "__q3"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          (round((col("value") - col("__med")) /
            nullif(col("__q3") - col("__q1"), lit(0.0)), 6) + lit(0.0))
            .as("scaled"))
    }),

    "q_psi_drift" -> ((s, dir) => {
      // drift monitor: PSI of each event type's value distribution, even
      // event ids as the reference ingest vs odd as the current one —
      // reference-decile bins, smoothed proportions, decimal-summed terms
      val ev = events(s, dir)
      Quantiles.populationStability(
        ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 === 1),
        "event_type", "value")
    }),

    "q_quantile_bins" -> ((s, dir) =>
      // equi-depth discretization: quartile bins per event type from the
      // exact bisection bounds, branch-free assignment, output-sized
      // count shuffle — the feature-binning step fixed-width bins can't
      // do on skewed columns
      Quantiles.equiDepthBins(events(s, dir), "event_type", "value", 4)),

    "q_winsorize_stream" -> ((s, dir) => {
      // batch mirror of streaming.EventsStream.winsorizeStream (the
      // q_funnel_stream pattern): per-ROW clipping against landed-corpus
      // bounds through the same stream-static entry point, so the
      // continuous face's row-level decisions are DuckDB-checked
      val ev = events(s, dir).where(col("value").isNotNull)
      val bounds = Quantiles.quantileCont(ev, "event_type", "value",
        Seq(0.01 -> "__lo", 0.99 -> "__hi"))
      streaming.EventsStream.winsorizeStream(ev, bounds)
        .select(col("event_id"), col("event_type"),
          round(col("value_w"), 6).as("value_w"), col("clipped"))
    }),

    "q_zscore" -> ((s, dir) => {
      // normalization stats from decimal-exact sums (NOT the stddev builtin,
      // whose float accumulation differs per engine/partitioning)
      val ev = events(s, dir)
      val stats = ev.groupBy(col("event_type")).agg(
        exactSumD(col("value")).as("s1"),
        exactSumD(col("value") * col("value")).as("s2"),
        count(lit(1)).cast("double").as("n"))
        .select(col("event_type"),
          (col("s1") / col("n")).as("mu"),
          sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)).as("sigma"))
      ev.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("mu")) / nullif(col("sigma"), lit(0.0)), 6).as("zscore"))
    }),

    "q_distinct_users" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))),

    "q_approx_distinct" -> ((s, dir) =>
      // HLL++ sketch — engine-specific estimate, rows-only check
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))),

    "q_sample_hash" -> ((s, dir) =>
      Sampling.deterministicSample(Tables.documents(s, dir), "doc_id", 0.125)
        .select("doc_id", "lang", "source")),

    "q_weighted_sample" -> ((s, dir) =>
      // length-weighted doc sample (A-ES without replacement): long docs
      // proportionally likelier, membership engine-reproducible from
      // md5(doc_id) — no rand(), so retries and other engines agree
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id", "n_chars",
        k = 200).select("doc_id", "lang", "sample_key")),

    "q_stratified_sample" -> ((s, dir) =>
      // exactly 20 docs per language, hash-ordered (eval-set construction)
      Sampling.stratifiedExact(Tables.documents(s, dir), "lang", "doc_id", 20)
        .select("doc_id", "lang")),

    "q_corpus_mix" -> ((s, dir) =>
      Sampling.mixCorpora(Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 0.25, "de" -> 1.0, "fr" -> 1.0, "es" -> 0.5))
        .select("doc_id", "lang")),

    "q_scrub_pii" -> ((s, dir) =>
      // PII appended deterministically so the redaction actually fires on
      // every row — both engines synthesize the identical input
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.scrubPii(concat(col("text"),
          lit(" contact bob@x-corp.io at 555-867-5309 or https://ex.com/a?b=1 ip 10.0.0.1")))
          .as("scrubbed"))),

    "q_split_assign" -> ((s, dir) =>
      Sampling.assignSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")),

    "q_pack_sequences" -> ((s, dir) =>
      // pre-training sequence packing: 2048-token budget along doc_id order
      // (distributed two-level prefix sum; small chunkSize so sf0.01 still
      // exercises the multi-chunk path)
      Packing.packSequences(Tables.documents(s, dir), budget = 2048, chunkSize = 64)),

    "q_shard_assign" -> ((s, dir) =>
      // deterministic global shuffle + 4096-token training shards: md5(id)
      // order, two-level prefix sum chunked on the hash's high bits
      Packing.shardAssign(Tables.documents(s, dir), budget = 4096)),

    "q_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      // seed queries over the corpus vocabulary; BM25 top-10 per query
      val qs = Seq(
        (1L, "table scan filter"), (2L, "merge join batch"),
        (3L, "stream window agg"), (4L, "customer order group")
      ).toDF("q_id", "q_text")
      graft.operators.Retrieval.bm25TopK(Tables.documents(s, dir), qs, k = 10)
    }),

    "q_rrf_fusion" -> ((s, dir) => {
      import s.implicits._
      // hybrid retrieval: BM25 top-20 (lexical) fused with cosine top-20
      // against the matching anchor embedding (dense; anchor for query i =
      // embedding i, the self-pair excluded by topKBatch's contract) under
      // reciprocal-rank fusion, c = 60 (the Cormack et al. constant)
      val qs = Seq(
        (1L, "table scan filter"), (2L, "merge join batch"),
        (3L, "stream window agg"), (4L, "customer order group")
      ).toDF("q_id", "q_text")
      val lex = Retrieval.bm25TopK(Tables.documents(s, dir), qs, k = 20)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("score").desc, col("doc_id"))))
        .select(col("q_id"), col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.topKBatch(
        emb, emb.where(col("vec_id").isin(1L, 2L, 3L, 4L)), k = 20)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cosine").desc, col("vec_id"))))
        .select(col("qid").as("q_id"), col("vec_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, dense), k = 10)
    }),

    "q_rank_eval" -> ((s, dir) => {
      import s.implicits._
      // offline eval of the DENSE ranking against exact LEXICAL relevance:
      // grade(q, d) = #distinct query tokens present in d's token set —
      // integer ground truth, no float thresholds. nDCG@10 / MRR / P@10
      // per query answer "does dense retrieval surface lexically relevant
      // docs", the report a hybrid pipeline reads before shipping.
      val qs = Seq(
        (1L, "table scan filter"), (2L, "merge join batch"),
        (3L, "stream window agg"), (4L, "customer order group")
      ).toDF("q_id", "q_text")
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.topKBatch(
        emb, emb.where(col("vec_id").isin(1L, 2L, 3L, 4L)), k = 10)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cosine").desc, col("vec_id"))))
        .select(col("qid").as("q_id"), col("vec_id").as("doc_id"), col("rank"))
      val qTerms = qs.select(col("q_id"),
        explode(array_distinct(Dedup.tokens("q_text"))).as("token"))
      val rel = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(Dedup.tokens("text"))).as("token"))
        .join(broadcast(qTerms), "token")
        .groupBy(col("q_id"), col("doc_id"))
        .agg(count(lit(1)).cast("int").as("rel"))
      Retrieval.rankEval(dense, rel, k = 10)
    }),

    "q_domain_cap" -> ((s, dir) => {
      // per-domain quota: keep the 20 best-quality docs per canonical host
      // (synthetic URLs by the q_url_normalize convention)
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/docs/"), (col("doc_id") % 5).cast("string"),
        lit("/?utm_source=feed&id="), (col("doc_id") % 3).cast("string"),
        when(col("doc_id") % 2 === 0, "#top").otherwise(""))
      TextAnalysis.domainCap(
        Tables.documents(s, dir).withColumn("url", url), cap = 20)
    }),

    "q_span_dedup" -> ((s, dir) =>
      // substring-level dedup: strip every non-first occurrence of a
      // repeated 8-token span, keep documents (possibly emptied) in order
      graft.operators.SpanDedup.dedupSpans(Tables.documents(s, dir), k = 8)),

    "q_interval_join" -> ((s, dir) => {
      // errors landing inside same-user browse sessions: time-bucketed
      // interval containment (equi-join on (user, hour-bucket) + residual
      // range test — no per-user cross product)
      // 12 h gap → multi-event activity episodes whose spans cover most of
      // the timeline, so the containment test has real hits AND misses at
      // test SF (a 30-min gap leaves every episode a point)
      val ev = events(s, dir)
      val sess = Sessionize.byGap(
        ev.where(col("event_type").isin("click", "view")), 43200)
        .select(col("user_id"), col("session_start"),
          col("session_start").cast("timestamp").cast("double").as("start_sec"),
          (col("session_start").cast("timestamp").cast("double")
            + col("duration_sec")).as("end_sec"))
      val errs = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").cast("double").as("ts_sec"))
      graft.operators.IntervalJoin.pointInInterval(errs, sess,
          Seq("user_id"), "ts_sec", "start_sec", "end_sec", bucketSec = 86400L)
        .select(col("user_id"), col("event_id"), col("session_start"))
    }),

    "q_lang_id" -> ((s, dir) => TextAnalysis.langId(Tables.documents(s, dir))),

    "q_quality_score" -> ((s, dir) => TextAnalysis.qualityScore(Tables.documents(s, dir))),

    "q_code_detect" -> ((s, dir) => {
      // code-vs-prose detector (the router in front of separate code/text
      // curation tracks): three independent signals — brace/semicolon
      // density, code-keyword hits, symbol-to-alpha ratio — combined into
      // one score; pure column arithmetic at scan speed, no shuffle
      val text = col("text")
      val n = greatest(length(text).cast("double"), lit(1.0))
      val punct = size(regexp_extract_all(text, lit("[{}();=\\[\\]<>]"), lit(0)))
        .cast("double") / n
      val kw = size(regexp_extract_all(lower(text),
        lit("\\b(def|return|function|var|class|import|if|else|for|while)\\b"),
        lit(0))).cast("double")
      val words = greatest(
        size(split(trim(text), "\\s+")).cast("double"), lit(1.0))
      val score = round(punct * 10.0 + (kw / words) * 5.0, 6)
      Tables.documents(s, dir)
        .select(col("doc_id"), score.as("code_score"),
          (score > 0.5).as("is_code"))
    }),

    "q_readability" -> ((s, dir) => {
      // Flesch-style reading-ease score as pure column arithmetic over
      // three regexp counts (words, sentence terminators, vowel-group
      // syllable proxy) — scan-speed, codegen'd, no shuffle at all; the
      // regex classes are dialect-portable so the oracle counts match
      val text = lower(col("text"))
      val words = size(regexp_extract_all(text, lit("[a-z0-9']+"), lit(0))).cast("long")
      val sents = greatest(
        size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"), lit(1L))
      val syll = size(regexp_extract_all(text, lit("[aeiouy]+"), lit(0))).cast("long")
      Tables.documents(s, dir)
        .select(col("doc_id"), words.as("n_words"), sents.as("n_sents"),
          syll.as("n_syll"))
        .where(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"), col("n_sents"),
          round(lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sents").cast("double")) -
            lit(84.6) * (col("n_syll").cast("double") / col("n_words").cast("double")), 6)
            .as("flesch"))
    }),

    "q_classifier" -> ((s, dir) =>
      // learned quality filter, scorecard AS DATA (the FineWeb-Edu/DCLM
      // distillation loop): heuristic-gate labels → hash 80/20 split →
      // hashed-BOW logistic regression trained train-side only →
      // held-out confusion emitted as one metrics row. Training is
      // iterative full-batch GD (not SQL-expressible) → rows check;
      // ClassifierSpec asserts the separable-corpus accuracy floor,
      // partitioning invariance, and hand-checked gradient steps.
      graft.operators.Classifier.scorecard(Tables.documents(s, dir))),

    "q_type_token" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.typeTokenRatio("text").as("ttr"))),

    "q_token_count" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount("text").as("n_ws_tokens"),
        TextAnalysis.regexTokenCount("text").as("n_re_tokens"))),

    "q_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.fingerprint("text").as("fp"))),

    // same pandas-sort constraint: keep the feature vector out of the query
    // projection (scalar summary instead); the typed Dataset keeps the array
    "q_salted_join" -> ((s, dir) => {
      // skew-salted fact⋈dim join, aggregated — the oracle is the PLAIN
      // join, proving salting preserves join semantics exactly
      val dim = Tables.part(s, dir).select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Skew.saltedJoin(
          Tables.lineitem(s, dir).select("l_partkey", "l_quantity"), dim, "l_partkey", 8)
        .groupBy(col("p_brand"))
        .agg(exactSumD(col("l_quantity")).as("sum_qty"))
    }),

    "q_frame_sample" -> ((s, dir) => {
      // video keyframe sampling: one row per sampled frame
      val media = Multimodal.mediaRecords(s, Tables.documents(s, dir))
      Multimodal.sampleFrames(media.filter(col("kind") === "video")).toDF()
    }),

    "q_multimodal_features" -> ((s, dir) =>
      Multimodal.featurize(s, Tables.documents(s, dir)).toDF()
        .select(col("doc_id"), col("kind"), col("byte_len"), col("checksum"),
          size(col("features")).cast("long").as("n_features"),
          round(element_at(col("features"), 1), 6).as("f0")))
  )

  // ---- DuckDB oracles ------------------------------------------------------

  /** q_pagerank's oracle, the 5 iterations unrolled as chained CTEs — each
    * mirrors Graph.pagerank's iteration expression-for-expression
    * (round-12 decimal contribution/dangling sums; double +,*,/ in the
    * same order), so the rank vector is bit-identical by construction.
    * Every CTE is MATERIALIZED: DuckDB inlines multiply-referenced CTEs,
    * so an unrolled chain re-evaluates each level ~3x per successor —
    * exponential in depth (measured: minutes at 5 levels, <0.5 s
    * materialized).
    */
  private def pagerankOracleSql(iters: Int): String = {
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |st AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / n AS rank FROM nodes CROSS JOIN st)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""d$i AS MATERIALIZED (SELECT coalesce(CAST(sum(CAST(round(r.rank, 12) AS DECIMAL(28,12))) AS DOUBLE), CAST(0 AS DOUBLE)) AS dm
         |       FROM r$p r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
         |c$i AS MATERIALIZED (SELECT e.dst AS node, CAST(sum(CAST(round(r.rank / deg.deg, 12) AS DECIMAL(28,12))) AS DOUBLE) AS cin
         |       FROM e JOIN r$p r ON e.src = r.node JOIN deg ON e.src = deg.src GROUP BY 1),
         |r$i AS MATERIALIZED (SELECT nodes.node,
         |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
         |         + CAST(0.85 AS DOUBLE) * (coalesce(c$i.cin, CAST(0 AS DOUBLE)) + d$i.dm / n) AS rank
         |       FROM nodes CROSS JOIN st CROSS JOIN d$i LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""\nSELECT CASE WHEN node % 2 = 0 THEN concat('c', node >> 1)
         |            ELSE concat('s', node >> 1) END AS node,
         |  round(rank, 6) AS rank
         |FROM r$iters ORDER BY rank DESC, node LIMIT 25""".stripMargin
  }

  /** The dataset-card oracle, shared VERBATIM by q_dataset_card (one
    * keyed aggregate) and q_card_stream (the foreachBatch maintenance
    * face incl. a replayed batch): identical rows by construction.
    */
  private val datasetCardSql: String =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
      |  round(CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      |        / CAST(count(*) AS DOUBLE), 6) AS mean_tokens,
      |  round(1.0 - count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared CTE prefix for the co-purchase graph keys: customers sharing
    * a (part, ship-month) cell — Graph.coPurchaseEdges' mirror (canonical
    * src<dst, distinct). Callers append further CTEs or a SELECT.
    */
  private val coPurchaseEdgesSql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT DISTINCT l_partkey AS p, date_trunc('month', l_shipdate) AS m,
      |    o_custkey AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.c AS src, b.c AS dst
      |  FROM cells a JOIN cells b ON a.p = b.p AND a.m = b.m AND a.c < b.c)""".stripMargin

  /** q_bfs_hops' oracle — `iters` min-distance-propagation rounds unrolled
    * as MATERIALIZED chained CTEs (same exponential-inlining hazard as
    * [[componentsOracleSql]]); the 999999 sentinel mirrors
    * Graph.Unreached so no NULL semantics are involved anywhere.
    */
  private def bfsOracleSql(source: Long, iters: Int): String = {
    val head =
      s"""WITH h AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS MATERIALIZED (SELECT src, dst FROM h UNION SELECT dst AS src, src AS dst FROM h),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
         |d0 AS MATERIALIZED (SELECT node,
         |  CASE WHEN node = $source THEN CAST(0 AS BIGINT)
         |       ELSE CAST(999999 AS BIGINT) END AS hop FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""m$i AS MATERIALIZED (SELECT e.dst AS node, min(d.hop) + 1 AS nhop
         |       FROM e JOIN d$p d ON e.src = d.node GROUP BY 1),
         |d$i AS MATERIALIZED (SELECT d.node,
         |       least(d.hop, coalesce(m.nhop, CAST(999999 AS BIGINT))) AS hop
         |       FROM d$p d LEFT JOIN m$i m ON d.node = m.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""\nSELECT hop, count(*) AS n_nodes FROM d$iters
         |WHERE hop < 999999 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_components' oracle — `iters` min-label-propagation rounds unrolled
    * as chained CTEs, mirroring Graph.connectedComponents round-for-round.
    * Labels are the long node ids under min, rendered to 'c<k>'/'s<k>'
    * only at the output; equality is structural by construction. CTEs
    * MATERIALIZED for the same exponential-inlining reason as
    * [[pagerankOracleSql]] (2^iters base re-evaluations otherwise).
    */
  private def componentsOracleSql(iters: Int): String = {
    val head =
      """WITH h AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_totalprice > 495000),
        |e AS MATERIALIZED (SELECT src, dst FROM h UNION SELECT dst AS src, src AS dst FROM h),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
        |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""m$i AS MATERIALIZED (SELECT e.dst AS node, min(l.label) AS nmin
         |       FROM e JOIN l$p l ON e.src = l.node GROUP BY 1),
         |l$i AS MATERIALIZED (SELECT l.node, least(l.label, coalesce(m.nmin, l.label)) AS label
         |       FROM l$p l LEFT JOIN m$i m ON l.node = m.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""\nSELECT CASE WHEN label % 2 = 0 THEN concat('c', label >> 1)
         |            ELSE concat('s', label >> 1) END AS component,
         |  count(*) AS n_nodes
         |FROM l$iters GROUP BY 1 ORDER BY n_nodes DESC, component LIMIT 25""".stripMargin
  }

  private val normSql =
    "sqrt((SELECT CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i)))"

  /** The curation-pipeline oracle, shared VERBATIM by q_pipeline_e2e
    * (single fused plan) and q_dag_run (the same composition through the
    * QueryDag orchestrator): identical rows by construction, so one SQL
    * string hash-checks both faces and can never drift between them.
    */
  private val pipelineE2eSql =
    """WITH s AS (
      |  SELECT doc_id,
      |   CAST(toks AS BIGINT) AS n_tokens,
      |   CAST(round(CAST(least(chars / 500.0, 1.0) AS DECIMAL(18,12)) * 0.5
      |       + CAST(least(stops / nullif(toks, 0) * 5.0, 1.0) AS DECIMAL(18,12)) * 0.3
      |       + CAST(1.0 - least(punct / nullif(chars, 0) * 10.0, 1.0) AS DECIMAL(18,12)) * 0.2, 6)
      |     AS DOUBLE) AS quality
      |  FROM (SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
      |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS punct,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS stops,
      |    CAST(length(text) AS DOUBLE) AS chars
      |  FROM documents WHERE doc_id % 50 <> 0)),
      |t AS (SELECT quantile_cont(quality, 0.25) AS thr FROM s),
      |gated AS (SELECT s.doc_id, s.n_tokens, s.quality FROM s, t WHERE s.quality >= t.thr),
      |dedup AS (
      |  SELECT min(g.doc_id) AS doc_id
      |  FROM gated g JOIN documents d ON g.doc_id = d.doc_id
      |  GROUP BY md5(d.text)),
      |toks2 AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
      |                        i -> array_to_string(t[i:i+7], ' '))) AS g
      |  FROM toks2),
      |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
      |dirty AS (SELECT DISTINCT doc_id FROM grams
      |          WHERE doc_id IN (SELECT doc_id FROM dedup)
      |            AND g IN (SELECT g FROM bench))
      |SELECT d.doc_id, d.lang, d.source, g.n_tokens, g.quality
      |FROM documents d
      |JOIN gated g ON d.doc_id = g.doc_id
      |JOIN dedup k ON d.doc_id = k.doc_id
      |WHERE d.doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "q_ohlc_daily" ->
      """SELECT user_id, CAST(ts AS DATE) AS d,
        | arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        | arg_max(value, ts) AS close, count(*) AS volume
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_ohlc_15min" ->
      """SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS bucket,
        | arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        | arg_max(value, ts) AS close, count(*) AS volume
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_fill_forward" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM bars GROUP BY 1),
        |spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL '1 day')) AS DATE) AS d
        |  FROM span)
        |SELECT s.user_id, s.d,
        |  last_value(b.close IGNORE NULLS)
        |    OVER (PARTITION BY s.user_id ORDER BY s.d) AS close
        |FROM spine s LEFT JOIN bars b ON s.user_id = b.user_id AND s.d = b.d""".stripMargin,

    "q_incremental_bars" ->
      """SELECT user_id, CAST(ts AS DATE) AS d,
        | arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        | arg_max(value, ts) AS close, count(*) AS volume
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_stream_topk" ->
      """SELECT wstart, user_id, n FROM (
        |  SELECT wstart, user_id, n,
        |         row_number() OVER (PARTITION BY wstart ORDER BY n DESC, user_id) AS rn
        |  FROM (SELECT date_trunc('hour', ts) AS wstart, user_id, count(*) AS n
        |        FROM events GROUP BY 1, 2))
        |WHERE rn <= 5""".stripMargin,

    "q_incremental_shuffled" ->
      """SELECT i.event_id, i.user_id, i.ts FROM events i
        |LEFT JOIN (SELECT user_id, max(ts) AS m FROM events
        |           WHERE ts < TIMESTAMP '2024-01-20' GROUP BY 1) e
        |  ON i.user_id = e.user_id
        |WHERE e.m IS NULL OR i.ts > e.m""".stripMargin,

    "q_incremental_append" ->
      """SELECT i.event_id, i.user_id, i.ts FROM events i
        |LEFT JOIN (SELECT user_id, max(ts) AS m FROM events
        |           WHERE ts < TIMESTAMP '2024-01-20' GROUP BY 1) e
        |  ON i.user_id = e.user_id
        |WHERE e.m IS NULL OR i.ts > e.m""".stripMargin,

    "q_latest_date" ->
      "SELECT user_id, max(ts) AS latest_ts, CAST(max(ts) AS DATE) AS latest_d FROM events GROUP BY user_id",

    "q_scd2" ->
      """WITH base AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_type, ts, event_id FROM base
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM runs""".stripMargin,

    "q_cdc_merge" ->
      """WITH snap AS (
        |  SELECT user_id, value, ts FROM (
        |    SELECT user_id, value, ts,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-20')
        |  WHERE rn = 1),
        |u AS (
        |  SELECT user_id, value, ts, 0 AS pri, CAST(-1 AS BIGINT) AS tie,
        |    '__snap' AS op FROM snap
        |  UNION ALL
        |  SELECT user_id, value, ts, 1 AS pri, CAST(event_id AS BIGINT) AS tie,
        |    event_type AS op
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-20'),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, pri DESC, tie DESC) AS rn FROM u)
        |SELECT user_id, value, ts, (pri = 1) AS from_changelog
        |FROM r WHERE rn = 1 AND op <> 'error'""".stripMargin,

    "q_sma" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d, close,
        |  CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY d) >= 5
        |    THEN CAST(sum(CAST(close AS DECIMAL(28,6)))
        |           OVER (PARTITION BY user_id ORDER BY d
        |                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) / 5
        |  END AS sma_5
        |FROM bars""".stripMargin,

    "q_rolling_median" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d, close,
        |  round(quantile_cont(close, 0.5) OVER (PARTITION BY user_id ORDER BY d
        |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS roll_med
        |FROM bars""".stripMargin,

    "q_dollar_volume" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_min(value, ts) AS open,
        |         arg_max(value, ts) AS close, count(*) AS volume
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d, round((open + close) / 2 * volume, 6) AS dollar_volume
        |FROM bars""".stripMargin,

    "q_gap_off_peak" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_min(value, ts) AS open
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d, open,
        |  round((open - lag(open, 1) OVER w) / nullif(lag(open, 1) OVER w, 0) * 100, 6) AS gap_pct
        |FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY d)""".stripMargin,

    "q_gap_on_peak" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_min(value, ts) AS open,
        |         arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d, round((close - open) / nullif(open, 0) * 100, 6) AS gap_pct
        |FROM bars""".stripMargin,

    "q_pct_change_ndays" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d, close,
        |  round((close - first_value(close) OVER w) / nullif(first_value(close) OVER w, 0) * 100, 6)
        |    AS pct_change
        |FROM bars
        |WINDOW w AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_drawdown" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d, close,
        |  round((close / nullif(max(close) OVER (PARTITION BY user_id ORDER BY d
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) - 1) * 100, 6)
        |    AS drawdown_pct
        |FROM bars""".stripMargin,

    "q_ewma" -> {
      // 2⁹⁻ⁱ integer weights, generated to mirror the Spark lag terms 1:1
      val n = 10
      val num = (0 until n).map(i =>
        s"COALESCE(CAST(lag(close, $i) OVER w AS DECIMAL(28,6)) * ${1L << (n - 1 - i)}, 0)")
        .mkString(" + ")
      val den = (0 until n).map(i =>
        s"CASE WHEN lag(close, $i) OVER w IS NOT NULL THEN ${1L << (n - 1 - i)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH bars AS (
         |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
         |  FROM events GROUP BY 1, 2)
         |SELECT user_id, d, close,
         |  round(CAST($num AS DOUBLE) / CAST($den AS DOUBLE), 6) AS ewma_half
         |FROM bars
         |WINDOW w AS (PARTITION BY user_id ORDER BY d)""".stripMargin
    },

    "q_volatility" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, d,
        |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY d), 0) - 1 AS r,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
        |  FROM bars),
        |sums AS (
        |  SELECT user_id, d, rn,
        |    CAST(sum(CAST(r AS DECIMAL(38,12))) OVER fr AS DOUBLE) AS s1,
        |    CAST(sum(CAST(r * r AS DECIMAL(38,12))) OVER fr AS DOUBLE) AS s2
        |  FROM r
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY d
        |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, d,
        |  round(CASE WHEN rn >= 21
        |    THEN sqrt((s2 - s1 * s1 / 20.0) / 19.0) * sqrt(252.0) END, 6) AS ann_vol
        |FROM sums""".stripMargin,

    "q_corr_pairs" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |top AS (
        |  SELECT user_id FROM bars GROUP BY user_id
        |  ORDER BY count(*) DESC, user_id LIMIT 10),
        |tb AS (SELECT b.user_id, b.d, b.close FROM bars b JOIN top USING (user_id)),
        |p AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2, a.close AS x, b.close AS y
        |  FROM tb a JOIN tb b ON a.d = b.d AND a.user_id < b.user_id),
        |st AS (
        |  SELECT u1, u2,
        |    CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM p GROUP BY 1, 2)
        |SELECT u1, u2,
        |  round((n * sxy - s1 * s2) /
        |    nullif(sqrt(n * sxx - s1 * s1) * sqrt(n * syy - s2 * s2), 0), 6) AS corr_close
        |FROM st""".stripMargin,

    "q_vwap" ->
      """SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_trades,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
        |    AS vwap
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_lead_lag" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |top AS (
        |  SELECT user_id FROM bars GROUP BY user_id
        |  ORDER BY count(*) DESC, user_id LIMIT 10),
        |ret AS (
        |  SELECT b.user_id, b.d,
        |    b.close / nullif(lag(b.close) OVER (PARTITION BY b.user_id ORDER BY b.d), 0) - 1 AS r
        |  FROM bars b JOIN top USING (user_id)),
        |r2 AS (SELECT user_id, d, r FROM ret WHERE r IS NOT NULL),
        |lagged AS (
        |  SELECT user_id AS u2, d,
        |    lag(r) OVER (PARTITION BY user_id ORDER BY d) AS rb
        |  FROM r2),
        |l2 AS (SELECT u2, d, rb FROM lagged WHERE rb IS NOT NULL),
        |p AS (
        |  SELECT a.user_id AS u1, l2.u2, a.r AS ra, l2.rb
        |  FROM r2 a JOIN l2 ON a.d = l2.d AND a.user_id <> l2.u2),
        |st AS (
        |  SELECT u1, u2,
        |    CAST(sum(CAST(ra AS DECIMAL(28,12))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(rb AS DECIMAL(28,12))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(ra * ra AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(rb * rb AS DECIMAL(28,12))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(ra * rb AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM p GROUP BY 1, 2)
        |SELECT u1, u2,
        |  round((n * sxy - s1 * s2) /
        |    nullif(sqrt(n * sxx - s1 * s1) * sqrt(n * syy - s2 * s2), 0), 6)
        |    AS leadlag_corr
        |FROM st""".stripMargin,

    "q_beta" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |ret AS (
        |  SELECT user_id, d,
        |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY d), 0) - 1 AS r
        |  FROM bars),
        |r2 AS (SELECT user_id, d, r FROM ret WHERE r IS NOT NULL),
        |mkt AS (
        |  SELECT d, CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mr
        |  FROM r2 GROUP BY d),
        |j AS (SELECT user_id, r, mr FROM r2 JOIN mkt USING (d)),
        |st AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) AS sr,
        |    CAST(sum(CAST(mr AS DECIMAL(28,12))) AS DOUBLE) AS sm,
        |    CAST(sum(CAST(r * mr AS DECIMAL(28,12))) AS DOUBLE) AS srm,
        |    CAST(sum(CAST(mr * mr AS DECIMAL(28,12))) AS DOUBLE) AS smm,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM j GROUP BY 1)
        |SELECT user_id,
        |  round((n * srm - sr * sm) / nullif(n * smm - sm * sm, 0), 6) AS beta
        |FROM st""".stripMargin,

    "q_autocorr" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |ret AS (
        |  SELECT user_id, d,
        |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY d), 0) - 1 AS r
        |  FROM bars),
        |p AS (
        |  SELECT user_id, r,
        |    lag(r) OVER (PARTITION BY user_id ORDER BY d) AS rp
        |  FROM ret),
        |p2 AS (SELECT user_id, r, rp FROM p WHERE r IS NOT NULL AND rp IS NOT NULL),
        |st AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(rp AS DECIMAL(28,12))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(r * r AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(rp * rp AS DECIMAL(28,12))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(r * rp AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM p2 GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |  round((n * sxy - s1 * s2) /
        |    nullif(sqrt(n * sxx - s1 * s1) * sqrt(n * syy - s2 * s2), 0), 6) AS ac1
        |FROM st""".stripMargin,

    "q_obv" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close,
        |         count(*) AS volume
        |  FROM events GROUP BY 1, 2),
        |signed AS (
        |  SELECT user_id, d,
        |    CAST(sign(close - lag(close) OVER (PARTITION BY user_id ORDER BY d))
        |      AS BIGINT) * volume AS sv
        |  FROM bars)
        |SELECT user_id, d,
        |  CAST(sum(coalesce(sv, 0)) OVER (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
        |FROM signed""".stripMargin,

    "q_rolling_corr" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |ret AS (
        |  SELECT user_id, d,
        |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY d), 0) - 1 AS r
        |  FROM bars),
        |ret2 AS (SELECT * FROM ret WHERE r IS NOT NULL),
        |mkt AS (
        |  SELECT d, CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mr
        |  FROM ret2 GROUP BY d),
        |j AS (SELECT ret2.user_id, ret2.d, ret2.r, mkt.mr FROM ret2 JOIN mkt USING (d)),
        |wsum AS (
        |  SELECT user_id, d,
        |    CAST(sum(CAST(r AS DECIMAL(28,12))) OVER w AS DOUBLE) AS sr,
        |    CAST(sum(CAST(mr AS DECIMAL(28,12))) OVER w AS DOUBLE) AS sm,
        |    CAST(sum(CAST(r * mr AS DECIMAL(28,12))) OVER w AS DOUBLE) AS srm,
        |    CAST(sum(CAST(r * r AS DECIMAL(28,12))) OVER w AS DOUBLE) AS srr,
        |    CAST(sum(CAST(mr * mr AS DECIMAL(28,12))) OVER w AS DOUBLE) AS smm,
        |    CAST(count(*) OVER w AS DOUBLE) AS n
        |  FROM j
        |  WINDOW w AS (PARTITION BY user_id ORDER BY d
        |               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |SELECT user_id, d,
        |  CASE WHEN n >= 10 THEN
        |    round((n * srm - sr * sm) /
        |      nullif(sqrt(n * srr - sr * sr) * sqrt(n * smm - sm * sm), 0), 6) + 0.0
        |  END AS roll_corr
        |FROM wsum""".stripMargin,

    "q_seasonality" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |ret AS (
        |  SELECT d,
        |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY d), 0) - 1 AS r
        |  FROM bars)
        |SELECT dayofweek(d) + 1 AS dow, count(*) AS n,
        |  round(CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS avg_ret
        |FROM ret WHERE r IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q_benford" ->
      """WITH digits AS (
        |  SELECT event_type,
        |    regexp_extract(CAST(CAST(value AS DECIMAL(28,6)) AS VARCHAR), '[1-9]') AS first_digit
        |  FROM events),
        |counts AS (
        |  SELECT event_type, first_digit, count(*) AS n
        |  FROM digits WHERE first_digit <> '' GROUP BY 1, 2)
        |SELECT event_type, first_digit, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type), 6) AS obs_freq,
        |  round(ln(1.0 + 1.0 / CAST(first_digit AS DOUBLE)) / ln(10.0), 6) AS benford_freq
        |FROM counts""".stripMargin,

    "q_ab_test" ->
      """WITH per_user AS (
        |  SELECT user_id % 2 AS variant,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY user_id),
        |rates AS (
        |  SELECT variant, count(*) AS n, CAST(sum(converted) AS BIGINT) AS k
        |  FROM per_user GROUP BY 1),
        |a AS (SELECT n AS n1, k AS k1 FROM rates WHERE variant = 0),
        |b AS (SELECT n AS n2, k AS k2 FROM rates WHERE variant = 1)
        |SELECT n1, n2,
        |  round(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
        |  round(CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS p2,
        |  round((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |       - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
        |    nullif(sqrt((CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |      * (1.0 - CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |      * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 0), 6) AS z
        |FROM a CROSS JOIN b""".stripMargin,

    "q_code_detect" ->
      """WITH sig AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[{}();=\[\]<>]')) AS DOUBLE)
        |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '\b(def|return|function|var|class|import|if|else|for|while)\b'))
        |      AS DOUBLE) AS kw,
        |    greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE),
        |      1.0) AS words
        |  FROM documents)
        |SELECT doc_id,
        |  round(punct * 10.0 + (kw / words) * 5.0, 6) AS code_score,
        |  round(punct * 10.0 + (kw / words) * 5.0, 6) > 0.5 AS is_code
        |FROM sig""".stripMargin,

    "q_rolling_outliers" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT user_id, d, close,
        |    CAST(count(*) OVER w AS DOUBLE) AS cnt,
        |    CAST(sum(CAST(close AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(close * close AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s2
        |  FROM bars
        |  WINDOW w AS (PARTITION BY user_id ORDER BY d
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, d, close,
        |  CASE WHEN cnt >= 10.0 THEN
        |    abs(close - s1 / cnt) >
        |      3.0 * sqrt(greatest((s2 - s1 * s1 / cnt) / nullif(cnt - 1.0, 0), 0.0))
        |  END AS is_outlier
        |FROM st""".stripMargin,

    "q_readability" ->
      """WITH counts AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9'']+')) AS BIGINT)
        |      AS n_words,
        |    greatest(CAST(len(regexp_extract_all(lower(text), '[.!?]+')) AS BIGINT),
        |      1) AS n_sents,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
        |      AS n_syll
        |  FROM documents)
        |SELECT doc_id, n_words, n_sents,
        |  round(206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
        |    - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
        |    AS flesch
        |FROM counts WHERE n_words > 0""".stripMargin,

    "q_table_diff" ->
      """WITH a AS (
        |  SELECT user_id, value AS old_value FROM (
        |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15')
        |  WHERE rn = 1),
        |b AS (
        |  SELECT user_id, value AS new_value FROM (
        |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-02-01')
        |  WHERE rn = 1)
        |SELECT coalesce(a.user_id, b.user_id) AS user_id, old_value, new_value,
        |  CASE WHEN old_value IS NULL THEN 'added'
        |       WHEN new_value IS NULL THEN 'removed'
        |       WHEN old_value = new_value THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id""".stripMargin,

    "q_user_growth" ->
      """WITH first_seen AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS d FROM events GROUP BY 1),
        |by_day AS (
        |  SELECT d, count(*) AS new_users FROM first_seen GROUP BY 1)
        |SELECT d, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM by_day""".stripMargin,

    "q_gap_detect" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d
        |  FROM events GROUP BY 1, 2),
        |gaps AS (
        |  SELECT user_id, d,
        |    datediff('day', lag(d) OVER (PARTITION BY user_id ORDER BY d), d)
        |      AS gap
        |  FROM bars)
        |SELECT user_id, min(d) AS first_d, max(d) AS last_d,
        |  count(*) AS n_days,
        |  CAST(datediff('day', min(d), max(d)) + 1 - count(*) AS BIGINT)
        |    AS n_missing,
        |  CAST(coalesce(max(gap), 1) AS BIGINT) AS max_gap
        |FROM gaps GROUP BY 1""".stripMargin,

    "q_ks_test" ->
      """WITH tagged AS (
        |  SELECT event_type, value,
        |    CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 1 ELSE 0 END AS a
        |  FROM events WHERE value IS NOT NULL),
        |cum AS (
        |  SELECT event_type,
        |    CAST(sum(a) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS c1,
        |    CAST(sum(1 - a) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS c2,
        |    CAST(sum(a) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
        |    CAST(sum(1 - a) OVER (PARTITION BY event_type) AS BIGINT) AS n2
        |  FROM tagged)
        |SELECT event_type, max(n1) AS n1, max(n2) AS n2,
        |  round(max(abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))), 6) AS ks
        |FROM cum GROUP BY 1""".stripMargin,

    "q_chi_square" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |terms AS (
        |  SELECT event_type, dow, o,
        |    CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE)
        |      * CAST(sum(o) OVER (PARTITION BY dow) AS DOUBLE)
        |      / CAST(sum(o) OVER () AS DOUBLE) AS e,
        |    count(*) OVER (PARTITION BY event_type) AS rc
        |  FROM cells)
        |SELECT event_type, CAST(sum(o) AS BIGINT) AS n,
        |  round(CAST(sum(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
        |    / e AS DECIMAL(38,18))) AS DOUBLE), 6) AS chi2,
        |  CAST(max(rc) - 1 AS BIGINT) AS dof
        |FROM terms GROUP BY 1""".stripMargin,

    "q_mannwhitney" ->
      """WITH tagged AS (
        |  SELECT event_type, value,
        |    CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 1 ELSE 0 END AS a
        |  FROM events WHERE value IS NOT NULL),
        |ranked AS (
        |  SELECT event_type, a,
        |    CAST(rank() OVER (PARTITION BY event_type ORDER BY value) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY event_type, value) AS DOUBLE)
        |         - 1.0) / 2.0 AS avg_rank,
        |    count(*) OVER (PARTITION BY event_type, value) AS t
        |  FROM tagged),
        |st AS (
        |  SELECT event_type,
        |    CAST(sum(a) AS DOUBLE) AS n1,
        |    CAST(sum(1 - a) AS DOUBLE) AS n2,
        |    sum(CASE WHEN a = 1 THEN avg_rank ELSE 0.0 END) AS r1,
        |    CAST(sum(CAST(CAST(t AS DOUBLE) * CAST(t AS DOUBLE) - 1.0
        |      AS DECIMAL(38,6))) AS DOUBLE) AS ties
        |  FROM ranked GROUP BY 1)
        |SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  round(r1 - n1 * (n1 + 1.0) / 2.0, 6) AS u1,
        |  round((r1 - n1 * (n1 + 1.0) / 2.0 - n1 * n2 / 2.0)
        |    / nullif(sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1.0)
        |        - ties / ((n1 + n2) * (n1 + n2 - 1.0)))), 0), 6) AS z
        |FROM st""".stripMargin,

    "q_trend_decompose" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |trended AS (
        |  SELECT user_id, d, close,
        |    CAST(sum(CAST(close AS DECIMAL(28,6))) OVER w7 AS DOUBLE)
        |      / count(*) OVER w7 AS trend
        |  FROM bars
        |  WINDOW w7 AS (PARTITION BY user_id ORDER BY d
        |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |seas AS (
        |  SELECT user_id, d, close, trend,
        |    CAST(sum(CAST(close - trend AS DECIMAL(28,12))) OVER wd AS DOUBLE)
        |      / count(*) OVER wd AS seasonal
        |  FROM trended
        |  WINDOW wd AS (PARTITION BY user_id, dayofweek(d)))
        |SELECT user_id, d, close, round(trend, 6) + 0.0 AS trend,
        |  round(seasonal, 6) + 0.0 AS seasonal,
        |  round(close - trend - seasonal, 6) + 0.0 AS remainder
        |FROM seas""".stripMargin,

    "q_skew_kurt" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |ret AS (
        |  SELECT user_id,
        |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY d), 0) - 1 AS r
        |  FROM bars),
        |st AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(r AS DECIMAL(38,18))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(r * r AS DECIMAL(38,18))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(r * r * r AS DECIMAL(38,18))) AS DOUBLE) AS s3,
        |    CAST(sum(CAST(r * r * r * r AS DECIMAL(38,18))) AS DOUBLE) AS s4,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM ret WHERE r IS NOT NULL GROUP BY 1),
        |mom AS (
        |  SELECT user_id, n, s1 / n AS mean, s2, s3, s4 FROM st),
        |cm AS (
        |  SELECT user_id, n,
        |    s2 / n - mean * mean AS m2,
        |    s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean AS m3,
        |    s4 / n - 4.0 * mean * (s3 / n) + 6.0 * mean * mean * (s2 / n)
        |      - 3.0 * mean * mean * mean * mean AS m4
        |  FROM mom)
        |SELECT user_id, CAST(n AS BIGINT) AS n_ret,
        |  round(m3 / nullif(sqrt(m2) * m2, 0), 6) AS skew,
        |  round(m4 / nullif(m2 * m2, 0) - 3.0, 6) AS ex_kurt
        |FROM cm""".stripMargin,

    "q_minmax_scale" ->
      """WITH ranges AS (
        |  SELECT event_type, min(value) AS lo, max(value) AS hi
        |  FROM events GROUP BY 1)
        |SELECT event_id, event_type,
        |  round((value - lo) / nullif(hi - lo, 0), 6) AS scaled
        |FROM events JOIN ranges USING (event_type)""".stripMargin,

    "q_lag_features" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d, close,
        |  lag(close, 1) OVER w AS lag1,
        |  lag(close, 2) OVER w AS lag2,
        |  lag(close, 3) OVER w AS lag3,
        |  round(CAST(sum(CAST(close AS DECIMAL(28,6))) OVER w5 AS DOUBLE)
        |    / count(*) OVER w5, 6) AS ma5,
        |  lead(close, 1) OVER w AS label_next
        |FROM bars
        |WINDOW w AS (PARTITION BY user_id ORDER BY d),
        |       w5 AS (PARTITION BY user_id ORDER BY d
        |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_entropy" ->
      """WITH counts AS (
        |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
        |withn AS (
        |  SELECT user_id, c, CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM counts),
        |terms AS (
        |  SELECT user_id, n,
        |    -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS term
        |  FROM withn)
        |SELECT user_id, max(n) AS n_events,
        |  round(CAST(sum(CAST(term AS DECIMAL(28,12))) AS DOUBLE), 6) AS entropy
        |FROM terms GROUP BY 1""".stripMargin,

    "q_target_encoding" ->
      """WITH overall AS (
        |  SELECT CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS gmean
        |  FROM events),
        |cats AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sv
        |  FROM events GROUP BY 1)
        |SELECT event_type, n,
        |  round((sv + 50.0 * gmean) / (CAST(n AS DOUBLE) + 50.0), 6) AS enc
        |FROM cats CROSS JOIN overall""".stripMargin,

    "q_markov_transition" ->
      """WITH pairs AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           AS from_state,
        |         event_type AS to_state
        |  FROM events),
        |counts AS (
        |  SELECT from_state, to_state, count(*) AS n
        |  FROM pairs WHERE from_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |  round(CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE), 6) AS p
        |FROM counts""".stripMargin,

    "q_percentile_rank" ->
      """SELECT doc_id, source, n_chars,
        |  round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6) AS pr
        |FROM documents""".stripMargin,

    "q_bollinger" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |sums AS (
        |  SELECT user_id, d, close,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn,
        |    CAST(sum(CAST(close AS DECIMAL(38,12))) OVER fr AS DOUBLE) AS s1,
        |    CAST(sum(CAST(close * close AS DECIMAL(38,12))) OVER fr AS DOUBLE) AS s2
        |  FROM bars
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY d
        |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, d, close,
        |  round(CASE WHEN rn >= 20 THEN s1 / 20.0 END, 6) AS bb_mid,
        |  round(CASE WHEN rn >= 20
        |    THEN s1 / 20.0 + 2.0 * sqrt((s2 - s1 * s1 / 20.0) / (20.0 - 1.0)) END, 6) AS bb_up,
        |  round(CASE WHEN rn >= 20
        |    THEN s1 / 20.0 - 2.0 * sqrt((s2 - s1 * s1 / 20.0) / (20.0 - 1.0)) END, 6) AS bb_dn
        |FROM sums""".stripMargin,

    "q_stochastic" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |k AS (
        |  SELECT user_id, d,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY d) >= 14
        |      THEN 100.0 * (close - min(close) OVER fr)
        |           / nullif(max(close) OVER fr - min(close) OVER fr, 0)
        |    END AS pk
        |  FROM bars
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY d
        |                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, d, round(pk, 6) AS pct_k,
        |  round(CASE WHEN rn >= 16
        |    THEN CAST(sum(CAST(pk AS DECIMAL(28,12))) OVER dw AS DOUBLE) / 3.0
        |  END, 6) AS pct_d
        |FROM k
        |WINDOW dw AS (PARTITION BY user_id ORDER BY d
        |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_cusum" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(close AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mu,
        |    sqrt((CAST(sum(CAST(close * close AS DECIMAL(28,12))) AS DOUBLE)
        |          - count(*) * (CAST(sum(CAST(close AS DECIMAL(28,12))) AS DOUBLE) / count(*))
        |                     * (CAST(sum(CAST(close AS DECIMAL(28,12))) AS DOUBLE) / count(*)))
        |         / nullif(count(*) - 1.0, 0)) AS sigma
        |  FROM bars GROUP BY user_id),
        |cs AS (
        |  SELECT b.user_id, b.d, st.sigma,
        |    CAST(sum(CAST(b.close - st.mu AS DECIMAL(28,12)))
        |         OVER cum AS DOUBLE) AS c
        |  FROM bars b JOIN stats st ON b.user_id = st.user_id
        |  WINDOW cum AS (PARTITION BY b.user_id ORDER BY b.d
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (
        |  SELECT user_id, d, sigma,
        |    c - least(min(c) OVER cum, 0.0) AS sv
        |  FROM cs
        |  WINDOW cum AS (PARTITION BY user_id ORDER BY d
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, d, round(sv, 6) + 0.0 AS cusum,
        |  (sv > 4.0 * sigma) AS alarm
        |FROM s""".stripMargin,

    "q_sharpe" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id,
        |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY d), 0) - 1 AS r
        |  FROM bars),
        |agg AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(r * r AS DECIMAL(28,12))) AS DOUBLE) AS s2,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM r WHERE r IS NOT NULL GROUP BY user_id)
        |SELECT user_id, CAST(n AS BIGINT) AS n_days,
        |  round((s1 / n) / nullif(sqrt((s2 - n * (s1 / n) * (s1 / n))
        |                               / nullif(n - 1.0, 0)), 0)
        |        * sqrt(252.0), 6) + 0.0 AS sharpe
        |FROM agg""".stripMargin,

    "q_sortino" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id,
        |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY d), 0) - 1 AS r
        |  FROM bars),
        |agg AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(CASE WHEN r < 0 THEN r * r ELSE 0.0 END AS DECIMAL(28,12))) AS DOUBLE) AS sd2,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM r WHERE r IS NOT NULL GROUP BY user_id)
        |SELECT user_id, CAST(n AS BIGINT) AS n_days,
        |  round((s1 / n) / nullif(sqrt(sd2 / nullif(n - 1.0, 0)), 0)
        |        * sqrt(252.0), 6) + 0.0 AS sortino
        |FROM agg""".stripMargin,

    "q_var_es" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, d,
        |    close / nullif(lag(close) OVER (PARTITION BY user_id ORDER BY d), 0) - 1 AS r
        |  FROM bars),
        |x AS (
        |  SELECT user_id, r,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY r, d) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM r WHERE r IS NOT NULL)
        |SELECT user_id, max(n) AS n_days,
        |  round(max(CASE WHEN rn = (n + 19) // 20 THEN r END), 6) + 0.0 AS var95,
        |  round(CAST(sum(CAST(CASE WHEN rn <= (n + 19) // 20 THEN r ELSE 0.0 END
        |                      AS DECIMAL(28,12))) AS DOUBLE)
        |        / max((n + 19) // 20), 6) + 0.0 AS es95
        |FROM x GROUP BY user_id""".stripMargin,

    "q_pairs_spread" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |al AS MATERIALIZED (
        |  SELECT a.d, a.close AS c1, b.close AS c2
        |  FROM bars a JOIN bars b ON a.d = b.d
        |  WHERE a.user_id = 1 AND b.user_id = 2),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(c1 AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(c2 AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(c2 * c1 AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(c2 * c2 AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        |  FROM al),
        |co AS (
        |  SELECT (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) AS beta, n, sx, sy
        |  FROM st),
        |co2 AS (SELECT beta, (sy - beta * sx) / n AS alpha FROM co),
        |sp AS MATERIALIZED (
        |  SELECT d, c1 - (alpha + beta * c2) AS spread FROM al, co2),
        |ss AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n2,
        |    CAST(sum(CAST(spread AS DECIMAL(28,12))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(spread * spread AS DECIMAL(28,12))) AS DOUBLE) AS s2
        |  FROM sp)
        |SELECT d, round(spread, 6) + 0.0 AS spread,
        |  round((spread - s1 / n2) /
        |        nullif(sqrt((s2 - n2 * (s1 / n2) * (s1 / n2)) / nullif(n2 - 1.0, 0)), 0),
        |    6) + 0.0 AS z
        |FROM sp, ss ORDER BY d""".stripMargin,

    "q_donchian" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, max(value) AS high,
        |    min(value) AS low, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |ch AS (
        |  SELECT user_id, d, close,
        |    CASE WHEN row_number() OVER w >= 20 THEN max(high) OVER fr END AS up,
        |    CASE WHEN row_number() OVER w >= 20 THEN min(low) OVER fr END AS dn
        |  FROM bars
        |  WINDOW w AS (PARTITION BY user_id ORDER BY d),
        |         fr AS (PARTITION BY user_id ORDER BY d
        |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, d, close, up AS dc_up, dn AS dc_dn,
        |  round((up + dn) / 2.0, 6) AS dc_mid,
        |  (close > lag(up) OVER (PARTITION BY user_id ORDER BY d)) AS breakout_up,
        |  (close < lag(dn) OVER (PARTITION BY user_id ORDER BY d)) AS breakout_dn
        |FROM ch""".stripMargin,

    "q_atr" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, max(value) AS high,
        |    min(value) AS low, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |trs AS (
        |  SELECT user_id, d,
        |    row_number() OVER w AS rn,
        |    CASE WHEN lag(close) OVER w IS NOT NULL THEN
        |      greatest(high - low, abs(high - lag(close) OVER w),
        |               abs(low - lag(close) OVER w))
        |    END AS tr
        |  FROM bars
        |  WINDOW w AS (PARTITION BY user_id ORDER BY d))
        |SELECT user_id, d, round(tr, 6) AS tr,
        |  round(CASE WHEN rn >= 15
        |    THEN CAST(sum(CAST(tr AS DECIMAL(28,12))) OVER fr AS DOUBLE) / 14.0
        |  END, 6) AS atr
        |FROM trs
        |WINDOW fr AS (PARTITION BY user_id ORDER BY d
        |              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_rsi" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |diffs AS (
        |  SELECT user_id, d, close,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn,
        |    close - lag(close) OVER (PARTITION BY user_id ORDER BY d) AS diff
        |  FROM bars),
        |sums AS (
        |  SELECT user_id, d, close, rn,
        |    CAST(sum(CAST(CASE WHEN diff > 0 THEN diff ELSE 0.0 END AS DECIMAL(38,12)))
        |      OVER fr AS DOUBLE) AS ag,
        |    CAST(sum(CAST(CASE WHEN diff < 0 THEN -diff ELSE 0.0 END AS DECIMAL(38,12)))
        |      OVER fr AS DOUBLE) AS al
        |  FROM diffs
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY d
        |                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, d, close,
        |  round(CASE WHEN rn >= 15 THEN
        |    CASE WHEN al = 0.0 THEN 100.0
        |         ELSE 100.0 - 100.0 / (1.0 + ag / al) END END, 6) AS rsi14
        |FROM sums""".stripMargin,

    "q_macd" -> {
      // ×10¹² integer weights generated to mirror the Spark lag terms 1:1
      // (the q_ewma convention at a non-dyadic α)
      def trunc(c: String, span: Int, lags: Int): String = {
        val a = 2.0 / (span + 1.0)
        val num = (0 until lags).map { i =>
          val w12 = math.round(math.pow(1.0 - a, i) * 1e12)
          s"COALESCE(CAST(lag($c, $i) OVER w AS DECIMAL(28,6)) * $w12, 0)"
        }.mkString(" + ")
        val den = (0 until lags).map { i =>
          val w12 = math.round(math.pow(1.0 - a, i) * 1e12)
          s"CASE WHEN lag($c, $i) OVER w IS NOT NULL THEN $w12 ELSE 0 END"
        }.mkString(" + ")
        s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE)"
      }
      s"""WITH bars AS (
         |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
         |  FROM events GROUP BY 1, 2),
         |m AS (
         |  SELECT user_id, d, close,
         |    round(${trunc("close", 12, macdLags)} - ${trunc("close", 26, macdLags)}, 6) AS macd
         |  FROM bars
         |  WINDOW w AS (PARTITION BY user_id ORDER BY d))
         |SELECT user_id, d, close, macd,
         |  round(${trunc("macd", 9, signalLags)}, 6) AS signal,
         |  round(macd - round(${trunc("macd", 9, signalLags)}, 6), 6) AS histogram
         |FROM m
         |WINDOW w AS (PARTITION BY user_id ORDER BY d)""".stripMargin
    },

    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q_pivot_wide" ->
      """SELECT user_id,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS click,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS error,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'signup') AS DOUBLE) AS signup,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS "view"
        |FROM events GROUP BY user_id""".stripMargin,

    "q_unpivot" ->
      """SELECT user_id, event_type,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2
        |HAVING total IS NOT NULL""".stripMargin,

    "q_weighted_price" ->
      """SELECT p_brand,
        | round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6))) AS DOUBLE)
        |   / nullif(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 0), 6) AS weighted_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "q_asof_join" ->
      """SELECT c.event_id, c.user_id, c.ts, p.value AS last_purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    "q_asof_ttl" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS value FROM events
        |           WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts,
        |  CASE WHEN p.ts IS NOT NULL AND epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
        |       THEN p.value END AS recent_purchase_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    "q_asof_nearest" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS value FROM events
        |           WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |paired AS (
        |  SELECT c.event_id, c.user_id, c.ts,
        |         b.ts AS bt, b.value AS bv, f.ts AS ft, f.value AS fv
        |  FROM c
        |  ASOF LEFT JOIN p b ON c.user_id = b.user_id AND c.ts >= b.ts
        |  ASOF LEFT JOIN p f ON c.user_id = f.user_id AND c.ts <= f.ts)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN bt IS NULL THEN fv
        |       WHEN ft IS NULL THEN bv
        |       WHEN epoch(ts) - epoch(bt) <= epoch(ft) - epoch(ts) THEN bv
        |       ELSE fv END AS nearest_purchase_value
        |FROM paired""".stripMargin,

    "q_asof_forward" ->
      """SELECT c.event_id, c.user_id, c.ts, p.value AS next_purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
        |                WHERE event_type = 'purchase' GROUP BY 1, 2) p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts""".stripMargin,

    "q_asof_broadcast" ->
      """SELECT c.event_id, c.user_id, c.ts, p.value AS last_purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
        |                WHERE event_type = 'purchase' GROUP BY 1, 2) p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    "q_asof_state" ->
      """SELECT c.user_id, c.ts, c.value, p.value AS dim_value
        |FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
        |                WHERE event_type = 'purchase' GROUP BY 1, 2) p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    "q_stream_join" ->
      """SELECT c.user_id, c.ts AS fact_ts, c.value AS fact_value,
        |       p.ts AS dim_ts, p.value AS dim_value
        |FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts""".stripMargin,

    "q_sector_price" ->
      """WITH bars AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
        |  FROM events GROUP BY 1, 2),
        |sh AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS shares
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |outst AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS outstanding
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT b.user_id, b.d, b.close,
        |  round(b.close * sh.shares / nullif(outst.outstanding, 0), 6) AS calculated_price
        |FROM bars b
        |ASOF LEFT JOIN sh ON b.user_id = sh.user_id AND b.d >= sh.d
        |ASOF LEFT JOIN outst ON b.user_id = outst.user_id AND b.d >= outst.d""".stripMargin,

    "q_market_day" -> {
      // one holiday list, shared with Fns.marketHolidays — the two engines
      // cannot drift
      val hol = Fns.marketHolidays.map(h => s"DATE '$h'").mkString(", ")
      s"""SELECT d,
         |  (SELECT max(d - CAST(i AS INTEGER)) FROM range(1, 9) t(i)
         |   WHERE (dayofweek(d - CAST(i AS INTEGER)) + 6) % 7 < 5
         |     AND (d - CAST(i AS INTEGER)) NOT IN ($hol)) AS prev_market_day,
         |  ((dayofweek(d) + 6) % 7 < 5 AND d NOT IN ($hol)) AS is_market_day
         |FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)""".stripMargin
    },

    "q_parse_magnitude" ->
      """SELECT p_partkey,
        | concat(CAST(p_size AS VARCHAR), CASE WHEN p_partkey % 2 = 0 THEN ' M' ELSE ' B' END) AS raw,
        | CAST(CASE WHEN p_partkey % 2 = 0 THEN p_size * 1000000.0 ELSE p_size * 1000000000.0 END AS BIGINT) AS shares
        |FROM part""".stripMargin,

    "q_normalize_symbol" ->
      """SELECT p_partkey, sym AS symbol,
        | lower(replace(sym, '.', '_')) AS sql_symbol,
        | regexp_replace(sym, '[._]', '-', 'g') AS yf_symbol
        |FROM (SELECT p_partkey,
        |        concat(upper(substring(replace(p_name, ' ', ''), 1, 4)),
        |               CASE WHEN p_partkey % 3 = 0 THEN '.B'
        |                    WHEN p_partkey % 3 = 1 THEN '_A' ELSE '' END) AS sym
        |      FROM part)""".stripMargin,

    "q_schema_evolution" ->
      """SELECT 'a' AS snapshot, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS click,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS "view",
        |  CAST(NULL AS DOUBLE) AS purchase
        |FROM events WHERE ts < TIMESTAMP '2024-01-15' AND event_type IN ('click', 'view')
        |GROUP BY user_id
        |UNION ALL
        |SELECT 'b' AS snapshot, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS click,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS "view",
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase
        |FROM events WHERE ts >= TIMESTAMP '2024-01-15' AND event_type IN ('click', 'view', 'purchase')
        |GROUP BY user_id""".stripMargin,

    "q_window_agg" ->
      """SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_running_sum" ->
      """SELECT user_id, ts, value,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,6)))
        |    OVER (PARTITION BY user_id ORDER BY ts) AS DOUBLE), 6) AS running
        |FROM events""".stripMargin,

    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
        |  round(epoch(max(ts)) - epoch(min(ts)), 6) AS duration_sec
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    "q_reach_stream" ->
      """SELECT d, count(*) AS daily_active FROM (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_rolling_distinct" ->
      """WITH ud AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS d0 FROM events),
        |days AS MATERIALIZED (SELECT DISTINCT d0 AS d FROM ud)
        |SELECT days.d AS d, count(DISTINCT ud.k) AS active
        |FROM days JOIN ud ON ud.d0 BETWEEN days.d - 6 AND days.d
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_concurrency" ->
      """WITH flagged AS MATERIALIZED (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sess AS MATERIALIZED (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |bounds AS MATERIALIZED (
        |  SELECT min(ts) AS s, max(ts) AS e FROM sess GROUP BY user_id, sid),
        |deltas AS MATERIALIZED (
        |  SELECT s AS t, CAST(1 AS BIGINT) AS delta FROM bounds
        |  UNION ALL
        |  SELECT e AS t, CAST(-1 AS BIGINT) AS delta FROM bounds),
        |run AS MATERIALIZED (
        |  SELECT t, CAST(sum(delta) OVER (ORDER BY t, -delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
        |  FROM deltas)
        |SELECT CAST(t AS DATE) AS d, max(c) AS max_concurrent
        |FROM run GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_path_top" ->
      """WITH seq AS MATERIALIZED (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT e1, e2, e3, count(*) AS n FROM seq WHERE e3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 10""".stripMargin,

    "q_rollup" ->
      """SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
        |  CAST(GROUPING(event_type) AS BIGINT) AS g_type,
        |  CAST(GROUPING(CAST(ts AS DATE)) AS BIGINT) AS g_day
        |FROM events GROUP BY ROLLUP(event_type, CAST(ts AS DATE))""".stripMargin,

    "q_cube" ->
      """SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
        |  CAST(GROUPING(event_type) AS BIGINT) AS g_type,
        |  CAST(GROUPING(CAST(ts AS DATE)) AS BIGINT) AS g_day
        |FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE))""".stripMargin,

    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING total_qty > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_forecast_eval" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |err AS MATERIALIZED (
        |  SELECT event_type,
        |    y - lag(y) OVER (PARTITION BY event_type ORDER BY d) AS e
        |  FROM daily)
        |SELECT event_type, count(*) AS n_days,
        |  round(CAST(sum(CAST(round(abs(e), 12) AS DECIMAL(28,12))) AS DOUBLE)
        |        / count(*), 6) AS mae,
        |  round(sqrt(CAST(sum(CAST(round(e * e, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |        / count(*)), 6) AS rmse,
        |  round(CAST(sum(CAST(round(e, 12) AS DECIMAL(28,12))) AS DOUBLE)
        |        / count(*), 6) AS bias
        |FROM err WHERE e IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_survivorship" ->
      """WITH rec AS MATERIALIZED (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' [archived copy]', 'mirror'
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id % 1000000 AS entity_id, count(*) AS n_members,
        |  min(doc_id) AS canonical_id,
        |  arg_max(doc_id, length(text)::HUGEINT * 10000000000000000000 - doc_id) AS survivor_id,
        |  max(length(text)) AS survivor_len,
        |  count(DISTINCT source) AS n_sources
        |FROM rec GROUP BY 1 ORDER BY 1""".stripMargin,

    "q9_profit" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_type = 'PROMO'
        |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin,

    "q_cohort_orders" ->
      """WITH m AS MATERIALIZED (
        |  SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INTEGER) AS m
        |  FROM orders),
        |first AS MATERIALIZED (
        |  SELECT o_custkey, min(m) AS m0 FROM m GROUP BY 1),
        |cells AS MATERIALIZED (
        |  SELECT DISTINCT m.o_custkey, f.m0, m.m - f.m0 AS k
        |  FROM m JOIN first f ON m.o_custkey = f.o_custkey)
        |SELECT concat(CAST(m0 // 12 AS BIGINT), '-',
        |         lpad(CAST(m0 % 12 + 1 AS VARCHAR), 2, '0')) AS cohort,
        |  CAST(k AS BIGINT) AS months_later, count(*) AS n_customers
        |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_ngram_novelty" ->
      // same 8-gram construction as q_decontaminate (slices clamp on short
      // docs), made per-doc DISTINCT to mirror the compiled kernel's set
      // semantics
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
        |                          i -> array_to_string(t[i:i+7], ' '))) AS g
        |    FROM toks)),
        |df AS (SELECT g, count(*) AS df FROM grams GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |        / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM grams JOIN df USING (g) GROUP BY doc_id""".stripMargin,

    "q_dataset_card" -> datasetCardSql,

    // the streaming face converges to the SAME card — one SQL string
    // hash-checks both, so the two faces can never drift (the
    // q_pipeline_e2e / q_dag_run precedent)
    "q_card_stream" -> datasetCardSql,

    "q_bfs_hops" -> bfsOracleSql(source = 2L, iters = 6),

    "q_gini" ->
      """WITH ranked AS MATERIALIZED (
        |  SELECT c_mktsegment, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS i
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, count(*) AS n,
        |  round((2 * CAST(sum(CAST(o_totalprice * i AS DECIMAL(28,6))) AS DOUBLE)
        |         - (count(*) + 1) * CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE))
        |        / (count(*) * CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)),
        |    6) AS gini
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_zipf_slope" ->
      """WITH freq AS MATERIALIZED (
        |  SELECT source, token, count(*) AS f FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |ranked AS MATERIALIZED (
        |  SELECT source, f,
        |    row_number() OVER (PARTITION BY source ORDER BY f DESC, token) AS r
        |  FROM freq),
        |pts AS MATERIALIZED (
        |  SELECT source, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
        |  FROM ranked WHERE r <= 100),
        |agg AS MATERIALIZED (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(round(x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(round(y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        |  FROM pts GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
        |FROM agg ORDER BY 1""".stripMargin,

    "q13_cust_orders" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT coalesce(k, 0) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT o_custkey, count(*) AS k FROM orders
        |    WHERE o_orderpriority <> '1-URGENT' GROUP BY 1) o
        |  ON c_custkey = o_custkey)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_classes" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 50""".stripMargin,

    "q22_idle_customers" ->
      """SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / count(*)
        |    FROM customer WHERE c_acctbal > 0)
        |  AND c_custkey NOT IN (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_late_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q11_important_stock" ->
      """WITH v AS MATERIALIZED (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS stock_value
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(CAST(stock_value AS DECIMAL(28,6))) AS DOUBLE) / count(*)
        |        AS mean_value FROM v)
        |SELECT l_partkey, stock_value FROM v, t
        |WHERE stock_value > 1.2 * mean_value
        |ORDER BY stock_value DESC, l_partkey""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT round(100 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)
        |    / nullif(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 0),
        |    6) AS promo_pct,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH a AS MATERIALIZED (
        |  SELECT l_partkey AS aq_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT p_brand,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0, 6)
        |    AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem JOIN a ON l_partkey = aq_partkey
        |  JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity < 0.2 * avg_qty
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_last_shippers" ->
      """WITH per AS MATERIALIZED (
        |  SELECT l_orderkey AS po_orderkey, max(l_shipdate) AS last_ship
        |  FROM lineitem GROUP BY 1 HAVING count(DISTINCT l_suppkey) >= 2),
        |lastl AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN per ON l_orderkey = po_orderkey AND l_shipdate = last_ship),
        |sole AS (SELECT l_orderkey, max(l_suppkey) AS suppkey
        |         FROM lastl GROUP BY 1 HAVING count(*) = 1)
        |SELECT s_name, count(*) AS numwait
        |FROM sole JOIN supplier ON suppkey = s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin,

    "q7_nation_trade" ->
      """SELECT supp_nation, cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN (SELECT c_custkey, n_name AS cust_nation
        |      FROM customer JOIN nation ON c_nationkey = n_nationkey
        |      WHERE n_name IN ('NATION_1', 'NATION_2')) c ON o_custkey = c_custkey
        |JOIN (SELECT s_suppkey, n_name AS supp_nation
        |      FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |      WHERE n_name IN ('NATION_1', 'NATION_2')) s ON l_suppkey = s_suppkey
        |WHERE (supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
        |   OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q19_disjunctive" ->
      """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 16 AND 30 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 31 AND 50 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q20_dominant_suppliers" ->
      """WITH ps AS MATERIALIZED (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sq
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (SELECT l_partkey, CAST(sum(CAST(sq AS DECIMAL(28,6))) AS DOUBLE) AS tq
        |      FROM ps GROUP BY 1),
        |dom AS (SELECT ps.l_suppkey FROM ps JOIN p USING (l_partkey)
        |        WHERE sq > 0.15 * tq
        |          AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')),
        |agg AS (SELECT l_suppkey, count(*) AS n_parts FROM dom GROUP BY 1
        |        HAVING count(*) >= 1)
        |SELECT s_name, n_parts FROM agg JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY n_parts DESC, s_name""".stripMargin,

    "q_triangles" ->
      s"""$coPurchaseEdgesSql,
        |deg AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t GROUP BY 1),
        |w AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM e e1 JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
        |          JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  w.n_wedges, tri.n_triangles,
        |  round(3.0 * tri.n_triangles / nullif(CAST(w.n_wedges AS DOUBLE), 0), 6)
        |    AS global_cc
        |FROM tri, w""".stripMargin,

    "q_degree_hist" ->
      s"""$coPurchaseEdgesSql
        |SELECT deg, count(*) AS n_nodes FROM (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_components" -> componentsOracleSql(10),

    "q_grouping_sets" ->
      """SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
        |  CAST(GROUPING(event_type) AS BIGINT) AS g_type,
        |  CAST(GROUPING(CAST(ts AS DATE)) AS BIGINT) AS g_day
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())""".stripMargin,

    "q_pagerank" -> pagerankOracleSql(5),

    // u reconstructed digit-by-digit from md5's first 12 hex chars (exact
    // integer arithmetic in doubles < 2^48, bit-identical to Spark's
    // conv(...,16,10)); the A-ES key pow(u, 1/w) is rounded to 9 — pow is
    // the one libm call, see Sampling.weightedSample
    "q_weighted_sample" ->
      """WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx,
        |             CAST(n_chars AS DOUBLE) AS w FROM documents),
        |u AS (SELECT doc_id, lang, w,
        |        (SELECT CAST(sum((strpos('0123456789abcdef', substr(hx, i, 1)) - 1)
        |                         * power(CAST(16 AS DOUBLE), 12 - i)) AS DOUBLE)
        |         FROM range(1, 13) t(i)) / power(CAST(16 AS DOUBLE), 12) AS u
        |      FROM h)
        |SELECT doc_id, lang,
        |  round(power(u, CAST(1 AS DOUBLE) / w), 9) AS sample_key
        |FROM u ORDER BY sample_key DESC, doc_id LIMIT 200""".stripMargin,

    "q_market_basket" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_ab
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |items AS (SELECT pk, count(*) AS n_item FROM li GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS n_orders FROM li)
        |SELECT pa, pb, CAST(n_ab AS BIGINT) AS n_ab,
        |  round(CAST(n_ab AS DOUBLE) / n_orders, 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE), 6) AS confidence,
        |  round(CAST(n_ab AS DOUBLE) * n_orders
        |    / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)), 6) AS lift
        |FROM pairs
        |JOIN items ia ON pairs.pa = ia.pk
        |JOIN items ib ON pairs.pb = ib.pk
        |CROSS JOIN tot""".stripMargin,

    "q_funnel" ->
      """WITH w1 AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS a1
        |  FROM events),
        |w2 AS (
        |  SELECT user_id, ts, event_type, a1,
        |    min(CASE WHEN event_type = 'click' AND ts > a1 THEN ts END)
        |      OVER (PARTITION BY user_id) AS a2
        |  FROM w1),
        |w3 AS (
        |  SELECT user_id, a1, a2,
        |    min(CASE WHEN event_type = 'purchase' AND ts > a2 THEN ts END)
        |      OVER (PARTITION BY user_id) AS a3
        |  FROM w2),
        |per AS (
        |  SELECT user_id, max(a1) AS t1, max(a2) AS t2, max(a3) AS t3
        |  FROM w3 GROUP BY 1)
        |SELECT 'view' AS stage, count(t1) AS users FROM per
        |UNION ALL SELECT 'view>click', count(t2) FROM per
        |UNION ALL SELECT 'view>click>purchase', count(t3) FROM per""".stripMargin,

    "q_funnel_stream" ->
      """WITH w1 AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS a1
        |  FROM events),
        |w2 AS (
        |  SELECT user_id, ts, event_type, a1,
        |    min(CASE WHEN event_type = 'click' AND ts > a1 THEN ts END)
        |      OVER (PARTITION BY user_id) AS a2
        |  FROM w1),
        |w3 AS (
        |  SELECT user_id, a1, a2,
        |    min(CASE WHEN event_type = 'purchase' AND ts > a2 THEN ts END)
        |      OVER (PARTITION BY user_id) AS a3
        |  FROM w2),
        |per AS (
        |  SELECT user_id, max(a1) AS t1, max(a2) AS t2, max(a3) AS t3
        |  FROM w3 GROUP BY 1)
        |SELECT user_id, 1 AS stage, t1 AS ts FROM per WHERE t1 IS NOT NULL
        |UNION ALL
        |SELECT user_id, 2, t2 FROM per WHERE t2 IS NOT NULL
        |UNION ALL
        |SELECT user_id, 3, t3 FROM per WHERE t3 IS NOT NULL""".stripMargin,

    "q_retention" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohorts AS (
        |  SELECT user_id, min(day) AS cohort_d FROM activity GROUP BY 1)
        |SELECT c.cohort_d, date_diff('day', c.cohort_d, a.day) AS day_offset,
        |  count(*) AS users
        |FROM activity a JOIN cohorts c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q_histogram" ->
      """SELECT event_type, CAST(floor(value / 50.0) * 50.0 AS DOUBLE) AS bin_start,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_vocab" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |      FROM documents)
        |GROUP BY token HAVING count(*) >= 2""".stripMargin,

    "q_pmi" ->
      """WITH t AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |uni AS (SELECT unnest(toks) AS token FROM t),
        |uc AS (SELECT token, count(*) AS c_tok FROM uni GROUP BY 1),
        |bgl AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |                i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |bc AS (
        |  SELECT split_part(bg, ' ', 1) AS a, split_part(bg, ' ', 2) AS b,
        |    count(*) AS c_ab
        |  FROM bgl GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c_tok) AS DOUBLE) AS n_tok FROM uc),
        |btot AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bg FROM bc),
        |scored AS (
        |  SELECT a, b, c_ab,
        |    round(ln((CAST(c_ab AS DOUBLE) / n_bg) /
        |      ((CAST(ca.c_tok AS DOUBLE) / n_tok) *
        |       (CAST(cb.c_tok AS DOUBLE) / n_tok))), 6) AS pmi
        |  FROM bc JOIN uc ca ON bc.a = ca.token JOIN uc cb ON bc.b = cb.token
        |  CROSS JOIN tot CROSS JOIN btot
        |  WHERE c_ab >= 5)
        |SELECT a, b, c_ab, pmi FROM (
        |  SELECT a, b, c_ab, pmi,
        |    row_number() OVER (ORDER BY pmi DESC, a, b) AS rn FROM scored)
        |WHERE rn <= 50""".stripMargin,

    "q_kl_divergence" ->
      """WITH sc AS (
        |  SELECT source, token, count(*) AS c_s FROM (
        |    SELECT source,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |cc AS (SELECT token, sum(c_s) AS c_all FROM sc GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c_s) AS DOUBLE) AS n_s FROM sc GROUP BY 1),
        |na AS (SELECT CAST(sum(c_all) AS DOUBLE) AS n_all FROM cc)
        |SELECT source, CAST(sum(c_s) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(
        |    (CAST(c_s AS DOUBLE) / n_s) *
        |      ln((CAST(c_s AS DOUBLE) / n_s) / (CAST(c_all AS DOUBLE) / n_all))
        |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS kl
        |FROM sc JOIN cc USING (token) JOIN ns USING (source) CROSS JOIN na
        |GROUP BY 1""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, token, tf, round(tf * ln(n / df), 6) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tf, score FROM (
        |  SELECT doc_id, token, tf, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
        |  FROM scored)
        |WHERE rn <= 3""".stripMargin,

    "q_char_diversity" ->
      """SELECT doc_id,
        | CAST(round(1 - CAST(sum(c*c) AS DOUBLE) / (CAST(sum(c) AS DOUBLE) * sum(c)), 6)
        |   AS DOUBLE) AS diversity
        |FROM (SELECT doc_id, ch, count(*) AS c
        |      FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
        |      GROUP BY doc_id, ch)
        |GROUP BY doc_id""".stripMargin,

    "q_bigram_frac" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM toks),
        |cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS max_count,
        |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
        |FROM cnt GROUP BY doc_id""".stripMargin,

    "q_charlm" ->
      """WITH bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(text)),
        |                        i -> substr(text, i, 2))) AS bg
        |  FROM documents WHERE length(text) >= 2),
        |dc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |m AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |ctx AS (SELECT substr(bg, 1, 1) AS a, CAST(sum(c2) AS BIGINT) AS c1
        |        FROM m GROUP BY 1),
        |lp AS (SELECT m.bg, ln(c2) - ln(c1) AS logp
        |       FROM m JOIN ctx ON substr(m.bg, 1, 1) = ctx.a)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  round(-CAST(sum(CAST(c * logp AS DECIMAL(28,12))) AS DOUBLE)
        |    / CAST(sum(c) AS DOUBLE), 6) AS nll
        |FROM dc JOIN lp ON dc.bg = lp.bg GROUP BY doc_id""".stripMargin,

    "q_quality_gate" ->
      """WITH s AS (
        |  SELECT doc_id,
        |   CAST(toks AS BIGINT) AS n_tokens,
        |   round(punct / nullif(chars, 0), 6) AS punct_ratio,
        |   round(stops / nullif(toks, 0), 6) AS stopword_ratio,
        |   CAST(round(CAST(least(chars / 500.0, 1.0) AS DECIMAL(18,12)) * 0.5
        |       + CAST(least(stops / nullif(toks, 0) * 5.0, 1.0) AS DECIMAL(18,12)) * 0.3
        |       + CAST(1.0 - least(punct / nullif(chars, 0) * 10.0, 1.0) AS DECIMAL(18,12)) * 0.2, 6)
        |     AS DOUBLE) AS quality
        |  FROM (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
        |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS stops,
        |    CAST(length(text) AS DOUBLE) AS chars
        |  FROM documents)),
        |t AS (SELECT quantile_cont(quality, 0.25) AS thr FROM s)
        |SELECT s.* FROM s, t WHERE s.quality >= t.thr""".stripMargin,

    // the streaming curation pipeline's batch mirror shares the composed
    // pipeline's oracle logic (empty store ⇒ the store stage is identity;
    // per-row gram overlap ≡ the dirty-id anti-join)
    "q_curation_stream" ->
      """WITH s AS (
        |  SELECT doc_id,
        |   CAST(toks AS BIGINT) AS n_tokens,
        |   CAST(round(CAST(least(chars / 500.0, 1.0) AS DECIMAL(18,12)) * 0.5
        |       + CAST(least(stops / nullif(toks, 0) * 5.0, 1.0) AS DECIMAL(18,12)) * 0.3
        |       + CAST(1.0 - least(punct / nullif(chars, 0) * 10.0, 1.0) AS DECIMAL(18,12)) * 0.2, 6)
        |     AS DOUBLE) AS quality
        |  FROM (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
        |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS stops,
        |    CAST(length(text) AS DOUBLE) AS chars
        |  FROM documents WHERE doc_id % 50 <> 0)),
        |t AS (SELECT quantile_cont(quality, 0.25) AS thr FROM s),
        |gated AS (SELECT s.doc_id, s.n_tokens, s.quality FROM s, t WHERE s.quality >= t.thr),
        |dedup AS (
        |  SELECT min(g.doc_id) AS doc_id
        |  FROM gated g JOIN documents d ON g.doc_id = d.doc_id
        |  GROUP BY md5(d.text)),
        |toks2 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
        |                        i -> array_to_string(t[i:i+7], ' '))) AS g
        |  FROM toks2),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        |dirty AS (SELECT DISTINCT doc_id FROM grams
        |          WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench))
        |SELECT g.doc_id, g.n_tokens, g.quality
        |FROM gated g
        |JOIN dedup k ON g.doc_id = k.doc_id
        |WHERE g.doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin,

    // the composed curation pipeline: chained CTEs mirroring gate →
    // dedup-keep → decontaminate stage for stage (each fragment reused
    // verbatim from its standalone oracle)
    "q_pipeline_e2e" -> pipelineE2eSql,

    "q_dag_run" -> pipelineE2eSql,

    "q_wordlm" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |                        i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |dc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |m AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |ctx AS (SELECT split_part(bg, ' ', 1) AS a, CAST(sum(c2) AS BIGINT) AS c1
        |        FROM m GROUP BY 1),
        |lp AS (SELECT m.bg, ln(c2) - ln(c1) AS logp
        |       FROM m JOIN ctx ON split_part(m.bg, ' ', 1) = ctx.a)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  round(-CAST(sum(CAST(c * logp AS DECIMAL(28,12))) AS DOUBLE)
        |    / CAST(sum(c) AS DOUBLE), 6) AS nll
        |FROM dc JOIN lp ON dc.bg = lp.bg GROUP BY doc_id""".stripMargin,

    "q_c4_rules" ->
      """WITH synth AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 17 = 0 THEN ' lorem ipsum dolor sit amet' ELSE '' END) ||
        |    (CASE WHEN doc_id % 23 = 0 THEN ' function() { return 1; }' ELSE '' END) AS text
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS word_count,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / nullif(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0)
        |      AS ml,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem,
        |    contains(text, '{') AS has_brace
        |  FROM synth)
        |SELECT doc_id, word_count, round(ml, 6) AS mean_word_len, has_lorem, has_brace,
        |  (word_count >= 30 AND word_count <= 120000 AND ml >= 3.0 AND ml <= 10.0
        |   AND NOT has_lorem AND NOT has_brace) AS keep
        |FROM sig""".stripMargin,

    "q_mix_temperature" ->
      """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |nmin AS (SELECT min(n) AS nm FROM counts),
        |rates AS (SELECT lang,
        |    CAST(round(power(CAST(nm AS DOUBLE) / CAST(n AS DOUBLE), 0.5) * 65536, 0)
        |      AS INT) AS t
        |  FROM counts, nmin)
        |SELECT doc_id, lang, source FROM documents JOIN rates USING (lang)
        |WHERE t >= 65536
        |   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < lpad(lower(to_hex(t)), 4, '0')""".stripMargin,

    "q_repetition" ->
      """WITH synth AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 4 = 0
        |          THEN '. click here to subscribe. click here to subscribe' ELSE '' END) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN '. limited time offer only' ELSE '' END) AS text
        |  FROM documents),
        |units AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\.\s+')) AS unit FROM synth),
        |gu AS (
        |  SELECT doc_id, unit, count(*) AS c, length(unit) AS len
        |  FROM units GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_units,
        |  round(CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
        |    AS dup_unit_frac,
        |  round(CAST(sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS DOUBLE)
        |    / nullif(CAST(sum(c * len) AS DOUBLE), 0), 6) AS dup_char_frac
        |FROM gu GROUP BY doc_id""".stripMargin,

    "q_url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs/' ||
        |    CAST(doc_id % 5 AS VARCHAR) || '/?utm_source=feed&id=' ||
        |    CAST(doc_id % 3 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END AS url
        |  FROM documents),
        |pre AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)),
        |      '^www\.', '') AS nw,
        |    regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1), '/$', '') AS path,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |      x -> NOT starts_with(x, 'utm_')), '&') AS cleanq
        |  FROM u),
        |parts AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(nw, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(nw, ':80$', '')
        |         ELSE nw END AS host,
        |    path, cleanq
        |  FROM pre)
        |SELECT doc_id, url,
        |  scheme || '://' || host || path ||
        |  CASE WHEN cleanq = '' THEN '' ELSE '?' || cleanq END AS canon_url
        |FROM parts""".stripMargin,

    "q_dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id, source,
        |    'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs/' ||
        |    CAST(doc_id % 5 AS VARCHAR) || '/?utm_source=feed&id=' ||
        |    CAST(doc_id % 3 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END AS url
        |  FROM documents),
        |pre AS (
        |  SELECT doc_id, source, url,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)),
        |      '^www\.', '') AS nw,
        |    regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1), '/$', '') AS path,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |      x -> NOT starts_with(x, 'utm_')), '&') AS cleanq
        |  FROM u),
        |canon AS (
        |  SELECT doc_id, source,
        |    scheme || '://' ||
        |    (CASE WHEN scheme = 'https' THEN regexp_replace(nw, ':443$', '')
        |          WHEN scheme = 'http' THEN regexp_replace(nw, ':80$', '')
        |          ELSE nw END) || path ||
        |    CASE WHEN cleanq = '' THEN '' ELSE '?' || cleanq END AS canon_url
        |  FROM pre)
        |SELECT doc_id, source, canon_url FROM canon
        |WHERE doc_id = (SELECT min(doc_id) FROM canon c2
        |                WHERE c2.canon_url = canon.canon_url)""".stripMargin,

    "q_domain_stats" ->
      """WITH u AS (
        |  SELECT *,
        |    'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs/' ||
        |    CAST(doc_id % 5 AS VARCHAR) || '/?utm_source=feed&id=' ||
        |    CAST(doc_id % 3 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END AS url
        |  FROM documents),
        |h AS (
        |  SELECT *,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)),
        |      '^www\.', '') AS nw
        |  FROM u),
        |d AS (
        |  SELECT *,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(nw, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(nw, ':80$', '')
        |         ELSE nw END AS host
        |  FROM h)
        |SELECT host,
        |  count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |  count(DISTINCT lang) AS n_langs
        |FROM d GROUP BY host""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_price,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY 1, 2""".stripMargin,

    "q_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    "q_dedup_exact" ->
      "SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count FROM documents GROUP BY 1",

    "q_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 5
        |    THEN list_distinct(list_transform(range(1, len(t) - 3),
        |                       i -> array_to_string(t[i:i+4], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS gs
        |  FROM toks),
        |post AS (SELECT doc_id, unnest(gs) AS g FROM gr),
        |rare AS (SELECT g FROM post GROUP BY g HAVING count(*) BETWEEN 2 AND 5),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM post a JOIN rare USING (g) JOIN post b ON a.g = b.g
        |  WHERE a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT c.id_a, c.id_b,
        |    len(list_intersect(ga.gs, gb.gs)) AS inter,
        |    least(len(ga.gs), len(gb.gs)) AS mn
        |  FROM cand c
        |  JOIN gr ga ON ga.doc_id = c.id_a
        |  JOIN gr gb ON gb.doc_id = c.id_b)
        |SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / mn, 6) AS containment
        |FROM pairs WHERE round(CAST(inter AS DOUBLE) / mn, 6) >= 0.5""".stripMargin,

    "q_dedup_containment_keep" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 5
        |    THEN list_distinct(list_transform(range(1, len(t) - 3),
        |                       i -> array_to_string(t[i:i+4], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS gs
        |  FROM toks),
        |post AS (SELECT doc_id, unnest(gs) AS g FROM gr),
        |rare AS (SELECT g FROM post GROUP BY g HAVING count(*) BETWEEN 2 AND 5),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM post a JOIN rare USING (g) JOIN post b ON a.g = b.g
        |  WHERE a.doc_id < b.doc_id),
        |p AS (
        |  SELECT c.id_a, c.id_b FROM cand c
        |  JOIN gr ga ON ga.doc_id = c.id_a
        |  JOIN gr gb ON gb.doc_id = c.id_b
        |  WHERE round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
        |          / least(len(ga.gs), len(gb.gs)), 6) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id NOT IN (
        |  SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id) t
        |  WHERE id <> comp)""".stripMargin,

    "q_fuzzy_match" ->
      """WITH names AS (SELECT p_name AS nm, count(*) AS n FROM part GROUP BY 1)
        |SELECT a.nm AS name_a, b.nm AS name_b,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
        |  a.n AS n_a, b.n AS n_b
        |FROM names a JOIN names b
        |  ON substr(a.nm, 1, 2) = substr(b.nm, 1, 2)
        | AND a.nm < b.nm
        | AND abs(len(a.nm) - len(b.nm)) <= 3
        |WHERE levenshtein(a.nm, b.nm) <= 3""".stripMargin,

    "q_fuzzy_dedup" ->
      """WITH RECURSIVE names AS (
        |  SELECT p_name AS nm, min(p_partkey) AS nid FROM part GROUP BY 1),
        |p AS (
        |  SELECT a.nid AS id_a, b.nid AS id_b
        |  FROM names a JOIN names b
        |    ON substr(a.nm, 1, 2) = substr(b.nm, 1, 2)
        |   AND a.nm < b.nm
        |   AND abs(len(a.nm) - len(b.nm)) <= 3
        |  WHERE levenshtein(a.nm, b.nm) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |canon AS (
        |  SELECT n.nm, coalesce(n2.nm, n.nm) AS canonical
        |  FROM names n
        |  LEFT JOIN comp c ON n.nid = c.id
        |  LEFT JOIN names n2 ON c.component = n2.nid)
        |SELECT pt.p_partkey, pt.p_name, cn.canonical
        |FROM part pt JOIN canon cn ON pt.p_name = cn.nm""".stripMargin,

    "q_boilerplate" ->
      """WITH synth AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '. subscribe to our newsletter today' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '. all rights reserved worldwide' ELSE '' END) AS text
        |  FROM documents),
        |us AS (SELECT doc_id, regexp_split_to_array(text, '\.\s+') AS arr FROM synth),
        |units AS (SELECT doc_id,
        |            unnest(list_transform(arr, (x, i) -> struct_pack(pos := i, unit := x))) AS u
        |          FROM us),
        |flat AS (SELECT doc_id, u.pos AS pos, u.unit AS unit FROM units),
        |freq AS (SELECT md5(unit) AS h, count(DISTINCT doc_id) AS df FROM flat GROUP BY 1),
        |kept AS (SELECT doc_id, pos, unit FROM flat
        |         WHERE md5(unit) NOT IN (SELECT h FROM freq WHERE df >= 10))
        |SELECT doc_id,
        |  array_to_string(list_transform(
        |    list_sort(list(struct_pack(pos := pos, unit := unit))), s -> s.unit), '. ') AS clean_text
        |FROM kept GROUP BY doc_id""".stripMargin,

    "q_contamination_report" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
        |                        i -> array_to_string(t[i:i+7], ' '))) AS g
        |  FROM toks),
        |bg AS (SELECT DISTINCT doc_id AS bench_id, g FROM grams WHERE doc_id % 50 = 0),
        |pairs AS (
        |  SELECT DISTINCT bg.bench_id, grams.doc_id AS cid
        |  FROM grams JOIN bg USING (g) WHERE grams.doc_id % 50 <> 0)
        |SELECT b.doc_id AS bench_id,
        |  CAST(coalesce(p.n, 0) AS BIGINT) AS n_leaked_docs
        |FROM documents b
        |LEFT JOIN (SELECT bench_id, count(*) AS n FROM pairs GROUP BY bench_id) p
        |  ON b.doc_id = p.bench_id
        |WHERE b.doc_id % 50 = 0""".stripMargin,

    "q_decontaminate" ->
      // t[i:i+7] slices clamp on short lists, matching the compiled
      // kernel's short-gram behavior for docs under 8 tokens
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
        |                        i -> array_to_string(t[i:i+7], ' '))) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        |dirty AS (SELECT DISTINCT doc_id FROM grams
        |          WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench))
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin,

    // bloom pre-screen + exact confirm = exactly decontaminate's semantics,
    // so the bloom variant shares its oracle verbatim
    "q_decontaminate_bloom" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
        |                        i -> array_to_string(t[i:i+7], ' '))) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        |dirty AS (SELECT DISTINCT doc_id FROM grams
        |          WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench))
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin,

    "q_chunk_split" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |sized AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
        |starts AS (SELECT doc_id, t, n, unnest(range(0, n, 48)) AS start FROM sized)
        |SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_idx,
        |  array_to_string(t[start + 1 : start + 64], ' ') AS chunk_text,
        |  CAST(least(64, n - start) AS BIGINT) AS n_tokens
        |FROM starts
        |WHERE start = 0 OR start + 16 < n""".stripMargin,

    "q_dedup_keep" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""".stripMargin,

    "q_dedup_incremental" ->
      """WITH store AS (
        |  SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 2 = 0),
        |batch AS (
        |  SELECT doc_id, lang, source, n_chars, md5(text) AS h
        |  FROM documents WHERE doc_id % 2 = 1),
        |first_in AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY h)
        |SELECT b.doc_id, b.lang, b.source, b.n_chars
        |FROM batch b JOIN first_in USING (doc_id)
        |WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.text_hash = b.h)""".stripMargin,

    "q_dedup_embedding" ->
      s"""WITH n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round((SELECT CAST(sum(CAST(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
         |      / nullif(a.nrm * b.nrm, 0), 6) AS cosine
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |WHERE cosine > 0.40""".stripMargin,

    "q_dedup_embedding_keep" ->
      s"""WITH RECURSIVE n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
         |p AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |      round((SELECT CAST(sum(CAST(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
         |        / nullif(a.nrm * b.nrm, 0), 6) AS cosine
         |    FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |  WHERE cosine > 0.40),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN (
         |  SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id) t
         |  WHERE id <> comp)""".stripMargin,

    "q_bitext_mine" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, $normSql AS qn
         |           FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 2000),
         |n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
         |      WHERE vec_id % 2 = 1),
         |c AS (SELECT q.qid, n.vec_id,
         |    round((SELECT CAST(sum(CAST(CAST(n.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
         |      / nullif(n.nrm * q.qn, 0), 6) AS cosine
         |  FROM n, q),
         |r AS (SELECT qid, vec_id, cosine,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
         |  FROM c),
         |t AS (SELECT qid,
         |    max(CASE WHEN rn = 1 THEN cosine END) AS cos1,
         |    max(CASE WHEN rn = 1 THEN vec_id END) AS match_id,
         |    CAST(sum(CAST(cosine AS DECIMAL(28,12))) AS DOUBLE) AS sumc,
         |    count(*) AS nc
         |  FROM r WHERE rn <= 4 GROUP BY qid)
         |SELECT qid, match_id, cos1 + 0.0 AS cosine,
         |  round(cos1 / nullif(sumc / nc, 0), 6) + 0.0 AS margin
         |FROM t WHERE round(cos1 / nullif(sumc / nc, 0), 6) + 0.0 > 1.25
         |ORDER BY qid""".stripMargin,

    "q_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, $normSql AS qn
         |           FROM embeddings ORDER BY vec_id LIMIT 1),
         |n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings)
         |SELECT vec_id, cosine FROM (
         |  SELECT n.vec_id,
         |    round((SELECT CAST(sum(CAST(CAST(n.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
         |      / nullif(n.nrm * q.qn, 0), 6) AS cosine
         |  FROM n, q WHERE n.vec_id <> q.qid)
         |ORDER BY cosine DESC, vec_id
         |LIMIT 10""".stripMargin,

    "q_ann_batch" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, $normSql AS qn
         |           FROM embeddings ORDER BY vec_id LIMIT 2),
         |n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
         |scored AS (
         |  SELECT q.qid, n.vec_id,
         |    round((SELECT CAST(sum(CAST(CAST(n.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
         |      / nullif(n.nrm * q.qn, 0), 6) AS cosine
         |  FROM n, q WHERE n.vec_id <> q.qid)
         |SELECT qid, vec_id, cosine FROM (
         |  SELECT qid, vec_id, cosine,
         |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
         |  FROM scored)
         |WHERE rn <= 10""".stripMargin,

    // q_ann_batch's oracle + the different-label predicate (self-pairs
    // fall out with it)
    "q_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql, $normSql AS qn
         |           FROM embeddings ORDER BY vec_id LIMIT 3),
         |n AS (SELECT vec_id, embedding, label, $normSql AS nrm FROM embeddings),
         |scored AS (
         |  SELECT q.qid, n.vec_id,
         |    round((SELECT CAST(sum(CAST(CAST(n.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
         |      / nullif(n.nrm * q.qn, 0), 6) AS cosine
         |  FROM n, q WHERE n.label <> q.ql)
         |SELECT qid, vec_id, cosine FROM (
         |  SELECT qid, vec_id, cosine,
         |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
         |  FROM scored)
         |WHERE rn <= 10""".stripMargin,

    "q_embed_mean" ->
      """SELECT label, CAST(u.dim AS BIGINT) AS dim,
        |  round(CAST(sum(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |    / count(*), 6) AS mean_x
        |FROM (SELECT label,
        |        unnest(list_transform(embedding, (x, i) -> struct_pack(dim := i - 1, x := x))) AS u
        |      FROM embeddings)
        |GROUP BY 1, 2""".stripMargin,

    "q_json_props" ->
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(json_extract_string(props, '$.k')) AS n_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q_profile" ->
      """SELECT 'doc_id' AS col, count(*) AS n, count(doc_id) AS non_null,
        |       count(DISTINCT doc_id) AS n_distinct,
        |       CAST(min(doc_id) AS DOUBLE) AS min_v, CAST(max(doc_id) AS DOUBLE) AS max_v
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
        |       CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE)
        |FROM documents""".stripMargin,

    "q_quantiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type""".stripMargin,

    "q_robust_stats" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS m
        |  FROM events GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, m.m, abs(e.value - m.m) AS d
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(d, 0.5) AS md
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type,
        |  round(any_value(d.m), 6) AS med,
        |  round(any_value(mad.md), 6) AS mad,
        |  count(CASE WHEN d.d > 3.0 * 1.4826 * mad.md THEN 1 END) AS n_outliers
        |FROM dev d JOIN mad USING (event_type)
        |GROUP BY d.event_type""".stripMargin,

    // identical oracle to q_quantiles — the scalable path must be EXACT
    "q_quantiles_scalable" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY event_type""".stripMargin,

    "q_winsorize" ->
      """WITH q AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.01) AS lo,
        |    quantile_cont(value, 0.99) AS hi
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type)
        |SELECT e.event_type,
        |  round(q.lo, 6) AS p_lo,
        |  round(q.hi, 6) AS p_hi,
        |  round(CAST(sum(CAST(
        |      CASE WHEN e.value < q.lo THEN q.lo
        |           WHEN e.value > q.hi THEN q.hi
        |           ELSE e.value END AS DECIMAL(28,6))) AS DOUBLE)
        |    / count(*), 6) AS wmean,
        |  CAST(sum(CASE WHEN e.value < q.lo OR e.value > q.hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clipped
        |FROM events e JOIN q USING (event_type)
        |WHERE e.value IS NOT NULL
        |GROUP BY e.event_type, q.lo, q.hi""".stripMargin,

    "q_sliding_window" ->
      """WITH hops AS (
        |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w_start,
        |    event_type, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
        |    event_type, value FROM events)
        |SELECT w_start, event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_value
        |FROM hops GROUP BY 1, 2""".stripMargin,

    "q_key_skew" ->
      """WITH counts AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, user_id, n,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY n DESC, user_id) AS rk,
        |    sum(n) OVER (PARTITION BY event_type) AS tot
        |  FROM counts)
        |SELECT event_type, user_id, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
        |FROM ranked WHERE rk <= 10""".stripMargin,

    "q_quantile_disc" ->
      """SELECT event_type,
        |  round(quantile_disc(value, 0.5), 6) AS p50_disc,
        |  round(quantile_disc(value, 0.95), 6) AS p95_disc
        |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin,

    "q_attribution" ->
      """WITH touched AS (
        |  SELECT event_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS touch
        |  FROM events)
        |SELECT touch, count(*) AS n_conversions
        |FROM touched
        |WHERE event_type = 'purchase' AND touch IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q_time_between" ->
      """WITH gaps AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  CAST(sum(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) / count(*)
        |    AS mean_gap_us,
        |  CAST(max(gap) AS BIGINT) AS max_gap_us,
        |  quantile_cont(gap, 0.5) AS p50_gap_us
        |FROM gaps WHERE gap IS NOT NULL GROUP BY 1""".stripMargin,

    "q_robust_scale" ->
      """WITH q AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.5) AS med,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |  round((e.value - q.med) / nullif(q.q3 - q.q1, 0), 6) + 0.0 AS scaled
        |FROM events e JOIN q USING (event_type)
        |WHERE e.value IS NOT NULL""".stripMargin,

    "q_fk_integrity" ->
      """SELECT 'lineitem.l_orderkey->orders' AS fk,
        |  (SELECT count(*) FROM lineitem) AS n_rows,
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |UNION ALL
        |SELECT 'customer.c_nationkey->nation',
        |  (SELECT count(*) FROM customer),
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |     (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |UNION ALL
        |SELECT 'supplier.s_nationkey->nation',
        |  (SELECT count(*) FROM supplier),
        |  (SELECT count(*) FROM supplier s WHERE NOT EXISTS
        |     (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
        |UNION ALL
        |SELECT 'nation.n_regionkey->region',
        |  (SELECT count(*) FROM nation),
        |  (SELECT count(*) FROM nation n WHERE NOT EXISTS
        |     (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))""".stripMargin,

    "q_psi_drift" ->
      """WITH ref AS (
        |  SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL AND event_id % 2 = 0),
        |cur AS (
        |  SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL AND event_id % 2 = 1),
        |q AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.1) AS b1, quantile_cont(value, 0.2) AS b2,
        |    quantile_cont(value, 0.3) AS b3, quantile_cont(value, 0.4) AS b4,
        |    quantile_cont(value, 0.5) AS b5, quantile_cont(value, 0.6) AS b6,
        |    quantile_cont(value, 0.7) AS b7, quantile_cont(value, 0.8) AS b8,
        |    quantile_cont(value, 0.9) AS b9
        |  FROM ref GROUP BY event_type),
        |rb AS (
        |  SELECT r.event_type,
        |    1 + CAST(r.value > q.b1 AS INT) + CAST(r.value > q.b2 AS INT)
        |      + CAST(r.value > q.b3 AS INT) + CAST(r.value > q.b4 AS INT)
        |      + CAST(r.value > q.b5 AS INT) + CAST(r.value > q.b6 AS INT)
        |      + CAST(r.value > q.b7 AS INT) + CAST(r.value > q.b8 AS INT)
        |      + CAST(r.value > q.b9 AS INT) AS bin,
        |    count(*) AS c
        |  FROM ref r JOIN q USING (event_type) GROUP BY 1, 2),
        |cb AS (
        |  SELECT c2.event_type,
        |    1 + CAST(c2.value > q.b1 AS INT) + CAST(c2.value > q.b2 AS INT)
        |      + CAST(c2.value > q.b3 AS INT) + CAST(c2.value > q.b4 AS INT)
        |      + CAST(c2.value > q.b5 AS INT) + CAST(c2.value > q.b6 AS INT)
        |      + CAST(c2.value > q.b7 AS INT) + CAST(c2.value > q.b8 AS INT)
        |      + CAST(c2.value > q.b9 AS INT) AS bin,
        |    count(*) AS c
        |  FROM cur c2 JOIN q USING (event_type) GROUP BY 1, 2),
        |grid AS (
        |  SELECT q.event_type, CAST(gs.g AS INT) AS bin
        |  FROM q CROSS JOIN (SELECT unnest(range(1, 11)) AS g) gs),
        |j AS (
        |  SELECT g.event_type, g.bin,
        |    coalesce(rb.c, 0) AS cr, coalesce(cb.c, 0) AS cc
        |  FROM grid g
        |  LEFT JOIN rb ON g.event_type = rb.event_type AND g.bin = rb.bin
        |  LEFT JOIN cb ON g.event_type = cb.event_type AND g.bin = cb.bin),
        |t AS (
        |  SELECT event_type, sum(cr) AS nr, sum(cc) AS nc FROM j GROUP BY 1),
        |terms AS (
        |  SELECT j.event_type,
        |    ((j.cr + 0.5) / (t.nr + 5.0) - (j.cc + 0.5) / (t.nc + 5.0)) *
        |      ln(((j.cr + 0.5) / (t.nr + 5.0)) / ((j.cc + 0.5) / (t.nc + 5.0)))
        |      AS term
        |  FROM j JOIN t USING (event_type))
        |SELECT event_type,
        |  round(CAST(sum(CAST(term AS DECIMAL(28,12))) AS DOUBLE), 6) AS psi
        |FROM terms GROUP BY event_type""".stripMargin,

    "q_quantile_bins" ->
      """WITH q AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.25) AS b1,
        |    quantile_cont(value, 0.50) AS b2,
        |    quantile_cont(value, 0.75) AS b3
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type)
        |SELECT e.event_type,
        |  1 + CAST(e.value > q.b1 AS INT) + CAST(e.value > q.b2 AS INT)
        |    + CAST(e.value > q.b3 AS INT) AS bin,
        |  count(*) AS n
        |FROM events e JOIN q USING (event_type)
        |WHERE e.value IS NOT NULL
        |GROUP BY e.event_type, bin""".stripMargin,

    "q_winsorize_stream" ->
      """WITH q AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.01) AS lo,
        |    quantile_cont(value, 0.99) AS hi
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        |  round(CASE WHEN e.value < q.lo THEN q.lo
        |             WHEN e.value > q.hi THEN q.hi
        |             ELSE e.value END, 6) AS value_w,
        |  (e.value < q.lo OR e.value > q.hi) AS clipped
        |FROM events e JOIN q USING (event_type)
        |WHERE e.value IS NOT NULL""".stripMargin,

    "q_zscore" ->
      """WITH stats AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS s2,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY event_type),
        |norm AS (
        |  SELECT event_type, s1 / n AS mu,
        |         sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sigma
        |  FROM stats)
        |SELECT e.event_id, e.event_type,
        |  round((e.value - norm.mu) / nullif(norm.sigma, 0), 6) AS zscore
        |FROM events e JOIN norm ON e.event_type = norm.event_type""".stripMargin,

    "q_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    // theta sketches are exact below their 2^12-entry nominal capacity and
    // the testdata's per-type user sets stay under it at every SF, so the
    // oracle checks the exact set cardinalities the sketches must reproduce
    "q_theta_sets" ->
      """SELECT
        | (SELECT count(DISTINCT user_id) FROM events WHERE event_type = 'click') AS n_click,
        | (SELECT count(DISTINCT user_id) FROM events WHERE event_type = 'purchase') AS n_purchase,
        | (SELECT count(DISTINCT user_id) FROM events
        |    WHERE event_type IN ('click', 'purchase')) AS n_union,
        | (SELECT count(*) FROM (
        |    SELECT user_id FROM events WHERE event_type = 'click'
        |    INTERSECT
        |    SELECT user_id FROM events WHERE event_type = 'purchase')) AS n_intersect,
        | (SELECT count(*) FROM (
        |    SELECT user_id FROM events WHERE event_type = 'click'
        |    EXCEPT
        |    SELECT user_id FROM events WHERE event_type = 'purchase')) AS n_click_only""".stripMargin,

    "q_sample_hash" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '2000'""".stripMargin,

    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin,

    "q_corpus_mix" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (lang = 'en' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
        |   OR lang = 'de'
        |   OR lang = 'fr'
        |   OR (lang = 'es' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')""".stripMargin,

    "q_scrub_pii" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |   text || ' contact bob@x-corp.io at 555-867-5309 or https://ex.com/a?b=1 ip 10.0.0.1',
        |   'https?://\S+', '<URL>', 'g'),
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed
        |FROM documents""".stripMargin,

    "q_split_assign" ->
      """SELECT doc_id,
        | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "q_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |pre AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
        |  FROM toks)
        |SELECT doc_id, n_tokens, prefix // 2048 AS seq_id, prefix % 2048 AS seq_offset
        |FROM pre""".stripMargin,

    // same prefix-sum contract as q_pack_sequences, but laid out along the
    // md5(id) pseudo-random order (ties break on the id)
    "q_shard_assign" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS h
        |  FROM documents),
        |pre AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
        |  FROM toks)
        |SELECT doc_id, n_tokens, prefix // 4096 AS shard_id, prefix % 4096 AS shard_offset
        |FROM pre""".stripMargin,

    // per-term BM25 contributions rounded to 12 decimals and summed in
    // decimal, exactly as the Spark side does — double casts force every
    // intermediate through the same IEEE ops in both engines
    "q_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |q(q_id, q_text) AS (VALUES
        |  (CAST(1 AS BIGINT), 'table scan filter'), (CAST(2 AS BIGINT), 'merge join batch'),
        |  (CAST(3 AS BIGINT), 'stream window agg'), (CAST(4 AS BIGINT), 'customer order group')),
        |qt AS (SELECT q_id, unnest(list_distinct(regexp_split_to_array(trim(lower(q_text)), '\s+'))) AS token
        |       FROM q),
        |dfq AS (SELECT token, count(*) AS df FROM tf
        |        WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1),
        |sc AS (
        |  SELECT qt.q_id, tf.doc_id,
        |    CAST(round(
        |      ln(1.0 + (n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
        |      ((tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |       (tf + CAST(1.2 AS DOUBLE) *
        |        (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))), 12)
        |      AS DECIMAL(28,12)) AS term
        |  FROM qt JOIN tf USING (token) JOIN dfq USING (token)
        |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
        |agg AS (SELECT q_id, doc_id,
        |          CAST(round(CAST(sum(term) AS DOUBLE), 6) AS DOUBLE) AS score
        |        FROM sc GROUP BY 1, 2)
        |SELECT q_id, doc_id, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
        |  FROM agg) WHERE rn <= 10""".stripMargin,

    // BM25 CTE chain verbatim from q_bm25_topk (cut at 20); dense CTE from
    // q_ann_batch with the anchor set vec_id IN (1..4); RRF terms rounded
    // to 12 and decimal-accumulated like every float aggregation here
    "q_rrf_fusion" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |q(q_id, q_text) AS (VALUES
         |  (CAST(1 AS BIGINT), 'table scan filter'), (CAST(2 AS BIGINT), 'merge join batch'),
         |  (CAST(3 AS BIGINT), 'stream window agg'), (CAST(4 AS BIGINT), 'customer order group')),
         |qt AS (SELECT q_id, unnest(list_distinct(regexp_split_to_array(trim(lower(q_text)), '\\s+'))) AS token
         |       FROM q),
         |dfq AS (SELECT token, count(*) AS df FROM tf
         |        WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1),
         |sc AS (
         |  SELECT qt.q_id, tf.doc_id,
         |    CAST(round(
         |      ln(1.0 + (n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
         |      ((tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
         |       (tf + CAST(1.2 AS DOUBLE) *
         |        (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))), 12)
         |      AS DECIMAL(28,12)) AS term
         |  FROM qt JOIN tf USING (token) JOIN dfq USING (token)
         |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
         |agg AS (SELECT q_id, doc_id,
         |          CAST(round(CAST(sum(term) AS DOUBLE), 6) AS DOUBLE) AS score
         |        FROM sc GROUP BY 1, 2),
         |lex AS (SELECT q_id, doc_id, rn AS rank FROM (
         |  SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
         |  FROM agg) WHERE rn <= 20),
         |anch AS (SELECT vec_id AS qid, embedding AS qv, $normSql AS qn
         |         FROM embeddings WHERE vec_id IN (1, 2, 3, 4)),
         |nv AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
         |scored AS (
         |  SELECT anch.qid, nv.vec_id,
         |    round((SELECT CAST(sum(CAST(CAST(nv.embedding[i] AS DOUBLE) * CAST(anch.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
         |      / nullif(nv.nrm * anch.qn, 0), 6) AS cosine
         |  FROM nv, anch WHERE nv.vec_id <> anch.qid),
         |dense AS (SELECT qid AS q_id, vec_id AS doc_id, rn AS rank FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
         |  FROM scored) WHERE rn <= 20),
         |terms AS (
         |  SELECT q_id, doc_id, CAST(round(CAST(1.0 AS DOUBLE) / (60 + rank), 12) AS DECIMAL(28,12)) AS term FROM lex
         |  UNION ALL
         |  SELECT q_id, doc_id, CAST(round(CAST(1.0 AS DOUBLE) / (60 + rank), 12) AS DECIMAL(28,12)) AS term FROM dense),
         |fused AS (SELECT q_id, doc_id,
         |            CAST(round(CAST(sum(term) AS DOUBLE), 6) AS DOUBLE) AS rrf_score
         |          FROM terms GROUP BY 1, 2)
         |SELECT q_id, doc_id, rrf_score FROM (
         |  SELECT q_id, doc_id, rrf_score,
         |         row_number() OVER (PARTITION BY q_id ORDER BY rrf_score DESC, doc_id) AS rn
         |  FROM fused) WHERE rn <= 10""".stripMargin,

    // dense ranking CTE from q_ann_batch (anchors 1..4, cut 10); relevance
    // = #distinct query tokens in the doc's distinct token set (exact
    // integer ground truth); DCG/IDCG terms rounded to 12 and
    // decimal-accumulated, ideal list cut at 10 inside its window
    "q_rank_eval" ->
      s"""WITH q(q_id, q_text) AS (VALUES
         |  (CAST(1 AS BIGINT), 'table scan filter'), (CAST(2 AS BIGINT), 'merge join batch'),
         |  (CAST(3 AS BIGINT), 'stream window agg'), (CAST(4 AS BIGINT), 'customer order group')),
         |qt AS (SELECT q_id, unnest(list_distinct(regexp_split_to_array(trim(lower(q_text)), '\\s+'))) AS token
         |       FROM q),
         |dt AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS token
         |       FROM documents),
         |rel AS (SELECT q_id, doc_id, CAST(count(*) AS INTEGER) AS rel
         |        FROM dt JOIN qt USING (token) GROUP BY 1, 2),
         |anch AS (SELECT vec_id AS qid, embedding AS qv, $normSql AS qn
         |         FROM embeddings WHERE vec_id IN (1, 2, 3, 4)),
         |nv AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
         |scored AS (
         |  SELECT anch.qid, nv.vec_id,
         |    round((SELECT CAST(sum(CAST(CAST(nv.embedding[i] AS DOUBLE) * CAST(anch.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
         |      / nullif(nv.nrm * anch.qn, 0), 6) AS cosine
         |  FROM nv, anch WHERE nv.vec_id <> anch.qid),
         |rk AS (SELECT qid AS q_id, vec_id AS doc_id, rn AS rank FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
         |  FROM scored) WHERE rn <= 10),
         |j AS (SELECT rk.q_id, rk.rank, coalesce(rel.rel, 0) AS rel
         |      FROM rk LEFT JOIN rel ON rk.q_id = rel.q_id AND rk.doc_id = rel.doc_id),
         |d AS (SELECT q_id,
         |        CAST(sum(CAST(round((power(2, rel) - 1) / log2(rank + 1), 12) AS DECIMAL(28,12))) AS DOUBLE) AS dcg,
         |        min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
         |        CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS "precision"
         |      FROM j GROUP BY 1),
         |ic AS (SELECT q_id,
         |         CAST(sum(CAST(round((power(2, rel) - 1) / log2(irank + 1), 12) AS DECIMAL(28,12))) AS DOUBLE) AS idcg
         |       FROM (SELECT q_id, rel, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, doc_id) AS irank
         |             FROM rel WHERE rel > 0) WHERE irank <= 10 GROUP BY 1)
         |SELECT d.q_id,
         |  coalesce(round(dcg / nullif(idcg, 0), 6), CAST(0.0 AS DOUBLE)) AS ndcg,
         |  coalesce(round(CAST(1.0 AS DOUBLE) / first_rel, 6), CAST(0.0 AS DOUBLE)) AS mrr,
         |  "precision"
         |FROM d LEFT JOIN ic USING (q_id)""".stripMargin,

    // quality CTE verbatim from q_quality_score; the synthetic URL's
    // canonical host reduces to lower(source).example.com
    "q_domain_cap" ->
      """WITH s AS (SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
        |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS stops,
        |    CAST(length(text) AS DOUBLE) AS chars
        |  FROM documents),
        |q AS (SELECT doc_id, source,
        |  CAST(round(CAST(least(chars / 500.0, 1.0) AS DECIMAL(18,12)) * 0.5
        |      + CAST(least(stops / nullif(toks, 0) * 5.0, 1.0) AS DECIMAL(18,12)) * 0.3
        |      + CAST(1.0 - least(punct / nullif(chars, 0) * 10.0, 1.0) AS DECIMAL(18,12)) * 0.2, 6)
        |    AS DOUBLE) AS quality
        |  FROM s)
        |SELECT doc_id, host, quality FROM (
        |  SELECT doc_id, lower(source) || '.example.com' AS host, quality,
        |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
        |  FROM q) WHERE rn <= 20""".stripMargin,

    // stride-1 8-gram occurrences -> non-first occurrences of repeated
    // grams -> merged [s, e) islands per doc -> surviving tokens rebuild
    // the text (the Spark side groups by xxhash64(gram), the oracle by the
    // gram itself — identical families absent 64-bit collisions)
    "q_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
        |tp AS (
        |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |                          i -> {'pos': i, 'tok': t[i]})) AS u
        |    FROM toks)),
        |occ AS (
        |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
        |                          i -> {'pos': i, 'g': array_to_string(t[i:i+7], ' ')})) AS u
        |    FROM toks WHERE len(t) >= 8)),
        |mark AS (
        |  SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt,
        |         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM occ),
        |spans AS (SELECT doc_id, pos AS s, pos + 8 AS e FROM mark WHERE cnt >= 2 AND rn > 1),
        |isl0 AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        |  FROM spans),
        |isl1 AS (SELECT doc_id, s, e,
        |           CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS brk FROM isl0),
        |isl2 AS (SELECT doc_id, s, e,
        |           sum(brk) OVER (PARTITION BY doc_id ORDER BY s
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |         FROM isl1),
        |isl AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM isl2 GROUP BY doc_id, isl),
        |rem AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM isl),
        |kept AS (SELECT tp.* FROM tp WHERE NOT EXISTS (
        |           SELECT 1 FROM rem WHERE rem.doc_id = tp.doc_id AND rem.pos = tp.pos)),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |          string_agg(tok, ' ' ORDER BY pos) AS text_clean
        |        FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(reb.text_clean, '') AS text_clean
        |FROM toks t LEFT JOIN reb ON t.doc_id = reb.doc_id""".stripMargin,

    // sessionize CTE verbatim from q_sessionize (click/view events only),
    // then plain interval containment — the oracle for the time-bucketed
    // equi-join
    "q_interval_join" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 43200
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE event_type IN ('click', 'view')),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |s2 AS (
        |  SELECT user_id, min(ts) AS session_start, epoch(min(ts)) AS start_sec,
        |    epoch(min(ts)) + round(epoch(max(ts)) - epoch(min(ts)), 6) AS end_sec
        |  FROM sess GROUP BY user_id, sid)
        |SELECT e.user_id, e.event_id, s2.session_start
        |FROM events e JOIN s2 ON e.user_id = s2.user_id
        |WHERE e.event_type = 'error'
        |  AND epoch(e.ts) >= s2.start_sec AND epoch(e.ts) <= s2.end_sec""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
        | CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |      WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |      WHEN es_hits >= fr_hits THEN 'es'
        |      ELSE 'fr' END AS pred_lang
        |FROM (SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) AS en_hits,
        |  len(regexp_extract_all(lower(text), '\b(der|die|und|das|ein|nicht)\b')) AS de_hits,
        |  len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|una)\b')) AS es_hits,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|une)\b')) AS fr_hits
        |FROM documents)""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id,
        | CAST(toks AS BIGINT) AS n_tokens,
        | round(punct / nullif(chars, 0), 6) AS punct_ratio,
        | round(stops / nullif(toks, 0), 6) AS stopword_ratio,
        | CAST(round(CAST(least(chars / 500.0, 1.0) AS DECIMAL(18,12)) * 0.5
        |     + CAST(least(stops / nullif(toks, 0) * 5.0, 1.0) AS DECIMAL(18,12)) * 0.3
        |     + CAST(1.0 - least(punct / nullif(chars, 0) * 10.0, 1.0) AS DECIMAL(18,12)) * 0.2, 6)
        |   AS DOUBLE) AS quality
        |FROM (SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
        |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS punct,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS stops,
        |  CAST(length(text) AS DOUBLE) AS chars
        |FROM documents)""".stripMargin,

    "q_type_token" ->
      """SELECT doc_id,
        | round(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))
        |   / nullif(CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE), 0), 6)
        |   AS ttr
        |FROM documents""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        | len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS n_re_tokens
        |FROM documents""".stripMargin,

    "q_salted_join" ->
      """SELECT p_brand,
        | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin
  )
}
