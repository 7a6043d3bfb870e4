package graft
package registry

import graft.functions.Fns
import graft.operators._
import graft.sources.{DailySummary, Sources}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Helpers the query families share: normalized events, the per-snapshot
  * daily summary and its bars, window specs, decimal-exact sums, Pearson
  * moments, the purchase graph and the per-context shared artifacts.
  *
  * Reads no registry: the families interpolate these values into their
  * oracles while [[Registry]] initializes, so a cycle back to it would
  * render a null into an oracle.
  */
object QueryKit {

  /** Events with `ts` normalized to TIMESTAMP_NTZ — the type DuckDB calls
    * TIMESTAMP, so parquet output round-trips agree with the oracle. The
    * physical encoding of `ts` has changed between testdata generations
    * (nanos-as-long vs TIMESTAMP(MICROS)), so branch on what actually
    * loaded rather than assuming one encoding.
    */
  private[registry] def events(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.events(s, dir)
    Fns.normalizeTsNtz(df, "ts")
  }

  private[registry] def ordersNtz(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz"))

  private[registry] def lineitemNtz(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).withColumn("l_shipdate", col("l_shipdate").cast("timestamp_ntz"))

  /** The daily summary of the events table's current snapshot
    * ([[graft.sources.DailySummary]]): built once per snapshot, merged
    * forward after an append, and shared by every daily-series key over it.
    */
  private[registry] def daily(s: SparkSession, dir: String): DataFrame =
    DailySummary.of(s, Tables.eventsSnapshot(s, dir))

  private[registry] def bars(s: SparkSession, dir: String): DataFrame =
    daily(s, dir).select("user_id", "d", "open", "high", "low", "close", "volume")

  // String literals in comparisons coerce to the ts column's own timestamp
  // type, so cutoffs work whether the source reads as LTZ or NTZ.
  private[registry] def tsNtz(litStr: String): Column = lit(litStr)

  private[registry] val entityDay = Window.partitionBy(col("user_id")).orderBy(col("d"))

  // close-to-close daily return over entityDay, zero-close-guarded —
  // shared by every return-statistic key (volatility, beta, autocorr,
  // seasonality, skew/kurt, lead-lag) so the guard and the lag tie
  // semantics cannot drift between them or their mirrored oracles
  private[registry] def dailyReturn: Column =
    col("close") / nullif(lag(col("close"), 1).over(entityDay), lit(0.0)) - 1

  // q_macd truncation depths: 60 lags leave < 1% tail weight on the
  // 26-span EMA ((25/27)^60 ≈ 0.0098), 15 on the 9-span signal. Shared
  // with the oracle generator so the lag terms mirror 1:1.
  private[registry] val macdLags = 60
  private[registry] val signalLags = 15

  private[registry] def exactSumD(c: Column): Column = sum(c.cast("decimal(28,6)")).cast("double")

  // returns are O(1e-2): 12 fractional digits keep the decimal-exact sum
  // meaningful where 6 would quantize the signal away
  private[registry] def exactSumD12(c: Column): Column = sum(c.cast("decimal(28,12)")).cast("double")

  /** The decimal moments of paired series x, y — (s1, s2, sxx, syy, sxy,
    * n), each sum by `exactSum` — for [[pearson]].
    */
  private[registry] def pearsonMoments(x: Column, y: Column, exactSum: Column => Column): Seq[Column] =
    Seq(exactSum(x).as("s1"), exactSum(y).as("s2"),
      exactSum(x * x).as("sxx"), exactSum(y * y).as("syy"), exactSum(x * y).as("sxy"),
      count(lit(1)).cast("double").as("n"))

  /** Pearson correlation from decimal moments, rounded to 6 (NULL on a
    * zero-variance series): over the columns n, sx, sy, sxx, syy, sxy —
    * [[pearsonMoments]]' names by default.
    */
  private[registry] def pearson(sx: String = "s1", sy: String = "s2", sxx: String = "sxx",
                      syy: String = "syy", sxy: String = "sxy"): Column = {
    val n = col("n")
    round((n * col(sxy) - col(sx) * col(sy)) /
      nullif(sqrt(n * col(sxx) - col(sx) * col(sx)) *
        sqrt(n * col(syy) - col(sy) * col(sy)), lit(0.0)), 6)
  }

  /** The 10 most active entities (most daily bars, ties to the lower id)
    * of a bars frame, as (user_id) — the series the pair keys correlate.
    */
  private[registry] def topActive(b: DataFrame): DataFrame =
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
  private[registry] def sharedSemCents(s: SparkSession, dir: String): Seq[Array[Array[Double]]] =
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
  private[registry] def sharedSemPairs(s: SparkSession, dir: String): DataFrame =
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
  private[registry] def sharedExactPairs(s: SparkSession, dir: String): DataFrame =
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
  private[registry] def purchaseNode(id: Column): Column =
    when(id % 2 === 0, concat(lit("c"), shiftright(id, 1)))
      .otherwise(concat(lit("s"), shiftright(id, 1)))

  // Persisted ANN indexes live under the session-scoped scratch root: the
  // applicationId in the path means concurrent runs (Bench + Verify on the
  // same dataset) can never read each other's half-written index, and the
  // build runs ONCE per process so per-pass bench timings measure the
  // partition-pruned PROBE — the number the *_indexed keys exist to show —
  // not a k-means retrain + parquet write.
  private[registry] def indexRoot(s: SparkSession): String =
    s"${Graft.localScratchDir}/graft-index-${s.sparkContext.applicationId}"

  /** The bar store behind q_incremental_bars: the pre-cutoff history's
    * daily summary (bars and their witness times) persisted as
    * day-partitioned parquet, built ONCE per (process, dataset). The query
    * then measures what an incremental refresh actually costs — a
    * bar-store read + one merge aggregate over the stored rows and the
    * fresh batch's ticks — instead of silently re-deriving
    * history from ticks on every run (which models recompute, not
    * persistence).
    */
  private[registry] def sharedBarStore(s: SparkSession, dir: String): String =
    StateCache.value(s, s"barstore:$dir") {
      val path = s"${indexRoot(s)}/bars_${new java.io.File(dir).getName}"
      Ohlc.dailySummary(events(s, dir).where(col("ts") < tsNtz("2024-01-20")), Nil, Nil)
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
  private[registry] def sharedCoPurchaseEdges(s: SparkSession, dir: String): String =
    StateCache.value(s, s"copurchase:$dir") {
      val path = s"${indexRoot(s)}/copurchase_${new java.io.File(dir).getName}"
      Graph.coPurchaseEdges(Tables.orders(s, dir), Tables.lineitem(s, dir))
        .write.mode("overwrite").parquet(path)
      path
    }

  private[registry] def sharedIvfIndex(s: SparkSession, dir: String): (String, Array[Array[Double]]) =
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
  private[registry] def sharedIvfAppendIndex(s: SparkSession, dir: String)
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
      val baseCounts = Similarity.ivfCellCounts(Sources.readParquet(s, path))
      Similarity.appendToIvfIndex(path, batch, cents)
      val drift = Similarity.ivfOccupancyDrift(
        baseCounts, Similarity.ivfCellCounts(Sources.readParquet(s, path)))
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
  private[registry] def sharedPqBooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    StateCache.value(s, s"pqbooks:$dir") {
      Similarity.pqCodebooks(Tables.embeddings(s, dir), m = 8, ksub = 16, iters = 2)
    }

  private[registry] def sharedIvfPqIndex(s: SparkSession, dir: String)
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

  private[registry] val normSql =
    "sqrt((SELECT CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i)))"
}
