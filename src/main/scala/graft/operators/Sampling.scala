package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. `rand()`-based
  * sampling changes membership on every retry/re-run and can't be
  * reproduced by another engine; hashing a stable id gives a sample that is
  * (a) identical across reruns, cluster sizes and engines, (b) consistent —
  * a row's membership never depends on what other rows exist, so samples
  * compose across snapshots, and (c) cheap — a scan-level filter with no
  * shuffle.
  *
  * Membership test: the first 4 hex chars of md5(id) compared against a
  * fixed-width hex threshold (lexicographic order on fixed-width lowercase
  * hex IS numeric order), i.e. keep ⇔ hash-prefix < floor(fraction·16^4).
  */
object Sampling {

  private def hexThreshold(fraction: Double): String = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    f"${math.round(fraction * 65536).toInt}%04x"
  }

  /** Membership predicate for a deterministic `fraction` sample keyed on
    * `id` (granularity 1/65536). fraction ≥ 1 keeps everything — the
    * 4-hex-digit comparison trick only holds for thresholds below 0x10000.
    */
  def samplePredicate(id: Column, fraction: Double): Column =
    if (fraction >= 1.0) lit(true)
    else substring(md5(id.cast("string")), 1, 4) < lit(hexThreshold(fraction))

  /** Keep a deterministic `fraction` of rows, keyed on `idCol`. */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double): DataFrame =
    df.where(samplePredicate(col(idCol), fraction))

  /** Deterministic train/validation/test split assignment: the same
    * hash-prefix trick, carved into contiguous ranges — every row gets
    * exactly one label, membership is engine-reproducible and independent
    * of what other rows exist (rows keep their split across corpus
    * versions). `splits` maps label → fraction; fractions must sum to 1
    * (hash-prefix rounding puts boundary rows in the later range, so the
    * LAST label absorbs any rounding remainder). Scan-level, shuffle-free.
    */
  def assignSplit(df: DataFrame, idCol: String,
                  splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val prefix = substring(md5(col(idCol).cast("string")), 1, 4)
    val cuts = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val labeled = splits.init.zip(cuts.init).foldLeft(Option.empty[Column]) {
      case (acc, ((label, _), cut)) =>
        // cut ≥ 1 (trailing zero-fraction splits) would format as 5-char
        // "10000" and break the fixed-width comparison — same overflow
        // samplePredicate guards
        val cond =
          if (cut >= 1.0) lit(true)
          else prefix < lit(f"${math.round(cut * 65536).toInt}%04x")
        Some(acc.map(_.when(cond, label)).getOrElse(when(cond, label)))
    }
    val splitCol = labeled.map(_.otherwise(splits.last._1)).getOrElse(lit(splits.last._1))
    df.withColumn("split", splitCol)
  }

  /** Deterministic WEIGHTED sample without replacement — Efraimidis &
    * Spirakis A-ES: each row draws a uniform `u` and ranks by
    * `u^(1/weight)`; the top-`k` keys are a weighted sample without
    * replacement. Here `u` is derived from md5(id) (first 12 hex digits /
    * 16^12 — 48 bits of uniformity, bit-identical in any engine), so the
    * sample inherits every deterministicSample property: reproducible
    * across engines, reruns and cluster sizes, and consistent — a row's
    * key never depends on other rows, so the same row survives corpus
    * versioning while it stays in the top-k.
    *
    * The key is rounded to 9 decimals before ranking (ties broken by id):
    * `pow` is the one libm call in the chain and engines may differ in its
    * last ulp, so ordering on the raw double could flip a boundary pair —
    * at 9 decimals a cross-engine flip needs the unrounded key within
    * ~1e-16 of a 5e-10 boundary, negligible, while 1e-9 granularity is
    * far finer than any sampling use cares about.
    *
    * Scale shape: scan-level key computation + a global bounded top-k
    * (TakeOrderedAndProject — k rows per partition to the driver, never a
    * sort). Weights must be positive.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
      .cast("double") / lit(math.pow(16.0, 12))
    val key = round(pow(u, lit(1.0) / col(weightCol).cast("double")), 9)
    df.withColumn("sample_key", key)
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(k)
  }

  /** EXACT-size stratified sample: precisely `k` rows per stratum (fewer
    * only when the stratum is smaller), chosen deterministically by hash
    * order — rate-based sampling (`mixCorpora`) gives binomial-sized
    * strata, but eval-set construction and per-source quotas need exact
    * counts. Selection order is md5(id): engine-reproducible (any engine
    * can rank the same), unbiased by the id sequence, and stable across
    * corpus versions for the rows that persist. Runs on the bounded-heap
    * GroupTopK, so the shuffle carries k rows per stratum per task —
    * equivalent to (but never paying) the window-sort formulation.
    */
  def stratifiedExact(df: DataFrame, stratumCol: String, idCol: String, k: Int): DataFrame =
    graft.plans.GroupTopK.topKPerKey(
      df.withColumn("__rank_hash", md5(col(idCol).cast("string"))),
      Seq(stratumCol),
      Seq(col("__rank_hash").asc, col(idCol).asc), k)
      .drop("__rank_hash")

  /** Corpus mixing: per-stratum sampling rates (e.g. upweight rare
    * languages, downweight boilerplate sources) in ONE scan — the standard
    * training-mixture op. Strata absent from `fractions` are dropped.
    */
  def mixCorpora(df: DataFrame, stratumCol: String, idCol: String,
                 fractions: Map[String, Double]): DataFrame = {
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, fraction)) =>
      acc || (col(stratumCol) === stratum && samplePredicate(col(idCol), fraction))
    }
    df.where(keep)
  }

  /** Temperature-scaled mixture — the sampling rates come FROM THE DATA:
    * kept counts ∝ n_s^`alpha` (the multilingual-LLM temperature rule;
    * alpha = 1 keeps natural proportions, alpha → 0 flattens toward
    * uniform), realized downsampling-only — the smallest stratum keeps
    * everything, a stratum of size n_s keeps rate (n_min/n_s)^(1−alpha).
    *
    * Shape: one partially-aggregated count (stratum-cardinality rows), a
    * broadcast rate join, and the same deterministic md5-prefix membership
    * as every other sampler — so the mixture is engine-reproducible and a
    * row's membership never depends on re-runs. The threshold is carried as
    * an integer and compared only when < 2^16 (rate-1 strata skip the
    * fixed-width hex comparison, which can't represent "keep all").
    * Null-stratum rows drop (the equi-join can't match them) — coalesce to
    * a sentinel stratum first if they should participate.
    */
  def temperatureMix(df: DataFrame, stratumCol: String, idCol: String,
                     alpha: Double): DataFrame =
    applyRates(df, temperatureRates(df, stratumCol, alpha), stratumCol, idCol)

  /** The rates alone: stratum → integer membership threshold (out of 2^16),
    * kept counts ∝ n_s^alpha realized downsampling-only.
    */
  private def temperatureRates(df: DataFrame, stratumCol: String, alpha: Double): DataFrame = {
    require(alpha >= 0 && alpha <= 1, "alpha must be in [0,1]")
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min(col("__n")).as("__nmin"))
    counts.crossJoin(broadcast(nMin))
      .select(col(stratumCol),
        round(pow(col("__nmin").cast("double") / col("__n").cast("double"),
          lit(1.0 - alpha)) * 65536, 0).cast("int").as("__t"))
  }

  /** Membership filter against a precomputed rate table — the same
    * deterministic md5-prefix test as every other sampler, so a row's
    * membership depends only on (id, its stratum's rate), never on when or
    * where the filter runs. The threshold is carried as an integer and
    * compared only when < 2^16 (rate-1 strata skip the fixed-width hex
    * comparison, which can't represent "keep all").
    */
  private def applyRates(df: DataFrame, rates: DataFrame, stratumCol: String,
                         idCol: String): DataFrame =
    df.join(broadcast(rates), stratumCol)
      .where(col("__t") >= 65536 ||
        substring(md5(col(idCol).cast("string")), 1, 4)
          < lpad(lower(hex(col("__t"))), 4, "0"))
      .drop("__t")
}
