package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import graft.StateCache

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, pmod, xxhash64}

/** The gate's refusal — a dedicated type so harnesses classify "the melt
  * guard fired" by TYPE, never by message substring (an unrelated
  * `require` that happens to echo the conf key must not be mis-binned as
  * a designed refusal). Subclasses IllegalArgumentException so existing
  * callers that catch the old contract keep working.
  */
class PairGateRefused(message: String) extends IllegalArgumentException(message)

/** Output-cardinality gate for the quadratic pair generators (exact
  * cosine-threshold pairs, LSH-verified pairs, SemDeDup pairs, winnowing
  * overlap).
  *
  * A similarity threshold over a decorrelated corpus makes the pair
  * OUTPUT Θ(n²) by geometry, not by plan defect: at d = 64 the cosine
  * noise floor has σ = 1/√d = 0.125, so τ = 0.4 sits 3.2σ out and a
  * constant fraction of ALL pairs clears it (measured on the scale rungs:
  * the exact τ = 0.4 pair set grew 920 → 9,618,218 when the corpus grew
  * 100×). Every generator's plan stays sublinear in its own output — but
  * without a gate a 100 TB run would happily materialize an
  * astronomically large pair table before anyone noticed. This is the
  * same fail-loudly-past-a-config-cap discipline as
  * `spark.graft.quantiles.maxGroups` and `spark.graft.ann.maxBatchQueries`:
  * estimate the output BEFORE producing it and abort with an actionable
  * message instead of melting the cluster.
  *
  * Two tiers, so small corpora never pay anything beyond one count:
  *
  *   1. FREE BOUND — output ≤ n(n−1)/2; when that bound already fits the
  *      cap, pass with zero extra work.
  *   2. CHEAP ESTIMATE — otherwise the caller-supplied estimator runs the
  *      generator's EXACT semantics on a deterministic hash sample of
  *      ~`spark.graft.pairs.estimateRows` rows and scales by 1/p² (pair
  *      survival needs both endpoints sampled, and hash sampling is
  *      independent of cluster structure, so the estimate is unbiased);
  *      the approximate generators are estimated by the exact τ-pair
  *      density — a superset of what they confirm — so the gate errs
  *      toward refusing, never toward melting.
  *
  * DETECTABILITY FLOOR on tier 2: a fixed ~2048-row sample goes blind on
  * huge corpora — at p = 2048/n the expected sampled-pair count for an
  * AT-CAP output is cap·p², which drops below 1 past n ≈ 4.6M rows, so a
  * many-times-over-cap output would likely sample ZERO pairs, estimate 0,
  * and pass — weakest exactly in the regime the gate exists for. The fix
  * is an ESCALATING confirm: the coarse sample still refuses cheaply when
  * it sees over-cap mass, but a coarse PASS below
  * p_floor = √(k/cap) (k = [[MinExpectedSampledPairs]]) is re-estimated
  * once at p_floor, where an at-cap output yields k expected sampled
  * pairs (P[0 sampled] = e^−k ≈ 5·10⁻⁵) — the gate's verdict is always
  * backed by a sample that could have SEEN an at-cap output. The common
  * big-corpus case (output far over cap) never pays the floor pass: the
  * coarse estimate already refuses.
  *
  * MEMOIZATION: (count, estimate) are [[StateCache]] values keyed on the
  * corpus's canonicalized-plan semantic hash plus (who, params, cap,
  * sample target), like the ANN index builds — repeat invocations over
  * the same corpus (shared pair frames, multi-pass benches) skip the
  * count and the sampled generator run. A memo MISS just recomputes;
  * correctness never depends on a hit.
  *
  * The estimate is sampling-noisy near the cap (±√(sampled pairs)); the
  * cap is a melt guard, not an exact quota. Every tier-2 verdict —
  * passing or refusing — is recorded in [[recorded]] so scale harnesses
  * ship estimate-vs-actual as artifact data instead of only seeing the
  * estimator when something trips.
  */
object PairGate {

  /** Hard cap on the estimated output-pair count; `0` disables the gate. */
  val CapKey = "spark.graft.pairs.maxOutput"

  /** Target row count of the tier-2 deterministic sample. */
  val RowsKey = "spark.graft.pairs.estimateRows"

  /** Default cap: ~5M (id_a, id_b, score) rows ≈ 120 MB — past that a
    * pair table stops being a reviewable artifact and starts being a
    * join input someone should have designed for explicitly.
    */
  val DefaultCap = 5000000L

  /** Expected sampled pairs for an exactly-at-cap output at the floor
    * fraction — the detectability constant k in p_floor = √(k/cap).
    */
  val MinExpectedSampledPairs = 10.0

  def cap(spark: SparkSession): Long =
    spark.conf.get(CapKey, DefaultCap.toString).toLong

  /** Sample-fraction granularity: keep-thresholds quantize to 1/2³⁰, so
    * the smallest non-empty sample fraction is ~9.3e-10 — a ~2048-row
    * target stays non-degenerate to corpora of ~2×10¹² rows (and the
    * k ≥ 1 floor keeps it non-empty beyond that). Sampling
    * .samplePredicate's 4-hex-digit md5 threshold quantizes at 1/65536:
    * past ~1.3×10⁸ rows the requested fraction rounds to ZERO kept rows
    * and a gate built on it would estimate 0 and pass — in exactly the
    * regime the gate exists for.
    */
  private val SampleScale = 1L << 30

  private def sampleK(p: Double): Long =
    math.max(1L, math.round(p * SampleScale))

  /** The REALIZED sample fraction for a requested `p` — what 1/p²
    * scaling must divide by (check() hands this, not the raw request,
    * to the estimator).
    */
  def realizedFraction(p: Double): Double = sampleK(p).toDouble / SampleScale

  /** Deterministic fine-grained id-sample predicate for tier-2
    * estimators: keeps a row iff pmod(xxhash64(id), 2³⁰) < k with
    * k = max(1, round(p·2³⁰)) — hash-uniform, structure-independent,
    * and consistent with [[realizedFraction]] by construction.
    */
  def samplePredicate(id: Column, p: Double): Column =
    if (p >= 1.0) lit(true)
    else pmod(xxhash64(id), lit(SampleScale)) < lit(sampleK(p))

  /** One tier-2 verdict, recorded whether it passed or refused — the raw
    * material for estimate-vs-actual calibration artifacts. `p` is the
    * realized fraction the final estimate used; `memoHit` marks verdicts
    * served from the memo (this call ran no generator).
    */
  final case class Estimation(who: String, params: String, n: Long, p: Double,
                              estimate: Long, cap: Long, refused: Boolean,
                              memoHit: Boolean)

  private val record = new ConcurrentLinkedQueue[Estimation]()

  /** Every tier-2 verdict since process start (or [[clearRecorded]]), in
    * occurrence order.
    */
  def recorded: Seq[Estimation] = {
    val out = Seq.newBuilder[Estimation]
    record.forEach(e => out += e)
    out.result()
  }

  def clearRecorded(): Unit = record.clear()

  /** Stable-enough identity for a corpus frame within one context (the
    * cache is scoped to it): the analyzed plan's semantic hash plus the
    * schema. Two reads of the same table canonicalize identically; a
    * non-matching plan is only a memo MISS (recompute), never a wrong
    * answer — the only failure mode is a 32-bit semantic-hash collision
    * between two same-schema corpora fed to the same (who, params),
    * acceptable for a sampling-noisy melt guard. Public so
    * [[checkCounted]] callers that counted for their own geometry can
    * still hand the memo a stable key.
    */
  def corpusKey(corpus: DataFrame): String =
    corpus.semanticHash().toString + ":" + corpus.schema.catalogString

  /** Memoized corpus count — shared with callers that need n for their own
    * geometry (grid sizing) so the gate's count is never a second job.
    */
  def corpusCount(corpus: DataFrame): Long =
    StateCache.value(corpus.sparkSession, s"pairgate.count:${corpusKey(corpus)}")(corpus.count())

  /** The tier-2 (realized fraction, full-corpus estimate) at the
    * configured sample target, WITH the escalating detectability floor
    * (see the header) — the shared core of [[checkCounted]], public so
    * scale harnesses can emit estimate-vs-actual as artifact data even on
    * rungs where nothing trips. The floor derives from the configured cap
    * (or [[DefaultCap]] when the gate is disabled for a diagnostics run).
    */
  def tier2Estimate(spark: SparkSession, n: Long)(estimate: Double => Long): (Double, Long) = {
    val mx = { val c = cap(spark); if (c > 0) c else DefaultCap }
    val target = spark.conf.get(RowsKey, "2048").toDouble
    require(target >= 2, s"$RowsKey must be >= 2 (got $target)")
    val pCoarse = realizedFraction(math.min(1.0, target / n.toDouble))
    val pFloor = realizedFraction(
      math.min(1.0, math.sqrt(MinExpectedSampledPairs / mx.toDouble)))
    val estCoarse = estimate(pCoarse)
    if (estCoarse > mx || pCoarse >= pFloor) (pCoarse, estCoarse)
    else (pFloor, estimate(pFloor)) // confirm a coarse pass at the
                                    // detectability floor (see header)
  }

  /** Gate a pair generator over `corpus`. `estimate(p)` must return the
    * generator's estimated FULL-CORPUS output count, usually by running
    * its exact semantics on the [[samplePredicate]] fraction-`p` id
    * sample and scaling by 1/p² — `p` arrives already REALIZED (post
    * quantization), so the scaling is exact, and MAY BE CALLED more than
    * once (the escalating floor re-estimates a suspicious coarse pass at
    * a finer fraction; an exact upper bound may ignore `p`). `params`
    * names the semantics knobs the estimate depends on (threshold, band
    * geometry, …) — it keys the memo. Returns the corpus row count for
    * callers that reuse it (grid/band geometry), or -1 WITHOUT counting
    * when the gate is disabled (cap ≤ 0) — such callers count for
    * themselves if they need n. Throws [[PairGateRefused]] (mentioning
    * [[CapKey]]) past the cap.
    */
  def check(corpus: DataFrame, who: String, params: String, remedy: String)
           (estimate: Double => Long): Long = {
    val spark = corpus.sparkSession
    if (cap(spark) <= 0L) return -1L
    val n = corpusCount(corpus)
    checkCounted(spark, n, who, params, remedy, memoKey = Some(corpusKey(corpus)))(estimate)
    n
  }

  /** [[check]] for callers that already hold the corpus row count (e.g.
    * because their geometry derivation needed it first). `memoKey`, when
    * given, lets the tier-2 estimate memoize across invocations; callers
    * without a stable corpus identity pass None and re-estimate per call.
    */
  def checkCounted(spark: SparkSession, n: Long, who: String, params: String,
                   remedy: String, memoKey: Option[String] = None)
                  (estimate: Double => Long): Unit = {
    val mx = cap(spark)
    if (mx <= 0L || n <= 1L) return
    if (n.toDouble * (n - 1).toDouble / 2.0 <= mx.toDouble) return
    val target = spark.conf.get(RowsKey, "2048").toDouble
    require(target >= 2, s"$RowsKey must be >= 2 (got $target)")
    var built = false
    def verdict = { built = true; tier2Estimate(spark, n)(estimate) }
    val (p, est) = memoKey.fold(verdict)(k =>
      StateCache.value(spark, s"pairgate.estimate:$k|$who|$params|cap=$mx|rows=$target")(verdict))
    record.add(Estimation(who, params, n, p, est, mx, refused = est > mx, memoHit = !built))
    if (est > mx) throw new PairGateRefused(
      s"$who estimates ~$est output pairs over $n rows (deterministic " +
        f"${p * 100}%.4f%% sample) — past $CapKey=$mx. $remedy; or raise " +
        s"$CapKey if the downstream truly consumes a pair table this size " +
        s"(0 disables the gate)")
  }
}
