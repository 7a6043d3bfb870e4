package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Exact interpolated quantiles (`quantile_cont` semantics) in BOUNDED
  * memory at any scale.
  *
  * Spark's built-in exact `percentile` aggregate buffers EVERY value of a
  * group in executor memory — correct at benchmark scale, an OOM at
  * 100 TB, which is why the approximate GK sketch is usually offered as
  * the scale path. This operator keeps exactness instead and bounds
  * memory by trading scans for state: the needed order statistics are
  * found by radix bisection over the ORDER-PRESERVING bit encoding of the
  * double domain ([[graft.plans.DoubleSortBits]], the radix-sort-prefix
  * trick). Each pass histograms the next 8 bits of the encoding into 256
  * buckets per outstanding order statistic (a partial-aggregated hash
  * aggregate whose output is model-sized: groups × statistics × 256
  * rows), the driver walks the counts to pick the bucket containing the
  * target rank, and 8 passes pin all 64 bits — the exact value, no
  * per-group buffering anywhere, shuffle carries bucket counts only.
  *
  * Cost shape: the gate/counts job plus typically TWO more jobs per
  * round — a wide group-keyed first pass (adaptive 16/12/8 bits, see
  * [[orderStatsEnc]]) whose 65536× narrowing usually drops every window
  * straight into the resolve threshold, then the resolve job; only
  * heavy-duplicate windows take further 8-bit narrowing jobs (worst case
  * 1 + (64−b1)/8 + 1 scans). The base frame is re-scanned per pass, not
  * persisted — at corpus scale a cached copy may not fit, and a
  * column-pruned parquet re-scan is the cheaper side of the trade; callers
  * iterating many quantile sets can persist upstream. Driver state and
  * every collect are bounded (≤ ~2²⁰ rows, independent of data size).
  * The group count must be driver-sized
  * (it is the output cardinality) — and that precondition is ENFORCED:
  * [[quantileCont]]/[[robustStats]] count groups with a bounded collect
  * (`limit(cap+1)`) before any driver-side state is built and fail loudly
  * past `spark.graft.quantiles.maxGroups` (default 100000), the same
  * fail-don't-OOM discipline as the dedup union-find broadcast gate.
  *
  * Determinism: bucket counts are exact longs and the final interpolation
  * runs once on the driver — identical results under any partitioning.
  */
object Quantiles {

  private val B = 8 // bits per pass; 256-bucket histograms, 64/B passes

  /** Sentinel standing in for a NULL group key in [[quantileContWithCounts]]'s
    * count map (equi-joins drop null keys). INTERNALLY keys are carried
    * with a marker byte — "\u0000" for the null group, "\u0001" + key for
    * real groups — so a real StringType key that happens to equal this
    * sentinel can never merge with the null group.
    */
  val NullKey = "\u0000NULL"

  private val EncNull = "\u0000"
  private def encRaw(k: String): String = if (k == NullKey) EncNull else "\u0001" + k
  private def decEnc(k: String): String = if (k == EncNull) NullKey else k.substring(1)

  /** Collision-free encoded group key: marker byte + cast-to-string value;
    * NULL keys get their own marker. In-band sentinels over raw strings
    * are NOT collision-free (a StringType key needs no cast and can hold
    * any bytes) — the out-of-band marker byte is.
    */
  private def encCol(keyCol: String): Column =
    when(col(keyCol).isNull, lit(EncNull))
      .otherwise(concat(lit("\u0001"), col(keyCol).cast("string")))

  private def maxGroups(df: DataFrame): Long =
    df.sparkSession.conf.get("spark.graft.quantiles.maxGroups", "100000").toLong

  /** Early-resolve threshold: once a target's window (rows sharing its
    * prefix) holds at most this many rows, one pass collects the window's
    * distinct values + counts (≤ threshold rows per target) and finishes
    * it exactly — heavy-duplicate windows keep narrowing and terminate at
    * the full 64 bits regardless. Sized at 4096 because each pass is a
    * whole Spark job (the per-job overhead, not the scan, dominates at
    * benchmark scale) and each pass divides the window by 256: a 4096-row
    * threshold typically resolves one to two jobs earlier than a 64-row
    * one, while the resolve collect stays ≤ 4096 rows per target —
    * driver-sized regardless of corpus size.
    */
  private val ResolveWindow = 4096L

  /** Per-group non-null-value counts in ENCODED key space, with the
    * driver-size precondition enforced: the collect is bounded at cap+1
    * rows, and landing past the cap aborts with an actionable message
    * instead of OOMing the driver on a user-keyed call.
    */
  private def groupCounts(df: DataFrame, keyCol: String, valueCol: String): Map[String, Long] = {
    val cap = maxGroups(df)
    val rows = df.where(col(valueCol).isNotNull)
      .groupBy(encCol(keyCol).as("__k")).count()
      .limit((cap + 1).toInt).collect()
    require(rows.length <= cap, tooManyGroups(keyCol, cap))
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def tooManyGroups(keyCol: String, cap: Long): String =
    s"quantileCont over '$keyCol' has more than $cap groups — per-group quantiles are " +
      s"driver-sized output; group by a coarser key or raise spark.graft.quantiles.maxGroups"

  /** Bisection core over a pre-encoded base (`__k` encoded string key,
    * `__u` order-preserving bits). Keys in `ranksOf` and in the result are
    * in the encoded space.
    *
    * Pass structure (each pass is a whole Spark job, and at benchmark
    * scale per-job overhead — not scan volume — dominates, so the design
    * minimizes the JOB count):
    *  - Pass 0 is GROUP-KEYED, not per-target: one wide histogram of the
    *    top `b1` bits per requested group, no state join at all (an `isin`
    *    predicate for few groups, a broadcast semi-join past 1024). Every
    *    rank target of a group walks the same histogram on the driver, so
    *    a median's floor/ceil pair costs one job, and `b1` is sized
    *    adaptively (16/12/8 bits) to keep the worst-case collect under
    *    ~2²⁰ rows: 16 bits narrows a window by 65536× in the first job,
    *    which on continuous-ish data drops straight into the resolve
    *    threshold — a full round in two jobs.
    *  - Later passes (rare: heavy-duplicate windows) carry per-target
    *    state and narrow 8 bits per job as before.
    */
  private def orderStatsEnc(base: DataFrame,
                            ranksOf: Map[String, Seq[Long]]): Map[(String, Long), Double] = {
    val spark = base.sparkSession
    import spark.implicits._
    val keys = ranksOf.filter(_._2.nonEmpty).keys.toSeq
    if (keys.isEmpty) return Map.empty
    // first-pass width: bound the pass-0 collect at groups × 2^b1 ≤ ~1M
    // rows (the ACTIVE bucket count is usually far smaller — exponent
    // concentration — but the bound must hold on adversarial data)
    val b1 = if (keys.size <= 16) 16 else if (keys.size <= 256) 12 else B
    val filtered =
      if (keys.size <= 1024) base.where(col("__k").isin(keys: _*))
      else base.join(broadcast(keys.toDF("__k")), "__k")
    val h0 = filtered
      .groupBy(col("__k"), shiftrightunsigned(col("__u"), 64 - b1).as("__b"))
      .agg(count(lit(1)).as("__c"))
      .collect()
    val byGroup = h0.groupBy(_.getString(0)).map { case (k, rs) =>
      k -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    }
    // a requested key with no matching rows would otherwise sit in the
    // state untouched and decode to garbage — fail loudly instead
    val absent = keys.filterNot(byGroup.contains)
    require(absent.isEmpty,
      s"no rows for requested group key(s): ${absent.map(decEnc).mkString(", ")}")
    // live: (prefix, remaining rank within window); toResolve: + bitsFixed
    val live = scala.collection.mutable.Map[(String, Long), (Long, Long)]()
    val toResolve = scala.collection.mutable.Map[(String, Long), (Long, Long, Int)]()
    val out = scala.collection.mutable.Map[(String, Long), Double]()
    for ((k, rs) <- ranksOf; r <- rs.distinct) {
      val buckets = byGroup(k)
      var cum = 0L
      var done = false
      for ((b, c) <- buckets if !done) {
        if (r < cum + c) {
          if (c <= ResolveWindow) toResolve((k, r)) = (b, r - cum, b1)
          else live((k, r)) = (b, r - cum)
          done = true
        } else cum += c
      }
      require(done, s"rank $r out of range for group ${decEnc(k)}")
    }
    var bits = b1
    while (live.nonEmpty && bits < 64) {
      val w = math.min(B, 64 - bits) // b1 = 12 leaves a 4-bit final pass
      val stDf = live.toSeq.map { case ((k, r), (p, _)) => (k, r, p) }
        .toDF("__k", "__r", "__p")
      val joined = base.join(broadcast(stDf), "__k")
      val counts = joined
        .where(shiftrightunsigned(col("__u"), 64 - bits) === col("__p"))
        .groupBy(col("__k"), col("__r"),
          shiftrightunsigned(col("__u"), 64 - bits - w)
            .bitwiseAND(lit((1L << w) - 1)).as("__b"))
        .agg(count(lit(1)).as("__c"))
        .collect()
      counts.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (key, rows) =>
        val (p, rem) = live(key)
        var cum = 0L
        var done = false
        for ((b, c) <- rows.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1) if !done) {
          if (rem < cum + c) {
            val np = (p << w) | b
            if (c <= ResolveWindow && bits + w < 64) {
              live.remove(key)
              toResolve(key) = (np, rem - cum, bits + w)
            } else live(key) = (np, rem - cum)
            done = true
          } else cum += c
        }
        require(done, s"rank ${key._2} out of range for group ${decEnc(key._1)}")
      }
      bits += w
    }
    // fully-narrowed targets: the 64-bit prefix IS the value
    out ++= live.map { case ((k, r), (p, _)) => (k, r) -> graft.plans.DoubleSortBits.decode(p) }
    if (toResolve.nonEmpty) {
      val stDf = toResolve.toSeq.map { case ((k, r), (p, _, b)) => (k, r, p, b) }
        .toDF("__k", "__r", "__p", "__bits")
      val vals = base.join(broadcast(stDf), "__k")
        .where(expr("shiftrightunsigned(__u, 64 - __bits)") === col("__p"))
        .groupBy(col("__k"), col("__r"), col("__u"))
        .agg(count(lit(1)).as("__c"))
        .collect()
      vals.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (key, rows) =>
        val rem = toResolve(key)._2
        var cum = 0L
        var done = false
        // walk the window's distinct values in UNSIGNED encoding order
        for ((u, c) <- rows.map(r => (r.getLong(2), r.getLong(3)))
            .sortBy(_._1 ^ Long.MinValue) if !done) {
          if (rem < cum + c) { out(key) = graft.plans.DoubleSortBits.decode(u); done = true }
          else cum += c
        }
        require(done, s"resolve rank ${key._2} out of range for group ${decEnc(key._1)}")
      }
    }
    out.toMap
  }

  /** Robust per-group location/scale: median, MAD (median absolute
    * deviation) and the count of |x − med| > 3·1.4826·MAD outliers — the
    * outlier-robust normalization statistics a curation pipeline uses
    * where mean/σ are poisoned by the very outliers being hunted. Both
    * medians come from the radix bisection, so the whole computation is
    * exact AND bounded-memory at any scale: two bisection rounds + one
    * counting scan, never a per-group value buffer. 1.4826 is the usual
    * normal-consistency factor. Groups must be driver-sized (they are the
    * output) — enforced by the same gate as [[quantileCont]].
    *
    * Scan sharing: the per-group counts are computed ONCE — |x − med| is
    * non-null exactly where x is, so both bisection rounds and the
    * interpolation share them — and the wide first pass holds each round
    * to ~two jobs, leaving ~6 jobs total. Persisting the projected base
    * was MEASURED as a net loss at this job count (cache materialization
    * costs more than the column-pruned re-scans it saves: 1.79 s cached
    * vs 1.52 s re-scanned at sf0.1), so the operator re-scans by design —
    * which is also the only shape that works when the corpus doesn't fit
    * in cache.
    */
  def robustStats(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val proj = df.select(col(keyCol), col(valueCol)).where(col(valueCol).isNotNull)
    val ns = groupCounts(proj, keyCol, valueCol)
    val meds = quantileContCounted(proj, keyCol, valueCol, Seq(0.5 -> "__med"), ns)
    // quantileCont's key output is StringType — cast the base key explicitly
    // so the join is type-stable for any key type (no implicit coercion)
    val withDev = proj.join(broadcast(meds), proj(keyCol).cast("string") <=> meds(keyCol))
      .select(meds(keyCol).as(keyCol),
        col("__med"),
        abs(proj(valueCol) - col("__med")).as("__absdev"))
    val mads = quantileContCounted(withDev, keyCol, "__absdev", Seq(0.5 -> "__mad"), ns)
    withDev.join(broadcast(mads), withDev(keyCol) <=> mads(keyCol))
      .groupBy(withDev(keyCol).as(keyCol))
      .agg(first(col("__med")).as("med"),
        first(col("__mad")).as("mad"),
        count(when(col("__absdev") > lit(3.0) * lit(1.4826) * col("__mad"), 1))
          .as("n_outliers"))
      .select(col(keyCol), round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"), col("n_outliers"))
  }

  /** Per-group winsorization summary — the robust normalization step a
    * curation pipeline applies where raw means are poisoned by tails:
    * values clip to the EXACT [lo, hi] quantiles (from [[quantileCont]]'s
    * bounded-memory bisection, so no per-group buffering at any scale)
    * and the output carries the bounds, the decimal-exact winsorized mean
    * (order-independent accumulation — float sums differ per
    * partitioning) and the clipped-row count, one row per group. Cost:
    * the quantile rounds plus ONE clip-and-aggregate scan; the bounds
    * frame is group-sized and broadcast.
    */
  def winsorize(df: DataFrame, keyCol: String, valueCol: String,
                lo: Double = 0.01, hi: Double = 0.99): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    val qs = quantileCont(df, keyCol, valueCol, Seq(lo -> "__lo", hi -> "__hi"))
    val clipped = df.where(col(valueCol).isNotNull)
      .join(broadcast(qs), df(keyCol).cast("string") <=> qs(keyCol))
      .select(qs(keyCol).as(keyCol), col("__lo"), col("__hi"),
        when(col(valueCol) < col("__lo"), col("__lo"))
          .when(col(valueCol) > col("__hi"), col("__hi"))
          .otherwise(col(valueCol)).as("__w"),
        (col(valueCol) < col("__lo") || col(valueCol) > col("__hi")).as("__c"))
    clipped.groupBy(col(keyCol))
      .agg(first(col("__lo")).as("lo"), first(col("__hi")).as("hi"),
        (graft.functions.Fns.exactSum(col("__w")) / count(lit(1))).as("wm"),
        sum(when(col("__c"), 1L).otherwise(0L)).as("n_clipped"))
      .select(col(keyCol), round(col("lo"), 6).as("p_lo"),
        round(col("hi"), 6).as("p_hi"), round(col("wm"), 6).as("wmean"),
        col("n_clipped"))
  }

  /** Per-group equi-depth discretization — the quantile-binning step a
    * feature pipeline uses to turn a skewed numeric column into k
    * roughly-equal-population ordinal bins (fixed-width bins put 99 % of
    * a heavy-tailed column in one bucket; equi-depth can't). Bin
    * boundaries are the EXACT i/k quantiles from [[quantileCont]] (no
    * per-group buffering at any scale); a row's bin is
    * 1 + Σᵢ [value > boundᵢ] — a branch-free broadcast-join projection,
    * so the assignment pass is scan-speed and the only shuffle is the
    * output-sized count aggregate. Returns one row per (group, bin) with
    * its population.
    */
  def equiDepthBins(df: DataFrame, keyCol: String, valueCol: String,
                    k: Int = 4): DataFrame = {
    require(k >= 2 && k <= 256, "need 2 <= k <= 256 bins")
    val qs = (1 until k).map(i => i.toDouble / k -> s"__b$i")
    val bounds = quantileCont(df, keyCol, valueCol, qs)
    val binCol = qs.map { case (_, name) =>
      (col(valueCol) > col(name)).cast("int")
    }.reduce(_ + _) + lit(1)
    df.where(col(valueCol).isNotNull)
      .join(broadcast(bounds), df(keyCol).cast("string") <=> bounds(keyCol))
      .select(bounds(keyCol).as(keyCol), binCol.as("bin"))
      .groupBy(col(keyCol), col("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-group Population Stability Index between a reference and a
    * current frame — the standard drift alarm a continuously-ingesting
    * training pipeline puts on every numeric feature (rule of thumb:
    * < 0.1 stable, 0.1–0.25 drifting, > 0.25 retrain). Bins are the
    * REFERENCE's k equi-depth boundaries (exact, from [[quantileCont]]);
    * both frames bin with the same branch-free projection; proportions
    * are Laplace-smoothed ((c + 0.5)/(n + k/2)) so an empty bin can't
    * produce ±∞; and the per-bin terms (p−q)·ln(p/q) accumulate in
    * DECIMAL so the sum is identical under any partitioning. All
    * shuffles are output-sized (group × k count rows); the grid includes
    * zero-zero bins (their term is exactly 0) so both engines sum the
    * same k terms per group.
    */
  def populationStability(reference: DataFrame, current: DataFrame,
                          keyCol: String, valueCol: String, k: Int = 10): DataFrame = {
    val (bounds, props) = psiReference(reference, keyCol, valueCol, k)
    psiAgainst(current, keyCol, valueCol, k, bounds, props)
  }

  /** The reference side of a PSI monitor, computed once: the k-quantile
    * bin bounds and the SMOOTHED reference proportion per (group, bin)
    * (`__p`, Laplace (c + 0.5)/(n + k/2)) — both model-sized (group × k
    * rows). A streaming monitor materializes these at build time and
    * scores every micro-batch against them ([[psiAgainst]]); the batch
    * [[populationStability]] is exactly that composition.
    */
  def psiReference(reference: DataFrame, keyCol: String, valueCol: String,
                   k: Int = 10): (DataFrame, DataFrame) = {
    require(k >= 2 && k <= 256, "need 2 <= k <= 256 bins")
    val qs = (1 until k).map(i => i.toDouble / k -> s"__b$i")
    val bounds = quantileCont(reference, keyCol, valueCol, qs)
    val rc = binCounts(reference, bounds, keyCol, valueCol)
    // every frame here is output-sized (group × k rows) but derives from
    // aggregates/local relations Catalyst has no stats for — hint the
    // probe sides so the grid assembly can't fall to sort-merge joins
    val filled = binGrid(bounds, keyCol, k)
      .join(broadcast(rc), Seq("__k", "bin"), "left")
      .select(col("__k"), col("bin"), coalesce(col("c"), lit(0L)).as("cr"))
    val tots = filled.groupBy(col("__k")).agg(sum(col("cr")).as("nr"))
    val props = filled.join(broadcast(tots), "__k")
      .select(col("__k"), col("bin"),
        ((col("cr") + lit(0.5)) / (col("nr") + lit(k / 2.0))).as("__p"))
    (bounds, props)
  }

  /** PSI of `current` against a [[psiReference]]: one row per group with
    * the decimal-summed Σ (p−q)·ln(p/q). Groups absent from the
    * reference emit nothing — a new entity has no reference distribution
    * to drift from.
    */
  def psiAgainst(current: DataFrame, keyCol: String, valueCol: String, k: Int,
                 bounds: DataFrame, refProps: DataFrame): DataFrame = {
    val cc = binCounts(current, bounds, keyCol, valueCol)
    val filled = refProps
      .join(broadcast(cc), Seq("__k", "bin"), "left")
      .select(col("__k"), col("bin"), col("__p"),
        coalesce(col("c"), lit(0L)).as("cc"))
    val tots = filled.groupBy(col("__k")).agg(sum(col("cc")).as("nc"))
    val q = (col("cc") + lit(0.5)) / (col("nc") + lit(k / 2.0))
    filled.join(broadcast(tots), "__k")
      .select(col("__k"), ((col("__p") - q) * log(col("__p") / q)).as("__term"))
      .groupBy(col("__k").as(keyCol))
      .agg(round(sum(col("__term").cast("decimal(28,12)")).cast("double"), 6).as("psi"))
  }

  /** Grid-KS of `current` against a [[psiReference]] bounds frame — the
    * sup-norm companion to [[psiAgainst]]. The reference's CDF at its own
    * i/k-th quantile bound is i/k BY CONSTRUCTION, so only the current
    * side needs counting: one pass computes, per group, the fraction of
    * rows at or below each bound, and KS_grid = max_i |F_cur(b_i) − i/k| —
    * within 1/k of the exact two-sample statistic, with model-sized state
    * (group × k) and no access to the reference rows at score time.
    * Groups absent from the reference emit nothing (same contract as PSI).
    */
  def ksAgainst(current: DataFrame, keyCol: String, valueCol: String, k: Int,
                bounds: DataFrame): DataFrame = {
    val boundCols = bounds.columns.filter(_.startsWith("__b"))
      .sortBy(_.drop(3).toInt)
    val pre = current.where(col(valueCol).isNotNull)
      .join(broadcast(bounds), current(keyCol).cast("string") <=> bounds(keyCol))
      .select(bounds(keyCol).as("__k") +: col(valueCol) +: boundCols.map(col): _*)
    val aggs = boundCols.map { n =>
      sum((col(valueCol) <= col(n)).cast("long")).as("__c" + n.drop(3))
    } :+ count(lit(1)).as("__n")
    val st = pre.groupBy(col("__k")).agg(aggs.head, aggs.tail: _*)
    val devs = boundCols.map { n =>
      val i = n.drop(3).toInt
      abs(col("__c" + i).cast("double") / col("__n").cast("double")
        - lit(i.toDouble / k))
    }
    val ks = if (devs.size == 1) devs.head else greatest(devs: _*)
    st.select(col("__k").as(keyCol), col("__n").as("n"), round(ks, 6).as("ks"))
  }

  /** Shared branch-free bin assignment + count against a bounds frame. */
  private def binCounts(df: DataFrame, bounds: DataFrame,
                        keyCol: String, valueCol: String): DataFrame = {
    val boundCols = bounds.columns.filter(_.startsWith("__b"))
    val binCol = boundCols.map { name =>
      (col(valueCol) > col(name)).cast("int")
    }.reduce(_ + _) + lit(1)
    df.where(col(valueCol).isNotNull)
      .join(broadcast(bounds), df(keyCol).cast("string") <=> bounds(keyCol))
      .select(bounds(keyCol).as("__k"), binCol.as("bin"))
      .groupBy(col("__k"), col("bin")).agg(count(lit(1)).as("c"))
  }

  private def binGrid(bounds: DataFrame, keyCol: String, k: Int): DataFrame =
    bounds.select(col(keyCol).as("__k"))
      .withColumn("bin", explode(expr(s"sequence(1, $k)")))

  /** `quantile_cont` per group: for each q, interpolate between the order
    * statistics at floor/ceil of q·(n−1) — the formula DuckDB/Postgres
    * use, evaluated in the same double arithmetic. Output: one row per
    * group, one column per (q, name). Values are UNROUNDED; apply
    * `round(col, 6)` downstream for oracle-parity output. Fails loudly
    * past `spark.graft.quantiles.maxGroups` groups.
    */
  def quantileCont(df: DataFrame, keyCol: String, valueCol: String,
                   qs: Seq[(Double, String)]): DataFrame =
    quantileContCounted(df, keyCol, valueCol, qs, groupCounts(df, keyCol, valueCol))

  /** [[quantileCont]] with caller-supplied per-group NON-NULL-value counts
    * (raw key space: the key cast to string, [[NullKey]] for the null
    * group). A caller whose surrounding query already aggregates per-group
    * counts (q_time_between's cadence stats, any profile pass) hands them
    * in and the bisection skips its own counting job — one fewer pass over
    * the input. Counts MUST equal `count(valueCol is not null)` per group;
    * they define the rank targets, so a wrong count silently shifts the
    * quantile (the same contract groupCounts fulfills internally). The
    * same `spark.graft.quantiles.maxGroups` cap applies to the map.
    */
  def quantileContWithCounts(df: DataFrame, keyCol: String, valueCol: String,
                             qs: Seq[(Double, String)],
                             counts: Map[String, Long]): DataFrame = {
    val cap = maxGroups(df)
    require(counts.size <= cap, tooManyGroups(keyCol, cap))
    quantileContCounted(df, keyCol, valueCol, qs,
      counts.map { case (k, n) => encRaw(k) -> n })
  }

  /** [[quantileCont]] with the per-group counts supplied (encoded key
    * space) — lets a caller that already paid the counts pass (or whose
    * counts are shared across rounds, like [[robustStats]]) skip it.
    */
  private def quantileContCounted(df: DataFrame, keyCol: String, valueCol: String,
                                  qs: Seq[(Double, String)],
                                  ns: Map[String, Long]): DataFrame = {
    val spark = df.sparkSession
    val ranksOf = ns.map { case (k, n) =>
      k -> qs.flatMap { case (q, _) =>
        val pos = q * (n - 1)
        Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
      }
    }
    val base = df.where(col(valueCol).isNotNull)
      .select(encCol(keyCol).as("__k"),
        graft.plans.Exprs.doubleSortBits(col(valueCol).cast("double")).as("__u"))
    val stats = orderStatsEnc(base, ranksOf)
    val rows = ns.toSeq.sortBy(_._1).map { case (k, n) =>
      val vals = qs.map { case (q, _) =>
        val pos = q * (n - 1)
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        val vlo = stats((k, lo))
        // integral positions return the order statistic DIRECTLY — the
        // interpolation form would turn an infinite endpoint into
        // Inf − Inf = NaN where percentile()/quantile_cont return ±Inf.
        // Fractional positions use the SYMMETRIC lerp (1−f)·lo + f·hi —
        // the exact float sequence DuckDB's quantile_cont evaluates
        // (verified bitwise over 495 group×quantile cases at sf0.1).
        // The asymmetric lo + f·(hi−lo) differs by 1 ulp on some inputs
        // (even when lo == hi, where it is exact and the symmetric form
        // is not) — and a bound 1 ulp off flips every row whose value
        // sits exactly on it into the neighboring bin, which surfaced as
        // a PSI mismatch at sf0.1.
        if (lo == hi) vlo
        else {
          val frac = pos - lo
          (1.0 - frac) * vlo + frac * stats((k, hi))
        }
      }
      Row.fromSeq((if (k == EncNull) null else k.substring(1)) +: vals)
    }
    val schema = StructType(StructField(keyCol, StringType, nullable = true) +:
      qs.map { case (_, name) => StructField(name, DoubleType, nullable = false) })
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
