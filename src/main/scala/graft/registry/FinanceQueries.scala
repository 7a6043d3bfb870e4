package graft
package registry

import graft.operators._
import graft.registry.QueryKit._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series and finance indicators over the daily bars. */
object FinanceQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_ewma", (s, dir) => {
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
    },
      Oracle {
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
      }),

    QuerySpec("q_volatility", (s, dir) => {
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
    },
      Oracle(
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
          |FROM sums""".stripMargin)),

    QuerySpec("q_beta", (s, dir) => {
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
    },
      Oracle(
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
          |FROM st""".stripMargin)),

    QuerySpec("q_rolling_corr", (s, dir) => {
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
    },
      Oracle(
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
          |FROM wsum""".stripMargin)),

    QuerySpec("q_bollinger", (s, dir) => {
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
    },
      Oracle(
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
          |FROM sums""".stripMargin)),

    QuerySpec("q_stochastic", (s, dir) => {
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
    },
      Oracle(
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
          |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin)),

    QuerySpec("q_cusum", (s, dir) => {
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
    },
      Oracle(
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
          |FROM s""".stripMargin)),

    QuerySpec("q_sharpe", (s, dir) => {
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
    },
      Oracle(
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
          |FROM agg""".stripMargin)),

    QuerySpec("q_sortino", (s, dir) => {
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
    },
      Oracle(
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
          |FROM agg""".stripMargin)),

    QuerySpec("q_var_es", (s, dir) => {
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
    },
      Oracle(
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
          |FROM x GROUP BY user_id""".stripMargin)),

    QuerySpec("q_pairs_spread", (s, dir) => {
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
    },
      Oracle(
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
          |FROM sp, ss ORDER BY d""".stripMargin)),

    QuerySpec("q_donchian", (s, dir) => {
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
    },
      Oracle(
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
          |FROM ch""".stripMargin)),

    QuerySpec("q_atr", (s, dir) => {
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
    },
      Oracle(
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
          |              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""".stripMargin)),

    QuerySpec("q_rsi", (s, dir) => {
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
    },
      Oracle(
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
          |FROM sums""".stripMargin)),

    QuerySpec("q_macd", (s, dir) => {
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
    },
      Oracle {
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
      })
  )
}
