package graft
package registry

import graft.operators._
import graft.registry.QueryKit._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical tests, return statistics, correlations and quantiles over events. */
object StatsQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_corr_pairs", (s, dir) => {
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
    },
      Oracle(
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
          |FROM st""".stripMargin)),

    QuerySpec("q_lead_lag", (s, dir) => {
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
    },
      Oracle(
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
          |FROM st""".stripMargin)),

    QuerySpec("q_autocorr", (s, dir) => {
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
    },
      Oracle(
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
          |FROM st""".stripMargin)),

    QuerySpec("q_seasonality", (s, dir) => {
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
    },
      Oracle(
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
          |GROUP BY 1""".stripMargin)),

    QuerySpec("q_benford", (s, dir) =>
      // Benford first-digit screen on the value column per event type —
      // digit from the exact DECIMAL string, never float log10
      Profile.benford(events(s, dir), "value", "event_type"),
      Oracle(
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
          |FROM counts""".stripMargin)),

    QuerySpec("q_ab_test", (s, dir) => {
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
    },
      Oracle(
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
          |FROM a CROSS JOIN b""".stripMargin)),

    QuerySpec("q_ks_test", (s, dir) => {
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
    },
      Oracle(
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
          |FROM cum GROUP BY 1""".stripMargin)),

    QuerySpec("q_chi_square", (s, dir) => {
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
    },
      Oracle(
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
          |FROM terms GROUP BY 1""".stripMargin)),

    QuerySpec("q_mannwhitney", (s, dir) => {
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
    },
      Oracle(
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
          |FROM st""".stripMargin)),

    QuerySpec("q_trend_decompose", (s, dir) => {
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
    },
      Oracle(
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
          |FROM seas""".stripMargin)),

    QuerySpec("q_skew_kurt", (s, dir) => {
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
    },
      Oracle(
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
          |FROM cm""".stripMargin)),

    QuerySpec("q_forecast_eval", (s, dir) =>
      // naive-forecast eval metrics per type: day bars partial-aggregate
      // first, lag-1 persistence forecast, decimal error moments
      Analytics.forecastEval(events(s, dir)),
      Oracle(
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
          |FROM err WHERE e IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q_quantiles_approx", (s, dir) =>
      // GK-sketch percentiles — the scale path when exact per-group
      // percentile (which materializes every group's values) won't fit
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(value, 0.5, 1000)").as("p50"),
          expr("approx_percentile(value, 0.95, 1000)").as("p95")),
      RowsOnly("GK-sketch percentiles are engine-specific estimates")),

    QuerySpec("q_quantiles", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95")),
      Oracle(
        """SELECT event_type,
          | round(quantile_cont(value, 0.5), 6) AS p50,
          | round(quantile_cont(value, 0.95), 6) AS p95
          |FROM events GROUP BY event_type""".stripMargin)),

    QuerySpec("q_robust_stats", (s, dir) =>
      // outlier-robust location/scale per event type — median + MAD +
      // 3σ-equivalent outlier count, both medians from the bounded-memory
      // exact-quantile machinery (mean/σ are poisoned by the outliers a
      // curation pass is hunting; med/MAD are not)
      Quantiles.robustStats(events(s, dir), "event_type", "value"),
      Oracle(
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
          |GROUP BY d.event_type""".stripMargin)),

    QuerySpec("q_quantiles_scalable", (s, dir) => {
      // the same EXACT quantiles without percentile()'s per-group value
      // buffer (an OOM at corpus scale): radix bisection over the
      // order-preserving double encoding — 8 histogram passes, bucket
      // counts through the shuffle, model-sized driver state. Same oracle
      // as q_quantiles: exactness is the point of the scale path.
      Quantiles.quantileCont(events(s, dir), "event_type", "value",
          Seq(0.5 -> "p50", 0.95 -> "p95"))
        .select(col("event_type"), round(col("p50"), 6).as("p50"),
          round(col("p95"), 6).as("p95"))
    },
      // identical oracle to q_quantiles — the scalable path must be EXACT
      Oracle(
        """SELECT event_type,
          | round(quantile_cont(value, 0.5), 6) AS p50,
          | round(quantile_cont(value, 0.95), 6) AS p95
          |FROM events GROUP BY event_type""".stripMargin)),

    QuerySpec("q_winsorize", (s, dir) =>
      // robust normalization end-to-end: clip at the exact p01/p99 bounds
      // (bounded-memory bisection quantiles) and report bounds, the
      // decimal-exact winsorized mean and the clipped count per type —
      // the quantile machinery in its pipeline role, oracle-checked
      Quantiles.winsorize(events(s, dir), "event_type", "value"),
      Oracle(
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
          |GROUP BY e.event_type, q.lo, q.hi""".stripMargin)),

    QuerySpec("q_quantile_disc", (s, dir) => {
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
    },
      Oracle(
        """SELECT event_type,
          |  round(quantile_disc(value, 0.5), 6) AS p50_disc,
          |  round(quantile_disc(value, 0.95), 6) AS p95_disc
          |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin)),

    QuerySpec("q_robust_scale", (s, dir) => {
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
    },
      Oracle(
        """WITH q AS (
          |  SELECT event_type,
          |    quantile_cont(value, 0.25) AS q1,
          |    quantile_cont(value, 0.5) AS med,
          |    quantile_cont(value, 0.75) AS q3
          |  FROM events WHERE value IS NOT NULL GROUP BY 1)
          |SELECT e.event_id, e.event_type,
          |  round((e.value - q.med) / nullif(q.q3 - q.q1, 0), 6) + 0.0 AS scaled
          |FROM events e JOIN q USING (event_type)
          |WHERE e.value IS NOT NULL""".stripMargin))
  )
}
