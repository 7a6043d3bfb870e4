package graft
package registry

import graft.operators._
import graft.registry.QueryKit._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event analytics: funnels, retention, cubes, sketches and feature scalers. */
object EventQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_user_growth", (s, dir) => {
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
    },
      Oracle(
        """WITH first_seen AS (
          |  SELECT user_id, CAST(min(ts) AS DATE) AS d FROM events GROUP BY 1),
          |by_day AS (
          |  SELECT d, count(*) AS new_users FROM first_seen GROUP BY 1)
          |SELECT d, new_users,
          |  CAST(sum(new_users) OVER (ORDER BY d
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS cum_users
          |FROM by_day""".stripMargin)),

    QuerySpec("q_rolling_outliers", (s, dir) => {
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
    },
      Oracle(
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
          |FROM st""".stripMargin)),

    QuerySpec("q_minmax_scale", (s, dir) => {
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
    },
      Oracle(
        """WITH ranges AS (
          |  SELECT event_type, min(value) AS lo, max(value) AS hi
          |  FROM events GROUP BY 1)
          |SELECT event_id, event_type,
          |  round((value - lo) / nullif(hi - lo, 0), 6) AS scaled
          |FROM events JOIN ranges USING (event_type)""".stripMargin)),

    QuerySpec("q_lag_features", (s, dir) =>
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
        lead(col("close"), 1).over(entityDay).as("label_next")),
      Oracle(
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
          |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)),

    QuerySpec("q_entropy", (s, dir) => {
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
    },
      Oracle(
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
          |FROM terms GROUP BY 1""".stripMargin)),

    QuerySpec("q_target_encoding", (s, dir) => {
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
    },
      Oracle(
        """WITH overall AS (
          |  SELECT CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS gmean
          |  FROM events),
          |cats AS (
          |  SELECT event_type, count(*) AS n,
          |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sv
          |  FROM events GROUP BY 1)
          |SELECT event_type, n,
          |  round((sv + 50.0 * gmean) / (CAST(n AS DOUBLE) + 50.0), 6) AS enc
          |FROM cats CROSS JOIN overall""".stripMargin)),

    QuerySpec("q_markov_transition", (s, dir) => {
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
    },
      Oracle(
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
          |FROM counts""".stripMargin)),

    QuerySpec("q_hll_merge", (s, dir) =>
      // mergeable distinct-count sketches: one HLL per (type, day) partition,
      // unioned per type — the persisted-summary pattern that answers
      // "distinct over any date range" without rescanning raw events.
      events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        .groupBy(col("event_type"))
        .agg(expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as long)")
          .as("approx_users")),
      RowsOnly("HLL sketch estimates are engine-specific")),

    QuerySpec("q_theta_sets", (s, dir) => {
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
    },
      // theta sketches are exact below their 2^12-entry nominal capacity and
      // the testdata's per-type user sets stay under it at every SF, so the
      // oracle checks the exact set cardinalities the sketches must reproduce
      Oracle(
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
          |    SELECT user_id FROM events WHERE event_type = 'purchase')) AS n_click_only""".stripMargin)),

    QuerySpec("q_concurrency", (s, dir) =>
      // max concurrent 30-min-gap sessions per day: sweep-line boundaries
      // + the two-level distributed prefix sum (no global-sort window)
      Activity.maxConcurrent(events(s, dir), gapSec = 1800),
      Oracle(
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
          |FROM run GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q_path_top", (s, dir) =>
      // top-10 3-step event-type paths: two stacked leads on one entity
      // exchange, vocabulary-sized trigram aggregate, TakeOrdered top-k
      Activity.topPaths(events(s, dir), k = 10),
      Oracle(
        """WITH seq AS MATERIALIZED (
          |  SELECT event_type AS e1,
          |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
          |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
          |  FROM events)
          |SELECT e1, e2, e3, count(*) AS n FROM seq WHERE e3 IS NOT NULL
          |GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 10""".stripMargin)),

    QuerySpec("q_funnel", (s, dir) => {
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
    },
      Oracle(
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
          |UNION ALL SELECT 'view>click>purchase', count(t3) FROM per""".stripMargin)),

    QuerySpec("q_retention", (s, dir) => {
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
    },
      Oracle(
        """WITH activity AS (
          |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
          |cohorts AS (
          |  SELECT user_id, min(day) AS cohort_d FROM activity GROUP BY 1)
          |SELECT c.cohort_d, date_diff('day', c.cohort_d, a.day) AS day_offset,
          |  count(*) AS users
          |FROM activity a JOIN cohorts c USING (user_id)
          |GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_rollup", (s, dir) => Analytics.rollupDaily(events(s, dir)),
      Oracle(
        """SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
          |  CAST(GROUPING(event_type) AS BIGINT) AS g_type,
          |  CAST(GROUPING(CAST(ts AS DATE)) AS BIGINT) AS g_day
          |FROM events GROUP BY ROLLUP(event_type, CAST(ts AS DATE))""".stripMargin)),

    QuerySpec("q_cube", (s, dir) =>
      // all four grouping sets over (type, day) in one Expand pass — the
      // BI cross-tab beside q_rollup's hierarchy; the Expand multiplies
      // rows before the PARTIAL aggregate, so the shuffle carries group
      // partials, never 4x events
      Analytics.cubeDaily(events(s, dir)),
      Oracle(
        """SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
          |  CAST(GROUPING(event_type) AS BIGINT) AS g_type,
          |  CAST(GROUPING(CAST(ts AS DATE)) AS BIGINT) AS g_day
          |FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE))""".stripMargin)),

    QuerySpec("q_grouping_sets", (s, dir) =>
      // the summary-bands-only report: per-type, per-day, grand total —
      // arbitrary GROUPING SETS without cube's (type, day) fine grain
      Analytics.groupingSetsDaily(events(s, dir)),
      Oracle(
        """SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
          |  CAST(GROUPING(event_type) AS BIGINT) AS g_type,
          |  CAST(GROUPING(CAST(ts AS DATE)) AS BIGINT) AS g_day
          |FROM events
          |GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())""".stripMargin)),

    QuerySpec("q_histogram", (s, dir) =>
      Profile.histogram(events(s, dir), "value", 50.0, "event_type"),
      Oracle(
        """SELECT event_type, CAST(floor(value / 50.0) * 50.0 AS DOUBLE) AS bin_start,
          |  count(*) AS n
          |FROM events GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_key_skew", (s, dir) => {
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
    },
      Oracle(
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
          |FROM ranked WHERE rk <= 10""".stripMargin)),

    QuerySpec("q_attribution", (s, dir) => {
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
    },
      Oracle(
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
          |GROUP BY 1""".stripMargin)),

    QuerySpec("q_time_between", (s, dir) => {
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
    },
      Oracle(
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
          |FROM gaps WHERE gap IS NOT NULL GROUP BY 1""".stripMargin)),

    QuerySpec("q_psi_drift", (s, dir) => {
      // drift monitor: PSI of each event type's value distribution, even
      // event ids as the reference ingest vs odd as the current one —
      // reference-decile bins, smoothed proportions, decimal-summed terms
      val ev = events(s, dir)
      Quantiles.populationStability(
        ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 === 1),
        "event_type", "value")
    },
      Oracle(
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
          |FROM terms GROUP BY event_type""".stripMargin)),

    QuerySpec("q_quantile_bins", (s, dir) =>
      // equi-depth discretization: quartile bins per event type from the
      // exact bisection bounds, branch-free assignment, output-sized
      // count shuffle — the feature-binning step fixed-width bins can't
      // do on skewed columns
      Quantiles.equiDepthBins(events(s, dir), "event_type", "value", 4),
      Oracle(
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
          |GROUP BY e.event_type, bin""".stripMargin)),

    QuerySpec("q_zscore", (s, dir) => {
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
    },
      Oracle(
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
          |FROM events e JOIN norm ON e.event_type = norm.event_type""".stripMargin)),

    QuerySpec("q_distinct_users", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events")),
      Oracle(
        """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
          |FROM events GROUP BY event_type""".stripMargin)),

    QuerySpec("q_approx_distinct", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users")),
      RowsOnly("HLL++ estimates are engine-specific"))
  )
}
