package graft
package registry

import graft.functions.Fns
import graft.operators._
import graft.registry.QueryKit._
import graft.sources.{DailySummary, Sources}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference surface: the stock pipeline's semantics on the testdata tables —
  * daily and intraday bars, appends, restatements, as-of joins and the
  * sector price.
  */
object ReferenceQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_ohlc_daily", (s, dir) =>
      bars(s, dir).select("user_id", "d", "open", "high", "low", "close", "volume"),
      Oracle(
        """SELECT user_id, CAST(ts AS DATE) AS d,
          | arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
          | arg_max(value, ts) AS close, count(*) AS volume
          |FROM events GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_ohlc_15min", (s, dir) =>
      Ohlc.bars(events(s, dir), "15 minutes")
        .select("user_id", "bucket", "open", "high", "low", "close", "volume"),
      Oracle(
        """SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS bucket,
          | arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
          | arg_max(value, ts) AS close, count(*) AS volume
          |FROM events GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_fill_forward", (s, dir) =>
      Ohlc.fillForward(
        bars(s, dir).select("user_id", "d", "close"), Seq("close")),
      Oracle(
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
          |FROM spine s LEFT JOIN bars b ON s.user_id = b.user_id AND s.d = b.d""".stripMargin)),

    QuerySpec("q_incremental_append", (s, dir) => {
      val ev = events(s, dir)
      Incremental
        .newerThanExisting(ev.where(col("ts") < tsNtz("2024-01-20")), ev, "user_id", "ts")
        .select("event_id", "user_id", "ts")
    },
      Oracle(
        """SELECT i.event_id, i.user_id, i.ts FROM events i
          |LEFT JOIN (SELECT user_id, max(ts) AS m FROM events
          |           WHERE ts < TIMESTAMP '2024-01-20' GROUP BY 1) e
          |  ON i.user_id = e.user_id
          |WHERE e.m IS NULL OR i.ts > e.m""".stripMargin)),

    QuerySpec("q_incremental_shuffled", (s, dir) => {
      // the high-key-cardinality variant: per-key max joins as a plain
      // keyed join (AQE-planned) instead of a broadcast — same oracle
      val ev = events(s, dir)
      Incremental
        .newerThanExisting(ev.where(col("ts") < tsNtz("2024-01-20")), ev, "user_id", "ts",
          broadcastLatest = false)
        .select("event_id", "user_id", "ts")
    },
      Oracle(
        """SELECT i.event_id, i.user_id, i.ts FROM events i
          |LEFT JOIN (SELECT user_id, max(ts) AS m FROM events
          |           WHERE ts < TIMESTAMP '2024-01-20' GROUP BY 1) e
          |  ON i.user_id = e.user_id
          |WHERE e.m IS NULL OR i.ts > e.m""".stripMargin)),

    QuerySpec("q_latest_date", (s, dir) =>
      daily(s, dir)
        .groupBy(col("user_id"))
        .agg(max(col("last_ts")).as("latest_ts"), to_date(max(col("last_ts"))).as("latest_d")),
      Oracle(
        "SELECT user_id, max(ts) AS latest_ts, CAST(max(ts) AS DATE) AS latest_d FROM events GROUP BY user_id")),

    QuerySpec("q_scd2", (s, dir) =>
      // type-2 history of each user's event_type: validity intervals from
      // one lag+lead window pair sharing a single sort/exchange
      Cdc.scd2(events(s, dir), "user_id", "event_type", "ts", "event_id"),
      Oracle(
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
          |FROM runs""".stripMargin)),

    QuerySpec("q_cdc_merge", (s, dir) => {
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
    },
      Oracle(
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
          |FROM r WHERE rn = 1 AND op <> 'error'""".stripMargin)),

    QuerySpec("q_sma", (s, dir) =>
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        Fns.sma(col("close"), 5, entityDay).as("sma_5")),
      Oracle(
        """WITH bars AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
          |  FROM events GROUP BY 1, 2)
          |SELECT user_id, d, close,
          |  CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY d) >= 5
          |    THEN CAST(sum(CAST(close AS DECIMAL(28,6)))
          |           OVER (PARTITION BY user_id ORDER BY d
          |                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) / 5
          |  END AS sma_5
          |FROM bars""".stripMargin)),

    QuerySpec("q_rolling_median", (s, dir) =>
      // per-entity trailing-7-row rolling MEDIAN of the daily close — the
      // robust rolling stat a spike-heavy series needs where the SMA gets
      // dragged by outliers. percentile() over a BOUNDED frame buffers at
      // most 7 values per row (frame-bounded, scale-safe — unlike a
      // whole-group percentile); interpolation matches quantile_cont.
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        round(expr("percentile(close, 0.5)")
          .over(entityDay.rowsBetween(-6, 0)), 6).as("roll_med")),
      Oracle(
        """WITH bars AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
          |  FROM events GROUP BY 1, 2)
          |SELECT user_id, d, close,
          |  round(quantile_cont(close, 0.5) OVER (PARTITION BY user_id ORDER BY d
          |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS roll_med
          |FROM bars""".stripMargin)),

    QuerySpec("q_dollar_volume", (s, dir) =>
      bars(s, dir).select(
        col("user_id"), col("d"),
        round(Fns.dollarVolume(col("open"), col("close"), col("volume")), 6)
          .as("dollar_volume")),
      Oracle(
        """WITH bars AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d, arg_min(value, ts) AS open,
          |         arg_max(value, ts) AS close, count(*) AS volume
          |  FROM events GROUP BY 1, 2)
          |SELECT user_id, d, round((open + close) / 2 * volume, 6) AS dollar_volume
          |FROM bars""".stripMargin)),

    QuerySpec("q_gap_off_peak", (s, dir) =>
      bars(s, dir).select(
        col("user_id"), col("d"), col("open"),
        round(Fns.gapOffPeak(col("open"), entityDay), 6).as("gap_pct")),
      Oracle(
        """WITH bars AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d, arg_min(value, ts) AS open
          |  FROM events GROUP BY 1, 2)
          |SELECT user_id, d, open,
          |  round((open - lag(open, 1) OVER w) / nullif(lag(open, 1) OVER w, 0) * 100, 6) AS gap_pct
          |FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY d)""".stripMargin)),

    QuerySpec("q_gap_on_peak", (s, dir) =>
      bars(s, dir).select(
        col("user_id"), col("d"),
        round(Fns.gapOnPeak(col("open"), col("close")), 6).as("gap_pct")),
      Oracle(
        """WITH bars AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d, arg_min(value, ts) AS open,
          |         arg_max(value, ts) AS close
          |  FROM events GROUP BY 1, 2)
          |SELECT user_id, d, round((close - open) / nullif(open, 0) * 100, 6) AS gap_pct
          |FROM bars""".stripMargin)),

    QuerySpec("q_pct_change_ndays", (s, dir) =>
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        round(Fns.pctChangeFromFirst(col("close"), 5, entityDay), 6).as("pct_change")),
      Oracle(
        """WITH bars AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
          |  FROM events GROUP BY 1, 2)
          |SELECT user_id, d, close,
          |  round((close - first_value(close) OVER w) / nullif(first_value(close) OVER w, 0) * 100, 6)
          |    AS pct_change
          |FROM bars
          |WINDOW w AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)),

    QuerySpec("q_drawdown", (s, dir) => {
      val runMax = max(col("close"))
        .over(entityDay.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      bars(s, dir).select(
        col("user_id"), col("d"), col("close"),
        round((col("close") / nullif(runMax, lit(0.0)) - 1) * 100, 6).as("drawdown_pct"))
    },
      Oracle(
        """WITH bars AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, ts) AS close
          |  FROM events GROUP BY 1, 2)
          |SELECT user_id, d, close,
          |  round((close / nullif(max(close) OVER (PARTITION BY user_id ORDER BY d
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) - 1) * 100, 6)
          |    AS drawdown_pct
          |FROM bars""".stripMargin)),

    QuerySpec("q_vwap", (s, dir) =>
      // per-entity-day VWAP over the raw ticks (each event = one trade at
      // `value`): decimal-exact price×1 sums — the intraday execution
      // benchmark beside the (open+close)/2 proxy in q_dollar_volume.
      // One partial-combined aggregate; the shuffle carries day rows.
      events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_trades"),
          round(exactSumD(col("value")) / count(lit(1)), 6).as("vwap")),
      Oracle(
        """SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_trades,
          |  round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
          |    AS vwap
          |FROM events GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_obv", (s, dir) => {
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
    },
      Oracle(
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
          |FROM signed""".stripMargin)),

    QuerySpec("q_table_diff", (s, dir) => {
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
    },
      Oracle(
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
          |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id""".stripMargin)),

    QuerySpec("q_gap_detect", (s, dir) => {
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
    },
      Oracle(
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
          |FROM gaps GROUP BY 1""".stripMargin)),

    QuerySpec("q_pivot_wide", (s, dir) => {
      // per-user totals of the daily per-type decimal sums: the decimal
      // sum is exact, so this equals pivotAgg(events, …, exactSumD) bit
      // for bit, without scanning the events
      val totals = DailySummary.eventTypes.map(t => sum(col(s"sum_$t")).cast("double").as(t))
      daily(s, dir).groupBy(col("user_id")).agg(totals.head, totals.tail: _*)
    },
      Oracle(
        """SELECT user_id,
          | CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS click,
          | CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS error,
          | CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase,
          | CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'signup') AS DOUBLE) AS signup,
          | CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS "view"
          |FROM events GROUP BY user_id""".stripMargin)),

    QuerySpec("q_unpivot", (s, dir) =>
      // melt ∘ pivot round trip: the wide frame stacks back to exactly
      // the (user, type) combinations the long form had — the inverse
      // relational op beside q_pivot_wide, checked against the DIRECT
      // long aggregate as the oracle
      PivotOps.melt(
        PivotOps.pivotAgg(events(s, dir), "user_id", "event_type", DailySummary.eventTypes,
          "value", exactSumD),
        "user_id", DailySummary.eventTypes,
        keyName = "event_type", valueName = "total"),
      Oracle(
        """SELECT user_id, event_type,
          |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
          |FROM events GROUP BY 1, 2
          |HAVING total IS NOT NULL""".stripMargin)),

    QuerySpec("q_weighted_price", (s, dir) =>
      Analytics.weightedPrice(Tables.lineitem(s, dir), Tables.part(s, dir)),
      Oracle(
        """SELECT p_brand,
          | round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6))) AS DOUBLE)
          |   / nullif(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 0), 6) AS weighted_price
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY p_brand""".stripMargin)),

    QuerySpec("q_asof_join", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("last_purchase_value"))
      AsOfJoin
        .asOf(clicks, purchases, "user_id", "ts", Seq("last_purchase_value"))
        .select("event_id", "user_id", "ts", "last_purchase_value")
    },
      Oracle(
        """SELECT c.event_id, c.user_id, c.ts, p.value AS last_purchase_value
          |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
          |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin)),

    QuerySpec("q_asof_ttl", (s, dir) => {
      // feature-store point-in-time join: the as-of match only counts if
      // it's fresh (≤ 1 h old at the fact's timestamp); staler → null
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("value"))
      AsOfJoin.asOfTtl(clicks, purchases, "user_id", "ts",
        "value", "recent_purchase_value", ttlSec = 3600)
        .select("event_id", "user_id", "ts", "recent_purchase_value")
    },
      Oracle(
        """WITH p AS (SELECT user_id, ts, max(value) AS value FROM events
          |           WHERE event_type = 'purchase' GROUP BY 1, 2),
          |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
          |SELECT c.event_id, c.user_id, c.ts,
          |  CASE WHEN p.ts IS NOT NULL AND epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
          |       THEN p.value END AS recent_purchase_value
          |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin)),

    QuerySpec("q_asof_forward", (s, dir) => {
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
    },
      Oracle(
        """SELECT c.event_id, c.user_id, c.ts, p.value AS next_purchase_value
          |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
          |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
          |                WHERE event_type = 'purchase' GROUP BY 1, 2) p
          |  ON c.user_id = p.user_id AND c.ts <= p.ts""".stripMargin)),

    QuerySpec("q_asof_nearest", (s, dir) => {
      // closest purchase in either direction per click, tie to the earlier
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click").select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      AsOfJoin
        .asOfNearest(clicks, purchases, "user_id", "ts", "value", "nearest_purchase_value")
        .select("event_id", "user_id", "ts", "nearest_purchase_value")
    },
      Oracle(
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
          |FROM paired""".stripMargin)),

    QuerySpec("q_asof_broadcast", (s, dir) => {
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
    },
      Oracle(
        """SELECT c.event_id, c.user_id, c.ts, p.value AS last_purchase_value
          |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
          |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
          |                WHERE event_type = 'purchase' GROUP BY 1, 2) p
          |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin)),

    QuerySpec("q_sector_price", (s, dir) => {
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
    },
      Oracle(
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
          |ASOF LEFT JOIN outst ON b.user_id = outst.user_id AND b.d >= outst.d""".stripMargin)),

    QuerySpec("q_incremental_bars", (s, dir) => {
      // incremental refresh through the daily summary's merge: the history
      // half REALLY persists (day-partitioned parquet summary store, built
      // once per process like the ANN indexes), so what this query measures
      // is the incremental path it models — read stored summary rows, take
      // each fresh tick as a one-row summary, merge in one aggregate — never
      // a re-derivation of history. Oracle = full recompute (they must agree).
      val stored = Sources.readParquet(s, sharedBarStore(s, dir))
      val fresh = Ohlc.summaryRows(events(s, dir).where(col("ts") >= tsNtz("2024-01-20")), Nil, Nil)
      Ohlc.mergeDaily(stored.unionByName(fresh), Nil, Nil)
        .select("user_id", "d", "open", "high", "low", "close", "volume")
    },
      Oracle(
        """SELECT user_id, CAST(ts AS DATE) AS d,
          | arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
          | arg_max(value, ts) AS close, count(*) AS volume
          |FROM events GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_market_day", (s, dir) =>
      events(s, dir)
        .select(to_date(col("ts")).as("d")).distinct()
        .withColumn("prev_market_day", Fns.prevMarketDay(col("d")))
        .withColumn("is_market_day", Fns.isMarketDay(col("d"))),
      Oracle {
        // one holiday list, shared with Fns.marketHolidays — the two engines
        // cannot drift
        val hol = Fns.marketHolidays.map(h => s"DATE '$h'").mkString(", ")
        s"""SELECT d,
           |  (SELECT max(d - CAST(i AS INTEGER)) FROM range(1, 9) t(i)
           |   WHERE (dayofweek(d - CAST(i AS INTEGER)) + 6) % 7 < 5
           |     AND (d - CAST(i AS INTEGER)) NOT IN ($hol)) AS prev_market_day,
           |  ((dayofweek(d) + 6) % 7 < 5 AND d NOT IN ($hol)) AS is_market_day
           |FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)""".stripMargin
      }),

    QuerySpec("q_parse_magnitude", (s, dir) => {
      val raw = concat(col("p_size").cast("string"),
        when(col("p_partkey") % 2 === 0, " M").otherwise(" B"))
      Tables.part(s, dir).select(
        col("p_partkey"), raw.as("raw"), Fns.parseMagnitude(raw).as("shares"))
    },
      Oracle(
        """SELECT p_partkey,
          | concat(CAST(p_size AS VARCHAR), CASE WHEN p_partkey % 2 = 0 THEN ' M' ELSE ' B' END) AS raw,
          | CAST(CASE WHEN p_partkey % 2 = 0 THEN p_size * 1000000.0 ELSE p_size * 1000000000.0 END AS BIGINT) AS shares
          |FROM part""".stripMargin)),

    QuerySpec("q_normalize_symbol", (s, dir) => {
      val sym = concat(
        upper(substring(regexp_replace(col("p_name"), " ", ""), 1, 4)),
        when(col("p_partkey") % 3 === 0, ".B")
          .when(col("p_partkey") % 3 === 1, "_A")
          .otherwise(""))
      Tables.part(s, dir).select(
        col("p_partkey"), sym.as("symbol"),
        Fns.normalizeSymbolSql(sym).as("sql_symbol"),
        Fns.normalizeSymbolYf(sym).as("yf_symbol"))
    },
      Oracle(
        """SELECT p_partkey, sym AS symbol,
          | lower(replace(sym, '.', '_')) AS sql_symbol,
          | regexp_replace(sym, '[._]', '-', 'g') AS yf_symbol
          |FROM (SELECT p_partkey,
          |        concat(upper(substring(replace(p_name, ' ', ''), 1, 4)),
          |               CASE WHEN p_partkey % 3 = 0 THEN '.B'
          |                    WHEN p_partkey % 3 = 1 THEN '_A' ELSE '' END) AS sym
          |      FROM part)""".stripMargin)),

    QuerySpec("q_schema_evolution", (s, dir) => {
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
    },
      Oracle(
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
          |GROUP BY user_id""".stripMargin)),

    QuerySpec("q_json_props", (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(get_json_object(col("props"), "$.k")).as("n_k")),
      Oracle(
        """SELECT event_type,
          | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          | count(json_extract_string(props, '$.k')) AS n_k
          |FROM events GROUP BY event_type""".stripMargin))
  )
}
