package graft
package registry

import graft.operators._
import graft.registry.QueryKit._
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

/** Batch mirrors of the streaming operators (graft.streaming.EventsStream). */
object StreamQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_asof_state", (s, dir) => {
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
    },
      Oracle(
        """SELECT c.user_id, c.ts, c.value, p.value AS dim_value
          |FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
          |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
          |                WHERE event_type = 'purchase' GROUP BY 1, 2) p
          |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin)),

    QuerySpec("q_stream_join", (s, dir) => {
      // the watermarked interval join, batch-mirrored: purchases within the
      // hour before each click
      val ev = events(s, dir)
      EventsStream.streamStreamJoin(
        ev.where(col("event_type") === "click").select("user_id", "ts", "value"),
        ev.where(col("event_type") === "purchase").select("user_id", "ts", "value"),
        lookbackSec = 3600)
    },
      Oracle(
        """SELECT c.user_id, c.ts AS fact_ts, c.value AS fact_value,
          |       p.ts AS dim_ts, p.value AS dim_value
          |FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
          |LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          |  ON c.user_id = p.user_id
          | AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts""".stripMargin)),

    QuerySpec("q_stream_topk", (s, dir) =>
      // per-hour most-active entities through the streaming top-k operator's
      // batch mirror (same code path StreamingSpec drives with MemoryStreams)
      EventsStream.streamingTopEntities(
        events(s, dir).withColumn("ts", col("ts").cast("timestamp")), 5).toDF()
        .select(col("wstart").cast("timestamp_ntz").as("wstart"), col("user_id"), col("n")),
      Oracle(
        """SELECT wstart, user_id, n FROM (
          |  SELECT wstart, user_id, n,
          |         row_number() OVER (PARTITION BY wstart ORDER BY n DESC, user_id) AS rn
          |  FROM (SELECT date_trunc('hour', ts) AS wstart, user_id, count(*) AS n
          |        FROM events GROUP BY 1, 2))
          |WHERE rn <= 5""".stripMargin)),

    QuerySpec("q_window_agg", (s, dir) => EventsStream.windowedAgg(events(s, dir)),
      Oracle(
        """SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
          | CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
          |FROM events GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_running_sum", (s, dir) =>
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
          round(col("running").cast("double"), 6).as("running")),
      Oracle(
        """SELECT user_id, ts, value,
          |  round(CAST(sum(CAST(value AS DECIMAL(28,6)))
          |    OVER (PARTITION BY user_id ORDER BY ts) AS DOUBLE), 6) AS running
          |FROM events""".stripMargin)),

    QuerySpec("q_sessionize", (s, dir) =>
      // a 30-min inactivity gap closes a session
      Sessionize.byGap(events(s, dir), gapSec = 1800),
      Oracle(
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
          |FROM sess GROUP BY user_id, sid""".stripMargin)),

    QuerySpec("q_reach_stream", (s, dir) =>
      // batch mirror of the streaming daily-reach maintenance (the
      // deduplicated user-day grain + tumbling daily distinct count) —
      // the lambda partner of q_rolling_distinct
      EventsStream.reachStream(events(s, dir)).orderBy(col("d")),
      Oracle(
        """SELECT d, count(*) AS daily_active FROM (
          |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q_rolling_distinct", (s, dir) =>
      // trailing 7-day distinct active users per day: dedup to the
      // (user, day) grain FIRST, bounded 7x explode on the grain, two-phase
      // distinct count — never an events x days join
      Activity.rollingDistinct(events(s, dir), windowDays = 7),
      Oracle(
        """WITH ud AS MATERIALIZED (
          |  SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS d0 FROM events),
          |days AS MATERIALIZED (SELECT DISTINCT d0 AS d FROM ud)
          |SELECT days.d AS d, count(DISTINCT ud.k) AS active
          |FROM days JOIN ud ON ud.d0 BETWEEN days.d - 6 AND days.d
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q_funnel_stream", (s, dir) => {
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
          |SELECT user_id, 1 AS stage, t1 AS ts FROM per WHERE t1 IS NOT NULL
          |UNION ALL
          |SELECT user_id, 2, t2 FROM per WHERE t2 IS NOT NULL
          |UNION ALL
          |SELECT user_id, 3, t3 FROM per WHERE t3 IS NOT NULL""".stripMargin)),

    QuerySpec("q_sliding_window", (s, dir) =>
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
          col("n"), col("sum_value")),
      Oracle(
        """WITH hops AS (
          |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w_start,
          |    event_type, value FROM events
          |  UNION ALL
          |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
          |    event_type, value FROM events)
          |SELECT w_start, event_type, count(*) AS n,
          |  round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_value
          |FROM hops GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_winsorize_stream", (s, dir) => {
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
    },
      Oracle(
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
          |WHERE e.value IS NOT NULL""".stripMargin)),

    QuerySpec("q_interval_join", (s, dir) => {
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
    },
      // sessionize CTE verbatim from q_sessionize (click/view events only),
      // then plain interval containment — the oracle for the time-bucketed
      // equi-join
      Oracle(
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
          |  AND epoch(e.ts) >= s2.start_sec AND epoch(e.ts) <= s2.end_sec""".stripMargin))
  )
}
