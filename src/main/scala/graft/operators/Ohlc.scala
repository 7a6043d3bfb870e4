package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Daily OHLCV bars per entity from tick-level events — the Spark
  * re-expression of the reference's per-ticker daily history ingestion
  * (stock_data_pipeline/load_yfinance_data.py:86-116, CollectDailyData).
  *
  * Single hash-aggregate with partial (map-side) combine: the shuffle
  * carries one row per (entity, day) PER TASK — bar count, not tick
  * count. A downstream per-entity window adds its own exchange, but that
  * one also moves bars, so total shuffle is ~2× bars. (Pre-partitioning
  * the ticks by entity would collapse those into one exchange but ships
  * the RAW TICK STREAM through it and defeats partial aggregation — at a
  * 1000:1 tick:bar ratio that is ~500× more shuffled bytes.)
  */
object Ohlc {
  private def barAggs(tsCol: String, valueCol: String): Seq[Column] = Seq(
    min_by(col(valueCol), col(tsCol)).as("open"),
    max(col(valueCol)).as("high"),
    min(col(valueCol)).as("low"),
    max_by(col(valueCol), col(tsCol)).as("close"),
    count(lit(1)).as("volume"))

  /** The MERGEABLE daily summary per (entity, day): the OHLCV bar plus
    * what the other per-entity daily series need — `last_ts`, the day's
    * last event time; per `latest` (name → type), the value of the day's
    * last event of that type (null on a day without one); per `sums` type
    * t, `sum_t`, the exact decimal(28,6) sum of its values, so totals over
    * days equal a sum over the events bit for bit. Every day with an event
    * has a row, so an as-of lookup of a typed value is a running
    * last-non-null over the entity's days.
    *
    * Each value picked by time keeps its witness time (`first_ts` for
    * open, `last_ts` for close, `<name>_ts` per `latest` entry), so two
    * summaries of the same (entity, day) combine with [[mergeDaily]] into
    * the summary of all their events. This is that merge over each event
    * taken as a one-row summary ([[summaryRows]]): one aggregate, whether
    * it summarizes the whole history or merges a stored summary with a new
    * batch of events.
    */
  def dailySummary(
      events: DataFrame,
      latest: Seq[(String, String)],
      sums: Seq[String],
      entity: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      typeCol: String = "event_type"): DataFrame =
    mergeDaily(summaryRows(events, latest, sums, entity, tsCol, valueCol, typeCol),
      latest, sums, entity)

  /** Each event as the one-row [[dailySummary]] of its (entity, day). */
  def summaryRows(
      events: DataFrame,
      latest: Seq[(String, String)],
      sums: Seq[String],
      entity: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      typeCol: String = "event_type"): DataFrame = {
    def of(t: String, c: String): Column = when(col(typeCol) === t, col(c))
    val (ts, v) = (col(tsCol), col(valueCol))
    events.select(Seq(col(entity), to_date(ts).as("d"), v.as("open"), ts.as("first_ts"),
      v.as("high"), v.as("low"), v.as("close"), ts.as("last_ts"), lit(1L).as("volume")) ++
      latest.flatMap { case (name, t) => Seq(of(t, valueCol).as(name), of(t, tsCol).as(s"${name}_ts")) } ++
      sums.map(t => of(t, valueCol).cast("decimal(28,6)").as(s"sum_$t")): _*)
  }

  /** Merge any union of [[dailySummary]] / [[summaryRows]] frames with the
    * same `latest` and `sums` into one row per (entity, day). Open, close
    * and each `latest` value are picked by the (time, value) struct: two
    * events sharing the extreme time would otherwise tie-break by arrival
    * order, and a choice made differently in two partial summaries would
    * make the merge differ from a summary of everything. The struct keys
    * plan as a SortAggregate.
    */
  def mergeDaily(
      parts: DataFrame,
      latest: Seq[(String, String)],
      sums: Seq[String],
      entity: String = "user_id"): DataFrame = {
    def witness(ts: String, v: String): Column = when(col(ts).isNotNull, struct(col(ts), col(v)))
    val aggs = Seq(
      min_by(col("open"), witness("first_ts", "open")).as("open"),
      min(col("first_ts")).as("first_ts"),
      max(col("high")).as("high"),
      min(col("low")).as("low"),
      max_by(col("close"), witness("last_ts", "close")).as("close"),
      max(col("last_ts")).as("last_ts"),
      sum(col("volume")).as("volume")) ++
      latest.flatMap { case (name, _) =>
        Seq(max_by(col(name), witness(s"${name}_ts", name)).as(name),
          max(col(s"${name}_ts")).as(s"${name}_ts"))
      } ++
      sums.map(t => sum(col(s"sum_$t")).as(s"sum_$t"))
    parts.groupBy(col(entity), col("d")).agg(aggs.head, aggs.tail: _*)
  }

  /** Fine-resolution bars — get_stock_fine_resolution
    * (load_yfinance_data.py:137-141): same aggregate at an arbitrary
    * tumbling resolution ("15 minutes", "1 hour", …). Identical shuffle
    * shape; `window()` buckets inside the same single hash-aggregate.
    */
  def bars(
      events: DataFrame,
      resolution: String,
      entity: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val aggs = barAggs(tsCol, valueCol)
    events
      .groupBy(col(entity), window(col(tsCol), resolution).as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(entity), col("w.start").as("bucket"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
  }

  /** Gap-fill over a continuous per-entity date spine with
    * last-observation-carried-forward — the reference's continuous date
    * axis (sectors.py:207-221 _add_date_range) as a data operator: each
    * entity's [min(d), max(d)] range explodes into one row per day
    * (sequence(), map-side — the spine is never shuffled separately), the
    * sparse series left-joins on, and missing values fill from the last
    * non-null observation via one per-entity window.
    */
  def fillForward(
      series: DataFrame,
      valueCols: Seq[String],
      entity: String = "user_id",
      dateCol: String = "d"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spine = series
      .groupBy(col(entity))
      .agg(min(col(dateCol)).as("__d0"), max(col(dateCol)).as("__d1"))
      .select(col(entity),
        explode(expr("sequence(__d0, __d1, interval 1 day)")).as(dateCol))
    val w = Window.partitionBy(col(entity)).orderBy(col(dateCol))
    val filled = valueCols.map(c => last(col(c), ignoreNulls = true).over(w).as(c))
    spine
      .join(series, Seq(entity, dateCol), "left")
      .select(col(entity) +: col(dateCol) +: filled: _*)
  }
}
