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

  def dailyBars(
      events: DataFrame,
      entity: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val aggs = barAggs(tsCol, valueCol)
    events
      .groupBy(col(entity), to_date(col(tsCol)).as("d"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[dailyBars]] widened, in the same single aggregate, by what the
    * other per-entity daily series need, per (entity, day): `last_ts`, the
    * day's last event time; per `latest` (name → type), the value of the
    * day's last event of that type (null on a day without one); per `sums`
    * type t, `sum_t`, the exact decimal(28,6) sum of its values, so totals
    * over days equal a sum over the events bit for bit. Every day with an
    * event has a row, so an as-of lookup of a typed value is a running
    * last-non-null over the entity's days.
    */
  def dailySummary(
      events: DataFrame,
      latest: Seq[(String, String)],
      sums: Seq[String],
      entity: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      typeCol: String = "event_type"): DataFrame = {
    def of(t: String, c: String): Column = when(col(typeCol) === t, col(c))
    val aggs = barAggs(tsCol, valueCol) ++
      (max(col(tsCol)).as("last_ts") +:
        latest.map { case (name, t) => max_by(of(t, valueCol), of(t, tsCol)).as(name) }) ++
      sums.map(t => sum(of(t, valueCol).cast("decimal(28,6)")).as(s"sum_$t"))
    events
      .groupBy(col(entity), to_date(col(tsCol)).as("d"))
      .agg(aggs.head, aggs.tail: _*)
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

  /** Bars as a MERGEABLE summary: the daily aggregate plus the open/close
    * event times that witness it. With the witnesses kept, two partial bars
    * for the same (entity, day) combine associatively — min_by on
    * (open, open_ts), max_by on (close, close_ts), min/max/sum on the rest
    * — so yesterday's persisted bar table and today's ingest batch merge
    * with [[mergeBars]] instead of re-scanning the full tick history. At
    * 100 TB this is the difference between an incremental refresh touching
    * one day of ticks and a recompute touching all of them.
    */
  def mergeableBars(
      events: DataFrame,
      entity: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame =
    events
      .groupBy(col(entity), to_date(col(tsCol)).as("d"))
      .agg(
        // witness = (ts, value) struct: two ticks sharing the extreme
        // timestamp would otherwise tie-break arbitrarily, and an
        // arbitrary choice made differently in two partials breaks merge
        // associativity (incremental refresh ≠ recompute). Cost: struct
        // ordering keys plan as SortAggregate, not HashAggregate — the
        // partial combine and bar-sized shuffle are unchanged, but each
        // task sorts its slice; acceptable for the incremental path, which
        // touches one ingest batch, not the full history
        min_by(col(valueCol), struct(col(tsCol), col(valueCol))).as("open"),
        min(col(tsCol)).as("open_ts"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), struct(col(tsCol), col(valueCol))).as("close"),
        max(col(tsCol)).as("close_ts"),
        count(lit(1)).as("volume"))

  /** Merge any union of [[mergeableBars]] frames (persisted table + new
    * batches): one partial-aggregated groupBy over BAR-count rows — the
    * tick stream never reappears. The result is again mergeable.
    */
  def mergeBars(parts: DataFrame, entity: String = "user_id"): DataFrame =
    parts
      .groupBy(col(entity), col("d"))
      .agg(
        // same struct tie-break as mergeableBars: equal witness times across
        // partials must resolve identically to stay associative
        min_by(col("open"), struct(col("open_ts"), col("open"))).as("open"),
        min(col("open_ts")).as("open_ts"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), struct(col("close_ts"), col("close"))).as("close"),
        max(col("close_ts")).as("close_ts"),
        sum(col("volume")).as("volume"))

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
