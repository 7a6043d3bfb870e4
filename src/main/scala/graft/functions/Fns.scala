package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Codegen-friendly column functions re-expressing the reference's pandas /
  * SQL transforms. Pure `Column` composition over
  * `org.apache.spark.sql.functions` — no UDFs, so every expression stays
  * inside whole-stage codegen.
  *
  * Reference: stock_data_pipeline/load_yfinance_data.py:143-176,
  * functions.py:103-146, sectors.py:124-135, sector.py:168-180.
  */
object Fns {

  /** Normalize a timestamp column to TIMESTAMP_NTZ regardless of the
    * physical parquet encoding it loaded as:
    *   - LongType        → epoch-nanos long (TIMESTAMP(NANOS) read via
    *                       `spark.sql.legacy.parquet.nanosAsLong`, or a raw
    *                       int64 column) — convert at µs precision;
    *   - TimestampNTZType → already the target type, pass through;
    *   - TimestampType    → session-local instant; reinterpret as NTZ (the
    *                       session timezone is pinned to UTC everywhere in
    *                       this repo, so the wall-clock fields are stable).
    * The testdata has no sub-microsecond values, so the ÷1000 is lossless.
    */
  def normalizeTsNtz(df: org.apache.spark.sql.DataFrame, colName: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")).cast("timestamp_ntz"))
      case _: TimestampNTZType => df
      case _: TimestampType =>
        df.withColumn(colName, col(colName).cast("timestamp_ntz"))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported physical type for timestamp column '$colName': $other")
    }
  }

  /** Simple moving average over the trailing `n` rows (inclusive).
    * Reference load_yfinance_data.py:143-145 (`rolling(window=sma).mean()`):
    * pandas emits NULL until the window is full — guard with row_number.
    */
  def sma(value: Column, n: Int, w: WindowSpec): Column = {
    val full = row_number().over(w) >= n
    // Decimal-accumulated window sum ÷ n: exact regardless of how the engine
    // evaluates the frame (running-sum vs recompute vs segment tree).
    val windowSum = sum(value.cast("decimal(28,6)"))
      .over(w.rowsBetween(-(n - 1), Window.currentRow))
      .cast("double")
    when(full, windowSum / lit(n))
  }

  /** (open+close)/2 × volume — load_yfinance_data.py:147-152. */
  def dollarVolume(open: Column, close: Column, volume: Column): Column =
    (open + close) / lit(2) * volume

  /** Off-peak gap %: (open − lag(open))/lag(open) × 100.
    * load_yfinance_data.py:154-158 (the reference shifts `Open`). Every
    * ratio here divides by `nullif(divisor, 0)`: a zero divisor yields
    * NULL (pandas' inf/NaN has no SQL value), and under ANSI mode — Spark
    * 4's default — an unguarded zero divisor raises DIVIDE_BY_ZERO. The
    * operation order is the oracle's: difference ÷ divisor, then × 100.
    */
  def gapOffPeak(open: Column, w: WindowSpec): Column = {
    val prev = lag(open, 1).over(w)
    (open - prev) / nullif(prev, lit(0.0)) * 100
  }

  /** On-peak gap %: (close − open)/open × 100 — load_yfinance_data.py:160-164. */
  def gapOnPeak(open: Column, close: Column): Column =
    (close - open) / nullif(open, lit(0.0)) * 100

  /** % change vs the first value inside the trailing `n`-row window —
    * sectors.py:168-180 (n-day relative price movement).
    */
  def pctChangeFromFirst(value: Column, n: Int, w: WindowSpec): Column = {
    val start = first(value).over(w.rowsBetween(-(n - 1), Window.currentRow))
    (value - start) / nullif(start, lit(0.0)) * 100
  }

  /** "12.3 M" / "1.2 B" → long shares — sectors.py:124-135 (the reference
    * uppercases the magnitude char, so lowercase suffixes are accepted).
    */
  def parseMagnitude(s: Column): Column = {
    val trimmed = trim(s)
    val num = regexp_replace(trimmed, "[,\\s]|(?i)[MB]$", "").cast("double")
    val suffix = upper(regexp_extract(trimmed, "(?i)([MB])$", 1))
    when(suffix === "M", (num * 1e6).cast("long"))
      .when(suffix === "B", (num * 1e9).cast("long"))
  }

  /** SQL-compatible symbol: lowercase, '.' → '_' — functions.py:141-142. */
  def normalizeSymbolSql(s: Column): Column =
    lower(regexp_replace(s, "\\.", "_"))

  /** yfinance-compatible symbol: '.'/'_' → '-' — functions.py:145-146. */
  def normalizeSymbolYf(s: Column): Column =
    regexp_replace(s, "[._]", "-")

  /** Exact sum for float columns: accumulate in decimal (associative, exact)
    * and convert once at the end. Both a correctness device (bit-identical
    * results regardless of partitioning / merge order — a distributed sum of
    * doubles is order-dependent) and the idiom that makes results stable
    * across cluster sizes.
    */
  def exactSum(c: Column, scale: Int = 6): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double")

  /** Exact array dot product: per-element products in double (deterministic),
    * accumulated in decimal so the fold order can't change the result.
    */
  def dotExact(a: String, b: String): Column = expr(
    s"""cast(aggregate(
       |  zip_with($a, $b, (x, y) -> cast(cast(x as double) * cast(y as double) as decimal(20,12))),
       |  cast(0 as decimal(30,12)),
       |  (acc, v) -> cast(acc + v as decimal(30,12))) as double)""".stripMargin)

  /** NYSE full-day closures 2020–2026 (observed dates, incl. the 2025-01-09
    * national day of mourning). The reference resolves market days through
    * the `pandas_market_calendars` NYSE calendar (functions.py:60-66); this
    * static table is that calendar's closure list for the supported range.
    * In production this is a tiny dimension loaded from a calendar source —
    * swap the literal list for a broadcast lookup without touching callers.
    */
  val marketHolidays: Seq[String] = Seq(
    "2020-01-01", "2020-01-20", "2020-02-17", "2020-04-10", "2020-05-25",
    "2020-07-03", "2020-09-07", "2020-11-26", "2020-12-25",
    "2021-01-01", "2021-01-18", "2021-02-15", "2021-04-02", "2021-05-31",
    "2021-07-05", "2021-09-06", "2021-11-25", "2021-12-24",
    "2022-01-17", "2022-02-21", "2022-04-15", "2022-05-30", "2022-06-20",
    "2022-07-04", "2022-09-05", "2022-11-24", "2022-12-26",
    "2023-01-02", "2023-01-16", "2023-02-20", "2023-04-07", "2023-05-29",
    "2023-06-19", "2023-07-04", "2023-09-04", "2023-11-23", "2023-12-25",
    "2024-01-01", "2024-01-15", "2024-02-19", "2024-03-29", "2024-05-27",
    "2024-06-19", "2024-07-04", "2024-09-02", "2024-11-28", "2024-12-25",
    "2025-01-01", "2025-01-09", "2025-01-20", "2025-02-17", "2025-04-18",
    "2025-05-26", "2025-06-19", "2025-07-04", "2025-09-01", "2025-11-27",
    "2025-12-25",
    "2026-01-01", "2026-01-19", "2026-02-16", "2026-04-03", "2026-05-25",
    "2026-06-19", "2026-07-03", "2026-09-07", "2026-11-26", "2026-12-25")

  /** The range [[marketHolidays]] actually covers. Outside it the closure
    * list is not authoritative, so market-day tests return NULL (unknown)
    * instead of silently treating an unlisted holiday as an open day —
    * the failure mode of a static calendar that a `pandas_market_calendars`
    * resolver doesn't have. Extending coverage = extending the list (or
    * swapping in the calendar-dimension lookup the scaladoc above names).
    */
  val marketCalendarStart: String = "2020-01-01"
  val marketCalendarEnd: String = "2026-12-31"

  /** Market-day test — functions.py:60-66 (get_market_day): weekdays that
    * are not exchange closures; NULL for dates outside the calendar's
    * covered range. The calendar is an injectable DIMENSION
    * ([[MarketCalendar]], default NYSE) whose closure set compiles to an
    * InSet membership probe — still pure codegen, no join: a trading
    * calendar is model-sized (tens of rows/year), so it rides the plan as
    * a literal exactly like a broadcast dim, minus the join.
    */
  def isMarketDay(d: Column, cal: MarketCalendar = MarketCalendar.nyse): Column = {
    val dd = d.cast("date")
    val inRange = dd.between(
      lit(java.sql.Date.valueOf(cal.start)),
      lit(java.sql.Date.valueOf(cal.end)))
    val dow = dayofweek(d) // 1=Sun..7=Sat
    val closed =
      if (cal.holidays.isEmpty) lit(false)
      else dd.isin(cal.holidays.map(java.sql.Date.valueOf): _*)
    when(inRange, dow =!= 1 && dow =!= 7 && !closed)
      .otherwise(lit(null).cast("boolean"))
  }

  /** Most recent market day strictly before `d` — functions.py:103-115's
    * step-back loop, unrolled: the longest NYSE closure run is a 3-day
    * weekend plus special closures, so the default 8-day lookback always
    * contains a market day; a calendar with longer closure runs passes a
    * larger `lookback`. The unrolled when-cascade stays codegen'd.
    */
  def prevMarketDay(d: Column, cal: MarketCalendar = MarketCalendar.nyse,
                    lookback: Int = 8): Column =
    (1 to lookback).map(i => date_sub(d, i))
      .foldRight(lit(null).cast("date")) { (c, acc) =>
        when(isMarketDay(c, cal), c).otherwise(acc) }
}

/** A trading calendar as data rather than code: the closure dates plus
  * the covered range, with NULL-outside-range semantics
  * preserved (an unlisted date beyond the range is UNKNOWN, not open —
  * the guard a static list needs that a live
  * `pandas_market_calendars`-style resolver doesn't). The reference keeps
  * comparable config as a loaded table (config/spdr_sectors.txt read by
  * sector.py:33-41); this is the same move for the calendar
  * functions.py:60-66 resolves.
  */
final case class MarketCalendar(holidays: Seq[String], start: String, end: String) {
  require(holidays.forall(h => h >= start && h <= end),
    "calendar lists a closure outside its covered range")
}

object MarketCalendar {

  /** The built-in NYSE closure calendar 2020–2026 ([[Fns.marketHolidays]]). */
  val nyse: MarketCalendar =
    MarketCalendar(Fns.marketHolidays, Fns.marketCalendarStart, Fns.marketCalendarEnd)
}
