package graft

import graft.functions.Fns
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class FnsSpec extends SparkSpec {
  import spark.implicits._

  test("sma is null until the window fills, then averages the trailing n rows") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("a", 4, 40.0))
      .toDF("k", "t", "v")
    val w = Window.partitionBy($"k").orderBy($"t")
    val out = df.select($"t", Fns.sma($"v", 3, w).as("sma")).orderBy($"t").collect()
    assert(out(0).isNullAt(1) && out(1).isNullAt(1))
    assert(out(2).getDouble(1) === 20.0)
    assert(out(3).getDouble(1) === 30.0)
  }

  test("dollarVolume = (open+close)/2 * volume") {
    val r = Seq((10.0, 14.0, 100L)).toDF("o", "c", "v")
      .select(Fns.dollarVolume($"o", $"c", $"v")).head()
    assert(r.getDouble(0) === 1200.0)
  }

  test("gap off-peak compares open to previous open; on-peak is intraday") {
    val df = Seq(("a", 1, 100.0, 110.0), ("a", 2, 120.0, 150.0)).toDF("k", "t", "open", "close")
    val w = Window.partitionBy($"k").orderBy($"t")
    val rows = df.select($"t", Fns.gapOffPeak($"open", w).as("off"),
      Fns.gapOnPeak($"open", $"close").as("on")).orderBy($"t").collect()
    assert(rows(0).isNullAt(1))
    assert(rows(1).getDouble(1) === 20.0) // (120-100)/100*100
    assert(rows(0).getDouble(2) === 10.0) // (110-100)/100*100
    assert(rows(1).getDouble(2) === 25.0) // (150-120)/120*100
  }

  test("pctChangeFromFirst is relative to the window start") {
    val df = Seq(("a", 1, 100.0), ("a", 2, 150.0), ("a", 3, 120.0)).toDF("k", "t", "v")
    val w = Window.partitionBy($"k").orderBy($"t")
    val out = df.select($"t", Fns.pctChangeFromFirst($"v", 5, w).as("p")).orderBy($"t").collect()
    assert(out(0).getDouble(1) === 0.0)
    assert(out(1).getDouble(1) === 50.0)
    assert(out(2).getDouble(1) === 20.0)
  }

  test("reference formulas give NULL on a zero divisor under ANSI mode") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // open 0 then 5: off-peak divides by the previous open (0), on-peak
      // by the first row's open (0), pct-change by the window start (0)
      val df = Seq(("a", 1, 0.0, 5.0), ("a", 2, 5.0, 6.0)).toDF("k", "t", "open", "close")
      val w = Window.partitionBy($"k").orderBy($"t")
      val rows = df.select($"t", Fns.gapOffPeak($"open", w).as("off"),
        Fns.gapOnPeak($"open", $"close").as("on"),
        Fns.pctChangeFromFirst($"open", 5, w).as("pct")).orderBy($"t").collect()
      assert(rows(1).isNullAt(1)) // (5 − 0) / 0
      assert(rows(0).isNullAt(2)) // (5 − 0) / 0
      assert(rows(1).getDouble(2) === 20.0) // (6 − 5) / 5 × 100
      assert(rows(0).isNullAt(3) && rows(1).isNullAt(3)) // window start 0
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("parseMagnitude handles M/B suffixes, separators, and garbage") {
    val df = Seq("12.3 M", "1.2 B", "1,234.5 M", "nonsense", "2.5 b").toDF("s")
      .select(Fns.parseMagnitude($"s").as("v"))
    val out = df.collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(out(0) === 12300000L)
    assert(out(1) === 1200000000L)
    assert(out(2) === 1234500000L)
    assert(out(3) === null)
    assert(out(4) === 2500000000L) // lowercase suffix, like the reference
  }

  test("symbol normalization matches the reference rules") {
    val df = Seq("BRK.B", "A_X").toDF("s").select(
      Fns.normalizeSymbolSql($"s").as("sql"), Fns.normalizeSymbolYf($"s").as("yf"))
    val rows = df.collect()
    assert(rows(0).getString(0) === "brk_b" && rows(0).getString(1) === "BRK-B")
    assert(rows(1).getString(0) === "a_x" && rows(1).getString(1) === "A-X")
  }

  test("prevMarketDay: weekend and Monday map to Friday, midweek to previous day") {
    // 2024-01-08 = Monday, 2024-01-06 = Saturday, 2024-01-07 = Sunday, 2024-01-10 = Wednesday
    val df = Seq("2024-01-08", "2024-01-06", "2024-01-07", "2024-01-10").toDF("d")
      .select(Fns.prevMarketDay(to_date($"d")).cast("string").as("p"))
    val out = df.collect().map(_.getString(0))
    assert(out(0) === "2024-01-05") // Mon -> Fri
    assert(out(1) === "2024-01-05") // Sat -> Fri
    assert(out(2) === "2024-01-05") // Sun -> Fri
    assert(out(3) === "2024-01-09") // Wed -> Tue
  }

  test("market day honors NYSE holidays, not just weekends") {
    // 2024-01-15 = MLK Monday (closed); 2023-11-23 = Thanksgiving Thursday
    val df = Seq("2024-01-15", "2024-01-12", "2023-11-23").toDF("d")
      .select(Fns.isMarketDay(to_date($"d")).as("m"))
    val out = df.collect().map(_.getBoolean(0))
    assert(out.toSeq === Seq(false, true, false))
  }

  test("isMarketDay is NULL (unknown) outside the covered calendar range") {
    // 2019-07-04 was a real NYSE closure but predates the holiday table:
    // the old behavior silently called it an open Thursday; now any date
    // outside [marketCalendarStart, marketCalendarEnd] flags as unknown
    val out = Seq("2019-07-04", "2027-03-01", "2020-01-02", "2026-12-31")
      .toDF("d").select(Fns.isMarketDay(to_date($"d")).as("m")).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).isNullAt(0))
    assert(out(2).getBoolean(0) === true)  // in-range Thursday, open
    assert(out(3).getBoolean(0) === true)  // range end is inclusive
  }

  test("prevMarketDay steps over holidays") {
    // Tue 2024-01-16: previous market day is Fri 2024-01-12 (MLK Monday closed)
    // Fri 2023-11-24: previous market day is Wed 2023-11-22 (Thanksgiving Thursday)
    val df = Seq("2024-01-16", "2023-11-24").toDF("d")
      .select(Fns.prevMarketDay(to_date($"d")).cast("string").as("p"))
    val out = df.collect().map(_.getString(0))
    assert(out(0) === "2024-01-12")
    assert(out(1) === "2023-11-22")
  }

  test("market-day functions honor an INJECTED calendar dimension") {
    // a toy exchange calendar covering one week of 2030: Wed 2030-01-09
    // is a made-up closure the NYSE table knows nothing about; the weekend
    // is closed by the day-of-week test, listed or not
    val cal = graft.functions.MarketCalendar(
      holidays = Seq("2030-01-09", "2030-01-12", "2030-01-13"),
      start = "2030-01-07", end = "2030-01-13")
    val m = Seq("2030-01-08", "2030-01-09", "2030-01-10", "2030-01-06", "2030-02-01")
      .toDF("d").select(Fns.isMarketDay(to_date($"d"), cal).as("m")).collect()
    assert(m(0).getBoolean(0) === true)   // Tue open
    assert(m(1).getBoolean(0) === false)  // the injected closure
    assert(m(2).getBoolean(0) === true)   // Thu open
    assert(m(3).isNullAt(0))              // before injected coverage → unknown
    assert(m(4).isNullAt(0))              // after injected coverage → unknown
    // prevMarketDay steps over the injected closure: Thu 10th → Tue 8th
    val p = Seq("2030-01-10").toDF("d")
      .select(Fns.prevMarketDay(to_date($"d"), cal).cast("string").as("p"))
      .head().getString(0)
    assert(p === "2030-01-08")
    // the default calendar is unchanged: NYSE MLK Monday still closed
    val nyse = Seq("2024-01-15").toDF("d")
      .select(Fns.isMarketDay(to_date($"d")).as("m")).head().getBoolean(0)
    assert(nyse === false)
    // a calendar listing a closure outside its own coverage is rejected
    intercept[IllegalArgumentException] {
      graft.functions.MarketCalendar(Seq("2031-01-01"), "2030-01-01", "2030-12-31")
    }
  }

  test("exactSum over doubles equals decimal-exact result regardless of partitioning") {
    val vals = (1 to 10000).map(i => i * 0.01)
    val one = vals.toDF("v").repartition(1).agg(Fns.exactSum($"v")).head.getDouble(0)
    val many = vals.toDF("v").repartition(13).agg(Fns.exactSum($"v")).head.getDouble(0)
    assert(one === many)
    assert(math.abs(one - 500050.0) < 1e-9)
  }
}
