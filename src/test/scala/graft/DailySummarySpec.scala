package graft

import graft.functions.Fns
import graft.operators.{AsOfJoin, Ohlc, PivotOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The daily-series keys that read the events snapshot's daily summary
  * (q_sector_price, q_pivot_wide, q_latest_date) return exactly what their
  * direct formulations over the events return: the as-of union over the
  * filtered daily aggregates, the decimal-summed pivot, and max(ts).
  */
class DailySummarySpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val types = Seq("click", "error", "purchase", "signup", "view")

  /** Three users over four days:
    *   - user 1: shares on day 1 only, outstanding 0 on day 3, no click;
    *   - user 2: no signup, its last purchase on day 2 has a null value;
    *   - user 3: purchase and signup on the same day, two purchases a day,
    *     a null-valued purchase on day 3, no error.
    */
  private def store(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_daily").toString
    val rows = Seq[(Long, Long, String, String, Option[Double])](
      (1, 1, "2024-01-01 09:00:00", "view", Some(10.5)),
      (2, 1, "2024-01-01 10:00:00", "purchase", Some(40.0)),
      (3, 1, "2024-01-01 11:00:00", "signup", Some(1000.0)),
      (4, 1, "2024-01-02 10:00:00", "view", Some(11.25)),
      (5, 1, "2024-01-03 10:00:00", "signup", Some(0.0)),
      (6, 1, "2024-01-03 12:00:00", "error", Some(0.1)),
      (7, 1, "2024-01-04 09:00:00", "signup", Some(500.0)),
      (8, 1, "2024-01-04 10:00:00", "view", Some(12.0)),
      (9, 2, "2024-01-01 08:00:00", "purchase", Some(5.0)),
      (10, 2, "2024-01-01 09:30:00", "click", Some(0.3)),
      (11, 2, "2024-01-02 08:00:00", "purchase", Some(7.0)),
      (12, 2, "2024-01-02 09:00:00", "purchase", None),
      (13, 2, "2024-01-03 09:00:00", "view", Some(2.2)),
      (14, 3, "2024-01-02 10:00:00", "signup", Some(200.0)),
      (15, 3, "2024-01-02 10:30:00", "purchase", Some(3.0)),
      (16, 3, "2024-01-02 15:00:00", "purchase", Some(4.0)),
      (17, 3, "2024-01-03 08:00:00", "purchase", None),
      (18, 3, "2024-01-03 09:00:00", "click", Some(0.7)),
      (19, 3, "2024-01-04 09:00:00", "purchase", Some(1.0)),
      (20, 3, "2024-01-04 16:00:00", "view", None))
    rows.map { case (id, u, t, e, v) => (id, u, ts(t), e, v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("summary-backed reference keys equal their direct formulations row for row") {
    val dir = store()
    val ev = Fns.normalizeTsNtz(Tables.events(spark, dir), "ts")
    def lastOf(t: String, name: String) = ev.where(col("event_type") === t)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(max_by(col("value"), col("ts")).as(name))
    val direct = Map(
      "q_sector_price" -> AsOfJoin
        .asOfMany(RefBars.dailyBars(ev).select("user_id", "d", "close"),
          Seq(lastOf("purchase", "shares") -> Seq("shares"),
            lastOf("signup", "outstanding") -> Seq("outstanding")),
          "user_id", "d")
        .select(col("user_id"), col("d"), col("close"),
          round(col("close") * col("shares") / nullif(col("outstanding"), lit(0.0)), 6)
            .as("calculated_price")),
      "q_pivot_wide" -> PivotOps.pivotAgg(ev, "user_id", "event_type", types, "value",
        c => sum(c.cast("decimal(28,6)")).cast("double")),
      "q_latest_date" -> ev.groupBy(col("user_id"))
        .agg(max(col("ts")).as("latest_ts"), to_date(max(col("ts"))).as("latest_d")))
    for ((k, want) <- direct) {
      val got = SparkEntry.queries(k)(spark, dir)
      assert(got.schema === want.schema, k)
      assert(sorted(got) === sorted(want), k)
    }
    // the fixture reaches every case it names
    val price = SparkEntry.queries("q_sector_price")(spark, dir)
      .select($"user_id", $"d".cast("string"), $"calculated_price").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> Option(r.get(2))).toMap
    assert(price((1L, "2024-01-02")) === Some(round6(11.25 * 40.0 / 1000.0)))
    assert(price((1L, "2024-01-03")) === None) // outstanding 0
    assert(price((1L, "2024-01-04")) === Some(round6(12.0 * 40.0 / 500.0))) // day-1 shares
    assert(price((2L, "2024-01-02")) === None) // no signup
    assert(price((3L, "2024-01-02")) === Some(round6(4.0 * 4.0 / 200.0))) // same day
    assert(price((3L, "2024-01-03")) === Some(round6(0.7 * 4.0 / 200.0))) // null purchase skipped
    val wide = SparkEntry.queries("q_pivot_wide")(spark, dir).where($"user_id" === 2).head()
    assert(wide.isNullAt(wide.fieldIndex("error")) && wide.isNullAt(wide.fieldIndex("signup")))
    assert(wide.getAs[Double]("purchase") === 12.0)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
