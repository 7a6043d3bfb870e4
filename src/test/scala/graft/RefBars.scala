package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Daily OHLCV bars per (entity, day) as one plain aggregate: the reference
  * the specs hold the daily summary's bar columns to.
  */
object RefBars {
  def dailyBars(
      events: DataFrame,
      entity: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame =
    events
      .groupBy(col(entity), to_date(col(tsCol)).as("d"))
      .agg(
        min_by(col(valueCol), col(tsCol)).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), col(tsCol)).as("close"),
        count(lit(1)).as("volume"))
}
