package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization: a session is a maximal run of same-key events
  * whose successive gaps are ≤ `gapSec`.
  *
  * Classic two-window shape: flag rows whose gap from the previous event
  * exceeds the threshold, running-sum the flags into a session ordinal,
  * aggregate per (key, ordinal). One exchange total — the session-ordinal
  * window partitions by key, and the final groupBy on (key, ordinal) is
  * satisfied by the same hash(key) partitioning (subset rule), so Catalyst
  * plans no second shuffle. The per-key sort is Spark's external sort —
  * spill-safe however hot a key gets.
  */
object Sessionize {

  /** Sessions of `events`: (key, session_start, n_events, total_value,
    * duration_sec). Unlike the streaming operator in batch mode (which can
    * only emit sessions CLOSED by a later event), this emits every session
    * including each key's trailing one.
    */
  def byGap(events: DataFrame, gapSec: Long = 1800,
            keyCol: String = "user_id", tsCol: String = "ts",
            valCol: String = "value"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    // timestamp → double = epoch seconds with fractional micros, the same
    // value DuckDB's epoch() yields, so gap comparisons agree bit-for-bit.
    // NTZ needs the hop through LTZ (no direct double cast); the session
    // offset is a constant that cancels in every difference below.
    def secs(c: org.apache.spark.sql.Column) = c.cast("timestamp").cast("double")
    val gap = secs(col(tsCol)) - secs(lag(col(tsCol), 1).over(w))
    events
      .select(col(keyCol), col(tsCol), col(valCol))
      .withColumn("__brk", when(gap > gapSec.toDouble, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("__sid"))
      .agg(
        min(col(tsCol)).as("session_start"),
        count(lit(1)).as("n_events"),
        sum(col(valCol).cast("decimal(28,6)")).cast("double").as("total_value"),
        round(max(secs(col(tsCol))) - min(secs(col(tsCol))), 6).as("duration_sec"))
      .select(col(keyCol), col("session_start"), col("n_events"),
        col("total_value"), col("duration_sec"))
  }
}
