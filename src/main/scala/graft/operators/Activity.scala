package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream activity analytics: trailing-window reach, concurrency, and
  * path mining. Each operator is built around the one primitive that stays
  * bounded at 100 TB — per-entity windows, bounded explodes on deduplicated
  * grains, and the two-level distributed prefix sum — never a global sort
  * or an events×days join.
  */
object Activity {

  /** Trailing-`windowDays` distinct active entities per day (rolling reach —
    * the 7-day-active-users report). The scale-critical shape: events first
    * collapse to the (entity, day) grain (ONE partial-aggregated distinct —
    * at 100 TB this is orders of magnitude smaller than events), then each
    * grain row explodes to the ≤`windowDays` window-end days it covers (a
    * BOUNDED multiplier on the already-deduplicated grain, not on events),
    * and the per-day distinct count runs as the two-phase Expand aggregate
    * with map-side partial dedup. Days are restricted to observed activity
    * days (broadcast semi-join), so the contract is explicit rather than
    * relying on a gapless calendar.
    */
  def rollingDistinct(events: DataFrame, windowDays: Int = 7,
                      keyCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val grain = events
      .select(col(keyCol).as("k"), to_date(col(tsCol)).as("d0"))
      .distinct()
    val observed = grain.select(col("d0").as("d")).distinct()
    grain
      .select(col("k"),
        explode(sequence(col("d0"), date_add(col("d0"), windowDays - 1))).as("d"))
      .join(broadcast(observed), Seq("d"), "left_semi")
      .groupBy(col("d"))
      .agg(countDistinct(col("k")).as("active"))
      .orderBy(col("d"))
  }

  /** Maximum concurrent sessions per day — the sweep-line classic. Sessions
    * are gap-closed per entity (same two-window flag/running-sum shape as
    * [[Sessionize.byGap]], one entity exchange); each session emits a
    * (start, +1) and (end, −1) boundary; the running concurrency is the
    * inclusive prefix sum of boundary deltas in (ts, starts-first) order.
    *
    * The prefix sum is [[Packing.prefixSum]]'s two-level scan — a naive
    * `sum().over(Window.orderBy(ts))` would collapse the whole boundary
    * stream into one task. Intervals are closed ([start, end]): at a tied
    * timestamp starts order before ends (tie column), so a session pair
    * that touches end-to-start counts as overlapping and a single-event
    * session still registers concurrency 1 at its instant. Within a
    * (ts, delta) tie-group every delta is equal, so the multiset of
    * inclusive prefix values — and therefore the per-day max — is
    * order-independent and cross-engine deterministic.
    */
  def maxConcurrent(events: DataFrame, gapSec: Long = 1800,
                    keyCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    def secs(c: org.apache.spark.sql.Column) = c.cast("timestamp").cast("double")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val gap = secs(col(tsCol)) - secs(lag(col(tsCol), 1).over(w))
    val bounds = events
      .select(col(keyCol), col(tsCol))
      .withColumn("__brk", when(gap > gapSec.toDouble, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("__sid"))
      .agg(min(col(tsCol)).as("s"), max(col(tsCol)).as("e"))
    val deltas = bounds.select(col("s").as("t"), lit(1L).as("delta"))
      .unionAll(bounds.select(col("e").as("t"), lit(-1L).as("delta")))
      // starts before ends at a tied timestamp → closed intervals
      .withColumn("__tie", -col("delta"))
      .withColumn("__ord", unix_micros(col("t").cast("timestamp")))
    // chunk size DERIVED from the ordinal range so both failure modes of
    // a fixed constant are closed: the old 2²⁰ default (~1.05 s of event
    // time per chunk on MICROSECOND ordinals) made the serial
    // chunk-offset stage grow with the corpus's active span (~31M chunks
    // per dense year), while any fixed large constant collapses a
    // SHORT-span burst corpus (one day of dense logs) into 1–2 chunks =
    // one global-sort task. range/2¹⁶ keeps chunk count ≤ ~65k
    // regardless of span, and chunk width shrinks with the span so
    // bursts stay spread. The boundary frame (2 rows/session, ≪ events)
    // is materialized ONCE so the range aggregate and the prefix sum
    // don't each re-run the sessionization window.
    val deltasM = graft.Graft.materialize(deltas, eager = true)
    val r = deltasM.agg(min(col("__ord")), max(col("__ord"))).head()
    val chunk =
      if (r.isNullAt(0)) 1L << 20
      else math.max(1L, (r.getLong(1) - r.getLong(0)) / (1L << 16) + 1)
    Packing.prefixSum(deltasM, "__ord", "delta", chunkSize = chunk,
      tieCol = Some("__tie"))
      .select(to_date(col("t")).as("d"), (col("prefix") + col("delta")).as("c"))
      .groupBy(col("d"))
      .agg(max(col("c")).as("max_concurrent"))
      .orderBy(col("d"))
  }

  /** Top-k most frequent length-3 event-type paths (per-entity sequential
    * pattern mining, the navigation-flow report). Two stacked leads share
    * ONE entity exchange (Catalyst collapses same-window leads into a
    * single Window op); the trigram groupBy is vocabulary-sized (|types|³
    * partials, map-side combined), and the top-k is TakeOrderedAndProject —
    * nothing after the window touches event-sized data unaggregated.
    * event_id breaks timestamp ties so the sequence order is total and the
    * result cross-engine deterministic.
    */
  def topPaths(events: DataFrame, k: Int = 10,
               keyCol: String = "user_id", tsCol: String = "ts",
               typeCol: String = "event_type", tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    events
      .select(col(keyCol), col(tsCol), col(typeCol), col(tieCol))
      .withColumn("e2", lead(col(typeCol), 1).over(w))
      .withColumn("e3", lead(col(typeCol), 2).over(w))
      .where(col("e3").isNotNull)
      .groupBy(col(typeCol).as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
  }
}
