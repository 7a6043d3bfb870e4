package graft.sources

import graft.{Graft, StateCache}
import graft.functions.Fns
import graft.operators.{Incremental, Ohlc}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** The one daily summary of an events table snapshot ([[Ohlc.dailySummary]]:
  * the daily bars, each day's `first_ts` and `last_ts`, its last purchase
  * value as `shares` and last signup value as `outstanding` with their
  * times, and one `sum_<type>` per event type), shared by every
  * daily-series key over the table, by the restates of tables derived from
  * it, and by [[Sinks.appendNewerThan]]'s watermark.
  *
  * One frame per snapshot, owned by a [[StateCache]] entry tied to it, laid
  * out by `user_id` (the bars are repartitioned, never the ticks), so a
  * per-user window, aggregate or as-of lookup over it plans no exchange.
  * A table without `event_type` (bare ticks) still gets its bars.
  */
object DailySummary {

  /** The event types summed per day, one `sum_<type>` column each. */
  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** The day's last value kept per event type, by column name. */
  private val latest = Seq("shares" -> "purchase", "outstanding" -> "signup")

  private val entity = "user_id"

  private def key(source: StateCache.Source) = ("daily", source)

  /** The summary of `snap`, built once and checkpointed lazily: the first
    * job that reads it fills it. A snapshot that strictly extends the
    * previous one (`Sources.parquetSnapshot`) whose summary is still live
    * is summarized by [[refresh]]: the old summary merged with the added
    * files' rows, read alone, so no store file that existed before the
    * append is opened. The old frame stays alive until the new one is
    * filled — a lazy checkpoint whose first job reads freed blocks fails —
    * and goes at the first call after that. Any other snapshot is a full
    * [[build]].
    *
    * Either build runs its shuffle map stages as jobs while the first
    * reader's plan is built (under AQE, a lazy checkpoint of a frame with
    * an exchange does): the refresh one job over the added rows, the full
    * build two. They are the summary's own work, paid once per snapshot,
    * and the fill itself rides in the first reader's job.
    */
  def of(spark: SparkSession, snap: Sources.Snapshot): DataFrame = {
    val summary = StateCache.frame(spark, key(snap.source), Set(snap.source)) {
      val merged = snap.base.flatMap(b => StateCache.live(spark, key(b)))
        .map(refresh(_, Fns.normalizeTsNtz(snap.addedRows, "ts")))
      Graft.materialize(merged.getOrElse(build(Fns.normalizeTsNtz(snap.df, "ts"))), eager = false)
    }
    if (GraftBridge.isFilled(summary)) snap.base.foreach(StateCache.release(spark, _))
    summary
  }

  /** The summary of `snap` if it is already built, without building it. */
  def live(spark: SparkSession, snap: Sources.Snapshot): Option[DataFrame] =
    StateCache.live(spark, key(snap.source))

  /** The full summary of normalized events, laid out by `user_id` in
    * `spark.sql.shuffle.partitions` partitions: one tick-level aggregate
    * and one exchange of its bars. The count is explicit because AQE would
    * coalesce a keyed repartition, and [[refresh]] needs a layout its new
    * rows can be shuffled to match.
    */
  def build(ev: DataFrame): DataFrame = {
    val (l, s) = columns(ev)
    Ohlc.dailySummary(ev, l, s).repartition(partitions(ev), col(entity))
  }

  /** `old` (a summary from [[build]] or [[refresh]]) merged with
    * normalized events `ev`, each event taken as a one-row summary, equal
    * to the build over all the events. One aggregate over one `user_id`
    * exchange, of the new rows only: they are shuffled to the old
    * summary's layout, the union keeps it, and the merge runs where the
    * old rows already are. The result has that layout too.
    */
  def refresh(old: DataFrame, ev: DataFrame): DataFrame = {
    val (l, s) = columns(ev)
    val fresh = Ohlc.summaryRows(ev, l, s).repartition(partitions(ev), col(entity))
    Ohlc.mergeDaily(old.unionByName(fresh), l, s)
  }

  /** The per-user `max(ts)` of `snap` from its live summary, as
    * `Incremental.latest` returns it: `max(last_ts)` per `user_id`, with no
    * scan of the store. None when the summary is not live, the key is not
    * the summary's, or the stored `ts` is not TIMESTAMP_NTZ (the summary
    * holds normalized times, which equal the stored ones only then).
    */
  def watermark(spark: SparkSession, snap: Sources.Snapshot, key: String,
                tsCol: String): Option[DataFrame] =
    if (key != entity || tsCol != "ts" ||
        !snap.df.schema.exists(f => f.name == tsCol && f.dataType == TimestampNTZType)) None
    else live(spark, snap).map(Incremental.latest(_, entity, "last_ts"))

  private def partitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  private def columns(ev: DataFrame): (Seq[(String, String)], Seq[String]) =
    if (ev.columns.contains("event_type")) (latest, eventTypes) else (Nil, Nil)
}
