package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental-append compatibility: keep only incoming rows strictly newer
  * than what the target table already holds — the reference's
  * `check_table_append_compatibility` (stock_data_pipeline/functions.py:23-39)
  * and `get_stock_history_latest_date` (ticker.py:26-31), generalized from
  * one-table-per-ticker to a keyed table.
  *
  * The per-key MAX(ts) aggregate is one row per DISTINCT KEY. For
  * entity-like keys (tickers, sectors: thousands) that is metadata-sized
  * and broadcasting it keeps the big side unshuffled with a map-side
  * filter. For user-like keys (billions) one row per key is NOT
  * metadata — pass `broadcastLatest = false` and the join becomes a plain
  * keyed join that AQE plans (shuffled hash / sort-merge, skew-split);
  * the aggregate itself is partial-combined either way.
  */
object Incremental {
  def newerThanExisting(
      existing: DataFrame,
      incoming: DataFrame,
      key: String,
      tsCol: String,
      broadcastLatest: Boolean = true): DataFrame =
    newerThan(latest(existing, key, tsCol), incoming, key, tsCol, broadcastLatest)

  /** The watermark [[newerThan]] filters against: per `key`, the max of
    * `tsCol` over `existing`, as (key, __latest_ts).
    */
  def latest(existing: DataFrame, key: String, tsCol: String): DataFrame =
    existing.groupBy(col(key)).agg(max(col(tsCol)).as("__latest_ts"))

  /** The `incoming` rows strictly newer than their key's [[latest]]
    * watermark; a key without one passes whole. The rows keep `incoming`'s
    * column order (the USING join would put the key first), so files
    * appended to a store read back with the store's schema.
    */
  def newerThan(
      latest: DataFrame,
      incoming: DataFrame,
      key: String,
      tsCol: String,
      broadcastLatest: Boolean = true): DataFrame = {
    val latestSide = if (broadcastLatest) broadcast(latest) else latest
    incoming
      .join(latestSide, Seq(key), "left")
      .where(col("__latest_ts").isNull || col(tsCol) > col("__latest_ts"))
      .select(incoming.columns.map(col).toIndexedSeq: _*)
  }

  /** Global (un-keyed) variant — the literal reference behavior for a single
    * ticker table: filter rows after the table-wide latest date.
    */
  def newerThanGlobal(existing: DataFrame, incoming: DataFrame, tsCol: String): DataFrame = {
    val latest = existing.agg(max(col(tsCol)).as("__latest_ts"))
    incoming
      .join(broadcast(latest))
      .where(col("__latest_ts").isNull || col(tsCol) > col("__latest_ts"))
      .drop("__latest_ts")
  }
}
