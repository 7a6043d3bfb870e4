package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: each left row picks up the most recent right-side values with
  * `right.ts <= left.ts` for the same key — how the reference aligns sparse
  * share-snapshot dates with dense daily price dates
  * (stock_data_pipeline/sector.py:86-112 joins on exact date only because its
  * snapshots are daily; at-or-before is the general semantics).
  *
  * Implementation is union + running `last(ignoreNulls)` window rather than a
  * range join: both sides shuffle ONCE on the key and are sorted once, giving
  * O(n log n) per partition with no per-row range probe and no candidate-pair
  * blowup — the shape that survives a 100× scale-up. Ties (equal ts) order
  * the right row first, so same-instant snapshots are visible.
  *
  * `rightVals` must not collide with left column names.
  */
object AsOfJoin {
  def asOf(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      rightVals: Seq[String]): DataFrame =
    asOfMany(left, Seq(right -> rightVals), key, tsCol)

  /** Multi-table as-of: align the left frame with ANY number of sparse
    * snapshot tables in a single union + single window pass — the
    * reference's sector-price calculation joins three date-keyed tables
    * (price history ⋈ share snapshots ⋈ shares outstanding,
    * sector.py:86-112); this does all alignments with exactly one shuffle
    * total, where chained range/equi joins would shuffle once per table.
    *
    * All value column names (across all rights and the left) must be
    * distinct.
    */
  def asOfMany(
      left: DataFrame,
      rights: Seq[(DataFrame, Seq[String])],
      key: String,
      tsCol: String): DataFrame = {
    val l = left.withColumn("__side", lit(1))
    val u = rights.foldLeft(l) { case (acc, (right, vals)) =>
      acc.unionByName(
        right.select((key +: tsCol +: vals).map(col): _*).withColumn("__side", lit(0)),
        allowMissingColumns = true)
    }
    val w = Window
      .partitionBy(col(key))
      .orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allVals = rights.flatMap(_._2)
    val filled = allVals.foldLeft(u) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.where(col("__side") === 1).drop("__side")
  }

  /** FORWARD as-of: each left row picks up the EARLIEST right-side values
    * with `right.ts >= left.ts` — the attribution direction (next purchase
    * after a click, next fill after an order). Same single-shuffle
    * union+window shape as [[asOf]], mirrored: the frame looks forward and
    * `first(ignoreNulls)` replaces the running last. Ties (equal ts) order
    * the right row after the left inside the frame, so a same-instant
    * event is visible, symmetric with the backward join's tie rule.
    */
  def asOfForward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      rightVals: Seq[String]): DataFrame = {
    val l = left.withColumn("__side", lit(1))
    val u = l.unionByName(
      right.select((key +: tsCol +: rightVals).map(col): _*).withColumn("__side", lit(0)),
      allowMissingColumns = true)
    val w = Window
      .partitionBy(col(key))
      .orderBy(col(tsCol), col("__side").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = rightVals.foldLeft(u) { (df, c) =>
      df.withColumn(c, first(col(c), ignoreNulls = true).over(w))
    }
    filled.where(col("__side") === 1).drop("__side")
  }

  /** NEAREST as-of: each left row takes the right-side value whose
    * timestamp is closest in either direction, ties to the at-or-before
    * side — sensor/series alignment semantics, where "latest before" is
    * wrong for a reading that arrived just after. Composes the backward
    * and forward passes (each carrying its matched timestamp) and picks
    * per row by absolute distance.
    */
  def asOfNearest(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      valueCol: String,
      outCol: String): DataFrame = {
    def us(c: Column): Column = unix_micros(c.cast("timestamp"))
    val back = right.select(col(key), col(tsCol),
      col(valueCol).as("__bv"), col(tsCol).as("__bt"))
    val fwd = right.select(col(key), col(tsCol),
      col(valueCol).as("__fv"), col(tsCol).as("__ft"))
    asOfForward(
      asOf(left, back, key, tsCol, Seq("__bv", "__bt")),
      fwd, key, tsCol, Seq("__fv", "__ft"))
      .withColumn(outCol,
        when(col("__bt").isNull, col("__fv"))
          .when(col("__ft").isNull, col("__bv"))
          .when(us(col(tsCol)) - us(col("__bt")) <= us(col("__ft")) - us(col(tsCol)),
            col("__bv"))
          .otherwise(col("__fv")))
      .drop("__bv", "__bt", "__fv", "__ft")
  }

  /** TTL as-of — the feature-store point-in-time join: each fact takes the
    * latest dim at-or-before it ONLY IF that dim is no older than `ttlSec`;
    * a staler match is as good as no match (features expire — serving a
    * week-old price as "current" is a correctness bug, not a best effort).
    * Same single-shuffle union+window pass as [[asOf]], carrying the
    * matched timestamp so staleness is decided per row afterwards.
    */
  def asOfTtl(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      valueCol: String,
      outCol: String,
      ttlSec: Long): DataFrame = {
    val back = right.select(col(key), col(tsCol),
      col(valueCol).as("__v"), col(tsCol).as("__t"))
    asOf(left, back, key, tsCol, Seq("__v", "__t"))
      .withColumn(outCol,
        when(unix_micros(col(tsCol).cast("timestamp"))
          - unix_micros(col("__t").cast("timestamp")) <= ttlSec * 1000000L, col("__v")))
      .drop("__v", "__t")
  }

  /** Broadcast as-of: when the right side is dimension-sized (the
    * reference's share snapshots — thousands of rows), the union+window
    * path still shuffles the FACT table on the key. Here the dim packs
    * into one sorted (t, v) timeline array per key, broadcasts, and each
    * fact row binary-searches its at-or-before value map-side
    * (SortedAsOfLookup) — the fact side is never shuffled or sorted at
    * all. Timestamps compare as unix micros (NTZ interpreted in the
    * session zone on both sides, so ordering is preserved); `valueCol`
    * must be numeric (cast to double). Ties on t resolve to the largest
    * value, matching sort_array's struct ordering.
    */
  def asOfBroadcast(
      facts: DataFrame,
      dims: DataFrame,
      key: String,
      tsCol: String,
      valueCol: String,
      outCol: String): DataFrame = {
    val packed = dims
      .groupBy(col(key))
      .agg(sort_array(collect_list(struct(
        unix_micros(col(tsCol).cast("timestamp")).as("t"),
        col(valueCol).cast("double").as("v")))).as("__timeline"))
    facts
      .join(broadcast(packed), Seq(key), "left")
      .withColumn(outCol,
        graft.plans.Exprs.asofLookup(col("__timeline"),
          unix_micros(col(tsCol).cast("timestamp"))))
      .drop("__timeline")
  }
}
