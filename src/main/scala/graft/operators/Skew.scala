package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew mitigation. AQE's skew-join handling (on by default) is the first
  * line of defense; these helpers are for the cases it doesn't reach —
  * broadcast-ineligible dimension joins against pathologically hot keys,
  * and aggregations whose single hot key saturates one reducer.
  */
object Skew {

  /** Salted equi-join of a skewed fact table against a dimension: the fact
    * side gets a deterministic per-row salt in [0, salts); the dimension is
    * replicated `salts` times; the join key becomes (key, salt). A hot fact
    * key now spreads over `salts` reducers at the cost of a `salts`×
    * dimension replication — the classic trade when the dimension is too
    * big to broadcast but far smaller than the fact.
    *
    * Row-deterministic salt (hash of the whole fact row, not rand()):
    * re-runs and retried tasks produce identical placement.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn(
      "__salt", pmod(xxhash64(struct(fact.columns.map(col).toIndexedSeq: _*)), lit(salts)))
    val saltedDim = dim
      .withColumn("__salt", explode(array((0 until salts).map(s => lit(s.toLong)): _*)))
    saltedFact
      .join(saltedDim, Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Two-stage bucketed running sum — the skew fallback for RAW per-entity
    * windows over un-pre-aggregated streams (SURVEY §5's residual
    * exposure). The window is split on a time bucket that is a MONOTONE
    * function of the order column (default: the calendar day of `tsCol`),
    * so prefix semantics survive the split:
    *
    *  stage 1 — the data-sized window runs per (key, bucket): a hot key's
    *    rows now spread over its buckets instead of serializing one task;
    *  stage 2 — per-(key, bucket) totals (a partial-combined aggregate,
    *    bucket-count rows per key) get a prefix sum over buckets — a
    *    window whose partitions are bucket-counts, never row-counts;
    *  merge — offsets join back on (key, bucket), which stage 1's output
    *    is ALREADY hash-partitioned by, so the data-sized side does not
    *    re-shuffle; running = in-bucket partial + prior-bucket offset.
    *
    * Ties are safe: equal timestamps share a bucket (bucket is a function
    * of ts), and within a bucket the default RANGE frame gives tied rows
    * the same cumulative value, exactly like the plain window.
    */
  def runningSumBucketed(df: DataFrame, key: String, tsCol: String, valueCol: String,
                         outCol: String = "running",
                         bucket: Column => Column = to_date(_)): DataFrame = {
    val b = df.withColumn("__b", bucket(col(tsCol)))
    val partial = b.withColumn("__part",
      sum(col(valueCol)).over(
        Window.partitionBy(col(key), col("__b")).orderBy(col(tsCol))))
    val offsets = b.groupBy(col(key), col("__b"))
      .agg(sum(col(valueCol)).as("__tot"))
      .withColumn("__off", sum(col("__tot")).over(
        Window.partitionBy(col(key)).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col(key), col("__b"), col("__off"))
    partial.join(offsets, Seq(key, "__b"))
      .withColumn(outCol, col("__part") + coalesce(col("__off"), lit(0)))
      .drop("__b", "__part", "__off")
  }
}
