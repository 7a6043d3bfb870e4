package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent checksum of a whole result: the row count plus the
  * exact (decimal) sum of one 64-bit hash per row over every output
  * column. Hashing every column keeps Catalyst from pruning any of the
  * query's work, unlike `.count()`, and the sum does not depend on
  * partitioning or row order.
  */
final case class Checksum(rows: Long, hashSum: java.math.BigDecimal) {
  override def toString: String = s"$rows:${hashSum.toPlainString}"
}

object Checksum {

  private def hashable(df: DataFrame, name: String): Column = {
    val c = df.col(s"`$name`")
    df.schema(name).dataType match {
      // maps are not hashable; their sorted entries are
      case _: MapType => array_sort(map_entries(c))
      case _ => c
    }
  }

  /** One-row frame (rows, hash_sum) whose action materializes `df`.
    * Columns are hashed in name order, so the checksum does not depend on
    * column order either (an append may land columns in another order).
    */
  def frame(df: DataFrame): DataFrame = {
    val h = if (df.columns.isEmpty) lit(0L) else xxhash64(df.columns.toSeq.sorted.map(hashable(df, _)): _*)
    df.select(h.as("__h"))
      .agg(count(lit(1)).as("rows"), sum(col("__h").cast("decimal(38,0)")).as("hash_sum"))
  }

  def fromRow(r: Row): Checksum =
    Checksum(r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))

  def of(df: DataFrame): Checksum = fromRow(frame(df).collect().head)
}
