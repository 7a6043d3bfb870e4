package graft

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver testdata layout
  * (`<dir>/<table>.parquet`). Schemas come from the files; column pruning
  * and predicate pushdown are left to Catalyst — callers `select`/`filter`
  * declaratively and the scan narrows itself. Every load goes through
  * [[Sources.parquetSnapshot]], so a table whose files did not change since
  * the last load reuses that load's listing and schema.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.readParquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** `events.ts` has shipped in three physical encodings across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's reader rejects unless
    * `nanosAsLong` maps it to a raw long), TIMESTAMP(MICROS), and a plain
    * int64 of epoch-nanos. Setting the legacy conf is harmless for the
    * non-nanos encodings (it only affects NANOS columns), so it stays on
    * unconditionally; [[graft.SparkEntry]]'s events helper then normalizes
    * whatever dtype actually loaded to TIMESTAMP_NTZ.
    */
  def events(spark: SparkSession, dir: String): DataFrame = eventsSnapshot(spark, dir).df

  /** The events table's current [[Sources.Snapshot]], for frames derived
    * from it that live as long as it does.
    */
  def eventsSnapshot(spark: SparkSession, dir: String): Sources.Snapshot = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Sources.parquetSnapshot(spark, s"$dir/events.parquet")
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")

  /** `embeddings.embedding` is contractually `array<float>` — the compiled
    * kernels (graft_dot, HyperplaneLSH, Int8Quantize, NearestCentroid)
    * type-check on FloatType elements. Defend against the round-6 failure
    * mode (a testdata regeneration changing the physical element type) by
    * branching on the loaded dtype: float passes through untouched, any
    * other numeric element casts per-element at scan speed.
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val df = load(spark, dir, "embeddings")
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case ArrayType(_: NumericType, _) =>
        df.withColumn("embedding", col("embedding").cast("array<float>"))
      case other =>
        throw new IllegalArgumentException(s"unsupported embedding type: $other")
    }
  }
}
