package graft.sources

import graft.operators.Incremental
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Output — the Spark-native replacement for the reference's
  * to_sql(if_exists="append") + S3 CSV uploads (main.py, ticker tables;
  * functions.py initialize_table). Parquet partitioned by day is the
  * at-scale equivalent of the reference's date-keyed SQL tables: partition
  * pruning serves the date-range reads, append is atomic per partition.
  */
object Sinks {

  /** Restatement: overwrite ONLY the day partitions present in `df`,
    * leaving every other day untouched — the correction path append-only
    * sinks can't express (a late upstream fix re-pulls a day; the daily
    * table must converge to the corrected values, not accumulate both).
    * Idempotent: re-running the same restatement converges to the same
    * state. NOT crash-atomic on a plain file sink — the commit protocol
    * deletes a touched partition before renaming the replacement in, so a
    * restatement that dies mid-commit must simply be re-run (which is what
    * the idempotency is for); a table format with a transaction log is the
    * upgrade when that window matters.
    *
    * The overwrite mode rides on the WRITER (takes precedence over the
    * session conf) — mutating the shared session conf here would race
    * with concurrent writers and could flip an unrelated overwrite to
    * static mode, wiping untouched partitions.
    */
  def restateDays(df: DataFrame, path: String, tsCol: String): Unit =
    df.withColumn("day", to_date(col(tsCol)))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(path)

  /** Idempotent incremental append: filter the incoming frame to rows
    * strictly newer than the target's per-key max(ts) (the reference's
    * check_table_append_compatibility + to_sql append), then append. On an
    * empty/absent target, everything is new. The target is read through
    * [[Sources.parquetSnapshot]]: an unchanged target reuses its last
    * listing and schema, and the first read after the append lists the new
    * file set.
    *
    * The watermark comes from the target's live [[DailySummary]] when
    * there is one (`max(last_ts)` per `user_id`, see
    * [[DailySummary.watermark]]): no scan of the store. Without one, it is
    * the per-key max over a scan of the target, as before.
    */
  def appendNewerThan(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      key: String,
      tsCol: String): Unit = {
    val fresh =
      try {
        val snap = Sources.parquetSnapshot(spark, path)
        val latest = DailySummary.watermark(spark, snap, key, tsCol)
          .getOrElse(Incremental.latest(snap.df, key, tsCol))
        Incremental.newerThan(latest, incoming, key, tsCol)
      } catch {
        // only "target doesn't exist yet" means first write — anything else
        // (corrupt files, permissions) must surface
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.toLowerCase.contains("path does not exist") =>
          incoming
      }
    fresh.write.mode(SaveMode.Append).parquet(path)
  }
}
