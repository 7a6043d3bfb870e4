package graft.sources

import graft.operators.Incremental
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Output — the Spark-native replacement for the reference's
  * to_sql(if_exists="append") + S3 CSV uploads (main.py, ticker tables;
  * functions.py initialize_table). Parquet partitioned by day is the
  * at-scale equivalent of the reference's date-keyed SQL tables: partition
  * pruning serves the date-range reads, append is atomic per partition.
  */
object Sinks {

  /** Day-partitioned columnar append. `format` is any columnar source
    * Spark bundles ("parquet" default, "orc" for ORC-standardized lakes)
    * — partition pruning and predicate pushdown work identically
    * (SourcesSpec asserts the ORC scan's PushedFilters).
    */
  def writeByDay(df: DataFrame, path: String, tsCol: String,
                 format: String = "parquet"): Unit =
    df.withColumn("day", to_date(col(tsCol)))
      .write.mode(SaveMode.Append).partitionBy("day").format(format).save(path)

  /** Land a [[Sources.readJsonlCorpus]]-style frame as clean parquet plus
    * a quarantine: rows whose `corruptCol` is null go to `cleanPath`
    * (without the audit column), the rest keep the raw malformed line and
    * land under `rejectPath` — ingest never silently drops data, and the
    * reject side stays re-parseable once the producer is fixed. ONE scan
    * of the source: the split is two filtered writes over the same parsed
    * frame, so persist `df` first when the input is a raw JSON scan (also
    * required by Spark's corrupt-column-projection rule). Returns
    * (clean, rejected) row counts for THIS call — counted from the
    * metadata of the files this call's two write jobs committed, so a
    * second append (or pre-existing data in the paths) never inflates the
    * ledger with cumulative path totals.
    */
  def writeWithRejects(df: DataFrame, cleanPath: String, rejectPath: String,
                       corruptCol: String = "__corrupt"): (Long, Long) = {
    val clean = df.where(col(corruptCol).isNull).drop(corruptCol)
    val bad = df.where(col(corruptCol).isNotNull)
      .select(col(corruptCol).as("raw_line"))
    (writeCounting(clean, cleanPath), writeCounting(bad, rejectPath))
  }

  /** Append `df` to `path` and return the number of rows THIS write
    * landed. The count rides on the write itself via `observe` (a
    * CollectMetrics node — retry-safe, codegen-transparent, no second
    * pass, no path re-read), so it is a per-call delta even when the path
    * already holds data.
    */
  private def writeCounting(df: DataFrame, path: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Append).parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  private def spark(df: DataFrame): SparkSession = df.sparkSession

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

  /** Streaming restatement into a quote-store catalog table
    * ([[graft.sources.v2.QuoteStoreCatalog]]): each micro-batch's rows
    * REPLACE the day partitions they touch (dynamic partition overwrite —
    * `restateDays` semantics, continuously). The always-on shape of the
    * reference's daily re-pull loop: a late correction feed lands and the
    * served table converges to the corrected day instead of accumulating
    * both versions. foreachBatch replays converge because dynamic
    * overwrite of identical batch content is idempotent; two batches
    * carrying the same day resolve to the LATEST batch (the restatement
    * contract: the newest pull of a day wins whole).
    */
  def restateDaysStream(stream: DataFrame, table: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) batch.writeTo(table).overwritePartitions()
    }

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

  /** Z-ORDERED layout writer: cluster the output files on the interleaved
    * bit pattern of TWO keys so parquet row-group/file min-max stats prune
    * selective predicates on EITHER dimension — the table-format
    * OPTIMIZE ZORDER effect with nothing but a range repartition and a
    * within-partition sort. A single-key sort gives perfect pruning on
    * that key and none on the second; the z-curve trades a little of the
    * first dimension's locality for pruning on both.
    *
    * Keys are min-max normalized to 16-bit grid cells via a ONE-ROW
    * broadcast stats frame (no global sort, no single-partition window;
    * repartitionByRange samples the z-value — fully distributed).
    * Monotone normalization preserves each dimension's order, which is
    * all min-max pruning needs; heavy skew in a key costs z-resolution
    * on that key, not correctness.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int = 32): Unit = {
    // a non-numeric key would cast to NULL in the grid below and
    // greatest() would swallow it into cell 0 — a silently UNordered
    // write that still reports success; fail loudly instead
    Seq(colA, colB).foreach { c =>
      require(df.schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"writeZOrdered key '$c' must be numeric " +
          s"(got ${df.schema(c).dataType.simpleString}) — a non-numeric key " +
          "grid-cells to a constant and the layout silently loses all " +
          "clustering on that dimension")
    }
    val stats = broadcast(df.agg(
      min(col(colA)).cast("double").as("__amin"),
      max(col(colA)).cast("double").as("__amax"),
      min(col(colB)).cast("double").as("__bmin"),
      max(col(colB)).cast("double").as("__bmax")))
    def cell(c: String, lo: Column, hi: Column): Column =
      least(lit(65535L), greatest(lit(0L),
        floor((col(c).cast("double") - lo) / nullif(hi - lo, lit(0.0))
          * 65536.0).cast("long")))
    val a = cell(colA, col("__amin"), col("__amax"))
    val b = cell(colB, col("__bmin"), col("__bmax"))
    val z = (0 until 16).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    df.crossJoin(stats)
      .withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__amin", "__amax", "__bmin", "__bmax")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
