package graft.sources

import graft.StateCache
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

/** Ingestion — the Spark-native replacement for the reference's IO layer
  * (pandas read_csv of S3 downloads, xlsx holdings sheets, yfinance pulls:
  * stock_data_pipeline/functions.py:76-92 get_s3_table, sector.py:156-173
  * create_sector_shares_dataframe, main.py's per-ticker loop).
  *
  * Cloud object stores mount as filesystems here (s3a:// paths work
  * unchanged); schema normalization is the reference's lowercase/underscore
  * convention.
  */
object Sources {

  /** One read of a parquet path's file set: the listing and the inferred
    * schema, paid once. `df` hands out a fresh instance of the same
    * relation per call (new attribute ids, no listing, no schema job), so
    * two reads of one snapshot still self-join like two independent reads.
    * When the file set strictly extends the previous snapshot's, `base` is
    * that snapshot's source and `added` the data files it gained.
    */
  final class Snapshot private[sources] (
      val source: StateCache.Source,
      relation: DataFrame,
      private[sources] val files: Map[String, (Long, Long)],
      val base: Option[StateCache.Source] = None,
      val added: Seq[String] = Nil) {
    def df: DataFrame = GraftBridge.newInstance(relation)

    /** The relation every [[df]] instance reads. */
    private[sources] val scanned: Option[BaseRelation] =
      relation.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }

    /** The rows of the [[added]] files alone, read under this snapshot's
      * schema: no schema-inference job, and no older file is opened.
      */
    def addedRows: DataFrame = relation.sparkSession.read.schema(relation.schema)
      .option("basePath", source.path).parquet(added: _*)
  }

  /** The parquet table at `path` as it is now: one [[Snapshot]] per
    * (session, path, file set), held by [[StateCache]]. The data files are
    * listed again on every call — path, length and modification time of
    * every file under the path whose name starts with neither `_` nor `.`,
    * the files Spark itself reads — and a read whose listing matches the
    * last one reuses it. A missing path reads (and fails) the way
    * `spark.read.parquet` does.
    *
    * A changed listing invalidates the path, freeing every entry derived
    * from the old file set, and reads the path anew, with one exception:
    * a STRICT EXTENSION, where every old data file keeps its path, length
    * and mtime and only new files appear (an append; the `_SUCCESS` and
    * `.crc` files each append rewrites are not data). If each new file's
    * footer, read on the driver, carries the old data schema's fields (in
    * any order), the new snapshot reads the path under the old schema (no
    * inference job), and the old snapshot's FRAME entries stay alive so a
    * derived frame can be merged forward from them (`DailySummary`); they
    * go once that frame is built, or at the next change of the listing.
    * Any other change — an in-place rewrite, a delete, a new schema —
    * rebuilds from scratch.
    */
  def parquetSnapshot(spark: SparkSession, path: String): Snapshot = {
    val listed = dataFiles(spark, path)
    val files = listed.map(f => f.getPath.toString -> (f.getLen, f.getModificationTime)).toMap
    val source = StateCache.Source(path, digest(listed))
    def snapshot(read: => Snapshot) = StateCache.value(spark, (spark, path), Set(source))(read)
    val last = snapshot(new Snapshot(source, spark.read.parquet(path), files))
    if (last.source == source) last
    else {
      val added = listed.filterNot(f => last.files.contains(f.getPath.toString))
      if (added.nonEmpty && last.files.forall { case (p, stamp) => files.get(p).contains(stamp) } &&
          carrySchema(spark, added, last.df)) {
        StateCache.invalidate(spark, path, keepFramesOf = Some(last.source))
        snapshot(new Snapshot(source, spark.read.schema(last.df.schema).parquet(path), files,
          Some(last.source), added.map(_.getPath.toString)))
      } else {
        StateCache.invalidate(spark, path)
        snapshot(new Snapshot(source, spark.read.parquet(path), files))
      }
    }
  }

  /** Whether each file's footer, read on the driver, carries the fields
    * of `df`'s data schema. In any order: parquet resolves columns by name.
    */
  private def carrySchema(spark: SparkSession, files: Seq[org.apache.hadoop.fs.FileStatus],
                          df: DataFrame): Boolean = {
    def byName(schema: StructType) = schema.fields.toSeq.sortBy(_.name)
    GraftBridge.dataSchema(df).map(byName).exists(data => files.forall(f =>
      scala.util.Try(byName(GraftBridge.parquetSchema(spark, f))).toOption.contains(data)))
  }

  /** The table snapshots `plan` reads, when it reads nothing else: the
    * plan is deterministic and every leaf (subqueries' too) is the relation
    * [[parquetSnapshot]] last handed out for its path, which still lists
    * that file set. None for any other plan — a checkpoint, a literal
    * frame, a direct `spark.read`, or a snapshot its path has moved past.
    * A state derived from such a plan can be kept as long as the returned
    * sources ([[StateCache.value]]).
    */
  private[graft] def snapshotSources(spark: SparkSession, plan: LogicalPlan)
      : Option[Set[StateCache.Source]] = {
    val leaves = plan.collectWithSubqueries { case l: LeafNode => l }
    lazy val current = StateCache.built(spark).collect { case (s: Snapshot, _) => s }
    val read = leaves.map {
      // by identity: an older snapshot's relation over the same path is equal
      case l: LogicalRelation => current.find(_.scanned.exists(_ eq l.relation))
      case _ => None
    }
    if (!plan.deterministic || read.isEmpty || read.contains(None)) None
    else Some(read.flatten.map(_.source).toSet)
      .filter(_.forall(s => fingerprint(spark, s.path) == s.fingerprint))
  }

  /** [[parquetSnapshot]]'s frame — the one parquet table reader. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    parquetSnapshot(spark, path).df

  /** Digest of the data files under `path` (name, length, mtime); empty
    * for a missing path.
    */
  private[graft] def fingerprint(spark: SparkSession, path: String): String =
    digest(dataFiles(spark, path))

  /** Every data file under `path`: names starting with `_` (unless a
    * `k=v` partition directory) or `.` are skipped, as Spark's own listing
    * skips them. Walks `listStatus`, not `listFiles`: each of listFiles'
    * LocatedFileStatus reads the file's permissions, which on the local
    * file system without native Hadoop forks one `ls -ld` per file
    * (Spark's HadoopFSUtils avoids it for the same reason).
    */
  private def dataFiles(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.filter(f => isData(f.getPath.getName))
        .flatMap(f => if (f.isDirectory) walk(f.getPath) else Seq(f))
    try walk(root) catch { case _: java.io.FileNotFoundException => Nil }
  }

  private def isData(name: String): Boolean =
    !name.startsWith(".") && !(name.startsWith("_") && !name.contains("="))

  private[graft] def digest(files: Seq[org.apache.hadoop.fs.FileStatus]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.filter(f => isData(f.getPath.getName))
      .map(f => s"${f.getPath.toUri.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}")
      .sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Reference column-name normalization: lowercase, spaces → underscores
    * (main.py `[column.lower() for column in ...]`,
    * sector.py `column.lower().replace(" ", "_")`).
    */
  def normalizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase.replace(" ", "_")).toIndexedSeq: _*)

  /** CSV with headers and an explicit schema. Schema-on-read with a declared
    * schema (not inferSchema) — inference is a full extra pass over the data,
    * unacceptable at scale and nondeterministic across files.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    normalizeColumns(
      spark.read.option("header", "true").schema(schema).csv(path))

  /** CSV with inference, for small config-style tables only (the reference's
    * sector list / shares CSVs). Deliberately separate so the scalable path
    * never silently infers.
    */
  def readCsvSmall(spark: SparkSession, path: String): DataFrame =
    normalizeColumns(
      spark.read.option("header", "true").option("inferSchema", "true").csv(path))

  /** Holdings table ingestion — the create_sector_shares_dataframe cleanup
    * (sector.py:156-173) on a (ticker, weight, shares_held) source: drop the
    * placeholder '-' rows, nulls and tickers containing '6' (the reference's
    * data-quality rules), normalize symbols, scale weight to a fraction.
    */
  def cleanHoldings(raw: DataFrame): DataFrame =
    normalizeColumns(raw)
      .where(col("ticker").isNotNull && col("ticker") =!= "-"
        && !col("ticker").contains("6"))
      .withColumn("ticker", lower(regexp_replace(col("ticker"), "\\.", "_")))
      .withColumn("weight", col("weight") / 100)

  /** The pivoted holdings snapshot — create_sector_shares_dataframe's
    * output shape (sector.py:156-173): ONE row per ingestion date with a
    * `<ticker>_shares` AND a `<ticker>_weight` column per holding (the
    * reference keeps the weight fraction alongside shares in the wide
    * table). Declared-vocabulary conditional aggregation: single pass, one
    * exchange on the date key.
    */
  def holdingsWide(clean: DataFrame, asOfDate: String, tickers: Seq[String]): DataFrame = {
    val aggs = tickers.flatMap { t =>
      Seq(
        max(when(col("ticker") === t, col("shares_held")))
          .as(s"${t}_shares"),
        max(when(col("ticker") === t, col("weight")))
          .as(s"${t}_weight"))
    }
    clean
      .groupBy(lit(asOfDate).cast("date").as("date"))
      .agg(aggs.head, aggs.tail: _*)
  }

}
