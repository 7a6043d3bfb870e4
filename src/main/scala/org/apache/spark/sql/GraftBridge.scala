package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into the `sql`-private Expression ⇄ Column conversions so graft's
  * custom catalyst expressions (graft.plans.*) can be used through the
  * public Column API. Same approach Spark extension libraries use.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Lazy wrapper conversion — fine when the expression feeds a standard
    * Dataset operator (the analyzer finishes the conversion there).
    */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER catalyst conversion. Required when the expression is embedded in
    * a custom LogicalPlan node: the analyzer does not descend into unknown
    * nodes to convert leftover ColumnNodeExpression wrappers, which are not
    * serializable and would blow up at task serialization.
    */
  def catalystExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from a (possibly unresolved) logical plan — runs the full
    * analyzer, so UnresolvedAttribute children resolve against the child.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A fresh instance of a relation-backed DataFrame (a file scan, a
    * checkpoint): the same relation under new attribute ids, so two uses of
    * one shared relation resolve apart in a self-join. Anything else comes
    * back as is.
    */
  def newInstance(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case r: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation =>
      ofRows(df.sparkSession, r.newInstance())
    case _ => df
  }

  /** `checkpointed`, the checkpoint of `origin`, declaring the partitioning
    * its rows really have. `Dataset.checkpoint` copies the executed plan's
    * partitioning onto the LogicalRDD, but under AQE that plan is the
    * adaptive wrapper, which reports none. Once the checkpoint has run the
    * plan, the wrapper's final plan is the one whose RDD was checkpointed:
    * its partitioning, coalesced hash partitioning included, is rewritten
    * onto the LogicalRDD's attributes the way the checkpoint rewrites its
    * statistics, by position, name and type. Only hash, range and single
    * partitionings over the frame's own columns with the RDD's partition
    * count are claimed; anything else keeps the checkpoint's unknown
    * partitioning, since a wrong claim would silently mis-join.
    */
  def withFinalLayout(checkpointed: DataFrame, origin: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
    import org.apache.spark.sql.catalyst.plans.physical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def leaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => leaf(c.partitionings.head)
      case other => other
    }
    (checkpointed.queryExecution.analyzed, origin.queryExecution.executedPlan) match {
      case (lr: LogicalRDD, a: AdaptiveSparkPlanExec) if a.isFinalPlan =>
        val fin = a.executedPlan
        val claim = LogicalRDD.buildOutputAssocForRewrite(fin.output, lr.output).map { m =>
          leaf(fin.outputPartitioning) match {
            case e: Expression => e.transform { case x: Attribute => m.getOrElse(x, x) }
              .asInstanceOf[Partitioning]
            case other => other
          }
        }.filter {
          case p @ (_: HashPartitioningLike | _: RangePartitioning | SinglePartition) =>
            val refs = p match { case e: Expression => e.references; case _ => AttributeSet.empty }
            refs.subsetOf(lr.outputSet) && p.numPartitions == lr.rdd.partitions.length
          case _ => false
        }
        claim.fold(checkpointed) { p =>
          val session = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
          ofRows(session, lr.copy(outputPartitioning = p)(
            session, Some(lr.computeStats()), Some(lr.constraints)))
        }
      case _ => checkpointed
    }
  }

  /** The data schema (partition columns excluded) of a file-source frame. */
  def dataSchema(df: DataFrame): Option[org.apache.spark.sql.types.StructType] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .dataSchema.asNullable
    }

  /** The Spark schema of one parquet file, from its footer, read on the
    * driver: the schema a read of that file alone would infer, without
    * the inference job.
    */
  def parquetSchema(spark: SparkSession, file: org.apache.hadoop.fs.FileStatus)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf))
    try ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, reader.getFooter),
      new ParquetToSparkSchemaConverter(session.sessionState.conf)).asNullable
    finally reader.close()
  }

  /** Free the blocks behind a (local)checkpointed DataFrame, and delete
    * the files of a reliable checkpoint.
    * `Dataset.unpersist` only uncaches CacheManager entries and is a
    * SILENT NO-OP for checkpoint-backed datasets (their persistence lives
    * on the underlying RDD) — iterative loops that materialize a frontier
    * per round must release the superseded round through the RDD handle or
    * executor storage grows by one frontier per iteration. Reliable
    * checkpoints hold no blocks; their `rdd-*` directory is the state, so
    * it goes instead (local checkpoints have none).
    */
  def unpersistCheckpointed(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      case _ =>
    }

  /** RDD ids behind a (local)checkpoint-backed DataFrame — lets the
    * between-queries state reaper distinguish a frame graft.StateCache
    * owns from a finished query's garbage.
    */
  def checkpointRddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }

  /** Whether every checkpoint behind `df` holds its data: an eager
    * checkpoint at once, a lazy one after the first job that read it.
    */
  def isFilled(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.isCheckpointed
    }.forall(identity)
}
