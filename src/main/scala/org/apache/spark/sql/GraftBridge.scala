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

  /** Reset the context's checkpoint directory (SparkContext exposes set but
    * no unset). Lets a spec exercise the reliable-checkpoint mode of
    * graft.Graft.materialize and then restore local-checkpoint behavior
    * for the suites that follow in the shared test session.
    */
  def clearCheckpointDir(spark: SparkSession): Unit =
    spark.sparkContext.checkpointDir = None
}
