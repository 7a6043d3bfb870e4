package org.apache.spark.sql

/** Spark internals the specs reach that the library itself does not. */
object SpecBridge {

  /** Reset the context's checkpoint directory (SparkContext exposes set but
    * no unset). Lets a spec exercise the reliable-checkpoint mode of
    * graft.Graft.materialize and then restore local-checkpoint behavior
    * for the suites that follow in the shared test session.
    */
  def clearCheckpointDir(spark: SparkSession): Unit =
    spark.sparkContext.checkpointDir = None
}
