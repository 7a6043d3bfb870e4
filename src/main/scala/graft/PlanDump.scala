package graft

/** Print formatted physical plans (and exchange counts) for the headline
  * queries — the local loop for "is this the plan I'd want at 100 TB".
  * Usage: runMain graft.PlanDump [queryName ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Graft.localSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString()
      val exchanges = "Exchange".r.findAllIn(plan).length
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
      val smj = "SortMergeJoin".r.findAllIn(plan).length
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      // codegen stages render as "*(n) Op" in executedPlan.toString
      val wsc = "\\*\\(\\d+\\)".r.findAllIn(plan).toSet.size
      println(s"== $name: exchanges=$exchanges bhj=$bhj smj=$smj bnlj=$bnlj codegenSpans=$wsc")
      if (args.nonEmpty) df.explain("formatted")
    }
    spark.stop()
  }
}
