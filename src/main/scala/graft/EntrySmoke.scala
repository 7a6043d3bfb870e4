package graft

/** Local mirror of the driver's t1 smoke: run SparkEntry.entry and print the
  * row count and physical plan.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Graft.localSession()
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5)
    df.explain("formatted")
    spark.stop()
  }
}
