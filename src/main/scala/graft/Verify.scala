package graft
import java.nio.file.{Files, Paths}
import graft.Bench.jsonStr
import graft.registry.{Oracle, QuerySpec, Registry}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus each registry key's oracle SQL in oracle_sql.json, for the
  * driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated key filter — local dev only;
    // the driver always calls with two args = full surface]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Graft.localSession()
    new java.io.File(outDir).mkdirs()
    // A query that fails here produces NO parquet and therefore NO row in
    // the driver's correctness compare (round 6: 48 silently-missing
    // rows). Keep going — one broken key must not zero the round — but
    // leave a machine-readable trace beside the outputs.
    val errors = scala.collection.mutable.Map[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = Bench.failure(e)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = Registry.specs
      .collect { case QuerySpec(k, _, Oracle(sql)) => s"${jsonStr(k)}: ${jsonStr(sql)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, m) => s"${jsonStr(k)}: ${jsonStr(m)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
