package graftbench

import java.io.File
import scala.collection.mutable
import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload needs while it runs: the session, its scratch area,
  * the tracing hooks, and the reference checksums it must reproduce.
  */
final class Ctx(val spark: SparkSession, val work: File, val tracing: Tracing,
                val cores: Int, val seed: Long, refs: Refs) {
  def tracer: Tracer = tracing.tracer

  /** AQE-final plan counts of every checked action, per op. */
  val plans = mutable.Map[Int, PlanCounts]().withDefaultValue(PlanCounts.zero)

  /** Checksums observed in this run, by check name (for determinism
    * checks where no stored reference applies, and for recording).
    */
  val seen = mutable.LinkedHashMap[String, String]()

  def dir(name: String): String = new File(work, name).getAbsolutePath

  def build(key: String, dataDir: String): DataFrame =
    tracer.span("registry.build")(SparkEntry.queries(key)(spark, dataDir))

  /** Materialize `df` in full and return its checksum: plan first (timed
    * on its own), then run the same QueryExecution.
    */
  def materialize(df: DataFrame): Checksum = {
    val cdf = Checksum.frame(df)
    tracer.span("plan")(cdf.queryExecution.executedPlan)
    val row = tracer.span("action")(cdf.collect().head)
    if (tracer.enabled) plans(tracer.op) = plans(tracer.op) + PlanCounts.of(cdf.queryExecution.executedPlan)
    Checksum.fromRow(row)
  }

  def runKey(key: String, dataDir: String): Checksum = {
    val t0 = System.nanoTime()
    val c = materialize(build(key, dataDir))
    Main.log(f"  $key%-24s ${(System.nanoTime() - t0) / 1e9}%.3f s $c")
    c
  }

  /** Warm every key over `dataDir` side by side (untraced, unchecked). */
  def warm(keys: Seq[String], dataDir: String): Unit =
    Par.run(keys.map(k => () => Checksum.of(SparkEntry.queries(k)(spark, dataDir))))

  /** Compare `got` with the stored reference for `name`, else with the
    * first value this run saw under `name`. Returns a mismatch message.
    */
  def check(workload: String, name: String, got: Checksum): Option[String] = {
    val want = refs.lookup(workload, seed, name).orElse(seen.get(name))
    seen.getOrElseUpdate(name, got.toString)
    want.filter(_ != got.toString).map(w => s"$name: checksum $got, expected $w")
  }
}

/** Reference checksums, `perfbench/ref/checksums.json`:
  * `{workload: {seed or "*": {check name: "rows:hashsum"}}}`. A "*" entry
  * applies to every seed (the workload's data does not depend on it).
  */
final class Refs(m: Map[String, Map[String, Map[String, String]]]) {
  def lookup(workload: String, seed: Long, name: String): Option[String] =
    m.get(workload).flatMap(w => w.get(seed.toString).flatMap(_.get(name))
      .orElse(w.get("*").flatMap(_.get(name))))
}

object Refs {
  val empty = new Refs(Map.empty)

  def load(f: File): Refs =
    if (!f.exists()) empty
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(f)
      import scala.jdk.CollectionConverters._
      def obj(n: com.fasterxml.jackson.databind.JsonNode) = n.fields().asScala.map(e => e.getKey -> e.getValue).toMap
      new Refs(obj(root).map { case (w, byseed) =>
        w -> obj(byseed).map { case (s, checks) => s -> obj(checks).map { case (k, v) => k -> v.asText() } }
      })
    }
}
