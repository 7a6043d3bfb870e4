package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SparkHarnessSpec extends AnyFunSuite {

  test("checksums ignore row order, partitioning and column order, and see every value") {
    val dir = new File(".bench_work/test-checksum").getAbsoluteFile
    val spark = Main.session(new File(dir, "local"), new File(dir, "wh"))
    try {
      import spark.implicits._
      val a = Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "z", Double.NaN)).toDF("id", "s", "v")
      val b = a.orderBy($"id".desc).repartition(3).select("v", "id", "s")
      assert(Checksum.of(a) == Checksum.of(b))
      assert(Checksum.of(a).rows == 3)
      val c = a.withColumn("s", org.apache.spark.sql.functions.when($"id" === 2, "Y").otherwise($"s"))
      assert(Checksum.of(a) != Checksum.of(c))
      val m = a.select($"id", org.apache.spark.sql.functions.map($"s", $"v").as("m"))
      assert(Checksum.of(m).rows == 3)
    } finally {
      spark.stop()
      Files.delete(dir)
    }
  }

  /** Per-op ledger lines of the last traced run, as field maps. */
  private def ledger(workload: String, seed: Long): Seq[Map[String, String]] = {
    val f = new File(Main.OutDir, s"$workload-seed$seed-trace1-ledger.jsonl")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    val src = scala.io.Source.fromFile(f)
    try src.getLines().filter(_.nonEmpty).map { l =>
      mapper.readTree(l).fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.toList
    finally src.close()
  }

  test("jobs, stages, tasks, shuffle bytes and plan counters repeat across traced runs of one seed") {
    // the mix's fixed passes: every key once per pass
    def run(): Seq[Map[String, String]] = {
      assert(Main.run(Main.parse(Seq("--workload", "analyst_mix", "--seed", "3",
        "--seconds", "0", "--trace", "1"))) == 0)
      ledger("analyst_mix", 3)
    }
    val a = run()
    val b = run()
    val ops = new AnalystMix(3).round
    assert(a.size == ops && b.size == ops)
    val exact = Seq("label", "sched.jobs", "sched.stages", "sched.tasks", "registry.eager_jobs",
      "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes", "plan.exchanges",
      "plan.broadcast_joins", "plan.sort_merge_joins", "plan.scans", "plan.windows",
      "sources.scan_records")
    a.zip(b).foreach { case (x, y) =>
      exact.foreach(k => assert(x(k) == y(k), s"${x("label")} $k: ${x(k)} vs ${y(k)}"))
    }
    assert(a.exists(_("sched.jobs").toDouble > 0))
    assert(a.exists(_("plan.exchanges").toDouble > 0))
  }
}
