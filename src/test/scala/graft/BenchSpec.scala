package graft

import org.apache.spark.sql.functions._

/** The bench's failure contract (round-6 lesson: for a whole round, 48
  * analysis-failing queries reported their time-to-throw as query times
  * and the process exited 0). A forced failure must surface in the
  * artifact, stay out of every total, and poison the exit path; and the
  * timed action computes the whole result, so a failure in a column a
  * count would prune still surfaces.
  */
class BenchSpec extends SparkSpec {

  test("a failing query is recorded, excluded from totals, and marks the run failed") {
    val queries = Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "q_ok" -> ((s, _) => s.range(10).toDF("n")),
      "q_boom" -> ((s, _) => s.range(1).toDF("n")
        .select((col("n") + lit("x").cast("map<int,int>")).as("broken"))))
    val out = Bench.run(spark, queries, sfDir, iters = 2)
    assert(out.errors.keySet === Set("q_boom"))
    assert(out.results.keySet === Set("q_ok"))
    assert(out.total === out.results("q_ok"))
    val headline = out.headline(sfDir)
    assert(headline.contains(""""n_failed":1"""))
    assert(headline.contains(""""q_boom":""") && headline.contains("failed"))
    assert(!out.samplesJson.contains("q_boom"))
  }

  test("an all-green run reports zero failures and sums every query") {
    val queries = Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "q_a" -> ((s, _) => s.range(5).toDF("n")),
      "q_b" -> ((s, _) => s.range(7).toDF("n")))
    val out = Bench.run(spark, queries, sfDir, iters = 1)
    assert(out.errors.isEmpty)
    assert(out.results.keySet === Set("q_a", "q_b"))
    assert(math.abs(out.total - (out.results("q_a") + out.results("q_b"))) < 1e-9)
    assert(out.headline(sfDir).contains(""""n_failed":0"""))
  }

  test("the timed action computes every column: a failing one is a failure") {
    // a count() never computes `bad`: Catalyst prunes the column it does not need
    def query(s: org.apache.spark.sql.SparkSession) = s.range(3).toDF("n")
      .select(col("n"), raise_error(concat(lit("boom "), col("n").cast("string"))).as("bad"))
    assert(query(spark).count() === 3L)
    val out = Bench.run(spark, Map("q_unused_col" -> ((s, _) => query(s))), sfDir, iters = 1)
    assert(out.errors.keySet === Set("q_unused_col"))
    assert(out.results.isEmpty)
  }

  test("error messages with control characters still produce strictly valid JSON") {
    // an exception message carrying a tab/CR (here: via the error text the
    // artifact embeds) must be \u-escaped, not passed through raw
    val out = Bench.Outcome(Seq("q_bad"), Map.empty,
      Map("q_bad" -> "boom\tcol\rrest\u0001x"), Seq(Map("q_bad" -> Double.NaN)))
    val headline = out.headline(sfDir)
    assert(!headline.exists(_ < ' '), headline)
    assert(headline.contains("\\u0009") && headline.contains("\\u000d") &&
      headline.contains("\\u0001"), headline)
  }
}
