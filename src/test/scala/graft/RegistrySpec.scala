package graft

import java.nio.file.{Files, Paths}

import graft.registry.{Oracle, QuerySpec, Registry, RowsOnly}
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: each key declared once, with its check, and the
  * hand-kept copies of the key set (SparkEntry.queries, SURVEY.md §2) in
  * step with it.
  */
class RegistrySpec extends AnyFunSuite {

  private val names = Registry.specs.map(_.name)

  test("the registry holds 227 unique keys: 195 oracle-checked, 32 rows-only with a reason") {
    assert(names.size === 227)
    assert(names.distinct.size === names.size)
    val oracles = Registry.specs.collect { case QuerySpec(_, _, Oracle(sql)) => sql }
    val reasons = Registry.specs.collect { case QuerySpec(_, _, RowsOnly(r)) => r }
    assert(oracles.size === 195)
    assert(reasons.size === 32)
    assert(oracles.forall(_.trim.nonEmpty))
    assert(reasons.forall(_.trim.nonEmpty))
  }

  test("a key declared twice, or a rows-only key without a reason, fails construction") {
    val build: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.range(1).toDF()
    val a = QuerySpec("q_a", build, Oracle("SELECT 1"))
    val b = QuerySpec("q_b", build, RowsOnly("engine-specific"))
    assert(Registry.of(Seq(a), Seq(b)).map(_.name) === Seq("q_a", "q_b"))
    val dup = intercept[IllegalArgumentException](Registry.of(Seq(a, b), Seq(a)))
    assert(dup.getMessage.contains("q_a"))
    intercept[IllegalArgumentException](RowsOnly(" "))
  }

  test("SparkEntry.queries is the registry's builds by name") {
    assert(SparkEntry.queries.keySet === names.toSet)
    Registry.specs.foreach(s => assert(SparkEntry.queries(s.name) eq s.build, s.name))
  }

  test("SURVEY.md §2 lists exactly the registry's keys, each with its check") {
    val survey = new String(Files.readAllBytes(Paths.get("SURVEY.md")), "UTF-8")
    val section = survey.substring(survey.indexOf("## §2"), survey.indexOf("## §3"))
    val row = """(?m)^\| [^|]+ \| `(q\w+)` \| .* \| (oracle|rows) \|$""".r
    val listed = row.findAllMatchIn(section).map(m => m.group(1) -> m.group(2)).toSeq
    assert(listed.map(_._1).distinct.size === listed.size, "a key listed twice")
    val registered = Registry.specs.map { s =>
      s.name -> (s.check match { case Oracle(_) => "oracle"; case RowsOnly(_) => "rows" })
    }
    assert(listed.toMap === registered.toMap)
  }
}
