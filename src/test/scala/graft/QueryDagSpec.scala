package graft

import graft.QueryDag.Stage
import org.apache.spark.sql.functions._

class QueryDagSpec extends SparkSpec {
  import spark.implicits._

  private def leaf(name: String, n: Int): Stage =
    Stage(name, Nil, (s, _, _) => s.range(0, n).toDF("v"))

  test("topoOrder: dependencies first, lexicographic among ready, deterministic") {
    val stages = Seq(
      Stage("z_sink", Seq("b", "a"), (_, _, up) => up("a")),
      leaf("b", 1), leaf("a", 1),
      Stage("mid", Seq("a"), (_, _, up) => up("a")))
    val order = QueryDag.topoOrder(stages).map(_.name)
    assert(order === Seq("a", "b", "mid", "z_sink"))
    assert(QueryDag.topoOrder(stages.reverse).map(_.name) === order)
  }

  test("cycles, unknown deps and duplicate names fail loudly before running") {
    val cyc = Seq(
      Stage("x", Seq("y"), (_, _, up) => up("y")),
      Stage("y", Seq("x"), (_, _, up) => up("x")))
    val e1 = intercept[IllegalArgumentException](QueryDag.topoOrder(cyc))
    assert(e1.getMessage.contains("cycle"))
    val e2 = intercept[IllegalArgumentException](
      QueryDag.topoOrder(Seq(Stage("x", Seq("ghost"), (_, _, up) => up("ghost")))))
    assert(e2.getMessage.contains("unknown stage 'ghost'"))
    val e3 = intercept[IllegalArgumentException](
      QueryDag.topoOrder(Seq(leaf("x", 1), leaf("x", 2))))
    assert(e3.getMessage.contains("duplicate"))
  }

  test("run: a stage consumed by several dependents builds exactly once") {
    val builds = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def counted(st: Stage): Stage = st.copy(build = (s, d, up) => {
      builds(st.name) += 1
      st.build(s, d, up)
    })
    val stages = Seq(
      counted(Stage("base", Nil, (s, _, _) => s.range(0, 10).toDF("v"))),
      counted(Stage("evens", Seq("base"), (_, _, up) => up("base").where($"v" % 2 === 0))),
      counted(Stage("odds", Seq("base"), (_, _, up) => up("base").where($"v" % 2 === 1))),
      counted(Stage("joined", Seq("evens", "odds"), (_, _, up) =>
        up("evens").unionByName(up("odds")))))
    val out = QueryDag.runPersisted(spark, sfDir, stages,
      java.nio.file.Files.createTempDirectory("dag-once").toString)
    assert(out("joined").count() === 10L)
    assert(builds.toMap === Map("base" -> 1, "evens" -> 1, "odds" -> 1, "joined" -> 1))
  }

  test("runPersisted kill-and-restart: a run that dies mid-DAG resumes from " +
    "completed stages — builds not re-invoked, output identical to a clean run") {
    val builds = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    @volatile var failInClean = true
    def mk(name: String, deps: Seq[String], mult: Int): Stage =
      Stage(name, deps, (s, _, up) => {
        builds(name) += 1
        if (name == "clean" && failInClean) sys.error("simulated driver crash")
        val base = deps.headOption.map(up).getOrElse(s.range(1, 4).toDF("v"))
        base.select(($"v" * mult).as("v"))
      })
    val stages = Seq(mk("load", Nil, 1), mk("clean", Seq("load"), 10),
      mk("report", Seq("clean"), 10), mk("audit", Seq("load"), 100))
    val root = java.nio.file.Files.createTempDirectory("dag-restart").toString
    // first attempt dies inside `clean` — after `audit` and `load`
    // committed (topo order: audit < clean, load first)
    intercept[RuntimeException](QueryDag.runPersisted(spark, sfDir, stages, root))
    assert(QueryDag.stageCompleted(spark, root, "load"))
    assert(QueryDag.stageCompleted(spark, root, "audit"))
    assert(!QueryDag.stageCompleted(spark, root, "clean"))
    assert(!QueryDag.stageCompleted(spark, root, "report"))
    // "restart the driver": re-run the same run id with the fault cleared
    failInClean = false
    builds.clear()
    val resumed = QueryDag.runPersisted(spark, sfDir, stages, root)
    // completed stages were served from parquet — build NEVER re-invoked
    assert(builds.toMap === Map("clean" -> 1, "report" -> 1), builds.toMap.toString)
    assert(resumed("report").select("v").as[Long].collect().sorted ===
      Array(100L, 200L, 300L))
    assert(resumed("audit").select("v").as[Long].collect().sorted ===
      Array(100L, 200L, 300L))
    // outputs are parquet-backed: identical to a clean run in a fresh root
    val clean = QueryDag.runPersisted(spark, sfDir, stages,
      java.nio.file.Files.createTempDirectory("dag-clean").toString)
    assert(resumed("report").collect().map(_.toSeq).toSet ===
      clean("report").collect().map(_.toSeq).toSet)
    // a SECOND resume over the finished run recomputes nothing at all
    builds.clear()
    QueryDag.runPersisted(spark, sfDir, stages, root)
    assert(builds.isEmpty, builds.toMap.toString)
  }

  test("q_dag_run reproduces q_pipeline_e2e row-for-row (same oracle)") {
    val dag = SparkEntry.queries("q_dag_run")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val fused = SparkEntry.queries("q_pipeline_e2e")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(dag === fused)
    assert(dag.nonEmpty)
    val checks = graft.registry.Registry.specs.map(q => q.name -> q.check).toMap
    assert(checks("q_dag_run") === checks("q_pipeline_e2e"))
  }
}
