package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Declarative DAG-of-queries runner — the orchestration face of the
  * engine. The reference drives its pipeline with an imperative driver
  * loop (stock_data_pipeline/main.py: load each ticker, then compute each
  * sector after its members, then append), which at 100 TB becomes a
  * workflow DAG over query stages. Here a pipeline is DATA — named stages
  * with explicit dependencies — and the runner contributes exactly the
  * three behaviors a hand-rolled loop gets wrong at scale:
  *
  *  - DETERMINISTIC topological order (Kahn's algorithm with a sorted
  *    ready set): the same DAG always runs in the same order, so logs,
  *    retries and artifact diffs line up across runs and engines; cycles
  *    and unknown dependencies fail loudly before anything runs.
  *  - ONE materialization per stage: each stage's output lands as parquet
  *    under runRoot/<stage> before dependents read it, so a stage
  *    consumed by k dependents computes once, not k times, and no
  *    dependent's lineage nests the whole upstream DAG (the q_pagerank
  *    lineage lesson applied to orchestration). The deliberate trade
  *    against single-query composition (q_pipeline_e2e, where Catalyst
  *    fuses all stages into one plan): a DAG boundary is a
  *    materialization barrier — compose WITHIN a stage when fusion
  *    matters, cut stages where reuse or recovery matter.
  *  - RESUME after a crash: the committer's _SUCCESS marker is each
  *    stage's completion record, so a re-run of the SAME run id loads
  *    completed stages from their parquet (build never re-invoked),
  *    recomputes the crashed/unfinished stage (mode=overwrite clears its
  *    partial files), and proceeds downstream as usual.
  */
object QueryDag {

  /** One stage: `build` receives (session, data dir, upstream outputs by
    * stage name — exactly the declared deps, already materialized).
    */
  final case class Stage(
      name: String,
      deps: Seq[String],
      build: (SparkSession, String, Map[String, DataFrame]) => DataFrame)

  /** Lift a dependency-free SparkEntry-style query into a stage. */
  def ofQuery(name: String, q: (SparkSession, String) => DataFrame): Stage =
    Stage(name, Nil, (s, dir, _) => q(s, dir))

  /** Deterministic topological order (Kahn's, lexicographic tie-break).
    * Fails loudly on duplicate names, unknown deps, and cycles.
    */
  def topoOrder(stages: Seq[Stage]): Seq[Stage] = {
    val byName = stages.map(s => s.name -> s).toMap
    require(byName.size == stages.size,
      "duplicate stage names: " + stages.groupBy(_.name)
        .collect { case (n, ss) if ss.size > 1 => n }.toSeq.sorted.mkString(", "))
    for (s <- stages; d <- s.deps)
      require(byName.contains(d), s"stage '${s.name}' depends on unknown stage '$d'")
    val remaining = scala.collection.mutable.Map(stages.map(s => s.name -> s.deps.toSet): _*)
    val dependents = stages.flatMap(s => s.deps.map(_ -> s.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ready = scala.collection.mutable.SortedSet[String]()
    remaining.foreach { case (n, d) => if (d.isEmpty) ready += n }
    val out = scala.collection.mutable.ArrayBuffer[Stage]()
    while (ready.nonEmpty) {
      val n = ready.head
      ready -= n
      out += byName(n)
      dependents.getOrElse(n, Nil).foreach { m =>
        val rest = remaining(m) - n
        remaining(m) = rest
        if (rest.isEmpty) ready += m
      }
    }
    require(out.size == stages.size, "dependency cycle among stages: " +
      remaining.collect { case (n, d) if d.nonEmpty => n }.toSeq.sorted.mkString(", "))
    out.toSeq
  }

  private def fs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stagePath(runRoot: String, stage: String): String = s"$runRoot/$stage"

  /** A stage is complete iff its directory holds the committer's _SUCCESS
    * marker — written atomically at job commit, absent after any
    * mid-write crash, so partial output can never masquerade as done.
    */
  def stageCompleted(spark: SparkSession, runRoot: String, stage: String): Boolean =
    fs(spark, runRoot).exists(
      new org.apache.hadoop.fs.Path(stagePath(runRoot, stage), "_SUCCESS"))

  /** Run (or RESUME) the DAG with parquet-persisted stage boundaries under
    * `runRoot` (one directory per run id), in [[topoOrder]]; each
    * incomplete stage builds from its dependencies' PERSISTED outputs and
    * commits before any dependent reads it. Calling again with the same
    * `runRoot` after a crash (or a deliberate stop) re-invokes `build`
    * ONLY for stages without a _SUCCESS marker — QueryDagSpec kills a run
    * mid-DAG and proves completed stages are served from parquet. Returns
    * every stage's output, parquet-backed (survives dropQueryState and
    * driver restarts).
    */
  def runPersisted(spark: SparkSession, sfDir: String, stages: Seq[Stage],
                   runRoot: String): Map[String, DataFrame] = {
    val outputs = scala.collection.mutable.Map[String, DataFrame]()
    topoOrder(stages).foreach { st =>
      val path = stagePath(runRoot, st.name)
      if (!stageCompleted(spark, runRoot, st.name)) {
        st.build(spark, sfDir, st.deps.map(d => d -> outputs(d)).toMap)
          .write.mode("overwrite").parquet(path)
      }
      outputs(st.name) = spark.read.parquet(path)
    }
    outputs.toMap
  }
}
