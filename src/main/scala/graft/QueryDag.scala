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
  *  - ONE materialization per stage: each stage's frame is eagerly
  *    checkpointed before dependents read it, so a stage consumed by k
  *    dependents computes once, not k times, and no dependent's lineage
  *    nests the whole upstream DAG (the q_pagerank lineage lesson applied
  *    to orchestration). The deliberate trade against single-query
  *    composition (q_pipeline_e2e, where Catalyst fuses all stages into
  *    one plan): a DAG boundary is a materialization barrier — compose
  *    WITHIN a stage when fusion matters, cut stages where reuse,
  *    restatement or checkpointing matter.
  *  - Per-stage RESTATEMENT: recompute a changed stage and its
  *    TRANSITIVE dependents only, reusing every untouched stage's
  *    materialized output — the daily-correction shape (restate one
  *    day's load, refresh what reads it, leave the rest of the DAG
  *    alone), mirroring Sinks.restateDays at the orchestration level.
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

  /** The changed set plus every transitive dependent — what a
    * restatement must recompute.
    */
  def affected(stages: Seq[Stage], changed: Set[String]): Set[String] = {
    val edges = stages.flatMap(s => s.deps.map(_ -> s.name))
    var acc = changed
    var grew = true
    while (grew) {
      val next = acc ++ edges.collect { case (d, n) if acc(d) => n }
      grew = next.size != acc.size
      acc = next
    }
    acc
  }

  /** Run every stage once in topological order; each output eagerly
    * materializes ([[Graft.materialize]]: a reliable checkpoint under a
    * checkpoint dir, a local one otherwise) before its dependents read it.
    * Returns outputs by name
    * (checkpoint-backed — consume or persist before dropQueryState).
    */
  def run(spark: SparkSession, sfDir: String, stages: Seq[Stage]): Map[String, DataFrame] = {
    val outputs = scala.collection.mutable.Map[String, DataFrame]()
    topoOrder(stages).foreach { st =>
      outputs(st.name) =
        Graft.materialize(st.build(spark, sfDir, st.deps.map(d => d -> outputs(d)).toMap),
          eager = true)
    }
    outputs.toMap
  }

  // ---------------------------------------------------------------------
  // Persisted runs — the FAILURE-RECOVERY face. [[run]]'s checkpoints are
  // session-lived; a driver crash between stages loses everything. Here
  // each stage's output lands as parquet under runRoot/<stage> with the
  // committer's _SUCCESS marker as the completion record, so a re-run of
  // the SAME run id RESUMES: completed stages load from their parquet
  // (build never re-invoked), the crashed/unfinished stage recomputes
  // (mode=overwrite clears its partial files), and downstream stages
  // proceed as usual. Same recovery contract as the streaming faces'
  // kill-and-restart specs, at the orchestration level.
  // ---------------------------------------------------------------------

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
    * `runRoot` (one directory per run id). Deterministic topo order as
    * [[run]]; each incomplete stage builds from its dependencies'
    * PERSISTED outputs and commits before any dependent reads it. Calling
    * again with the same `runRoot` after a crash (or a deliberate stop)
    * re-invokes `build` ONLY for stages without a _SUCCESS marker —
    * QueryDagSpec kills a run mid-DAG and proves completed stages are
    * served from parquet. Returns every stage's output, parquet-backed
    * (survives dropQueryState/driver restarts, unlike [[run]]'s
    * checkpoints).
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

  /** Persisted-run restatement: drop the `changed` stages' outputs AND
    * their transitive dependents' (exactly [[affected]]), so the next
    * [[runPersisted]] over the same `runRoot` recomputes only those —
    * the daily-correction shape against a durable run directory.
    */
  def invalidate(spark: SparkSession, runRoot: String, stages: Seq[Stage],
                 changed: Set[String]): Unit = {
    changed.foreach(c => require(stages.exists(_.name == c), s"unknown stage '$c'"))
    val f = fs(spark, runRoot)
    affected(stages, changed).foreach { name =>
      val p = new org.apache.hadoop.fs.Path(stagePath(runRoot, name))
      if (f.exists(p)) f.delete(p, true)
    }
  }
}
