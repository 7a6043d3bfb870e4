package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** Strict JSON string literal: escapes backslash, quote AND all control
    * characters below 0x20 — an exception message carrying a tab or CR
    * must not make the artifact invalid JSON.
    */
  def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** A failed key's one-line summary: the exception class and the first
    * line of its message, capped at 300 characters.
    */
  def failure(e: Throwable): String =
    (e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").takeWhile(_ != '\n')).take(300)

  /** One bench run's artifact: per-query min-of-passes seconds for the
    * queries that SUCCEEDED in every pass, per-query error text for the
    * ones that didn't, and the raw per-pass samples behind the min. A
    * failed query appears ONLY under `errors` — never in `results`, never
    * in any total — so a time-to-throw can't masquerade as a query time.
    */
  final case class Outcome(names: Seq[String],
                           results: Map[String, Double],
                           errors: Map[String, String],
                           samples: Seq[Map[String, Double]]) {
    def okNames: Seq[String] = names.filterNot(errors.contains)
    def total: Double = if (results.nonEmpty) results.values.sum else 0.0
    private def jstr(s: String) = Bench.jsonStr(s)
    def headline(sfDir: String, calibSec: Double = Double.NaN): String = {
      val qs = okNames.map(k => jstr(k) + ":" + results(k)).mkString("{", ",", "}")
      val errJson = errors.toSeq.sortBy(_._1)
        .map { case (k, m) => jstr(k) + ":" + jstr(m) }.mkString("{", ",", "}")
      val calib = if (calibSec.isNaN) "" else s""""calib_sec":$calibSec,"""
      s"""{"metric":"total","value":$total,"unit":"sec",$calib""" +
        s""""queries":$qs,"failed":$errJson,"n_failed":${errors.size},"sf":"${sfDir}"}"""
    }
    def samplesJson: String = {
      val passes = samples.zipWithIndex.map { case (m, i) =>
        s""""pass_${i + 1}":""" + okNames.map(n => s"\"$n\":" + m(n)).mkString("{", ",", "}")
      }.mkString("{", ",", "}")
      s"""{"samples":$passes}"""
    }
  }

  /** Runs `df` to the end with every output column computed, writing
    * nothing: Spark's no-op sink. A timed `count()` would let Catalyst
    * prune the columns it does not need, and with them whole joins and
    * aggregates (a left join to an id-unique side, for one).
    */
  def evaluate(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Host-speed calibration: a FIXED constant-size in-memory aggregate
    * (16M xxhash64 rows over 32 range partitions — no input data, no
    * shuffle variance), min-of-`runs`, timed in the same process as the
    * suite it accompanies. Emitted as `calib_sec` in every bench/scale
    * artifact so cross-run comparisons can divide out this host's
    * sustained-load throttle (measured up to 1.74× uniform drift between
    * batteries on identical code) instead of arguing about it: compare
    * time/calib, not raw seconds.
    */
  def calibrate(spark: SparkSession, runs: Int = 5): Double =
    (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 16L * 1000 * 1000, 1L, 32)
        .selectExpr("xxhash64(id) AS h")
        .groupBy().sum("h").head()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Interleaved min-of-`iters` full-suite passes. Per-query time = min
    * over passes, not back-to-back repeats of each query: on a shared host
    * a load spike lasting tens of seconds inflates a CONTIGUOUS run of
    * queries, and back-to-back repeats hand that spike to both samples of
    * each query it covers — the min can't reject it. Interleaved passes
    * put ~a full suite between a query's samples, so one spike can only
    * touch one of them.
    */
  def run(spark: SparkSession, selected: Map[String, (SparkSession, String) => DataFrame],
          sfDir: String, iters: Int): Outcome = {
    val names = selected.keys.toSeq
    val errors = scala.collection.mutable.Map[String, String]()
    val samples = (1 to iters).map { pass =>
      names.map { name =>
        val t0 = System.nanoTime()
        val ok =
          try { evaluate(selected(name)(spark, sfDir)); true }
          catch {
            case e: Throwable =>
              errors(name) = failure(e)
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] pass $pass $name%-24s $dt%8.2f s" +
          (if (ok) "" else "  FAILED"))
        // see ScaleBench: finished queries' checkpoint blocks are garbage;
        // unpersisting between queries keeps the block manager flat
        Graft.dropQueryState(spark)
        name -> (if (ok) dt else Double.NaN)
      }.toMap
    }
    val okNames = names.filterNot(errors.contains)
    Outcome(names, okNames.map(n => n -> samples.map(_(n)).min).toMap,
      errors.toMap, samples)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.localSession()
    // Optional comma-separated filter for local triage, e.g.
    // SPARK_GRAFT_ONLY=q_sma,q_ann_topk; full run when unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // Untimed warmup: JIT + codegen + parquet reader init shouldn't be
    // attributed to whichever query happens to run first. One query per
    // kernel family (events / documents-text / embeddings / multimodal),
    // run at the smallest SF — codegen caches key on the plan shape, not
    // the data volume, so this warms every compiled kernel cheaply.
    val warmupSf = "/root/testdata/sf0.001"
    Seq("q_dedup_minhash", "q_ngram_jaccard", "q_ann_topk", "q_dedup_embedding",
      "q_token_count", "q_multimodal_features", "q1_pricing_summary",
      "q3_top_orders", "q_asof_state", "q_charlm", "q_pq_topk").foreach { w =>
      try evaluate(SparkEntry.queries(w)(spark, warmupSf)) catch { case _: Throwable => () }
    }
    try evaluate(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt.max(1)
    val out = run(spark, selected, sfDir, iters)
    // calibration AFTER the suite: it stamps the host speed the measured
    // passes actually ran under (running it first would measure the
    // pre-throttle honeymoon)
    val calib = calibrate(spark)
    val line = out.headline(sfDir, calib)
    println(line)
    // The one-line stdout JSON overflows tail-capture harnesses at 91+
    // queries (a ~2 KB ring keeps only its suffix) — persist the full
    // artifact (plus the per-pass samples behind the min) to a file, and
    // END stdout with a compact summary that always fits inside any tail:
    // total + query count + the path of the complete per-query map, so a
    // truncated capture still parses and still says where the rest lives.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n" + out.samplesJson + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    println(s"""{"metric":"total","value":${out.total},"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${out.results.size},"n_failed":${out.errors.size},"per_query":"$outPath"}""")
    spark.stop()
    if (out.errors.nonEmpty) {
      System.err.println(s"[bench] ${out.errors.size} queries FAILED: " +
        out.errors.keys.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
