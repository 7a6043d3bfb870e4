package graft

import graft.registry.CurationQueries.CurationStream
import graft.registry.DedupQueries.DedupEmbedding
import graft.registry.Registry
import graft.registry.RetrievalQueries.AnnLsh
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up evidence past the driver's sf0.1: generate a `mult`× (default
  * 10×) document/embedding corpus and time the dedup/ANN family at 1× and
  * at `mult`×, so the near-linear slope the §5 plans predict is MEASURED,
  * not argued.
  *
  * The scaled corpus keeps duplicate DENSITY constant — the property that
  * makes the slope meaningful:
  *  - documents: copy k rewrites every token t → "t_k", so each copy
  *    preserves its internal near-dup structure EXACTLY (same pairwise
  *    shingle relations) while sharing no shingles with any other copy.
  *    Ten identical copies would instead multiply every dup family by 10
  *    and measure a different (denser) workload at the bigger size.
  *  - embeddings: copy k cyclically rotates each vector's dimensions by k
  *    AND applies a deterministic per-copy ±1 sign pattern — norms and
  *    intra-copy angles preserved exactly, expected cross-copy cosine 0.
  *    CAVEAT the lsh_diag data quantifies: at d = 64 the cosine noise
  *    floor has σ = 1/√64 = 0.125, so a τ = 0.4 threshold sits only 3.2σ
  *    out — P(cos > 0.4) ≈ 5×10⁻⁴ for UNRELATED unit vectors, and the
  *    pair OUTPUT of the τ=0.4 keys therefore grows quadratically with n
  *    on ANY decorrelated corpus (measured: 920 pairs at 2k vectors →
  *    865k at 60k, = n²·p; zero pairs at τ = 0.7 either rung — there is
  *    no planted structure, only the floor). A super-unit time ratio on
  *    these keys is output-bound by geometry, not a plan defect; the
  *    diag's candidates/confirmed columns exist to separate time growth
  *    from output growth per rung.
  *
  * Output: one line per corpus + a final JSON with per-query base/scaled
  * seconds and the ratio; the full artifact lands in SCALE_out.json
  * (repo-committed). A ratio ≤ mult is at-or-below linear; the ambient
  * noise envelope on this host makes per-query ratios swing, so judge the
  * family total first.
  */
object ScaleBench {

  private def generate(spark: SparkSession, base: String, out: String, mult: Int): Unit = {
    // V2: rotation + per-copy sign pattern (plain rotation left cross-copy
    // cosines coherent — measured 10× diag: confirmed pairs grew 106×, not
    // 10×, because these embeddings share a dominant direction that any
    // permutation of dimensions preserves; the sign flips kill it)
    val marker = new java.io.File(s"$out/_GENERATED_V2")
    if (marker.exists()) return
    val docs = Tables.documents(spark, base)
    val nDoc = docs.agg(max(col("doc_id")).cast("long")).head().getLong(0) + 1
    (0 until mult).map { k =>
      val text =
        if (k == 0) col("text")
        else array_join(
          transform(split(col("text"), " "), t => concat(t, lit(s"_$k"))), " ")
      docs.select(
        (col("doc_id") + lit(k.toLong * nDoc)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = Tables.embeddings(spark, base)
    val nEmb = emb.agg(max(col("vec_id")).cast("long")).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until mult).map { k =>
      // copy k: rotate dims by k AND multiply each dim by a deterministic
      // ±1 drawn from hash(i, k). Intra-copy dot products are EXACTLY
      // preserved (s_i·a_i · s_i·b_i = a_i·b_i), norms unchanged, while
      // cross-copy cosines lose the shared dominant direction (expected
      // cosine 0 under the sign pattern) — duplicate DENSITY, not just
      // duplicate structure, now really scales linearly.
      val rotated =
        if (k == 0) col("embedding")
        else expr(s"transform(sequence(0, ${dim - 1}), i -> CAST(" +
          s"embedding[(i + $k) % $dim] * " +
          s"(CASE WHEN pmod(hash(i, $k), 2) = 0 THEN 1.0 ELSE -1.0 END) AS FLOAT))")
      emb.select(
        (col("vec_id") + lit(k.toLong * nEmb)).as("vec_id"),
        rotated.as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    marker.getParentFile.mkdirs()
    marker.createNewFile()
    ()
  }

  /** Scaled events corpus: copy k shifts user_id/event_id into fresh id
    * ranges while keeping each entity's series EXACTLY as at 1× — the
    * 100 TB shape is MORE entities, not longer per-entity histories, so
    * window/as-of/funnel state stays per-entity bounded and what scales
    * is partition count. `ts` is written normalized (TIMESTAMP_NTZ
    * micros), one of the encodings the adaptive loader accepts.
    * Separate marker so corpora generated before this existed get events
    * added without a docs/embeddings rebuild.
    */
  private def generateEvents(spark: SparkSession, base: String, out: String, mult: Int): Unit = {
    val marker = new java.io.File(s"$out/_GENERATED_EVENTS")
    if (marker.exists()) return
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, base), "ts")
    val nUser = ev.agg(max(col("user_id")).cast("long")).head().getLong(0) + 1
    val nEvt = ev.agg(max(col("event_id")).cast("long")).head().getLong(0) + 1
    (0 until mult).map { k =>
      ev.select(
        (col("event_id") + lit(k.toLong * nEvt)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k.toLong * nUser)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    marker.getParentFile.mkdirs()
    marker.createNewFile()
    ()
  }

  /** Scaled part table for the record-linkage keys: copy k shifts
    * p_partkey into a fresh id range while keeping p_name AS IS — the
    * linkage workload's honest 100 TB shape is more RECORDS over the same
    * vocabulary (names, symbols, domains don't grow with data volume), so
    * the fuzzy keys' cost past the first aggregate must stay flat and the
    * pair output must not grow at all. Own marker: corpora generated
    * before this existed gain part without a rebuild.
    */
  private def generatePart(spark: SparkSession, base: String, out: String, mult: Int): Unit = {
    val marker = new java.io.File(s"$out/_GENERATED_PART")
    if (marker.exists()) return
    val pt = Tables.part(spark, base)
    val nPart = pt.agg(max(col("p_partkey")).cast("long")).head().getLong(0) + 1
    (0 until mult).map { k =>
      pt.withColumn("p_partkey", col("p_partkey") + lit(k.toLong * nPart))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    marker.getParentFile.mkdirs()
    marker.createNewFile()
    ()
  }

  /** Scaled relational star (orders/lineitem/customer/supplier + verbatim
    * region/nation): copy k shifts every key into a fresh id range with
    * JOIN-CONSISTENT offsets (l_orderkey tracks o_orderkey, o_custkey
    * tracks c_custkey, l_suppkey tracks s_suppkey, l_partkey tracks
    * [[generatePart]]'s p_partkey), so each copy is a structurally exact
    * replica sharing no keys with any other — the TPC-H-shape keys, the
    * graph keys (node ids stay disjoint per copy: components multiply,
    * rank mass splits) and the Gini audit all scale as MORE entities,
    * same per-entity structure. Own marker so existing corpora gain the
    * star without a rebuild.
    */
  private def generateRelational(spark: SparkSession, base: String, out: String, mult: Int): Unit = {
    val marker = new java.io.File(s"$out/_GENERATED_REL")
    if (marker.exists()) return
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head().getLong(0) + 1
    val (cust, supp, ords, li) = (Tables.customer(spark, base),
      Tables.supplier(spark, base), Tables.orders(spark, base),
      Tables.lineitem(spark, base))
    val (nCust, nSupp, nOrd) = (maxOf(cust, "c_custkey"), maxOf(supp, "s_suppkey"),
      maxOf(ords, "o_orderkey"))
    val nPart = maxOf(Tables.part(spark, base), "p_partkey")
    def scaled(df: DataFrame, shifts: (String, Long)*): DataFrame =
      (0 until mult).map { k =>
        shifts.foldLeft(df) { case (d, (c, n)) =>
          d.withColumn(c, col(c) + lit(k * n))
        }
      }.reduce(_ unionByName _)
    scaled(cust, "c_custkey" -> nCust)
      .repartition(32).write.mode("overwrite").parquet(s"$out/customer.parquet")
    scaled(supp, "s_suppkey" -> nSupp)
      .repartition(32).write.mode("overwrite").parquet(s"$out/supplier.parquet")
    scaled(ords, "o_orderkey" -> nOrd, "o_custkey" -> nCust)
      .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")
    scaled(li, "l_orderkey" -> nOrd, "l_suppkey" -> nSupp, "l_partkey" -> nPart)
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // dimension constants don't scale — copy verbatim
    Tables.region(spark, base).write.mode("overwrite").parquet(s"$out/region.parquet")
    Tables.nation(spark, base).write.mode("overwrite").parquet(s"$out/nation.parquet")
    marker.getParentFile.mkdirs()
    marker.createNewFile()
    ()
  }

  /** The registry's keys, less any outside the optional comma-separated
    * SPARK_GRAFT_KEYS subset — the 30×/100× rungs run a representative
    * slice instead of the whole surface so a deeper decade stays
    * affordable.
    */
  private def selectedFamily: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_KEYS").map(_.split(',').map(_.trim).toSet)
    Registry.specs.map(_.name).filter(n => only.forall(_.contains(n)))
  }

  /** q_curation_stream's batch mirror with the eval suite pinned to the
    * BASE corpus's 1× bench slice while the curated corpus comes from
    * `corpusDir` — isolates the corpus-growth term of the curation ratio
    * from the suite-growth term (the shipped query grows both).
    */
  private def curationFixedSuite(spark: SparkSession, corpusDir: String,
                                 benchDir: String): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    val stamp = lit("2024-01-01 00:00:00").cast("timestamp")
    val corpus = Tables.documents(spark, corpusDir)
      .where(col("doc_id") % 50 =!= 0).withColumn("ts", stamp)
    val bench = Tables.documents(spark, benchDir)
      .where(col("doc_id") % 50 === 0).withColumn("ts", stamp)
    val thr = TextAnalysis.qualityThreshold(corpus, 0.25)
    val store = Dedup.fingerprintStore(corpus.limit(0))
    graft.streaming.EventsStream.curationStream(corpus, thr, store, Dedup.gramScreen(bench))
      .select(col("doc_id"), col("n_tokens"), col("quality"))
  }

  // Same failure contract as Bench: a failed query is recorded, kept out
  // of every total/ratio, and fails the process — time-to-throw is not a
  // measurement. EXCEPT the PairGate refusals: a query whose pair output
  // goes quadratic at a deep rung is DESIGNED to abort past
  // spark.graft.pairs.maxOutput — that is the operator working, not
  // failing. Such keys land under `gated` (with the gate's estimate
  // message), stay out of totals/ratios, and do not fail the battery.
  private val errors = scala.collection.mutable.Map[String, String]()
  private val gated = scala.collection.mutable.Map[String, String]()

  private def runPass(spark: SparkSession, dir: String, pass: Int): Map[String, Double] =
    selectedFamily.map { name =>
      val t0 = System.nanoTime()
      // outcome of THIS pass (the log label must reflect this pass's
      // branch — a key gated in an earlier pass can still genuinely fail
      // in a later one, and that must print FAILED, not GATED)
      var outcome = ""
      try Bench.evaluate(SparkEntry.queries(name)(spark, dir))
      catch {
        // classified by TYPE: only the gate's own refusal counts as
        // designed behavior — an unrelated require() echoing the conf key
        // (or a wrapped rethrow that loses the message) stays a failure
        case e: graft.operators.PairGateRefused =>
          gated(name) = Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(300)
          outcome = "  GATED"
        case e: Throwable =>
          errors(name) = Bench.failure(e)
          outcome = "  FAILED"
      }
      val ok = outcome.isEmpty
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] pass $pass ${new java.io.File(dir).getName}%-16s $name%-26s $dt%8.2f s$outcome")
      // a finished query's localCheckpoint blocks are garbage, but the
      // block manager pins them until unpersist — across ~400 query runs
      // the leak OOM'd the 100x battery (q_bfs_hops's 120M-row edge
      // checkpoint tipped it). Queries are independent: drop everything.
      Graft.dropQueryState(spark)
      name -> (if (ok) dt else Double.NaN)
    }.toMap

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"${Graft.localScratchDir}/graft-scale${mult}x")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt.max(1)
    val spark = Graft.localSession()
    generate(spark, base, out, mult)
    generateEvents(spark, base, out, mult)
    generatePart(spark, base, out, mult)
    generateRelational(spark, base, out, mult)
    // warmup (JIT + codegen) on the smallest sf, then interleaved passes
    // (min-of-N rejects this host's throttle windows, like Bench)
    runPass(spark, "/root/testdata/sf0.001", 0)
    // the warmup dir is never measured — a failure there must not taint
    // the measured passes' error set (or exclude a query that succeeds at
    // both measured sizes); gate verdicts reset with it so the calibration
    // artifact records the measured rungs only
    errors.clear()
    gated.clear()
    graft.operators.PairGate.clearRecorded()
    val passes = (1 to iters).map(p => (runPass(spark, base, p), runPass(spark, out, p)))
    // a key that BOTH gated (one pass) and genuinely failed (another) is
    // a failure — the refusal-by-design classification must not mask it
    errors.keys.foreach(gated.remove)
    val okFamily = selectedFamily.filterNot(n => errors.contains(n) || gated.contains(n))
    val baseMin = okFamily.map(n => n -> passes.map(_._1(n)).min).toMap
    val bigMin = okFamily.map(n => n -> passes.map(_._2(n)).min).toMap
    val rows = okFamily.map { n =>
      val r = bigMin(n) / baseMin(n)
      s""""$n":{"base":${baseMin(n)},"scaled":${bigMin(n)},"ratio":${math.round(r * 100) / 100.0}}"""
    }.mkString("{", ",", "}")
    val errJson = errors.toSeq.sortBy(_._1).map { case (k, m) =>
      Bench.jsonStr(k) + ":" + Bench.jsonStr(m)
    }.mkString("{", ",", "}")
    val gatedJson = gated.toSeq.sortBy(_._1).map { case (k, m) =>
      Bench.jsonStr(k) + ":" + Bench.jsonStr(m)
    }.mkString("{", ",", "}")
    val (bt, st) = (baseMin.values.sum, bigMin.values.sum)
    // host-speed stamp for cross-battery comparisons (see Bench.calibrate)
    val calib = Bench.calibrate(spark)
    // Diagnostics beyond the timings (both optional on subset runs):
    //  - q_ann_lsh's candidate VOLUME per rung — its super-unit time ratio
    //    is defended as candidate-bound; emit the candidates so the claim
    //    is measured per corpus, not asserted.
    //  - fixed-suite curation: q_curation_stream's measured ratio grows
    //    BOTH the corpus and the eval suite; re-time it with the suite
    //    pinned to the 1× slice to isolate the corpus term.
    // the diagnostics measure the very output growth the gate refuses to
    // materialize through a query key — they run with the gate disabled
    // (and restored after), so a gated rung still ships its output counts
    // as artifact data
    def ungatedDiag[T](f: => T): T = {
      val key = graft.operators.PairGate.CapKey
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "0")
      try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val lshDiag =
      if (errors.contains(AnnLsh) || !selectedFamily.contains(AnnLsh)) ""
      else {
        def d(dir: String): (Long, Long, Long) = ungatedDiag {
          val emb = Tables.embeddings(spark, dir)
          (emb.count(),
            graft.operators.Similarity.lshCandidatePairsBucketed(emb, 0.4).count(),
            graft.operators.Similarity.cosinePairsBucketed(emb, 0.4).count())
        }
        val (nb, cb, fb) = d(base)
        val (ns, cs, fs) = d(out)
        System.err.println(s"[scale] lsh diag base n=$nb cand=$cb conf=$fb; " +
          s"scaled n=$ns cand=$cs conf=$fs")
        s""","lsh_diag":{"base":{"n_vectors":$nb,"candidates":$cb,"confirmed":$fb},""" +
          s""""scaled":{"n_vectors":$ns,"candidates":$cs,"confirmed":$fs}}"""
      }
    // q_dedup_embedding's tall ratio at the deep rungs is defended as
    // output growth (the exact τ=0.4 pair set is quadratic in n on a
    // decorrelated corpus — see the header CAVEAT); emit the pair count
    // per rung so the defense is artifact data, not SURVEY prose — and
    // the GATE'S OWN tier-2 estimate next to it, so the estimator's
    // calibration (estimate / actual) is measured on every battery, not
    // only when a rung trips.
    val embDiag =
      if (errors.contains(DedupEmbedding) || !selectedFamily.contains(DedupEmbedding)) ""
      else {
        def d(dir: String): (Long, Long, Long) = ungatedDiag {
          val emb = Tables.embeddings(spark, dir)
          (emb.count(),
            graft.operators.Similarity.estimateExactPairCount(emb, 0.40),
            graft.operators.Similarity.cosinePairsExact(emb, 0.40).count())
        }
        def ratio(est: Long, actual: Long): Double =
          if (actual == 0L) Double.NaN
          else math.round(est.toDouble / actual * 1000) / 1000.0
        val (nb, eb, pb) = d(base)
        val (ns, es, ps) = d(out)
        System.err.println(s"[scale] embedding diag base n=$nb est=$eb pairs=$pb; " +
          s"scaled n=$ns est=$es pairs=$ps")
        s""","embedding_diag":{"base":{"n_vectors":$nb,"gate_estimate":$eb,""" +
          s""""exact_pairs":$pb,"est_over_actual":${ratio(eb, pb)}},""" +
          s""""scaled":{"n_vectors":$ns,"gate_estimate":$es,"exact_pairs":$ps,""" +
          s""""est_over_actual":${ratio(es, ps)}}}"""
      }
    // every tier-2 verdict the battery's own keys produced (passing AND
    // refusing, memo hits marked): the per-invocation record that shows
    // the estimator ran once per (corpus, generator, params) and was
    // served from the memo afterwards
    val gateDiag = {
      val recs = graft.operators.PairGate.recorded.take(256)
      if (recs.isEmpty) ""
      else recs.map { r =>
        s"""{"who":${Bench.jsonStr(r.who)},"params":${Bench.jsonStr(r.params)},""" +
          s""""n":${r.n},"p":${r.p},"estimate":${r.estimate},"cap":${r.cap},""" +
          s""""refused":${r.refused},"memo_hit":${r.memoHit}}"""
      }.mkString(""","pair_gate_verdicts":[""", ",", "]")
    }
    val fixedSuite =
      if (!okFamily.contains(CurationStream)) ""
      else {
        def t(corpusDir: String): Double =
          (1 to iters).map { _ =>
            val t0 = System.nanoTime()
            Bench.evaluate(curationFixedSuite(spark, corpusDir, base))
            (System.nanoTime() - t0) / 1e9
          }.min
        val (fb, fs) = (t(base), t(out))
        System.err.println(f"[scale] fixed-suite curation base $fb%.2f s scaled $fs%.2f s")
        s""","fixed_suite_curation":{"base":$fb,"scaled":$fs,""" +
          s""""ratio":${math.round(fs / fb * 100) / 100.0}}"""
      }
    val json =
      s"""{"metric":"scale","mult":$mult,"base_sf":"$base","scaled_dir":"$out",
         |"base_total_sec":$bt,"scaled_total_sec":$st,
         |"total_ratio":${math.round(st / bt * 100) / 100.0},
         |"calib_sec":$calib,
         |"failed":$errJson,"n_failed":${errors.size},
         |"gated":$gatedJson,"n_gated":${gated.size}$lshDiag$embDiag$gateDiag$fixedSuite,
         |"queries":$rows}""".stripMargin
        .replace("\n", "")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/root/repo/SCALE_out.json")),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"[scale] write failed: $e") }
    println(s"""{"metric":"scale","mult":$mult,"base_total_sec":$bt,""" +
      s""""scaled_total_sec":$st,"total_ratio":${math.round(st / bt * 100) / 100.0},""" +
      s""""calib_sec":$calib,"n_failed":${errors.size},"n_gated":${gated.size},""" +
      s""""per_query":"SCALE_out.json"}""")
    spark.stop()
    if (gated.nonEmpty) {
      System.err.println(s"[scale] ${gated.size} queries GATED (pair-output " +
        s"cap, by design): " + gated.keys.toSeq.sorted.mkString(", "))
    }
    if (errors.nonEmpty) {
      System.err.println(s"[scale] ${errors.size} queries FAILED: " +
        errors.keys.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
