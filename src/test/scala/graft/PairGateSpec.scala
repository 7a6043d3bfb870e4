package graft

import graft.operators.{Dedup, PairGate, PairGateRefused, Sampling, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The output-cardinality gate on the quadratic pair generators: a
  * threshold whose output goes Θ(n²) must ABORT with an actionable
  * message past `spark.graft.pairs.maxOutput`, a threshold whose output
  * is bounded must run untouched — the scale-rung scenario (τ = 0.4
  * trips at the 100× corpus, τ = 0.7 passes) replayed at spec size by
  * shrinking the cap instead of growing the corpus.
  */
class PairGateSpec extends SparkSpec {
  import spark.implicits._

  private def withCap[T](cap: Long, estimateRows: Long = 2048)(f: => T): T = {
    spark.conf.set(PairGate.CapKey, cap.toString)
    spark.conf.set(PairGate.RowsKey, estimateRows.toString)
    try f finally {
      spark.conf.unset(PairGate.CapKey)
      spark.conf.unset(PairGate.RowsKey)
    }
  }

  /** n near-identical vectors (one dominant direction + a tiny distinct
    * per-id perturbation): every pair's cosine > 0.99, so the τ = 0.4
    * output is exactly n(n−1)/2 — the quadratic regime.
    */
  private def denseCorpus(n: Int): DataFrame =
    spark.range(0, n).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 7), d -> CAST(CASE WHEN d = 0 THEN 100.0 " +
        "ELSE (pmod(hash(id, d), 7) - 3) * 0.01 END AS FLOAT))").as("embedding"))

  /** n mutually orthogonal one-hot vectors: every pairwise cosine is 0 —
    * the empty-output regime at any positive threshold.
    */
  private def orthoCorpus(n: Int): DataFrame =
    spark.range(0, n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${n - 1}), d -> CAST(CASE WHEN d = id " +
        "THEN 1.0 ELSE 0.0 END AS FLOAT))").as("embedding"))

  test("cosinePairsExact trips the gate on a quadratic-output corpus and " +
    "passes when the same corpus's output is bounded") {
    val dense = denseCorpus(300) // all-pairs bound 44850 > cap ⇒ tier 2
    withCap(1000) {
      // the refusal is the DEDICATED type — harnesses classify by type,
      // never by message substring
      val e = intercept[PairGateRefused](
        Similarity.cosinePairsExact(dense, 0.4))
      assert(e.getMessage.contains(PairGate.CapKey), e.getMessage)
      assert(e.getMessage.contains("cosinePairsExact"), e.getMessage)
      assert(e.getMessage.contains("raise the cosine threshold"), e.getMessage)
      // same cap, zero-output corpus: the τ-sensitive estimate passes and
      // the operator runs to (empty) completion — the τ=0.4-vs-0.7 rung
      // contract at spec size
      assert(Similarity.cosinePairsExact(orthoCorpus(300), 0.4).count() === 0L)
    }
  }

  test("tier-2 estimate is exact at full sampling and the cap is a real " +
    "boundary: est ≤ cap runs, est > cap refuses") {
    // 40 clusters × 10 identical members ⇒ exactly 40 · C(10,2) = 1800
    // true pairs at any τ < 1; estimateRows ≥ n ⇒ p = 1 ⇒ the estimate
    // IS the true count
    val clustered = spark.range(0, 400).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 39), d -> CAST(CASE WHEN d = pmod(id, 40) " +
        "THEN 1.0 ELSE 0.0 END AS FLOAT))").as("embedding"))
    withCap(1799, estimateRows = 400) {
      val e = intercept[IllegalArgumentException](
        Similarity.cosinePairsExact(clustered, 0.4))
      assert(e.getMessage.contains("~1800 output pairs"), e.getMessage)
    }
    withCap(1800, estimateRows = 400) {
      assert(Similarity.cosinePairsExact(clustered, 0.4).count() === 1800L)
    }
  }

  test("sampled tier-2 estimate lands within sampling noise of the truth") {
    // dense corpus: true output = C(600,2) = 179700; a 1/3 sample sees
    // ~C(200,2) pairs and scales back by 9 — assert the estimate within
    // a generous ±35% band (binomial noise on ~200 sampled rows)
    val n = 600
    val truth = n.toLong * (n - 1) / 2
    val p = 200.0 / n
    val sampled = Similarity.cosinePairs(
      denseCorpus(n).where(Sampling.samplePredicate(col("vec_id"), p)), 0.4).count()
    val est = math.ceil(sampled / (p * p)).toLong
    assert(math.abs(est - truth).toDouble / truth < 0.35, s"est $est truth $truth")
  }

  test("the gate also covers the LSH-bucketed and SemDeDup generators") {
    val dense = denseCorpus(300)
    withCap(1000) {
      val e1 = intercept[IllegalArgumentException](
        Similarity.cosinePairsBucketed(dense, 0.4))
      assert(e1.getMessage.contains("lshCandidatePairsBucketed"), e1.getMessage)
      val cents = Array(Array.tabulate(8)(d => if (d == 0) 1.0 else 0.0))
      val e2 = intercept[IllegalArgumentException](
        Similarity.semdedupPairsEnsemble(dense, Seq(cents), 0.4))
      assert(e2.getMessage.contains("semdedupPairsEnsemble"), e2.getMessage)
    }
  }

  test("LSH gate estimates CANDIDATE volume: sub-threshold cosine mass " +
    "trips it even though the verified pair set is empty") {
    // every pairwise cosine is exactly 0.395 — inside the int8 screen's
    // error-bound margin below τ = 0.4, so ~75% of pairs collide into
    // bands AND survive the screen (the generator's OUTPUT), while the
    // decimal-exact verify keeps none. An exact-pair estimator would
    // report 0 and wave the quadratic candidate stream through; the
    // generator-faithful estimator refuses.
    val n = 300
    val a = math.sqrt(0.395)
    val b = math.sqrt(0.605)
    val df = spark.range(0, n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, $n), d -> CAST(CASE WHEN d = 0 THEN $a " +
        s"WHEN d = id + 1 THEN $b ELSE 0.0 END AS FLOAT))").as("embedding"))
    withCap(1000) {
      assert(Similarity.cosinePairsExact(df, 0.4).count() === 0L)
      val e = intercept[IllegalArgumentException](
        Similarity.lshCandidatePairsBucketed(df, 0.4))
      assert(e.getMessage.contains("lshCandidatePairsBucketed"), e.getMessage)
    }
  }

  test("winnowOverlapPairs: identical-text corpus trips the sampled " +
    "estimate; distinct texts pass and compute") {
    val same = spark.range(0, 200).select(col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog again and again").as("text"))
    withCap(1000) {
      // 200 identical docs share every fingerprint ⇒ the true output is
      // C(200,2) = 19900 pairs; the estimator (full sampling here, p = 1)
      // sees exactly that and refuses at cap 1000
      val e = intercept[IllegalArgumentException](
        Dedup.winnowOverlapPairs(same, minShared = 3, k = 8, w = 4).count())
      assert(e.getMessage.contains(PairGate.CapKey), e.getMessage)
      assert(e.getMessage.contains("winnowOverlapPairs"), e.getMessage)
      assert(e.getMessage.contains("~19900 output pairs"), e.getMessage)
      // fully distinct texts (hash bodies — no shared ≥ k+w−1-char
      // substring anywhere): the sampled run finds zero pairs — runs clean
      val distinctDocs = spark.range(0, 200).select(col("id").as("doc_id"),
        concat_ws(" ", md5(col("id").cast("string")),
          md5((col("id") + 1000).cast("string")),
          md5((col("id") + 2000).cast("string"))).as("text"))
      assert(Dedup.winnowOverlapPairs(distinctDocs, minShared = 3, k = 8, w = 4)
        .count() === 0L)
    }
  }

  test("tier-2 sample predicate stays non-degenerate at any corpus size " +
    "and realizes the fraction it reports") {
    // the 4-hex-digit md5 sampler quantizes at 1/65536 — past ~1.3e8 rows
    // a ~2048-row request rounds to an EMPTY sample and a gate built on
    // it would estimate 0 and pass; PairGate's 2^30-granular predicate
    // floors at k = 1, so the realized fraction is never zero
    assert(PairGate.realizedFraction(1e-15) === 1.0 / (1L << 30))
    assert(PairGate.realizedFraction(1e-15) > 0.0)
    // the realized fraction is what the predicate actually keeps
    for (p <- Seq(0.25, 0.003)) {
      val kept = spark.range(0, 1000000)
        .where(PairGate.samplePredicate(col("id"), p)).count()
      val want = PairGate.realizedFraction(p) * 1000000
      assert(math.abs(kept - want) / want < 0.1, s"p=$p kept=$kept want=$want")
    }
  }

  test("escalating floor: a coarse pass below the detectability floor is " +
    "confirmed at p_floor; a coarse refusal never pays the floor pass") {
    // n = 1e6 at a 2-row target ⇒ pCoarse ≈ 2e-6 ≪ p_floor = √(10/1000) = 0.1:
    // the huge-corpus blind spot — an estimator whose coarse sample sees
    // nothing but whose floor-size sample sees over-cap mass must refuse
    val calls = scala.collection.mutable.ArrayBuffer[Double]()
    withCap(1000, estimateRows = 2) {
      val e = intercept[PairGateRefused] {
        PairGate.checkCounted(spark, 1000000L, "synthetic", "t=1", "remedy") { p =>
          calls += p
          if (p < 0.01) 0L else 50000L
        }
      }
      assert(e.getMessage.contains("~50000"), e.getMessage)
    }
    assert(calls.size === 2 && calls(1) > calls(0), calls.mkString(","))
    assert(math.abs(calls(1) - 0.1) < 1e-3, s"floor fraction ${calls(1)}")
    // an over-cap coarse estimate refuses immediately — one estimator run
    calls.clear()
    withCap(1000, estimateRows = 2) {
      intercept[PairGateRefused] {
        PairGate.checkCounted(spark, 1000000L, "synthetic2", "t=1", "remedy") { p =>
          calls += p; 999999L
        }
      }
    }
    assert(calls.size === 1, calls.mkString(","))
  }

  test("racing tier-2 checks of one corpus run the estimator once") {
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    val key = s"race-${System.nanoTime()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val start = new java.util.concurrent.CountDownLatch(1)
    val outcomes = withCap(1000) {
      val futures = (1 to 2).map(_ => pool.submit(() => {
        start.await()
        scala.util.Try(PairGate.checkCounted(spark, 1000000L, "race", "t=1", "remedy",
          memoKey = Some(key)) { _ =>
          runs.incrementAndGet()
          Thread.sleep(300) // hold the estimate open while the other caller arrives
          999999L
        })
      }))
      start.countDown()
      try futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      finally pool.shutdownNow()
    }
    assert(runs.get() === 1)
    assert(outcomes.forall(_.failed.toOption.exists(_.isInstanceOf[PairGateRefused])), outcomes)
    val recs = PairGate.recorded.filter(_.who == "race")
    assert(recs.size === 2 && recs.count(!_.memoHit) === 1, recs.mkString(";"))
  }

  test("tier-2 verdicts memoize per process and are recorded — passing and " +
    "refusing — for estimate-vs-actual calibration") {
    PairGate.clearRecorded()
    StateCache.clear(spark)
    val dense = denseCorpus(310)
    withCap(1000) {
      intercept[PairGateRefused](Similarity.cosinePairsExact(dense, 0.4))
      intercept[PairGateRefused](Similarity.cosinePairsExact(dense, 0.4))
    }
    val recs = PairGate.recorded.filter(_.who == "cosinePairsExact")
    assert(recs.size === 2, recs.mkString(";"))
    assert(!recs.head.memoHit && recs(1).memoHit, recs.mkString(";"))
    assert(recs.forall(_.refused) && recs.head.estimate === recs(1).estimate)
    // a PASSING tier-2 verdict is recorded too (bound 79800 > cap 5000,
    // exact estimate 1800 ≤ cap): calibration data exists even when
    // nothing trips
    val clustered = spark.range(0, 400).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 39), d -> CAST(CASE WHEN d = pmod(id, 40) " +
        "THEN 1.0 ELSE 0.0 END AS FLOAT))").as("embedding"))
    withCap(5000, estimateRows = 400) {
      assert(Similarity.cosinePairsExact(clustered, 0.4).count() === 1800L)
    }
    val pass = PairGate.recorded.filter(r => r.cap == 5000L)
    assert(pass.nonEmpty && pass.forall(r => !r.refused && r.estimate === 1800L),
      pass.mkString(";"))
  }

  test("keep-semantics COMPLETES under a cap the pair table refuses, with " +
    "the exact keep set") {
    // 40 clusters × 10 identical members over 400 vectors: pair table is
    // 1800 rows — over a cap of 100 the TABLE path refuses, while the
    // spanning-forest keep path pipelines the same verified pair stream
    // into per-partition union-find and completes with the exact keep set
    // (the 40 cluster minima, ids 0..39)
    val clustered = spark.range(0, 400).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 39), d -> CAST(CASE WHEN d = pmod(id, 40) " +
        "THEN 1.0 ELSE 0.0 END AS FLOAT))").as("embedding"))
    val keepOf = (pairs: DataFrame) => clustered.join(
      Dedup.connectedComponentsScalable(pairs.select("id_a", "id_b"))
        .where(col("id") =!= col("component"))
        .select(col("id").as("vec_id")),
      Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].collect().sorted.toSeq
    withCap(100, estimateRows = 400) {
      intercept[PairGateRefused](Similarity.cosinePairsExact(clustered, 0.4))
      val kept = keepOf(Similarity.cosinePairsExact(clustered, 0.4, gated = false))
      assert(kept === (0L until 40L), kept.take(50).mkString(","))
    }
    // …and the fold path's keep set ≡ the pair-TABLE path's keep set when
    // the gate is off (the equality the scale rungs can't afford to check)
    withCap(0) {
      val viaTable = clustered.join(
        Dedup.connectedComponents(
          Similarity.cosinePairsExact(clustered, 0.4).select("id_a", "id_b"))
          .where(col("id") =!= col("component"))
          .select(col("id").as("vec_id")),
        Seq("vec_id"), "left_anti")
        .select("vec_id").as[Long].collect().sorted.toSeq
      val viaFold = keepOf(Similarity.cosinePairsExact(clustered, 0.4))
      assert(viaTable === viaFold)
    }
  }

  test("cap 0 disables the gate entirely") {
    withCap(0) {
      assert(Similarity.cosinePairsExact(denseCorpus(120), 0.4).count() ===
        120L * 119 / 2)
    }
  }

  test("small corpora never reach tier 2: all-pairs bound under the cap " +
    "passes with no estimator work") {
    // n = 100 ⇒ bound 4950 ≤ cap 4950 exactly (boundary inclusive)
    withCap(4950) {
      assert(Similarity.cosinePairsExact(denseCorpus(100), 0.4).count() === 4950L)
    }
  }
}
