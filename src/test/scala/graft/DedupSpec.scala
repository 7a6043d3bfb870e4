package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val near1 = "the quick brown fox jumps over the lazy dog again and again every day"
  private val near2 = "the quick brown fox jumps over the lazy dog again and again every night"
  private val far = "completely different content about spark query engines and columnar formats"

  test("connectedComponents labels chains and leaves islands separate") {
    // chain 1-2-3 plus pair 10-11: two components, labeled by their min id
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on a long chain in O(log d) rounds (pointer jumping)") {
    // a 64-node chain has diameter 63: pure min-propagation needs 63
    // rounds and would NOT finish under maxIter = 10.
    // localSolveMaxEdges = 0 forces the distributed rounds.
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain, maxIter = 10, localSolveMaxEdges = 0)
      .as[(Long, Long)].collect()
    assert(comps.length === 64)
    assert(comps.forall(_._2 === 0L), comps.filter(_._2 != 0L).take(5).mkString(";"))
  }

  test("connectedComponents local union-find and distributed rounds agree on a random graph") {
    val rnd = new scala.util.Random(7)
    // ~300 edges over 400 ids: a mix of chains, merged clusters, islands
    val pairs = Seq.fill(300) {
      val a = rnd.nextInt(400).toLong; val b = rnd.nextInt(400).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct.toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, localSolveMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(local === dist)
  }

  test("spanningForest preserves connectivity exactly: connectedComponentsScalable " +
    "≡ connectedComponents on chains, self-loops, random graphs, any partitioning") {
    val rnd = new scala.util.Random(23)
    val pairs = (Seq.fill(400) {
      val a = rnd.nextInt(500).toLong; val b = rnd.nextInt(500).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2) ++
      (600L until 640L).map(i => (i, i + 1)) ++ // a chain spanning partitions
      Seq((999L, 999L))). // a self-loop singleton
      distinct.toDF("id_a", "id_b")
    val direct = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val viaForest = Dedup.connectedComponentsScalable(pairs)
      .as[(Long, Long)].collect().toMap
    assert(direct === viaForest)
    // the fold is partition-independent: a different partitioning of the
    // same pair stream yields the same labels
    val reparted = Dedup.connectedComponentsScalable(pairs.repartition(7))
      .as[(Long, Long)].collect().toMap
    assert(direct === reparted)
    assert(viaForest.get(999L) === Some(999L))
  }

  test("spanningForest output is node-linear on a dense pair set; fail-loud " +
    "on non-integral ids and on the per-partition node cap") {
    // complete graph on 200 nodes: 19900 pairs fold to ≤ partitions × 200
    // star edges — the keep path's materialization bound
    val n = 200
    val dense = (for (a <- 0 until n; b <- a + 1 until n)
      yield (a.toLong, b.toLong)).toDF("id_a", "id_b").repartition(8)
    val forest = Dedup.spanningForest(dense)
    assert(forest.count() <= 8L * n)
    val comps = Dedup.connectedComponents(forest).as[(Long, Long)].collect()
    assert(comps.length === n && comps.forall(_._2 === 0L))
    // ids that can't enter a primitive union-find refuse loudly
    val e = intercept[IllegalArgumentException](
      Dedup.spanningForest(Seq(("a", "b")).toDF("id_a", "id_b")))
    assert(e.getMessage.contains("integral ids"), e.getMessage)
    // the node cap trips inside the task (wrapped by Spark) with a remedy
    val capped = intercept[Exception](
      Dedup.spanningForest(dense.coalesce(1), maxNodesPerPartition = 50).count())
    val chain = Iterator.iterate(capped: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("distinct nodes"), chain)
  }

  test("deduplicateNear keeps one doc per near-dup cluster plus all singletons") {
    val docs = Seq(
      (1L, near1), (2L, near2), // near-dups of each other → keep 1
      (5L, far)                 // singleton → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.deduplicateNear(docs, 0.4).select("doc_id")
      .as[Long].collect().toSet
    assert(kept === Set(1L, 5L))
  }

  test("removeBoilerplate strips cross-doc repeated units, keeps order, counts within-doc repeats once") {
    val docs = Seq(
      (1L, "unique alpha. all rights reserved. unique beta"),
      (2L, "all rights reserved. own content here"),
      (3L, "all rights reserved. all rights reserved. solo text"), // repeated within ONE doc
      (4L, "nothing shared at all")
    ).toDF("doc_id", "text")
    // df("all rights reserved") = 3 docs (doc 3 counts once) → boilerplate at 3
    val out = Dedup.removeBoilerplate(docs, minDocFreq = 3)
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "unique alpha. unique beta") // order preserved around the cut
    assert(out(2L) === "own content here")
    assert(out(3L) === "solo text")
    assert(out(4L) === "nothing shared at all")
    // at threshold 4 nothing repeats enough — all docs intact
    val none = Dedup.removeBoilerplate(docs, minDocFreq = 4)
      .as[(Long, String)].collect().toMap
    assert(none(3L) === "all rights reserved. all rights reserved. solo text")
  }

  test("decontaminate removes corpus docs sharing an n-gram with the benchmark") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon zeta eta theta suffix"), // leaked
      (2L, "completely unrelated text with none of those benchmark words here"),
      (3L, "alpha beta gamma only shares a short fragment not eight grams")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L))
  }

  test("contaminationReport counts distinct leaked corpus docs per bench doc, zero-leak items included") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (200L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon zeta eta theta suffix"), // leaks 100
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),                     // leaks 100
      (3L, "alpha beta gamma only shares a short fragment not eight grams")      // clean
    ).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep === Map(100L -> 2L, 200L -> 0L))
  }

  test("decontaminateBloom equals exact decontaminate, even with a saturated filter") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where($"doc_id" % 50 =!= 0)
    val bench = docs.where($"doc_id" % 50 === 0)
    val exact = Dedup.decontaminate(corpus, bench)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.decontaminateBloom(corpus, bench)
      .select("doc_id").as[Long].collect().toSet
    assert(bloom === exact)
    // a deliberately tiny filter saturates (high fp rate) — the exact
    // confirm join must still keep the results identical, proving the
    // bloom stage is a pure pre-screen that can only over-ADMIT candidates
    val saturated = Dedup.decontaminateBloom(corpus, bench,
      expectedGrams = 8, numBits = 64)
      .select("doc_id").as[Long].collect().toSet
    assert(saturated === exact)
  }

  test("winnowOverlapPairs flags shared-substring docs, not disjoint ones") {
    val docs = Seq(
      (1L, near1), (2L, "PREFIX " + near1 + " SUFFIX"), // containment
      (5L, far)
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(docs, minShared = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("exact dedup groups identical texts and keeps the min id") {
    val docs = Seq((1L, "aaa"), (2L, "aaa"), (3L, "bbb")).toDF("doc_id", "text")
    val out = Dedup.exact(docs).orderBy($"keep_id").collect()
    assert(out.length === 2)
    assert(out(0).getLong(1) === 1L && out(0).getLong(2) === 2L)
    assert(out(1).getLong(1) === 3L && out(1).getLong(2) === 1L)
  }

  test("minhash LSH surfaces near-duplicate pairs with high estimated jaccard") {
    val docs = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs).collect()
    val pair = cands.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair.isDefined, s"expected (1,2) candidate, got ${cands.mkString(",")}")
    assert(pair.get.getDouble(2) > 0.5)
    assert(!cands.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("ngram jaccard confirms near-dups above threshold") {
    val docs = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(docs, 0.4).collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 1L && out(0).getLong(1) === 2L)
    assert(out(0).getDouble(2) > 0.4 && out(0).getDouble(2) < 1.0)
  }

  test("simhash: identical docs have identical fingerprints; near-dups small hamming") {
    val docs = Seq((1L, near1), (2L, near1), (3L, far)).toDF("doc_id", "text")
    val fps = Dedup.simhashFingerprints(docs).collect()
    val byId = fps.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) === byId(2L))
    assert(java.lang.Long.bitCount(byId(1L) ^ byId(3L)) > 3)
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
  }

  test("simhashPairs recall is complete: equals brute-force hamming pairs at any maxHamming") {
    val docs = Tables.documents(spark, sfDir)
    val fps = Dedup.simhashFingerprints(docs)
      .select("id", "simhash").as[(Long, Long)].collect()
    for (h <- Seq(3, 8)) {
      val expected = (for {
        (ia, fa) <- fps; (ib, fb) <- fps
        if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= h
      } yield (ia, ib)).toSet
      val got = Dedup.simhashPairs(docs, maxHamming = h)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got === expected, s"maxHamming=$h: missing ${(expected -- got).take(5)}")
    }
  }

  test("winnowing fingerprints overlap heavily for shifted/extended text") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running through the field"
    val shifted = "PREFIX ADDED HERE " + base
    val docs = Seq((1L, base), (2L, shifted), (3L, far)).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val overlap12 = fps(1L).intersect(fps(2L)).size.toDouble / fps(1L).size
    val overlap13 = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).size
    assert(overlap12 > 0.7, s"shifted overlap $overlap12")
    assert(overlap13 < 0.2, s"unrelated overlap $overlap13")
    // identical text → identical fingerprints
    val again = Dedup.winnowFingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(again === fps)
  }

  test("fingerprints of the sf0.001 corpus are deterministic across runs") {
    val docs = Tables.documents(spark, sfDir)
    val a = Dedup.minhashCandidates(docs).count()
    val b = Dedup.minhashCandidates(docs).count()
    assert(a === b)
  }

  test("deduplicateIncremental admits only first-in-batch AND unseen-in-store docs") {
    val history = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val store = Dedup.fingerprintStore(history)
    val batch = Seq(
      (10L, "brand new"),     // admitted
      (11L, "seen before"),   // in store → dropped
      (12L, "brand new"),     // dup of 10 within batch → dropped
      (13L, "another new"),   // admitted
      (14L, "also seen")      // in store → dropped
    ).toDF("doc_id", "text")
    val admitted = Dedup.deduplicateIncremental(batch, store)
      .select("doc_id").as[Long].collect().sorted
    assert(admitted === Array(10L, 13L))
    // admitting the batch then replaying it admits nothing (idempotence)
    val store2 = store.union(
      Dedup.fingerprintStore(Dedup.deduplicateIncremental(batch, store)))
    assert(Dedup.deduplicateIncremental(batch, store2).count() === 0L)
  }

  test("nearDedupIncremental drops store-near docs and near-dedups the batch") {
    val history = Seq((100L, near1)).toDF("doc_id", "text")
    val store = Dedup.minhashSignatures(history)
    val batch = Seq(
      (10L, near1),   // identical to store doc → dropped
      (11L, near2),   // near-dup of store doc → dropped
      (12L, far),     // novel → kept
      (13L, far)      // intra-batch dup of 12 → one of them kept
    ).toDF("doc_id", "text")
    val kept = Dedup.nearDedupIncremental(batch, store, 0.7)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(12L), kept.mkString(","))
    // an empty store admits everything except intra-batch near-dups
    val emptyStore = Dedup.minhashSignatures(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val kept2 = Dedup.nearDedupIncremental(batch, emptyStore, 0.7)
      .select("doc_id").as[Long].collect().sorted
    assert(kept2 === Array(10L, 12L), kept2.mkString(","))
  }

  test("over-cap buckets collapse exact-signature families even without star") {
    // 20 identical template docs: every LSH bucket holds all 20 ids and a
    // cap of 5 exempts every bucket from pairwise estimation. The
    // exact-hash collapse pass still fires: all 20 share one full
    // signature, so the family star-pairs to its minimum — O(n)
    // candidates, no bucket², and the template corpus dedups anyway
    val docs = ((1L to 20L).map(i => (i, near1)) ++ Seq((50L, far)))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs)
    val collapsed = Dedup.lshCandidatePairs(sigs, maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(collapsed.forall(_._1 === 1L))
    assert(collapsed.map(_._2).toSet === (2L to 20L).toSet)
    // oversizedStar adds the near-but-not-exact residue screen; with a
    // single exact family there is no residue — identical pair set
    val star = Dedup.lshCandidatePairs(sigs, maxBucketSize = 5, oversizedStar = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(star.toSet === collapsed.toSet)
    // end-to-end: exact verify + components collapse the template cluster
    // to one kept doc; the distinct doc survives untouched — capped+pass
    // recall equals the uncapped run
    val kept = Dedup.deduplicateNear(docs, 0.7,
      oversizedStar = true, maxBucketSize = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 50L), kept.mkString(","))
    val keptDefault = Dedup.deduplicateNear(docs, 0.7, maxBucketSize = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(keptDefault === Array(1L, 50L), keptDefault.mkString(","))
    val keptUncapped = Dedup.deduplicateNear(docs, 0.7)
      .select("doc_id").as[Long].collect().sorted
    assert(keptDefault === keptUncapped)
  }

  test("exact-hash collapse pairs identical docs that share ONLY an over-cap bucket") {
    // handcrafted signatures (the bucket stage only sees (id, __sig)):
    // family A = 20 copies of one signature; family B = 2 copies of a
    // signature agreeing with A on band 0 ONLY (slots 0-3 of 64, with
    // bands = 16 → rowsPerBand = 4). Band 0's bucket holds all 22 ids —
    // over any small cap — and is the ONLY bucket B shares with anything.
    // B differs from the bucket hub (family A's minimum), so the old
    // hub-star alone could never pair the two B docs; the exact-hash
    // collapse pass groups by full signature and pairs them at O(family).
    val sigA = (0 until 64).map(i => 1000L + i).toArray
    val sigB = sigA.take(4) ++ (4 until 64).map(i => 2000L + i)
    val sigs = ((1L to 20L).map(i => (i, sigA)) ++ Seq((30L, sigB), (31L, sigB)))
      .toDF("id", "__sig")
    val pairs = Dedup.lshCandidatePairs(sigs, maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((30L, 31L)), pairs.mkString(","))
    // family A still collapses to its own hub
    assert((2L to 20L).forall(i => pairs.contains((1L, i))))
    // without star, no cross-family pair is fabricated (B is NOT a
    // near-dup of A — est Jaccard 4/64)
    assert(!pairs.exists(p => p._2 >= 30L && p._1 < 30L))
    // with star, the B family's representative is screened against the
    // hub so exact-verify can judge the near-but-not-exact residue
    val star = Dedup.lshCandidatePairs(sigs, maxBucketSize = 5, oversizedStar = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star.contains((1L, 30L)), star.mkString(","))
    assert(star.contains((30L, 31L)))
  }

  test("SigAgreement kernel matches the zip_with HOF differentially") {
    val df = spark.range(200).select(col("id"),
      expr("transform(sequence(0, 63), i -> xxhash64(id, i) % 4)").as("a"),
      expr("transform(sequence(0, 63), i -> xxhash64(id + 1, i) % 4)").as("b"))
    val mismatched = df.where(
      graft.plans.Exprs.sigAgreement(col("a"), col("b")) =!=
        expr("size(filter(zip_with(a, b, (x, y) -> x = y), v -> v))")).count()
    assert(mismatched === 0L)
    // ragged lengths: both conventions count agreement over the overlap only
    val ragged = Seq((Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L)))
      .toDF("a", "b")
      .select(graft.plans.Exprs.sigAgreement(col("a"), col("b")))
      .head().getInt(0)
    assert(ragged === 2)
  }

  test("ngramJaccard with precomputed signatures never re-MinHashes the corpus") {
    // the one-pass contract behind nearDedupIncremental: when (id, __sig)
    // signatures are threaded in (here with lineage truncated, as the
    // incremental path's store-screen survivors effectively are), the
    // candidate+verify plan must contain ZERO MinHashSignature
    // expressions — a regression that re-derived signatures from text
    // would reintroduce the double corpus pass the verdict flagged
    val docs = Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs).localCheckpoint(true)
    val j = Dedup.ngramJaccard(docs, 0.0, sigs = Some(sigs))
    val nMinhash = j.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(e =>
        e.collect { case m: graft.plans.MinHashSignature => m }.size).sum
    }.sum
    assert(nMinhash === 0, s"plan re-computes $nMinhash MinHash signatures")
    // control: the counting method can see MinHashSignature expressions
    // where they DO appear in a plan (so the zero above is not a counting
    // artifact). The self-computed ngramJaccard path no longer works as
    // the control: it derives signatures from the lazily checkpointed
    // gram table, so its MinHash expression lives behind a LogicalRDD —
    // by design (ONE tokenize+shingle pass per query), invisible to
    // optimizedPlan. The raw signature builder still shows it.
    val nSelf = Dedup.minhashSignatures(docs)
      .queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(e =>
          e.collect { case m: graft.plans.MinHashSignature => m }.size).sum
      }.sum
    assert(nSelf > 0)
  }

  test("deduplicateNear with precomputed signatures equals the self-computed path") {
    val docs = Seq(
      (1L, near1), (2L, near2), (3L, far),
      (4L, far + " with a small tail"), (5L, "entirely unrelated fifth document text")
    ).toDF("doc_id", "text")
    val plain = Dedup.deduplicateNear(docs, 0.6)
      .select("doc_id").as[Long].collect().sorted
    val threaded = Dedup.deduplicateNear(docs, 0.6,
      sigs = Some(Dedup.minhashSignatures(docs)))
      .select("doc_id").as[Long].collect().sorted
    assert(threaded === plain)
  }

  test("nearDedupIncremental caps degenerate BATCH-side buckets; exact pass still screens") {
    // five identical batch docs put 5 ids in every band bucket; with
    // maxBucketSize = 3 those buckets exceed the cap in BOTH passes, so
    // neither the intra-batch pairing nor the store screen can go
    // quadratic against them. The exact-hash collapse pass still
    // collapses the intra-batch family to one survivor, and the linear
    // exact-signature screen drops that survivor against history (which
    // holds the identical template): NOTHING is admitted, even without
    // oversizedStar
    val store = Dedup.minhashSignatures(Seq((100L, near1)).toDF("doc_id", "text"))
    val batch = (10L to 14L).map(i => (i, near1)).toDF("doc_id", "text")
    val kept = Dedup.nearDedupIncremental(batch, store, 0.7, maxBucketSize = 3)
      .select("doc_id").as[Long].collect()
    assert(kept.isEmpty, kept.mkString(","))
    val keptStar = Dedup.nearDedupIncremental(batch, store, 0.7,
      maxBucketSize = 3, oversizedStar = true)
      .select("doc_id").as[Long].collect()
    assert(keptStar.isEmpty, keptStar.mkString(","))
    // with a roomy cap the plain screen drops all five (they near-match 100)
    val keptRoomy = Dedup.nearDedupIncremental(batch, store, 0.7)
      .select("doc_id").as[Long].collect().sorted
    assert(keptRoomy.isEmpty, keptRoomy.mkString(","))
    // the exact screen is what catches a template copy whose history-side
    // family over-caps: 20 historical copies, cap 3 — the banded screen's
    // store side is fully over cap, yet the batch's identical doc is
    // still dropped by the signature-fingerprint equi-join
    val bigStore = Dedup.minhashSignatures(
      (100L to 119L).map(i => (i, near1)).toDF("doc_id", "text"))
    val one = Seq((10L, near1)).toDF("doc_id", "text")
    val keptBig = Dedup.nearDedupIncremental(one, bigStore, 0.7, maxBucketSize = 3)
      .select("doc_id").as[Long].collect()
    assert(keptBig.isEmpty, keptBig.mkString(","))
  }

  test("containmentPairs finds doc-in-doc embeddings Jaccard misses") {
    // doc 2 is doc 1's text embedded in a much longer wrapper: containment
    // of the small side is 1.0 while Jaccard is far below any dedup
    // threshold — the asymmetric measure is the point
    val core = "the quick brown fox jumps over the lazy dog tonight"
    val wrapper = (1 to 12).map(i => s"filler$i section with many words here").mkString(" ")
    val docs = Seq(
      (1L, core),
      (2L, s"$wrapper $core $wrapper extra tail"),
      (3L, "completely unrelated text about something else entirely now")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, 0.5, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(out.head._3 === 1.0) // every 5-gram of the core appears in the wrap
    // sanity: the same pair's JACCARD is small (the wrapper dominates)
    val g = docs.select($"doc_id", graft.plans.Exprs.wordNgrams(
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.lower($"text"), "\\s+"), 5).as("gs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val jac = g(1L).intersect(g(2L)).size.toDouble / g(1L).union(g(2L)).size
    assert(jac < 0.25, s"jaccard $jac should be small where containment is 1.0")
  }

  test("containmentPairs: the rare-gram df window is the candidate contract") {
    // four identical docs: every shared gram has df 4 — OUTSIDE a [2,3]
    // window, so no candidates form (popular-gram pairs are the
    // boilerplate passes' job); inside [2,5] the family pairs fully
    val t = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (1L to 4L).map(i => (i, t)).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(docs, 0.5, maxDf = 3).count() === 0)
    assert(Dedup.containmentPairs(docs, 0.5, maxDf = 5).count() === 6) // C(4,2)
  }

  test("fuzzyValuePairs links edit-distance variants; the prefix block is the contract") {
    val df = Seq(
      (1L, "acme corp"), (2L, "acme corp"), (3L, "acme corp."), // dist 1, n=2 vs 1
      (4L, "acmi corp"),                                        // dist 1 from acme corp
      (5L, "zcme corp"),                                        // dist 1 BUT prefix-2 differs — not linked
      (6L, "unrelated name")
    ).toDF("id", "name")
    val pairs = Dedup.fuzzyValuePairs(df, "name", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys === Set(
      ("acme corp", "acme corp."), ("acme corp", "acmi corp"),
      ("acme corp.", "acmi corp")))
    // record counts ride along: "acme corp" backs 2 records
    val n = pairs.find(p => p._1 == "acme corp" && p._2 == "acme corp.").get
    assert(n._3 === 1L && n._4 === 2L && n._5 === 1L)
    // "zcme corp" is 1 edit away but outside the block — the contract, not a bug
    assert(!pairs.exists(p => p._1.startsWith("zcme") || p._2.startsWith("zcme")))
  }

  test("fuzzyCanonicalize: transitive clusters collapse to the min-record-id spelling") {
    // a ~ b (1), b ~ c (1), a ~ c (2): one component even at maxDist=1
    // only via transitivity; canonical = value of the min record id (id 1)
    val df = Seq(
      (1L, "color"), (2L, "colour"), (3L, "colouur"),
      (4L, "different"), (5L, Option.empty[String].orNull)
    ).toDF("id", "name")
    val out = Dedup.fuzzyCanonicalize(df, "id", "name", 1)
      .select($"id", $"canonical").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L) === Some("color"))
    assert(out(2L) === Some("color"))
    assert(out(3L) === Some("color")) // linked only through "colour"
    assert(out(4L) === Some("different"))
    assert(out(5L) === None) // a NULL value stays NULL, not canonical-anything
  }

  test("randomized differential: containmentPairs equals the brute-force reference") {
    for (seed <- Seq(19, 83)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
        "iota", "kappa")
      // docs built from a small vocabulary so rare-gram candidates and
      // real containment structure both occur; some docs embed others
      val bases = (0 until 20).map { i =>
        (0 until (5 + rnd.nextInt(10))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val docs = bases.zipWithIndex.map { case (t, i) =>
        val text = if (i % 5 == 4) s"${bases(rnd.nextInt(i + 1))} $t" else t // embed an earlier doc
        (i.toLong, text)
      }
      val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"), 0.4,
          n = 3, maxDf = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // reference: same gram construction, df window, and containment
      def grams(t: String): Set[String] = {
        val toks = t.trim.toLowerCase.split("\\s+").toVector
        if (toks.size < 3) Set(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSet
      }
      val gs = docs.map { case (id, t) => id -> grams(t) }.toMap
      val df_ = gs.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
      val rare = df_.collect { case (g, c) if c >= 2 && c <= 3 => g }.toSet
      val expect = (for {
        (a, ga) <- gs.toSeq; (b, gb) <- gs.toSeq
        if a < b && ga.intersect(gb).exists(rare)
        c = math.rint(ga.intersect(gb).size.toDouble / math.min(ga.size, gb.size) * 1e6) / 1e6
        if c >= 0.4
      } yield (a, b, c)).toSet
      assert(got === expect, s"seed $seed")
    }
  }

  test("randomized differential: fuzzyCanonicalize ≡ brute-force transitive closure") {
    for (seed <- Seq(29, 71)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("ring", "rang", "rung", "rings", "bolt", "bold", "bolts",
        "widget", "widgit", "unrelated")
      val rows = (1 to 80).map(i => (i.toLong, vocab(rnd.nextInt(vocab.size))))
      val got = Dedup.fuzzyCanonicalize(rows.toDF("id", "name"), "id", "name", 1)
        .select("id", "canonical")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // reference: union-find over distinct-name pairs (lev<=1, prefix-2
      // block), canonical = name of the min record id in the component
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val nameId = rows.groupBy(_._2).map { case (nm, rs) => nm -> rs.map(_._1).min }
      val names = nameId.keys.toSeq.sorted
      val parent = scala.collection.mutable.Map(names.map(n => n -> n): _*)
      def find(x: String): String =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      for (a <- names; b <- names
           if a < b && a.take(2) == b.take(2) &&
             math.abs(a.length - b.length) <= 1 && lev(a, b) <= 1) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(if (nameId(ra) < nameId(rb)) rb else ra) =
          if (nameId(ra) < nameId(rb)) ra else rb
      }
      val expect = rows.map { case (id, nm) => id -> find(nm) }.toMap
      assert(got === expect, s"seed $seed")
    }
  }

  test("randomized differential: fuzzyValuePairs equals the brute-force reference") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (seed <- Seq(13, 57)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("ring", "rang", "rings", "widget", "widgit", "wedget", "bolt", "bold")
      val rows = (1 to 120).map(i => (i.toLong, vocab(rnd.nextInt(vocab.size))))
      val got = Dedup.fuzzyValuePairs(rows.toDF("id", "name"), "name", 2)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val names = rows.map(_._2).distinct.sorted
      val expect = (for {
        a <- names; b <- names
        if a < b && a.take(2) == b.take(2) &&
          math.abs(a.length - b.length) <= 2 && lev(a, b) <= 2
      } yield (a, b, lev(a, b).toLong)).toSet
      assert(got === expect, s"seed $seed")
    }
  }
}
