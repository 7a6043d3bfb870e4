package graft

import graft.operators.{Sampling, Similarity}
import graft.plans.Exprs
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),  // nearly parallel to 1
    (3L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal to 1
    (4L, Array(0.0f, 0.0f, 2.0f))
  ).toDF("vec_id", "embedding")

  test("ArrayDotProduct matches a hand-computed dot in both eval paths") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val codegen = df.select(Exprs.dot($"a", $"b")).head.getDouble(0)
    assert(codegen === 32.0)
    // interpreted path (eval): force by using it inside a filter on a tiny df
    val filtered = df.where(Exprs.dot($"a", $"b") > 31.9).count()
    assert(filtered === 1L)
  }

  test("cosinePairs finds near-parallel pairs only") {
    val pairs = Similarity.cosinePairs(vecs, 0.9).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(pairs(0).getDouble(2) > 0.99)
    assert(Similarity.cosinePairs(vecs, 0.999999).isEmpty)
  }

  test("topK ranks by cosine descending and excludes the query itself") {
    val q = vecs.where($"vec_id" === 1L)
    val out = Similarity.topK(vecs, q, 3).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(2L, 3L, 4L))
    assert(out(0).getDouble(1) > out(1).getDouble(1))
  }

  test("ivfTopK: exact cosines, deterministic, trained-centroid recall vs brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.orderBy($"vec_id".desc).limit(1) // a non-centroid query vector
    val brute = Similarity.topK(emb, q, 10).collect()
    val bruteCos = brute.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.ivfTopK(emb, q, 10, nlist = 16, nprobe = 6).collect()
    assert(ivf.length === 10)
    // any id IVF returns that brute force also ranked must carry the exact same cosine
    ivf.foreach { r =>
      bruteCos.get(r.getLong(0)).foreach(c => assert(c === r.getDouble(1)))
    }
    // trained centroids (kmeans-on-sample) must hold real recall — a floor
    // an untrained-seed regression would actually trip. The testdata
    // embeddings are near-isotropic (no cluster structure), the worst case
    // for IVF: neighbors spread across cells roughly uniformly, so recall is
    // probe-budget-bound (~nprobe/nlist + query-cell mass). 0.7 at
    // nprobe=6/nlist=16 holds trained and fails seeded.
    val recall = ivf.map(_.getLong(0)).count(bruteCos.contains) / 10.0
    assert(recall >= 0.7, s"recall $recall")
    val again = Similarity.ivfTopK(emb, q, 10, nlist = 16, nprobe = 6).collect()
    assert(ivf.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
  }

  test("ivfTopK training beats untrained seed centroids on mean recall") {
    // the regression this guards: ivfTopK silently falling back to raw seed
    // vectors as the codebook. Mean recall over 8 queries de-noises the
    // per-query spread; everything here is deterministic (hash sample,
    // lowest-id seeds, decimal accumulation), so the margin is stable.
    val emb = Tables.embeddings(spark, sfDir)
    val qids = emb.orderBy($"vec_id".desc).limit(8).select($"vec_id").as[Long].collect()
    def meanRecall(cents: Array[Array[Double]]): Double = {
      val index = Similarity.buildIvfIndex(emb, cents).cache()
      val r = qids.map { qid =>
        val q = emb.where($"vec_id" === qid)
        val brute = Similarity.topK(emb, q, 10).collect().map(_.getLong(0)).toSet
        val ivf = Similarity.ivfTopKIndexed(index, cents, q, 10, nprobe = 4).collect()
        ivf.map(_.getLong(0)).count(brute.contains) / 10.0
      }.sum / qids.length
      index.unpersist()
      r
    }
    val seed = meanRecall(Similarity.seedCentroids(emb, 16))
    val trained = meanRecall(Similarity.kmeansCentroids(
      Sampling.deterministicSample(emb, "vec_id", 0.25), 16, 2))
    assert(trained >= seed + 0.05, s"trained $trained vs seed $seed")
    assert(trained >= 0.55, s"trained mean recall $trained")
  }

  test("ivf assignment is map-side (no join/shuffle before the probe filter)") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.seedCentroids(emb, 8)
    val index = Similarity.buildIvfIndex(emb, cents)
    val plan = index.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"assignment must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
  }

  test("persisted IVF index: probes prune cell partitions, results match unpersisted path") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.kmeansCentroids(emb, 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.buildIvfIndex(emb, cents).write.mode("overwrite")
      .partitionBy("cent_idx").parquet(dir)
    val index = spark.read.parquet(dir)
    val q = emb.orderBy($"vec_id".desc).limit(1)
    val out = Similarity.ivfTopKIndexed(index, cents, q, 10, nprobe = 2)
    val rows = out.collect()
    assert(rows.length === 10)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cent_idx"),
      s"probe must prune cent_idx partitions:\n$plan")
    // same result as building the index inline with the same codebook
    val inline = Similarity.ivfTopKIndexed(Similarity.buildIvfIndex(emb, cents), cents, q, 10, nprobe = 2)
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      inline.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("incremental IVF append: merged index ≡ full rebuild, drift signals skew") {
    val emb = Tables.embeddings(spark, sfDir)
    val hist = emb.where($"vec_id" % 10 =!= 0)
    val batch = emb.where($"vec_id" % 10 === 0)
    val cents = Similarity.kmeansCentroids(hist, 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    Similarity.buildIvfIndex(hist, cents).write.mode("overwrite")
      .partitionBy("cent_idx").parquet(dir)
    val baseCounts = Similarity.ivfCellCounts(spark.read.parquet(dir))
    Similarity.appendToIvfIndex(dir, batch, cents)
    val merged = spark.read.parquet(dir)
    // the merged index is ROW-identical to a full rebuild under the same
    // frozen centroids (assignment is a deterministic per-vector function)
    val full = Similarity.buildIvfIndex(emb, cents)
    assert(merged.count() === full.count())
    assert(merged.select("vec_id", "cent_idx").exceptAll(
      full.select("vec_id", "cent_idx")).count() === 0L)
    // …so probes against it match probes against the rebuild exactly
    val q = emb.orderBy($"vec_id".desc).limit(1)
    val mergedTop = Similarity.ivfTopKIndexed(merged, cents, q, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fullTop = Similarity.ivfTopKIndexed(full, cents, q, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mergedTop === fullTop)
    // drift: a same-distribution batch barely moves occupancy; a batch
    // slammed into ONE cell moves it far — the retrain trigger fires on
    // the second, not the first
    val uniformDrift = Similarity.ivfOccupancyDrift(
      baseCounts, Similarity.ivfCellCounts(merged))
    assert(uniformDrift < 0.15, s"uniform append drifted $uniformDrift")
    val hot = baseCounts.keys.min
    val skewCounts = baseCounts.map { case (c, n) =>
      c -> (if (c == hot) n + baseCounts.values.sum else n) }
    val skewDrift = Similarity.ivfOccupancyDrift(baseCounts, skewCounts)
    assert(skewDrift > 0.3, s"skewed append must drift, got $skewDrift")
  }

  test("topKBatch equals per-query brute-force topK for every query") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.orderBy($"vec_id").limit(3)
    val batch = Similarity.topKBatch(emb, queries, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(x => (-x._2, x._1)).toSeq).toMap
    queries.collect().foreach { qr =>
      val qid = qr.getLong(0)
      val single = Similarity.topK(emb, emb.where($"vec_id" === qid), 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) === single, s"qid=$qid")
    }
  }

  test("topKBatch and hardNegatives give the same rows on both sides of the join-back gate") {
    val emb = Tables.embeddings(spark, sfDir)
    val labeled = emb.withColumn("label", $"vec_id" % 3)
    val queries = emb.orderBy($"vec_id").limit(3)
    val key = "spark.graft.topk.joinBackMinQueries"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    def both(): (Seq[(Long, Long, Double)], Seq[(Long, Long, Double)]) =
      (rows(Similarity.topKBatch(emb, queries, 7)),
        rows(Similarity.hardNegatives(labeled, labeled.orderBy($"vec_id").limit(3), 5)))
    val prev = spark.conf.getOption(key)
    val (batchSmall, negSmall) = both() // 3 queries < the default 64: refine on candidates
    spark.conf.set(key, "1")
    val (batchJoin, negJoin) = try both() // 3 ≥ 1: the join-back refine
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(batchSmall.nonEmpty && negSmall.nonEmpty)
    assert(batchJoin === batchSmall)
    assert(negJoin === negSmall)
    val perQuery = queries.collect().toSeq.flatMap { qr =>
      val qid = qr.getLong(0)
      Similarity.topK(emb, emb.where($"vec_id" === qid), 7)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.sorted
    assert(batchSmall === perQuery)
  }

  test("mmrRerank trades a redundant near-duplicate for coverage; rank 1 is pure relevance") {
    // corpus: A and A' nearly identical (both very close to the query),
    // B distinct with moderate relevance. Plain top-2 = {A, A'};
    // MMR top-2 must swap the redundant A' for B.
    val emb = Seq(
      (1L, Array(0.999f, 0.04f, 0.0f)),  // A — most relevant
      (2L, Array(0.999f, 0.045f, 0.0f)), // A' ~ A (redundant)
      (3L, Array(0.8f, -0.6f, 0.0f)),    // B distinct: rel 0.80 > sim-to-A 0.78
      (9L, Array(1.0f, 0.0f, 0.0f))      // the query vector
    ).toDF("vec_id", "embedding")
    val queries = emb.where($"vec_id" === 9L)
    val cands = Similarity.topK(emb, queries, 3)
      .withColumn("qid", lit(9L))
      .select($"qid", $"vec_id", $"cosine")
    val plain = cands.orderBy($"cosine".desc).limit(2)
      .select("vec_id").as[Long].collect().toSet
    assert(plain === Set(1L, 2L))
    val mmr = Similarity.mmrRerank(cands, emb, k = 2, lambda = 0.5)
      .orderBy($"mmr_rank")
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(mmr.head._1 === 1L, s"rank 1 must be the most relevant: ${mmr.toSeq}")
    assert(mmr(1)._1 === 3L, s"rank 2 must trade A' for the distinct B: ${mmr.toSeq}")
    // the candidate cap fails loudly, not out-of-memory
    val e = intercept[org.apache.spark.SparkException] {
      Similarity.mmrRerank(cands, emb, k = 2, maxCandidates = 1).collect()
    }
    assert(e.getMessage.contains("maxCandidates") ||
      Option(e.getCause).exists(_.getMessage.contains("maxCandidates")))
  }

  test("topKBatch caps its collected query batch at spark.graft.ann.maxBatchQueries") {
    val emb = Tables.embeddings(spark, sfDir)
    spark.conf.set("spark.graft.ann.maxBatchQueries", "3")
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.topKBatch(emb, emb.limit(10), 5)
      }
      assert(e.getMessage.contains("spark.graft.ann.maxBatchQueries"))
      // under the cap the same call runs
      assert(Similarity.topKBatch(emb, emb.limit(2), 5).count() > 0)
    } finally spark.conf.unset("spark.graft.ann.maxBatchQueries")
  }

  test("int8 quantization: 4x smaller codes, small cosine error after round-trip") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.select($"vec_id", graft.plans.Exprs.quantizeInt8($"embedding").as("q"))
      .select($"vec_id", $"q.qscale".as("qscale"), $"q.codes".as("codes"))
    assert(q.schema("codes").dataType.simpleString === "array<tinyint>")
    // round-trip: cosine(original, dequantized) ≈ 1 for every vector
    val joined = emb.join(q, "vec_id")
      .select($"vec_id", $"embedding",
        expr("transform(codes, c -> cast(c as double) * qscale)").as("deq"))
    val cosErr = joined.select(
      (expr("aggregate(zip_with(embedding, deq, (a, b) -> cast(a as double) * b), cast(0 as double), (s, x) -> s + x)") /
        (sqrt(expr("aggregate(embedding, cast(0 as double), (s, x) -> s + cast(x as double) * cast(x as double))")) *
          sqrt(expr("aggregate(deq, cast(0 as double), (s, x) -> s + x * x)")))).as("cos"))
      .agg(min($"cos")).head.getDouble(0)
    assert(cosErr > 0.995, s"worst round-trip cosine $cosErr")
  }

  test("cosinePairsExact matches brute force exactly, with no nested-loop join") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Similarity.cosinePairs(emb, 0.35)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    val blocked = Similarity.cosinePairsExact(emb, 0.35, blocks = 4)
    val got = blocked.select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(got === brute)
    assert(brute.nonEmpty)
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "grid join must be an equi join")
    // tiny-dim edge: 3-dim toy vectors incl. near-parallel pair
    val toyBrute = Similarity.cosinePairs(vecs, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val toyBlocked = Similarity.cosinePairsExact(vecs, 0.9, blocks = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(toyBlocked === toyBrute)
  }

  test("cosinePairsExact: parallelism-derived auto grid equals an explicit grid") {
    val emb = Tables.embeddings(spark, sfDir)
    val auto = Similarity.cosinePairsExact(emb, 0.35)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    val fixed = Similarity.cosinePairsExact(emb, 0.35, blocks = 3)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(auto === fixed)
    assert(auto.nonEmpty)
  }

  test("bucketed LSH pairs: subset of brute force, banded recall beats single-band") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Similarity.cosinePairs(emb, 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosinePairsBucketed(emb, 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.nonEmpty)
    // OR-amplification must actually amplify: the banded default's recall
    // strictly dominates a single AND-only band of the same total bits
    val single = Similarity.cosinePairsBucketed(emb, 0.2, planes = 32, bands = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(lsh), "a 32-bit full-signature match implies some 4-bit band matches")
    assert(lsh.size > single.size, s"banded ${lsh.size} vs single ${single.size}")
  }

  test("over-cap LSH buckets exact-collapse instead of vanishing (identical-vector family)") {
    // 30 identical vectors + 5 distinct ones, cap 10: every bucket holding
    // the family is over-cap, yet all 30 must still pair to the family hub
    val fam = (1L to 30L).map(i => (i, Array(1.0f, 0.5f, -0.25f, 2.0f), 0))
    val rest = (100L to 104L).map(i =>
      (i, Array(-1.0f + i * 0.1f, 3.0f, 0.7f, -0.4f * i), 1))
    val emb = (fam ++ rest).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.cosinePairsBucketed(emb, 0.9, maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the family's star to its hub (min id 1) survives the cap
    for (i <- 2L to 30L) assert(pairs.contains((1L, i)), s"missing (1,$i)")
    // and the exact verify still gates: the family never pairs with the
    // unrelated vectors (rest-vs-rest pairs above threshold are legitimate)
    assert(pairs.forall { case (a, b) => (a <= 30L) == (b <= 30L) })
  }

  test("pqTopKReranked: exact-cosine order, recall at least matches pure ADC") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.orderBy($"vec_id".desc).limit(1)
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 2)
    val encoded = Similarity.pqEncoded(emb, books)
    val brute = Similarity.topK(emb, q, 10).as[(Long, Double)].collect()
    val bruteIds = brute.map(_._1).toSet
    val adc = Similarity.pqTopK(encoded, books, q, 10).collect().map(_.getLong(0))
    val rr = Similarity.pqTopKReranked(encoded, books, emb, q, 10)
      .as[(Long, Double)].collect()
    assert(rr.length === 10)
    // re-ranked scores ARE exact cosines: every id shared with brute force
    // carries the identical value
    val bruteCos = brute.toMap
    rr.foreach { case (id, c) => bruteCos.get(id).foreach(b => assert(b === c)) }
    val adcRecall = adc.count(bruteIds.contains) / 10.0
    val rrRecall = rr.map(_._1).count(bruteIds.contains) / 10.0
    assert(rrRecall >= adcRecall, s"rerank $rrRecall vs adc $adcRecall")
    assert(rrRecall >= 0.5, s"rerank recall $rrRecall")
  }

  test("pq: codes are valid, deterministic, and partition-count-invariant") {
    val emb = Tables.embeddings(spark, sfDir)
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 2)
    assert(books.length === 8)
    assert(books.forall(_.length === 16))
    assert(books.forall(_.forall(_.length === 8))) // 64 dims / 8 subspaces
    val codes = Similarity.pqEncoded(emb, books)
      .as[(Long, Seq[Byte])].collect().toMap
    assert(codes.values.forall(c => c.length === 8 && c.forall(b => b >= 0 && b < 16)))
    // training and encoding are decimal-accumulated / tie-broken → identical
    // under a different partitioning
    val books2 = Similarity.pqCodebooks(emb.repartition(7), m = 8, ksub = 16, iters = 2)
    assert(books.map(_.map(_.toSeq).toSeq).toSeq === books2.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("pq ADC approximates exact cosine and training tightens it") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.orderBy($"vec_id".desc).limit(1)
    val exact = Similarity.topK(emb, q, 1000).as[(Long, Double)].collect().toMap
    def adcErr(iters: Int): Double = {
      val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = iters)
      val adc = Similarity.pqTopK(Similarity.pqEncoded(emb, books), books, q, 1000)
        .as[(Long, Double)].collect().toMap
      val errs = exact.collect { case (id, c) if adc.contains(id) => math.abs(adc(id) - c) }
      errs.sum / errs.size
    }
    val trained = adcErr(2)
    assert(trained < 0.2, s"mean ADC error $trained")
    // Lloyd iterations should not make the codebook worse
    assert(trained <= adcErr(0) + 0.02)
  }

  test("residual IVF-PQ: LUT algebra matches driver-side reconstruction; wins on clustered data") {
    // deterministic clustered corpus: 6 well-separated centers, small
    // residual noise — the geometry residual coding exists for. (The
    // testdata embeddings are near-isotropic — within-cluster variance ≈
    // total variance — so they can't demonstrate the residual advantage.)
    def lcg(s: Long): Long = s * 6364136223846793005L + 1442695040888963407L
    def unif(s: Long): Double = ((lcg(s) >>> 40).toDouble / (1L << 24)) - 0.5
    val nClusters = 24
    // random well-separated centers: more center patterns per subspace than
    // the quantizer has codes (ksub = 4), so raw-vector PQ CANNOT represent
    // the centers — while the coarse stage hands residual PQ exactly the
    // small noise it can encode well
    val centers = Array.tabulate(nClusters)(c => Array.tabulate(16)(d => unif(c * 31L + d) * 6.0))
    val rows = (0 until 240).map { i =>
      val cluster = i % nClusters
      val v = Array.tabulate(16)(d =>
        (centers(cluster)(d) + unif(i * 97L + d + 7) * 0.2).toFloat)
      (i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val q = emb.orderBy($"vec_id".desc).limit(1)
    val exact = Similarity.topK(emb, q, 300).as[(Long, Double)].collect().toMap
    val cents = Similarity.kmeansCentroids(emb, nClusters, 3)
    val books = Similarity.pqCodebooks(emb, m = 4, ksub = 4, iters = 2)
    // plain PQ on the raw vectors: what an IVF-PQ index probing every cell scores
    val plain = Similarity.pqTopK(Similarity.pqEncoded(emb, books), books, q, 300)
      .as[(Long, Double)].collect().toMap
    val (rBooks, rIndex) = Similarity.buildIvfPqResidualIndex(
      emb, cents, m = 4, ksub = 4, iters = 2, trainFraction = 1.0)
    val res = Similarity.ivfPqResidualTopK(rIndex, cents, rBooks, q, 300, nprobe = nClusters)
      .as[(Long, Double)].collect().toMap
    def meanErr(adc: Map[Long, Double]): Double = {
      val errs = exact.collect { case (id, c) if adc.contains(id) => math.abs(adc(id) - c) }
      errs.sum / errs.size
    }
    val (pe, re) = (meanErr(plain), meanErr(res))
    assert(re < pe, s"residual ADC error $re should beat plain $pe on clustered data")
    // the LUT algebra is EXACT for the reconstruction x̂ = cent + decode(codes):
    // recompute a few scores driver-side from the index rows and compare
    val qv = rows.last._2.map(_.toDouble)
    val qNorm = math.sqrt(qv.map(x => x * x).sum)
    val dsub = rBooks(0)(0).length
    val sample = rIndex.where($"vec_id" =!= rows.last._1).orderBy($"vec_id").limit(20)
      .as[(Long, Int, Seq[Byte])].collect()
    val adcScores = Similarity.ivfPqResidualTopK(rIndex, cents, rBooks, q, 300, nprobe = nClusters)
      .as[(Long, Double)].collect().toMap
    sample.foreach { case (id, cell, codes) =>
      val xhat = cents(cell).clone()
      codes.zipWithIndex.foreach { case (code, s) =>
        val cb = rBooks(s)((code.toInt) & 0xff)
        cb.zipWithIndex.foreach { case (x, i) => xhat(s * dsub + i) += x }
      }
      val ip = xhat.zip(qv).map { case (a, b) => a * b }.sum
      val expected = ip / (qNorm * math.sqrt(xhat.map(x => x * x).sum))
      adcScores.get(id).foreach { got =>
        assert(math.abs(got - expected) < 1e-6, s"id=$id got $got expected $expected")
      }
    }
    // deterministic under repartitioning
    val (rBooks2, rIndex2) = Similarity.buildIvfPqResidualIndex(
      emb.repartition(5), cents, m = 4, ksub = 4, iters = 2, trainFraction = 1.0)
    val res2 = Similarity.ivfPqResidualTopK(rIndex2, cents, rBooks2, q, 10, nprobe = nClusters)
      .as[(Long, Double)].collect().toSeq
    val res1 = Similarity.ivfPqResidualTopK(rIndex, cents, rBooks, q, 10, nprobe = nClusters)
      .as[(Long, Double)].collect().toSeq
    assert(res1 === res2)
  }

  test("pqTopK: k rows, descending, reasonable recall vs brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.orderBy($"vec_id".desc).limit(1)
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 2)
    val pq = Similarity.pqTopK(Similarity.pqEncoded(emb, books), books, q, 10).collect()
    assert(pq.length === 10)
    assert(pq.map(_.getDouble(1)).toSeq === pq.map(_.getDouble(1)).sortBy(-_).toSeq)
    assert(!pq.map(_.getLong(0)).contains(
      q.select($"vec_id").head().getLong(0)))
    val brute = Similarity.topK(emb, q, 10).collect().map(_.getLong(0)).toSet
    val recall = pq.map(_.getLong(0)).count(brute.contains) / 10.0
    assert(recall >= 0.2, s"recall@10 $recall")
  }

  test("semdedupPairs is sound (subset of exact pairs); ensemble lifts recall") {
    val emb = Tables.embeddings(spark, sfDir)
    val sample = graft.operators.Sampling.deterministicSample(emb, "vec_id", 0.25)
    val cents8 = Similarity.kmeansCentroids(sample, 8, 2)
    val cents4 = Similarity.kmeansCentroids(sample, 4, 2)
    val single = Similarity.semdedupPairsEnsemble(emb, Seq(cents8), 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ensemble = Similarity.semdedupPairsEnsemble(emb, Seq(cents8, cents4), 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.cosinePairsExact(emb, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // soundness: every emitted pair IS an exact cosine>τ pair (the decimal
    // verify guarantees it — this is the property that makes drops safe)
    assert(single.subsetOf(exact), s"unsound pairs: ${single.diff(exact).take(5)}")
    assert(ensemble.subsetOf(exact), s"unsound pairs: ${ensemble.diff(exact).take(5)}")
    assert(single.subsetOf(ensemble))
    // recall: cross-cell misses are the SemDeDup tradeoff; the two-
    // granularity ensemble must materially beat a lone clustering on the
    // near-isotropic testdata (clustering's worst case — single measured
    // 0.39 here)
    if (exact.nonEmpty) {
      val recall = ensemble.size.toDouble / exact.size
      assert(recall >= 0.5, s"ensemble recall $recall (${ensemble.size}/${exact.size})")
      assert(ensemble.size >= single.size)
    }
  }

  test("autoCellCount: √n-scaled with the small-corpus floor pinning the shipped clustering") {
    // the floor — every corpus up to 2048 vectors keeps the bench-era
    // k = 8, so 1×-scale keep sets and recall diagnostics are unchanged
    assert(Similarity.autoCellCount(200) === 8)
    assert(Similarity.autoCellCount(2000) === 8)
    assert(Similarity.autoCellCount(2048) === 8)
    // the √n regime: Σ cell² ≈ n²/k stays ~n·√32n instead of n²/8
    assert(Similarity.autoCellCount(20000) === 25)
    assert(Similarity.autoCellCount(200000) === 80)
    assert(Similarity.autoCellCount(20000000) === 791)
  }

  test("persisted cent_idx-partitioned IVF-PQ index probe equals the inline probe") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.kmeansCentroids(
      graft.operators.Sampling.deterministicSample(emb, "vec_id", 0.25), 16, 2)
    val (books, index) = Similarity.buildIvfPqResidualIndex(emb, cents)
    val q = emb.orderBy($"vec_id".desc).limit(1)
    val inline = Similarity.ivfPqResidualTopK(index, cents, books, q, 10, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec").toString
    index.write.mode("overwrite").partitionBy("cent_idx").parquet(path)
    val persisted = Similarity.ivfPqResidualTopK(
      spark.read.parquet(path), cents, books, q, 10, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(persisted === inline)
  }
}
