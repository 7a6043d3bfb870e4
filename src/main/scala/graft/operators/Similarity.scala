package graft.operators

import graft.Graft
import graft.functions.Fns.dotExact
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Cosine is computed with per-element double products accumulated in decimal
  * (see Fns.dotExact): exact, associative, and therefore identical under any
  * partitioning — floating-point fold order can never flip a threshold or a
  * rank.
  *
  * Scale paths: the brute-force variants are the small-side / verification
  * baseline; `lshBuckets`+`cosinePairsBucketed` is the 100 TB path — random
  * hyperplane signs bucket the corpus so the pairwise step is per-bucket.
  */
object Similarity {

  /** embedding L2 norm, exact. */
  def normExact(c: String): Column =
    sqrt(dotExact(c, c))

  /** All pairs (a < b) with cosine > threshold — brute force, for corpora
    * small enough to broadcast one side (the verification baseline).
    *
    * Two-phase evaluation: a codegen'd double dot product (graft.plans
    * .ArrayDotProduct) screens the O(n²) pairs with a small safety margin,
    * and only survivors pay the decimal-exact recompute that defines the
    * final value — exactness of the brute-force oracle at ~the cost of the
    * cheap kernel.
    */
  def cosinePairs(embeddings: DataFrame, threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // spread the streamed side: a single-file corpus would otherwise run
    // the O(n²) pair loop on one core
    val n = Graft.spread(embeddings)
      .select(col(idCol).as("id"), col(vecCol).as("v"), normExact(vecCol).as("nrm"))
    val a = n.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = n.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .where(graft.plans.Exprs.dot(col("va"), col("vb"))
        / nullif(col("na") * col("nb"), lit(0.0)) > threshold - 1e-6)
      .select(col("id_a"), col("id_b"),
        round(dotExact("va", "vb") / nullif(col("na") * col("nb"), lit(0.0)), 6).as("cosine"))
      .where(col("cosine") > threshold)
  }

  /** Brute-force top-k neighbors of one query vector: one scan, one dot
    * product per row, top-k via sort-limit (tiny result).
    */
  def topK(embeddings: DataFrame, query: DataFrame, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(query.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normExact(vecCol).as("qn")))
    embeddings
      .select(col(idCol), col(vecCol).as("v"), normExact(vecCol).as("nrm"))
      .crossJoin(q)
      .where(col(idCol) =!= col("qid"))
      .select(col(idCol),
        round(dotExact("v", "qv") / nullif(col("nrm") * col("qn"), lit(0.0)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** The int8 screen predicate of every quantized pair join (grid-exact,
    * SemDeDup cells): the int8 dot product plus the quantization error
    * bound |Σ qa·qb·sa·sb − a·b| ≤ sa·sb·(½Σ|qa| + ½Σ|qb| + d/4) (from the
    * per-element rounding bound |x − s·q| ≤ s/2), over the double norms,
    * clears τ with a 1e-9 margin — so the screen can never drop a true
    * pair; tightening or fixing the bound here changes all of them in
    * lockstep (the hyperplane-bucketed screen's compiled kernel,
    * graft.plans.BucketScreenPairs, states the same bound in Java terms).
    * Operates on the conventional screen-side column names (ca/cb codes,
    * sa/sb scales, s1a/s1b code sums, na/nb norms).
    */
  private def int8Screen(threshold: Double): Column = {
    val errBound = col("sa") * col("sb") *
      (lit(0.5) * (col("s1a") + col("s1b")) + lit(0.25) * size(col("ca")))
    (graft.plans.Exprs.dotInt8(col("ca"), col("cb")).cast("double") * col("sa") * col("sb")
      + errBound) / nullif(col("na") * col("nb"), lit(0.0)) > threshold - 1e-9
  }

  /** The exact verify of screen survivors (id_a, id_b): vectors join back
    * by id for the decimal-exact cosine that defines every emitted pair.
    * The decimal NORM rides the per-ID vector projection (one decimal dot
    * per corpus row — the same linear class as a quantize pass), not the
    * per-pair projection: in the dedup regime survivors ≫ ids, so
    * norm-per-pair would re-derive each id's norm once per partner
    * (measured: the τ=0.4 truth set's dominant cost was exactly this
    * recompute). Same doubles, same multiply order — bit-identical cosine.
    * `broadcastVecs` pins the vector side as the broadcast build (see
    * [[cosinePairsBucketed]]).
    */
  private def verifyExact(survivors: DataFrame, embeddings: DataFrame, threshold: Double,
                          idCol: String, vecCol: String,
                          broadcastVecs: Boolean = false): DataFrame = {
    val vecs0 = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"),
      normExact(vecCol).as("nd"))
    val vecs = if (broadcastVecs) broadcast(vecs0) else vecs0
    survivors
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"), col("nd").as("na_d")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("nd").as("nb_d")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dotExact("va", "vb") / nullif(col("na_d") * col("nb_d"), lit(0.0)), 6)
          .as("cosine"))
      .where(col("cosine") > threshold)
  }

  /** [[PairGate]] tier-2 estimator shared by every embedding pair
    * generator: the exact τ-pair count on the deterministic id sample,
    * scaled by 1/p² (both endpoints must be sampled for a pair to
    * survive, and hash sampling is independent of cluster structure, so
    * the estimate is unbiased). The approximate generators (LSH bands,
    * SemDeDup cells) confirm a SUBSET of the exact pairs at the same τ,
    * so for them this over-estimates — the gate errs toward refusing.
    */
  private def estimateExactPairs(embeddings: DataFrame, threshold: Double,
                                 idCol: String, vecCol: String)(p: Double): Long = {
    val sampled = cosinePairs(
      embeddings.where(PairGate.samplePredicate(col(idCol), p)),
      threshold, idCol, vecCol).count()
    math.ceil(sampled / (p * p)).toLong
  }

  /** Corpus-size-derived SemDeDup cell count — the knob that keeps the
    * family's quadratic-within-cell step from going quadratic-in-corpus.
    * With a FIXED k, Σ cell² ≈ n²/k grows quadratically in n (measured:
    * the 8+4-cell ensemble spent 367 s at the 100× rung on the in-cell
    * screen alone); the published SemDeDup runs scale the cluster count
    * with the dataset for exactly this reason. k = √(n/32) balances the
    * two costs that pull k in opposite directions — per-row assignment
    * (n·k·d flops, pro-small-k) against the in-cell screen
    * (Σ cell² ≈ n²/k pairs, pro-large-k) — the classic IVF √n rule with
    * the constant pinned so the SHIPPED small-corpus clustering is
    * unchanged: every n ≤ 2048 (the sf0.1 bench corpus is 2000 vectors)
    * floors to k = 8, so 1×-scale keep sets, recall diagnostics and
    * bench numbers are bit-identical to the fixed-k era, while the 100×
    * rung gets k = 80 and a ~25× smaller screen.
    */
  def autoCellCount(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(n / 32.0)).toInt)

  /** The gate's tier-2 exact-pair estimate as DATA — what [[PairGate]]
    * would compare against the cap, exposed so scale harnesses ship
    * estimate-vs-actual calibration per rung (the estimator's accuracy is
    * then measured on every battery, not only visible when a gate trips).
    */
  def estimateExactPairCount(embeddings: DataFrame, threshold: Double,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): Long =
    PairGate.tier2Estimate(embeddings.sparkSession, PairGate.corpusCount(embeddings))(
      estimateExactPairs(embeddings, threshold, idCol, vecCol))._2

  private def pairGateRemedy(threshold: Double): String =
    s"raise the cosine threshold (now $threshold) or switch to a " +
      "top-k-per-vector variant (topKBatch)"

  /** Exact cosine-threshold pair join, grid-blocked — the 100 TB shape for
    * the oracle-exact semantics (every pair with cosine > τ, no recall
    * loss). An exact all-pairs threshold join is intrinsically O(n²)
    * compute; what this operator fixes is the *distribution* and the
    * *bandwidth* of that quadratic:
    *
    *   - rows are hashed into `blocks` blocks and replicated to grid cells
    *     (i ≤ j), a theta-join on an equi key (Okcan & Riedewald, SIGMOD'11)
    *     — every cell is an independent |Bᵢ|×|Bⱼ| task, so the pair loop
    *     parallelizes evenly across the cluster with NO broadcast of either
    *     side and no BroadcastNestedLoopJoin;
    *   - the replicated payload is int8 quantization codes (4× smaller than
    *     float vectors), screened by a codegen'd integer dot product plus a
    *     per-pair quantization error BOUND (|Σqa·qb·sa·sb − a·b| ≤
    *     sa·sb·(½Σ|qa| + ½Σ|qb| + d/4), from |x − s·q| ≤ s/2), so the
    *     screen can never drop a true pair — recall is provably 1.0;
    *   - only screen survivors (≈ true pairs + bound slack) are joined back
    *     to their float vectors for the decimal-exact cosine that defines
    *     the output.
    *
    * When approximate recall is acceptable, `cosinePairsBucketed` below is
    * the sub-quadratic path; this one is for when the answer must be exact.
    *
    * `blocks` ≤ 0 picks the grid from cluster parallelism: cell count
    * b(b+1)/2 ≈ 2× default parallelism balances the fixed quadratic work
    * evenly (1-Bucket-Theta guidance) while keeping the replication factor
    * (each row ships to b+1 cells) as low as that allows — the knob scales
    * itself from local[32] to a 1000-executor cluster.
    *
    * `gated = false` skips the output-cardinality gate — ONLY for
    * consumers that reduce the pair stream to a linear artifact without
    * ever materializing it as a table (the spanning-forest keep path,
    * [[graft.operators.Dedup.connectedComponentsScalable]]): there the
    * quadratic is transient compute + disk-backed shuffle, inherent to
    * exact-τ semantics, and the melt the gate guards against (returning
    * an over-cap pair TABLE) cannot occur.
    */
  def cosinePairsExact(embeddings: DataFrame, threshold: Double, blocks: Int = 0,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       gated: Boolean = true): DataFrame = {
    // output-cardinality gate (the quadratic-output melt guard) — also
    // yields the exact corpus count the grid sizing below reuses
    // (-1 = gate disabled; the memoized count serves repeat callers)
    val gateN =
      if (!gated) -1L
      else PairGate.check(embeddings, "cosinePairsExact", s"tau=$threshold",
        pairGateRemedy(threshold))(
        estimateExactPairs(embeddings, threshold, idCol, vecCol))
    val b =
      if (blocks > 0) blocks
      else {
        val n = if (gateN >= 0) gateN else PairGate.corpusCount(embeddings)
        // parallelism-derived grid: cell count b(b+1)/2 ≈ 2× default
        // parallelism (1-Bucket-Theta guidance) …
        val fromPar = math.max(4, math.ceil(math.sqrt(
          4.0 * embeddings.sparkSession.sparkContext.defaultParallelism)).toInt)
        // … capped by the corpus count (from the gate): blocks beyond
        // √(n/64) leave < 64×64 pair-products per cell, where per-cell
        // fixed costs (task setup, hash-table build) dominate the
        // quadratic work the split is meant to balance — a small corpus
        // on a big cluster otherwise shatters into thousands of
        // near-empty cells, each shipping its replicated rows for
        // nothing.
        val fromN = math.max(4, math.ceil(math.sqrt(n.toDouble / 64.0)).toInt)
        math.min(fromPar, fromN)
      }
    // everything feeding the grid is COMPILED per-row work (Int8Quantize,
    // ArrayDotProduct): these projections re-evaluate after the explode, so
    // an interpreted HOF here would multiply by the replication factor.
    // The screen norm is the compiled double norm — its ~1e-15 relative
    // error is absorbed by the explicit 1e-9 screen margin; the decimal
    // norm only appears in the survivors' exact projection below.
    val lite = embeddings
      .select(col(idCol).as("id"),
        sqrt(graft.plans.Exprs.dot(col(vecCol), col(vecCol))).as("nrm"),
        graft.plans.Exprs.quantizeInt8(col(vecCol)).as("q"))
      .select(col("id"), col("nrm"), col("q.qscale").as("qscale"),
        col("q.codes").as("codes"), col("q.s1").as("s1"))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(b)).cast("int"))
    val sideA = lite
      .withColumn("gj", explode(expr(s"sequence(blk, ${b - 1})")))
      .select(col("blk").as("gi"), col("gj"), col("id").as("ia"), col("nrm").as("na"),
        col("qscale").as("sa"), col("codes").as("ca"), col("s1").as("s1a"))
    val sideB = lite
      .withColumn("gi", explode(expr("sequence(0, blk)")))
      .select(col("gi"), col("blk").as("gj"), col("id").as("ib"), col("nrm").as("nb"),
        col("qscale").as("sb"), col("codes").as("cb"), col("s1").as("s1b"))
    val screened = sideA.join(sideB, Seq("gi", "gj"))
      // diagonal cells see each unordered pair twice (both rows on both
      // sides); off-diagonal cells exactly once with arbitrary id order
      .where(col("gi") < col("gj") || col("ia") < col("ib"))
      .where(int8Screen(threshold))
      .select(least(col("ia"), col("ib")).as("id_a"), greatest(col("ia"), col("ib")).as("id_b"))
    // exact decimal cosine ONLY for survivors
    verifyExact(screened, embeddings, threshold, idCol, vecCol)
  }

  /** Batched brute-force top-k: ALL queries against the corpus in ONE scan
    * — the per-query plan costs |corpus| × |queries| scans at a query batch;
    * this costs one. Two-phase per the house rule (never an interpreted HOF
    * in a per-pair path): the codegen'd double dot product screens every
    * (row, query) pair, the bounded-heap GroupTopK keeps a generous
    * candidate margin per query (4k+16 — double vs decimal cosine ordering
    * can only differ within ~1e-12, so a true top-k member outside that
    * margin would need dozens of pairs inside a 1e-12 band), and only the
    * surviving candidates pay the decimal-exact cosine that defines the
    * final ranking. Shuffle carries the candidate margin per query per
    * task, never the scored cross product.
    */
  def topKBatch(embeddings: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKBatchImpl(embeddings, queries, k, idCol, vecCol, labelFilter = None)

  /** Margin-based bitext candidate mining (the CCMatrix/LASER forward
    * margin): for every query vector, its best corpus match scored by
    * cos(top-1) ÷ mean(cos of top-`k`) — the margin discounts "hubness"
    * (queries whose WHOLE neighborhood is close score near 1 and drop;
    * a genuine translation pair towers over its runner-ups). Built on
    * [[topKBatch]]'s broadcast-screen path: the corpus streams ONCE past
    * the broadcast query batch with the codegen'd double screen and a
    * bounded top-k heap per query — quadratic COMPUTE by definition of
    * exact mining, but zero shuffle of the big side, linear candidate
    * state, linear output (one row per query clearing `minMargin`).
    * The scale path swaps the screen for an IVF probe; the margin/keep
    * algebra here is unchanged by that swap.
    */
  def bitextMine(corpus: DataFrame, queries: DataFrame, k: Int = 4,
                 minMargin: Double = 1.0, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val top = topKBatch(corpus, queries, k, idCol, vecCol)
    top
      .groupBy(col("qid"))
      // best = (max cosine, then smallest id) — negate the id inside the
      // struct max so the tie-break matches the top-k ordering
      .agg(max(struct(col("cosine"), (-col(idCol)).as("nid"))).as("best"),
        sum(col("cosine").cast("decimal(28,12)")).cast("double").as("sumc"),
        count(lit(1)).as("nc"))
      .select(col("qid"), (-col("best.nid")).as("match_id"),
        (col("best.cosine") + lit(0.0)).as("cosine"),
        (round(col("best.cosine") / nullif(col("sumc") / col("nc"), lit(0.0)), 6)
          + lit(0.0)).as("margin"))
      .where(col("margin") > minMargin)
      .orderBy(col("qid"))
  }

  /** Collect a query batch to the driver, capped at
    * `spark.graft.ann.maxBatchQueries`. The batched operators plan on the
    * driver from the batch — that is their contract (a batch is
    * request-sized, not corpus-sized), and like every driver-sized
    * precondition here it fails loudly instead of OOMing when violated.
    * The collect therefore runs while the plan is built: topKBatch plans
    * over the batch as a local relation whose size picks its refine
    * shape, and ivfTopKBatch's per-query probe cells are a map literal
    * and the index's partition filter.
    */
  private def collectQueryBatch(queries: DataFrame, op: String): Array[Row] = {
    val qCap = queries.sparkSession.conf
      .get("spark.graft.ann.maxBatchQueries", "65536").toLong
    val qRows = queries.limit((qCap + 1).toInt).collect()
    require(qRows.length <= qCap,
      s"$op collects the query batch to the driver — got more than " +
        s"$qCap queries; split the batch or raise spark.graft.ann.maxBatchQueries")
    qRows
  }

  /** Shared two-phase batched top-k: codegen'd double screen over the
    * broadcast query batch, bounded-heap candidates, decimal-exact cosine
    * on survivors. The screen rank uses the SAME (rounded score, id)
    * ordering as the final decimal ranking: ranking raw doubles could cut
    * true top-k members on tie-dense corpora where many cosines share a
    * rounded value and the final order falls to the id tie-break. With
    * consistent ordering the 4k+16 margin only has to absorb
    * double-vs-decimal rounding at a 6th-decimal boundary (~1-ulp
    * events), not whole tie bands. `labelFilter = Some(labelCol)` swaps
    * the self-pair test for the label-mismatch predicate (hard-negative
    * mining) — ONE implementation so the margin/ordering reasoning can
    * never diverge between the two entry points.
    */
  private def topKBatchImpl(embeddings: DataFrame, queries: DataFrame, k: Int,
                            idCol: String, vecCol: String,
                            labelFilter: Option[String]): DataFrame = {
    val spark = embeddings.sparkSession
    // The query batch is broadcast-bounded by contract (the screen ships
    // it to every task). Collect it ONCE to a local relation: the screen
    // projection and the decimal refine both consume it (as a lazy frame
    // its lineage — often a scan + TakeOrdered — re-ran once per
    // consumer), and the batch SIZE, which picks the refine shape below,
    // comes for free instead of costing a third evaluation.
    val qNeeded = Seq(col(idCol), col(vecCol)) ++ labelFilter.map(col)
    val qProj = queries.select(qNeeded: _*)
    val qRows = collectQueryBatch(qProj, "topKBatch")
    val qLocal = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qProj.schema)
    val qCols = Seq(col(idCol).as("qid"), col(vecCol).as("qv"),
      sqrt(graft.plans.Exprs.dot(col(vecCol), col(vecCol))).as("qn")) ++
      labelFilter.map(l => col(l).as("__ql"))
    val q = broadcast(qLocal.select(qCols: _*))
    // per-row kernels below parallelize over the corpus side's partitions
    // — spread a single-split scan (no-op at scale)
    val e = Graft.spread(embeddings)
    val eCols = Seq(col(idCol), col(vecCol).as("v"),
      sqrt(graft.plans.Exprs.dot(col(vecCol), col(vecCol))).as("nrm")) ++
      labelFilter.map(col)
    val screen = e
      .select(eCols: _*)
      .crossJoin(q)
      .where(labelFilter.fold(col(idCol) =!= col("qid"))(l => col(l) =!= col("__ql")))
    // the screen projection (qid, id, ...carried, __dcos) → the 4k+16
    // candidate margin per query
    def candidates(carry: Column*): DataFrame = graft.plans.GroupTopK.topKPerKey(
      screen.select(Seq(col("qid"), col(idCol)) ++ carry :+
        (graft.plans.Exprs.dot(col("v"), col("qv"))
          / nullif(col("nrm") * col("qn"), lit(0.0))).as("__dcos"): _*),
      Seq("qid"), Seq(round(col("__dcos"), 6).desc, col(idCol).asc), 4 * k + 16)
    // Two refine shapes, gated on batch size (both produce bit-identical
    // output — same expressions, same ordering):
    //   - LARGE batches (≥ spark.graft.topk.joinBackMinQueries): the
    //     screen emits (qid, id, score) ONLY — the candidate heap and its
    //     exchange would otherwise carry two embedding arrays on every
    //     one of the per-task |queries|·(4k+16) candidate rows it ships
    //     (~25× the bytes of the id+score row, and the factor multiplies
    //     by map-task count at scale). Survivors broadcast their (qid,
    //     id) back over a second linear, column-pruned corpus scan for
    //     vectors (the cosinePairsExact idiom), with decimal norms per ID
    //     rather than per candidate row.
    //   - SMALL batches: the candidate volume |queries|·(4k+16) is tiny,
    //     so the arrays ride the bounded heap and the refine runs
    //     directly on the candidates — the join-back's second corpus scan
    //     plus two broadcast joins would cost more than the few array
    //     rows they save (measured: q_ann_batch ×0.74, q_hard_negatives
    //     ×0.65 under the unconditional join-back at sf0.1).
    val joinBackMin =
      spark.conf.get("spark.graft.topk.joinBackMinQueries", "64").toInt
    val refined =
      if (qRows.length >= joinBackMin)
        e.select(col(idCol), col(vecCol).as("v"), normExact(vecCol).as("__nd"))
          .join(broadcast(candidates().select(col("qid"), col(idCol))), Seq(idCol))
          .join(broadcast(qLocal.select(col(idCol).as("qid"), col(vecCol).as("qv"),
            normExact(vecCol).as("__qnd"))), Seq("qid"))
          .select(col("qid"), col(idCol),
            round(dotExact("v", "qv")
              / nullif(col("__nd") * col("__qnd"), lit(0.0)), 6)
              .as("cosine"))
      else
        candidates(col("v"), col("qv")).select(col("qid"), col(idCol),
          round(dotExact("v", "qv")
            / nullif(sqrt(dotExact("v", "v")) * sqrt(dotExact("qv", "qv")), lit(0.0)), 6)
            .as("cosine"))
    graft.plans.GroupTopK.topKPerKey(
      refined, Seq("qid"), Seq(col("cosine").desc, col(idCol).asc), k)
  }

  /** Hard-negative mining for contrastive training data: for each query
    * vector, the `k` most-similar corpus vectors whose `labelCol` DIFFERS
    * from the query's — the "closest wrong answers" an embedding-model
    * trainer pairs against each anchor. Same one-scan two-phase shape as
    * [[topKBatch]] (codegen'd double screen over the broadcast query
    * batch, bounded-heap candidates, decimal-exact cosine on survivors);
    * the label-mismatch test rides the same screen projection, so
    * mining negatives costs exactly one batched top-k pass. Self-pairs
    * fall out with the label filter.
    */
  def hardNegatives(embeddings: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame =
    topKBatchImpl(embeddings, queries, k, idCol, vecCol, labelFilter = Some(labelCol))

  /** Maximal-Marginal-Relevance re-ranking of a batched top-N candidate
    * set (Carbonell & Goldstein 1998): greedily pick k of each query's
    * candidates maximizing λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s) —
    * the standard diversity pass a retrieval pipeline runs after ANN so
    * near-duplicate hits don't crowd out coverage. The greedy argmax is
    * inherently SEQUENTIAL per query, so this is one of the few
    * legitimate typed-group operators in the engine: a `flatMapGroups`
    * whose per-group state is the candidate set itself — bounded at
    * `maxCandidates` (enforced, fail-loudly) and model-sized by
    * construction (N from the upstream top-k). Candidates shuffle once on
    * qid; the candidate-candidate cosines are O(N·k) per query, computed
    * in-group. Deterministic: candidates pre-sorted by (relevance desc,
    * id asc) and ties in the marginal score resolve to the first in that
    * order.
    */
  def mmrRerank(candidates: DataFrame, embeddings: DataFrame, k: Int,
                lambda: Double = 0.7, maxCandidates: Int = 1024,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(lambda >= 0 && lambda <= 1, "lambda in [0, 1]")
    val spark = candidates.sparkSession
    import spark.implicits._
    val withVec = candidates
      .join(embeddings.select(col(idCol).as("__cid"), col(vecCol).as("__v")),
        candidates(idCol) === col("__cid"))
      .select(col("qid").cast("long"), col("__cid").cast("long"),
        col("cosine").cast("double"), col("__v"))
      .as[(Long, Long, Double, Array[Float])]
    withVec.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cand = it.toArray.sortBy(c => (-c._3, c._2))
      require(cand.length <= maxCandidates,
        s"mmrRerank got ${cand.length} candidates for query $qid — bound the upstream " +
          s"top-N or raise maxCandidates ($maxCandidates)")
      val vecs = cand.map { c =>
        val v = c._4.map(_.toDouble)
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
      val chosen = scala.collection.mutable.ArrayBuffer[Int]()
      val remaining = scala.collection.mutable.ArrayBuffer(cand.indices: _*)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Double, Double)]()
      while (chosen.length < math.min(k, cand.length)) {
        var bestIdx = -1
        var best = Double.NegativeInfinity
        for (i <- remaining) {
          val div = if (chosen.isEmpty) 0.0
            else chosen.iterator.map(j => dot(vecs(i), vecs(j))).max
          val score = lambda * cand(i)._3 - (1 - lambda) * div
          if (score > best) { best = score; bestIdx = i }
        }
        chosen += bestIdx
        remaining -= bestIdx
        out += ((qid, cand(bestIdx)._2, chosen.length,
          cand(bestIdx)._3, math.rint(best * 1e6) / 1e6))
      }
      out.iterator
    }.toDF("qid", idCol, "mmr_rank", "cosine", "mmr_score")
  }

  /** Dequantized vector (array<double>) from int8 codes + scale. */
  def dequantize(codesCol: String, scaleCol: String): Column =
    expr(s"transform($codesCol, c -> cast(c as double) * $scaleCol)")

  /** Quantize an embeddings frame: id, scale, int8 codes — one compiled
    * pass per row (graft.plans.Int8Quantize): per-vector scale = max|x|/127,
    * 4× smaller storage/shuffle for a ~1e-2 cosine error, the standard
    * trade for 100 TB embedding tables.
    */
  def quantized(embeddings: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(idCol), graft.plans.Exprs.quantizeInt8(col(vecCol)).as("q"))
      .select(col(idCol), col("q.qscale").as("qscale"), col("q.codes").as("codes"))

  /** Deterministic seed centroids: the `nlist` lowest-id vectors,
    * L2-normalized. nlist rows is model-sized (like a broadcast dim) —
    * collecting them to the driver is the same footprint as broadcasting
    * them, and every real IVF implementation holds its codebook driver-side.
    */
  def seedCentroids(embeddings: DataFrame, nlist: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] =
    embeddings.orderBy(col(idCol)).limit(nlist).select(col(vecCol))
      .collect().map { r =>
        val v = r.getSeq[Float](0).toArray.map(_.toDouble)
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }

  /** Lloyd's k-means over the embedding column — the production source of
    * IVF codebooks. Each iteration is one map-side compiled assignment
    * (NearestCentroid, zero shuffle) + one partial-aggregated groupBy on
    * (centroid, dim): the only shuffled rows are the k×dims partial sums,
    * never the vectors. Deterministic: seeded from the lowest-id vectors,
    * ties to the lowest centroid index.
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    var cents = seedCentroids(embeddings, k, idCol, vecCol)
    val vecs = embeddings.select(col(vecCol).as("v"))
    for (_ <- 1 to iters) {
      val assigned = vecs.withColumn("cent_idx", graft.plans.Exprs.nearestCentroid(col("v"), cents))
      val sums = assigned
        .select(col("cent_idx"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cent_idx"), col("dim"))
        // decimal accumulation: centroids identical under any partitioning,
        // so assignments (and everything downstream) are reproducible
        .agg(sum(col("x").cast("decimal(28,12)")).cast("double").as("s"),
          count(lit(1)).as("n"))
        .collect()
      val dims = cents.head.length
      val next = Array.tabulate(cents.length)(i => cents(i).clone())
      sums.groupBy(_.getInt(0)).foreach { case (ci, rows) =>
        val mean = new Array[Double](dims)
        rows.foreach(r => mean(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
        val n = math.sqrt(mean.map(x => x * x).sum)
        next(ci) = if (n == 0) mean else mean.map(_ / n)
      }
      cents = next
    }
    cents
  }

  /** The persisted IVF index: every vector with its coarse-quantization
    * cell. Assignment is a single compiled map-side pass — the plan between
    * scan and sink has ZERO shuffles (write `partitionBy("cent_idx")` and
    * probes become partition-pruned scans; on a cluster, bucket it).
    */
  def buildIvfIndex(embeddings: DataFrame, centroids: Array[Array[Double]],
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol), col(vecCol).as("v"), normExact(vecCol).as("nrm"),
      graft.plans.Exprs.nearestCentroid(col(vecCol), centroids).as("cent_idx"))

  /** Incremental maintenance of a persisted cent_idx-partitioned IVF
    * index: assign the new-vector batch with the EXISTING centroids (the
    * codebook is the model — it changes only on retrain) and append into
    * the touched cent_idx partitions. Because assignment is a
    * deterministic per-vector function of the centroids, the merged index
    * is ROW-IDENTICAL to a full rebuild over old ∪ batch (spec-asserted),
    * so probes need no rebuild barrier; the write touches only the
    * partitions the batch lands in, never rewrites history. At 100 TB
    * this is the difference between a daily O(batch) append and a daily
    * O(corpus) re-encode.
    */
  def appendToIvfIndex(indexPath: String, batch: DataFrame,
                       centroids: Array[Array[Double]],
                       idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    buildIvfIndex(batch, centroids, idCol, vecCol)
      .write.mode("append").partitionBy("cent_idx").parquet(indexPath)

  /** The REPLAY-IDEMPOTENT form of [[appendToIvfIndex]] for streaming
    * maintenance: the batch lands under (cent_idx, batch_id) with dynamic
    * partition overwrite, so a foreachBatch replay after failure
    * OVERWRITES its own (cell, batch) partitions instead of duplicating
    * vectors — the exactly-once contract micro-batch sinks need. Write
    * the base index into the same layout with `batchId = -1`; probes read
    * the whole tree unchanged (cent_idx stays the leading partition
    * level, so cell pruning still fires; the extra batch_id column is
    * inert to the scorers).
    */
  def writeIvfBatch(indexPath: String, vectors: DataFrame,
                    centroids: Array[Array[Double]], batchId: Long,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    buildIvfIndex(vectors, centroids, idCol, vecCol)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cent_idx", "batch_id").parquet(indexPath)

  /** Per-cell occupancy snapshot of an IVF index — nlist-bounded
    * (model-sized driver state), the thing to capture at train time and
    * compare after appends.
    */
  def ivfCellCounts(index: DataFrame): Map[Int, Long] =
    index.groupBy(col("cent_idx")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Retrain trigger for incrementally-maintained IVF: total-variation
    * distance between the normalized cell-occupancy distributions at
    * train time vs now, in [0, 1]. Appends assign against FROZEN
    * centroids, so a drifting corpus degrades cell balance (hot cells
    * grow, probes read more rows for the same recall) without any error —
    * this statistic is the signal. Typical policy: retrain when drift
    * exceeds ~0.15–0.3; both snapshots are nlist-sized, so the test is
    * free.
    */
  def ivfOccupancyDrift(baseline: Map[Int, Long], current: Map[Int, Long]): Double = {
    val nb = math.max(baseline.values.sum.toDouble, 1.0)
    val nc = math.max(current.values.sum.toDouble, 1.0)
    (baseline.keySet ++ current.keySet).toSeq
      .map(k => math.abs(baseline.getOrElse(k, 0L) / nb - current.getOrElse(k, 0L) / nc))
      .sum / 2.0
  }

  /** Top-k against a prebuilt index: the `nprobe` probe cells are picked
    * driver-side against the codebook (O(nlist·dims), no job), the scan
    * touches only those cells (a partition filter when the index is
    * partitioned by cent_idx), and the only distributed work is one dot
    * product per probed row + a TakeOrdered(k).
    */
  def ivfTopKIndexed(index: DataFrame, centroids: Array[Array[Double]],
                     query: DataFrame, k: Int, nprobe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = probeCells(singleQuery(query, idCol, vecCol)._2, centroids, nprobe)
    val q = broadcast(query
      .select(col(idCol).as("qid"), col(vecCol).as("qv"), normExact(vecCol).as("qn")))
    index
      .where(col("cent_idx").isin(probes.toSeq: _*))
      .crossJoin(q)
      .where(col(idCol) =!= col("qid"))
      .select(col(idCol),
        round(dotExact("v", "qv") / nullif(col("nrm") * col("qn"), lit(0.0)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Batched IVF probes: many queries against one prebuilt index in a
    * single scan. Probe cells are picked per query driver-side (the
    * codebook is driver-resident); the scan reads only the UNION of probed
    * cells (partition-pruned on a persisted index), each row pairs only
    * with the queries that probed its cell (map-side array_contains on a
    * broadcast probe list), and per-query top-k comes from the bounded-heap
    * GroupTopK — shuffle ≤ k rows per query per task.
    */
  def ivfTopKBatch(index: DataFrame, centroids: Array[Array[Double]],
                   queries: DataFrame, k: Int, nprobe: Int = 4,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireLongIds(queries, idCol, "ivfTopKBatch")
    val qRows = collectQueryBatch(queries.select(col(idCol), col(vecCol)), "ivfTopKBatch")
    val probesOf: Map[Long, Seq[Int]] = qRows.map { r =>
      val qv = r.getSeq[Float](1).toArray.map(_.toDouble)
      r.getLong(0) -> probeCells(qv, centroids, nprobe).toSeq
    }.toMap
    val allProbed = probesOf.values.flatten.toSeq.distinct
    // probe lists as ONE map literal (O(1) expression depth — a per-query
    // when-chain would nest |queries| deep and blow up analysis time)
    val probesLit = typedLit(probesOf)
    val q = broadcast(queries
      .select(col(idCol).as("qid"), col(vecCol).as("qv"), normExact(vecCol).as("qn"))
      .withColumn("probes", element_at(probesLit, col("qid"))))
    val scored = index
      .where(col("cent_idx").isin(allProbed: _*))
      .crossJoin(q)
      .where(array_contains(col("probes"), col("cent_idx")) && col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        round(dotExact("v", "qv") / nullif(col("nrm") * col("qn"), lit(0.0)), 6).as("cosine"))
    graft.plans.GroupTopK.topKPerKey(
      scored, Seq("qid"), Seq(col("cosine").desc, col(idCol).asc), k)
  }

  /** IVF (inverted-file) approximate top-k: coarse-quantize every vector to
    * its nearest of `nlist` centroids, then search only the query's
    * `nprobe` nearest cells. Work drops from O(n) dot products per query to
    * O(n/nlist · nprobe) — the standard ANN scale path when the corpus no
    * longer fits one scan per query.
    *
    * Centroids are TRAINED (Lloyd's k-means on a deterministic hash sample,
    * the same shape q_ann_ivfpq uses), not raw seed vectors: untrained seeds
    * give unbalanced inverted lists — hot cells approach full scans, empty
    * cells waste nprobe — and recall that degrades exactly when the corpus
    * is large enough to need IVF. Training cost is bounded: the sample is
    * hash-selected (no shuffle), and each Lloyd iteration shuffles only
    * k×dims partial sums. Self-contained convenience over kmeansCentroids +
    * buildIvfIndex + ivfTopKIndexed; repeated-query callers should persist
    * the index (partitioned by cent_idx) and probe that.
    */
  def ivfTopK(embeddings: DataFrame, query: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              trainIters: Int = 2, trainFraction: Double = 0.25,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sample =
      if (trainFraction >= 1.0) embeddings
      else embeddings.where(Sampling.samplePredicate(col(idCol), trainFraction))
    val cents = kmeansCentroids(sample, nlist, trainIters, idCol, vecCol)
    ivfTopKIndexed(buildIvfIndex(embeddings, cents, idCol, vecCol), cents,
      query, k, nprobe, idCol, vecCol)
  }

  /** Product-quantization codebooks: `m` subspaces × `ksub` sub-centroids,
    * trained by per-subspace Lloyd's k-means — ALL subspaces in each
    * iteration's single pass (one compiled PqEncode assignment, one
    * partially-aggregated groupBy whose shuffle carries only the
    * m×ksub×dsub partial sums, never vectors). Deterministic: seeded from
    * the lowest-id vectors' subvectors, ties to the lowest code, decimal
    * accumulation ⇒ identical codebooks under any partitioning.
    *
    * Returns codebooks(sub)(code)(dimWithinSub). Like the IVF codebook,
    * this is model-sized and driver-resident; at 100 TB you train it on a
    * sample (`embeddings.where(hash-sample)`) and encode the full corpus.
    */
  def pqCodebooks(embeddings: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 3,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val dims = embeddings.select(size(col(vecCol))).head().getInt(0)
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val dsub = dims / m
    val seeds = embeddings.orderBy(col(idCol)).limit(ksub).select(col(vecCol))
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
    var books = Array.tabulate(m)(s =>
      seeds.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    val vecs = embeddings.select(col(vecCol).as("v"))
    for (_ <- 1 to iters) {
      val sums = vecs
        .withColumn("codes", graft.plans.Exprs.pqEncode(col("v"), books))
        .select(posexplode(col("v")).as(Seq("dim", "x")), col("codes"))
        .select((col("dim") / dsub).cast("int").as("sub"),
          // codes are tinyint; element_at is 1-based
          element_at(col("codes"), (col("dim") / dsub).cast("int") + 1).cast("int").as("code"),
          (col("dim") % dsub).as("dsub_i"), col("x"))
        .groupBy(col("sub"), col("code"), col("dsub_i"))
        .agg(sum(col("x").cast("decimal(28,12)")).cast("double").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      sums.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((s, c), rows) =>
        val mean = next(s)(c)
        rows.foreach(r => mean(r.getInt(2).toInt) = r.getDouble(3) / r.getLong(4))
      }
      books = next
    }
    books
  }

  /** The persisted PQ index: id + m-byte codes per vector — 4·dims/m ×
    * smaller than the float corpus (32× at dims=64, m=8). Encoding is one
    * compiled map-side pass; the plan between scan and sink has zero
    * shuffles.
    */
  def pqEncoded(embeddings: DataFrame, codebooks: Array[Array[Array[Double]]],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol),
      graft.plans.Exprs.pqEncode(col(vecCol), codebooks).as("codes"))

  /** Coarse-probe selection, single-sourced for every IVF probe path:
    * the `nprobe` cells whose centroids have the highest inner product
    * with the query (ties to the lower cell index). A tie-break or metric
    * change here reaches all probe variants at once.
    */
  private def probeCells(qv: Array[Double], centroids: Array[Array[Double]],
                         nprobe: Int): Array[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.zip(qv).map { case (a, b) => a * b }.sum) }
      .sortBy { case (i, d) => (-d, i) }
      .take(nprobe).map(_._1)

  /** Per-subspace inner-product LUT for a query against PQ codebooks:
    * lut(s)(code) = ⟨codebook_s[code], q_s⟩ — the ADC probe's query-side
    * precompute, shared by every PQ scoring path.
    */
  private def ipLutOf(qv: Array[Double],
                      codebooks: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val dsub = codebooks(0)(0).length
    codebooks.zipWithIndex.map { case (cb, s) =>
      cb.map(c => c.zipWithIndex.map { case (x, i) => x * qv(s * dsub + i) }.sum)
    }
  }

  /** The single-query probes' driver-side prelude: the query's id, its
    * vector as doubles and that vector's double L2 norm — one `head()`.
    *
    * The `head()` runs while the plan is built, so `explain()` on
    * q_ann_ivf_indexed, q_pq_topk or q_ann_ivfpq_indexed runs this one
    * job. It cannot move into execution: the probe cells (the partition
    * filter a persisted index prunes on) and the PQ lookup tables are
    * plan literals computed from the query vector.
    */
  private def singleQuery(query: DataFrame, idCol: String,
                          vecCol: String): (Any, Array[Double], Double) = {
    val r = query.select(col(idCol), col(vecCol)).head()
    val qv = r.getSeq[Float](1).toArray.map(_.toDouble)
    (r.get(0), qv, math.sqrt(qv.map(x => x * x).sum))
  }

  /** The query-collecting ANN paths (pqTopK / ivfPq* / ivfTopKBatch) key
    * their driver-side probe maps on bigint ids — check loudly instead of
    * a mid-job ClassCastException when a corpus arrives with int/string
    * ids. (The fully type-generic paths — topK/topKBatch/ivfTopKIndexed —
    * carry ids through columns and don't care.)
    */
  private def requireLongIds(df: DataFrame, idCol: String, who: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(dt == org.apache.spark.sql.types.LongType,
      s"$who requires a bigint $idCol (driver-side probe maps are keyed on Long); got ${dt.catalogString} — cast upstream")
  }

  /** Approximate top-k by PQ asymmetric distance: the query's
    * inner-product and reconstruction-norm lookup tables are built
    * driver-side (O(ksub·dims), no job), and the scan scores each row with
    * m table lookups — no float vectors are read at probe time. Compose
    * with a persisted [[pqEncoded]] index for repeated queries; re-rank the
    * top candidates against float vectors when exact ordering matters.
    * Estimates are engine-specific (rows-only check, like IVF/LSH).
    */
  def pqTopK(encoded: DataFrame, codebooks: Array[Array[Array[Double]]],
             query: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireLongIds(query, idCol, "pqTopK")
    val (qid, qv, qNorm) = singleQuery(query, idCol, vecCol)
    val ipLut = ipLutOf(qv, codebooks)
    val normSqLut = codebooks.map(_.map(c => c.map(x => x * x).sum))
    encoded
      .where(col(idCol) =!= qid)
      .select(col(idCol),
        round(graft.plans.Exprs.pqAdcScore(col("codes"), ipLut, normSqLut, qNorm), 6)
          .as("adc_cosine"))
      .orderBy(col("adc_cosine").desc, col(idCol))
      .limit(k)
  }

  /** PQ ADC with exact re-rank — the production probe shape: ADC ranks a
    * candidate margin (4k + 16) from the m-byte codes alone, then ONLY
    * those candidates fetch their float vectors for the decimal-exact
    * cosine that defines the final order. On corpora whose top-k cosine
    * band is tighter than the ADC distortion (near-isotropic embeddings —
    * exactly what q_ann_recall measured: pure-ADC recall 0.1), the re-rank
    * recovers most of the lost ranking quality while still scanning codes,
    * not vectors; the vector reads are k-proportional, not corpus-
    * proportional.
    */
  def pqTopKReranked(encoded: DataFrame, codebooks: Array[Array[Array[Double]]],
                     embeddings: DataFrame, query: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cands = pqTopK(encoded, codebooks, query, 4 * k + 16, idCol, vecCol)
      .select(col(idCol))
    val q = broadcast(query.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    cands
      .join(embeddings.select(col(idCol), col(vecCol).as("v")), idCol)
      .crossJoin(q)
      .select(col(idCol),
        round(dotExact("v", "qv")
          / nullif(sqrt(dotExact("v", "v")) * sqrt(dotExact("qv", "qv")), lit(0.0)), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** The combined IVF-PQ index: coarse cell (compiled NearestCentroid) +
    * m-byte PQ codes (compiled PqEncode) per vector — the standard
    * billion-scale ANN layout (FAISS IVF-PQ): partition-prune to nprobe
    * cells, then ADC-scan codes without touching float vectors. Both
    * assignments are map-side; scan → sink has zero shuffles. Write
    * `partitionBy("cent_idx")` like [[buildIvfIndex]].
    *
    * Codes here quantize the raw vector: one LUT per query, the simplest
    * probe. When the corpus actually clusters, prefer
    * [[buildIvfPqResidualIndex]]/[[ivfPqResidualTopK]] — residual coding
    * spends the same m×ksub budget on the within-cell structure (the FAISS
    * default) at the cost of per-probed-cell cross tables.
    */
  def buildIvfPqIndex(embeddings: DataFrame, centroids: Array[Array[Double]],
                      codebooks: Array[Array[Array[Double]]],
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol),
      graft.plans.Exprs.nearestCentroid(col(vecCol), centroids).as("cent_idx"),
      graft.plans.Exprs.pqEncode(col(vecCol), codebooks).as("codes"))

  /** Top-k against an IVF-PQ index: probe cells picked driver-side against
    * the coarse codebook, ADC scoring over only the probed cells' codes —
    * per probed row the work is m table lookups; with a cent_idx-partitioned
    * index the scan itself is partition-pruned. Approximate on two axes
    * (cell recall × PQ distortion); re-rank survivors against float vectors
    * when exact order matters.
    */
  def ivfPqTopK(index: DataFrame, centroids: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]],
                query: DataFrame, k: Int, nprobe: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireLongIds(query, idCol, "ivfPqTopK")
    val (qid, qv, qNorm) = singleQuery(query, idCol, vecCol)
    val probes = probeCells(qv, centroids, nprobe)
    val ipLut = ipLutOf(qv, codebooks)
    val normSqLut = codebooks.map(_.map(c => c.map(x => x * x).sum))
    index
      .where(col("cent_idx").isin(probes.toSeq: _*) && col(idCol) =!= qid)
      .select(col(idCol),
        round(graft.plans.Exprs.pqAdcScore(col("codes"), ipLut, normSqLut, qNorm), 6)
          .as("adc_cosine"))
      .orderBy(col("adc_cosine").desc, col(idCol))
      .limit(k)
  }

  /** RESIDUAL IVF-PQ index: codes quantize r = x − cent[cell] instead of x
    * itself — the residual's spread is a cell radius, not the corpus
    * radius, so the same m×ksub budget yields a strictly finer
    * reconstruction (this is how FAISS's IndexIVFPQ encodes by default).
    * Returns (codebooks, index): codebooks are trained on a residual
    * SAMPLE; the index frame (id, cent_idx, codes) is all map-side
    * compiled work — assignment, subtraction, encode — zero shuffles
    * scan → sink.
    */
  def buildIvfPqResidualIndex(embeddings: DataFrame, centroids: Array[Array[Double]],
                              m: Int = 8, ksub: Int = 16, iters: Int = 2,
                              trainFraction: Double = 0.25,
                              idCol: String = "vec_id", vecCol: String = "embedding")
      : (Array[Array[Array[Double]]], DataFrame) = {
    val assigned = embeddings.select(col(idCol), col(vecCol).as("__v"),
      graft.plans.Exprs.nearestCentroid(col(vecCol), centroids).as("cent_idx"))
    val residuals = assigned.withColumn("__r",
      graft.plans.Exprs.subtractCentroid(col("__v"), col("cent_idx"), centroids))
    val sample =
      if (trainFraction >= 1.0) residuals
      else residuals.where(Sampling.samplePredicate(col(idCol), trainFraction))
    val books = pqCodebooks(sample, m, ksub, iters, idCol, "__r")
    val index = residuals.select(col(idCol), col("cent_idx"),
      graft.plans.Exprs.pqEncode(col("__r"), books).as("codes"))
    (books, index)
  }

  /** Top-k against a residual IVF-PQ index: per probed cell the driver
    * precomputes q·cent, ‖cent‖² and the centroid×code cross-norm table
    * (nprobe·m·ksub·dsub flops — trivial), and the scan scores each row
    * with O(m) table adds (graft.plans.PqResidualScore). Unprobed cells'
    * tables stay empty — they're partition-pruned before the expression
    * ever runs.
    */
  def ivfPqResidualTopK(index: DataFrame, centroids: Array[Array[Double]],
                        codebooks: Array[Array[Array[Double]]],
                        query: DataFrame, k: Int, nprobe: Int = 4,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireLongIds(query, idCol, "ivfPqResidualTopK")
    val (qid, qv, qNorm) = singleQuery(query, idCol, vecCol)
    val probes = probeCells(qv, centroids, nprobe)
    val probeSet = probes.toSet
    val dsub = codebooks(0)(0).length
    val ipLut = ipLutOf(qv, codebooks)
    val resNormSq = codebooks.map(_.map(c => c.map(x => x * x).sum))
    val qCentDot = centroids.map(c => c.zip(qv).map { case (a, b) => a * b }.sum)
    val centNormSq = centroids.map(c => c.map(x => x * x).sum)
    val centCross = centroids.zipWithIndex.map { case (cent, ci) =>
      if (!probeSet.contains(ci)) Array.empty[Array[Double]]
      else codebooks.zipWithIndex.map { case (cb, s) =>
        cb.map(code => code.zipWithIndex.map { case (x, i) =>
          val dim = s * dsub + i
          x * (if (dim < cent.length) cent(dim) else 0.0)
        }.sum)
      }
    }
    index
      .where(col("cent_idx").isin(probes.toSeq: _*) && col(idCol) =!= qid)
      .select(col(idCol),
        round(graft.plans.Exprs.pqResidualScore(col("codes"), col("cent_idx"),
          ipLut, resNormSq, qCentDot, centNormSq, centCross, qNorm), 6)
          .as("adc_cosine"))
      .orderBy(col("adc_cosine").desc, col(idCol))
      .limit(k)
  }

  /** Bucketed near-neighbor pairs with OR-amplified banding: the
    * `planes × bands` sign bits split into `bands` bands of `planes` bits,
    * and two vectors are candidates when ANY band matches exactly — the
    * same AND-within/OR-across construction the minhash path uses. For
    * per-bit agreement p = 1 − θ/π, candidate probability is
    * 1 − (1 − p^planes)^bands: at cosine 0.4 the 4×8 default catches ~75%
    * of true pairs where a single 8-plane bucket (the pre-banding shape)
    * caught ~2.5% — single-band hyperplane LSH AND-amplifies only, so its
    * recall collapses exponentially in the plane count. Exact cosine
    * verifies every candidate, so precision is 1.0 by construction either
    * way (the q_pair_quality diagnostic reads the recall).
    *
    * Scale shape: the band stage shuffles only (band, bits, id) — vectors
    * never enter the explosion; per-bucket pair work is Σ bucket² with a
    * `maxBucketSize` guard, never corpus²; survivors join vectors back by
    * id and pay the compiled screen + decimal-exact verify (the two-phase
    * house rule). Each band draws its bits from a DISJOINT hyperplane
    * family (HyperplaneLSH's offset), so per-band bucket count 2^planes is
    * NOT capped by a shared 63-bit signature.
    *
    * AUTO GEOMETRY (`planes = 0`, the default): a fixed plane count makes
    * bucket size grow ∝ n and per-bucket pairing quadratic — measured
    * 55× wall at 10× data before this. Auto mode holds bucket occupancy
    * ≈ `targetBucket` (planes = ⌈log2(n/targetBucket)⌉, clamped [4, 24])
    * and COMPENSATES the band count so the design recall at `threshold`
    * is preserved: per-bit agreement p₁ = 1 − arccos(threshold)/π, so
    * matching the 4-plane budget of `bands` bands needs
    * bands × (1/p₁)^(planes−4) bands, capped at `bandsMax` (the cap, when
    * it binds, trades recall — which q_pair_quality measures AS DATA).
    * This is the published LSH complexity n^(1+ρ), ρ =
    * ln(1/p₁)/ln(1/p₂) with p₂ ≈ ½ for unrelated vectors — sub-quadratic,
    * never linear; for loose thresholds (ρ → 1) prefer the cell-bucketed
    * generators (semdedupPairs / cosinePairsExact's int8 grid), which
    * scale with cluster occupancy instead.
    *
    * The candidate cross product never exists as rows: each bucket carries
    * its members' int8 codes (collect_list of 4×-compressed
    * [[graft.plans.Int8Quantize]] structs — the band shuffle pays ~100 B
    * per member per band, not the float vectors) and the compiled
    * [[graft.plans.BucketScreenPairs]] kernel runs the O(bucket²) screen
    * IN PLACE, emitting only surviving id pairs. The previous shape —
    * double-explode to candidate rows, then join vectors per candidate —
    * measured 77 s on the 10× corpus for ~7.7×10⁷ candidates: all of it
    * row-copy and join machinery on rows whose fate 64 byte-MACs decide.
    * Survivors (conservative superset, same error bound as the int8 grid
    * in cosinePairsExact) are distinct'd — a pair found by several bands
    * verifies once — and only then pay the decimal-exact cosine via the
    * id-keyed vector join-back, so every post-screen stage is
    * output-sized.
    *
    * This method returns the candidate pairs BEFORE the exact verify —
    * the volume the recall-compensated band geometry actually generates
    * (screen survivors plus the over-cap exact-collapse stars, distinct).
    * It is public so scale runs can emit candidate counts as DATA:
    * q_ann_lsh's super-unit scale ratio is candidate-volume-bound by
    * design, and this makes that claim measurable per corpus rung instead
    * of asserted. [[cosinePairsBucketed]] adds the decimal-exact verify.
    */
  def lshCandidatePairsBucketed(embeddings: DataFrame, threshold: Double, planes: Int = 0,
                                bands: Int = 8, maxBucketSize: Int = 10000,
                                targetBucket: Int = 128, bandsMax: Int = 256,
                                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(planes >= 0 && planes <= 63 && bands > 0,
      "planes must be in [0, 63] (0 = auto); bands > 0")
    val spark = embeddings.sparkSession
    val gateOn = PairGate.cap(spark) > 0
    // one memoized count serves both consumers: the auto geometry (always
    // needs n) and the gate (only when enabled) — explicit geometry with
    // the gate disabled counts nothing
    val n: Long = if (gateOn || planes == 0) PairGate.corpusCount(embeddings) else -1L
    val (planesEff, bandsEff) =
      if (planes > 0) (planes, bands)
      else {
        val nn = n.max(1L)
        val pl = math.max(4, math.min(24,
          math.ceil(math.log(nn.toDouble / targetBucket) / math.log(2.0)).toInt))
        val p1 = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
        val b = math.ceil(bands * math.pow(1.0 / p1, math.max(0, pl - 4))).toInt
        (pl, math.min(bandsMax, math.max(bands, b)))
      }
    // Output-cardinality gate, estimated by THIS generator's own
    // semantics at the FULL-CORPUS geometry on the deterministic id
    // sample: a candidate pair survives iff both endpoints are sampled —
    // its bucket membership depends only on its own signatures — so the
    // 1/p² scaling is unbiased, and sample buckets can only be SMALLER
    // than the corpus's, so the bucket cap drops fewer of them (errs
    // toward refusing). Estimating by exact τ-pair density instead
    // would UNDER-estimate on corpora whose cosine mass sits just below
    // τ: such pairs verify to nothing but still collide into buckets,
    // and the candidate stream — this method's OUTPUT — is what must
    // not go quadratic unannounced.
    if (gateOn) {
      PairGate.checkCounted(spark, n, "lshCandidatePairsBucketed",
        s"tau=$threshold,planes=$planesEff,bands=$bandsEff,maxBucket=$maxBucketSize",
        pairGateRemedy(threshold), memoKey = Some(PairGate.corpusKey(embeddings))) { p =>
        val sampled = lshCandidateImpl(
          embeddings.where(PairGate.samplePredicate(col(idCol), p)),
          threshold, planesEff, bandsEff, maxBucketSize, idCol, vecCol).count()
        math.ceil(sampled / (p * p)).toLong
      }
    }
    lshCandidateImpl(embeddings, threshold, planesEff, bandsEff,
      maxBucketSize, idCol, vecCol)
  }

  private def lshCandidateImpl(embeddings: DataFrame, threshold: Double,
                               planesEff: Int, bandsEff: Int, maxBucketSize: Int,
                               idCol: String, vecCol: String): DataFrame = {
    val bandCols = (0 until bandsEff).map(b => struct(lit(b).as("band"),
      graft.plans.Exprs.hyperplaneLsh(col("v"), planesEff, b * planesEff).as("bits")))
    val member = embeddings
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        xxhash64(col(vecCol)).as("vh"),
        sqrt(graft.plans.Exprs.dot(col(vecCol), col(vecCol))).as("nrm"),
        graft.plans.Exprs.quantizeInt8(col(vecCol)).as("q"))
      .select(struct(col("id"), col("vh"), col("nrm"), col("q.qscale").as("qscale"),
        col("q.codes").as("codes"), col("q.s1").as("s1")).as("m"),
        explode(array(bandCols: _*)).as("bb"))
    val buckets = member
      .groupBy(col("bb.band").as("band"), col("bb.bits").as("bits"))
      .agg(collect_list(col("m")).as("ms"))
      .where(size(col("ms")) > 1)
    // the compiled screen takes the 5-field kernel struct — project vh
    // (carried for the over-cap collapse only) back out per member
    val screenMs = transform(col("ms"), m => struct(
      m.getField("id").as("id"), m.getField("nrm").as("nrm"),
      m.getField("qscale").as("qscale"), m.getField("codes").as("codes"),
      m.getField("s1").as("s1")))
    val screened = buckets.where(size(col("ms")) <= maxBucketSize)
      .select(explode(graft.plans.Exprs.bucketScreen(screenMs, threshold)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
    // Over-cap buckets (an embedding family larger than maxBucketSize —
    // template pages all encoding to the same vector) must not vanish:
    // the lshCandidatePairs convention applies. Members group by their
    // EXACT vector hash and each identical family star-pairs to its
    // minimum id at O(family) cost (identical vectors ⇒ cosine 1, and the
    // downstream exact verify confirms regardless). Near-but-not-identical
    // residue inside an over-cap bucket remains unscreened — the same
    // documented trade as the MinHash path without oversizedStar.
    val bigMembers = buckets.where(size(col("ms")) > maxBucketSize)
      .select(col("band"), col("bits"), explode(col("ms")).as("m"))
      .select(col("band"), col("bits"), col("m.id").as("id"), col("m.vh").as("vh"))
    val famHubs = bigMembers.groupBy(col("band"), col("bits"), col("vh"))
      .agg(min(col("id")).as("hub"))
    val collapsed = bigMembers.join(famHubs, Seq("band", "bits", "vh"))
      .where(col("id") =!= col("hub"))
      .select(least(col("hub"), col("id")).as("id_a"),
        greatest(col("hub"), col("id")).as("id_b"))
    screened.union(collapsed).distinct()
  }

  /** [[lshCandidatePairsBucketed]] + the decimal-exact cosine verify on
    * the survivors (every emitted pair is exact, whatever the screen
    * admitted). The verify joins carry an EXPLICIT broadcast hint on the
    * vector side (`broadcastVecs`, default on): after explode+aggregate
    * Catalyst has no usable size estimate for the survivor stream and was
    * measured picking the survivors as the broadcast build. The hint pins
    * the corpus relation as the build side. Set `broadcastVecs = false`
    * when the vector table itself exceeds broadcast scale (≳10⁷ rows);
    * the join-back then shuffles output-sized streams, which is the best
    * any plan can do at that size.
    */
  def cosinePairsBucketed(embeddings: DataFrame, threshold: Double, planes: Int = 0,
                          bands: Int = 8, maxBucketSize: Int = 10000,
                          targetBucket: Int = 128, bandsMax: Int = 256,
                          broadcastVecs: Boolean = true,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val survivors = lshCandidatePairsBucketed(embeddings, threshold, planes, bands,
      maxBucketSize, targetBucket, bandsMax, idCol, vecCol)
    verifyExact(survivors, embeddings, threshold, idCol, vecCol, broadcastVecs)
  }

  /** SemDeDup pair generation (Abbas et al., arXiv:2303.09540): k-means
    * cells as the bucketing stage — candidate pairs come only from rows
    * sharing a cell, so the quadratic step is Σ cell², never corpus²,
    * and the join is a plain equi-join on `cell`. Verification is the
    * same two-phase shape as [[cosinePairsExact]]: compiled int8 screen
    * with the error-bound margin, decimal-exact cosine only for
    * survivors. Missed cross-cell pairs are the SemDeDup tradeoff
    * (bounded in the spec against the exact grid join); emitted pairs
    * are exact-verified, so downstream drops are always sound.
    */
  def semdedupPairs(embeddings: DataFrame, centroids: Array[Array[Double]],
                    threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    PairGate.check(embeddings, "semdedupPairs", s"tau=$threshold",
      pairGateRemedy(threshold))(
      estimateExactPairs(embeddings, threshold, idCol, vecCol))
    verifyExact(cellScreens(embeddings, Seq(centroids), threshold, idCol, vecCol).head,
      embeddings, threshold, idCol, vecCol)
  }

  /** Ensemble SemDeDup pairs: the union of [[semdedupPairs]] under several
    * independent clusterings. A true pair is missed only if EVERY
    * clustering splits it across cells — boundary misses are largely
    * uncorrelated between granularities, so two clusterings lift recall
    * substantially (0.39 → measured ≥0.6 on the near-isotropic testdata,
    * clustering's worst case) while each member stays the bounded
    * Σ cell² shape. Union-then-distinct is sound because every member
    * pair is already exact-verified.
    *
    * `gated = false`: see [[cosinePairsExact]] — reserved for pair-stream
    * consumers with linear outputs (the scalable keep path).
    */
  def semdedupPairsEnsemble(embeddings: DataFrame,
                            centsList: Seq[Array[Array[Double]]], threshold: Double,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            gated: Boolean = true): DataFrame = {
    if (gated)
      PairGate.check(embeddings, "semdedupPairsEnsemble", s"tau=$threshold",
        pairGateRemedy(threshold))(
        estimateExactPairs(embeddings, threshold, idCol, vecCol))
    // the decimal-exact verify runs ONCE over the deduplicated union of
    // the members' screened candidates (a fused union-then-verify —
    // naively unioning semdedupPairs would re-quantize the corpus and
    // re-verify shared candidates per member)
    verifyExact(cellScreens(embeddings, centsList, threshold, idCol, vecCol)
      .reduce(_.unionByName(_)).dropDuplicates("id_a", "id_b"),
      embeddings, threshold, idCol, vecCol)
  }

  /** The SemDeDup screen, one (id_a, id_b) frame per clustering in
    * `centsList`: the id-ordered pairs sharing a cell that pass
    * [[int8Screen]]. ONE pass computes the norm, the int8 codes and every
    * clustering's cell id; each member then pays only its screen join.
    */
  private def cellScreens(embeddings: DataFrame, centsList: Seq[Array[Array[Double]]],
                          threshold: Double, idCol: String, vecCol: String): Seq[DataFrame] = {
    val cellCols = centsList.zipWithIndex.map { case (c, i) =>
      graft.plans.Exprs.nearestCentroid(col(vecCol), c).as(s"cell$i")
    }
    val lite = embeddings
      .select(Seq(col(idCol).as("id"),
        sqrt(graft.plans.Exprs.dot(col(vecCol), col(vecCol))).as("nrm"),
        graft.plans.Exprs.quantizeInt8(col(vecCol)).as("q")) ++ cellCols: _*)
      .select(Seq(col("id"), col("nrm"), col("q.qscale").as("qscale"),
        col("q.codes").as("codes"), col("q.s1").as("s1")) ++
        centsList.indices.map(i => col(s"cell$i")): _*)
    centsList.indices.map { i =>
      val a = lite.select(col(s"cell$i").as("cell"), col("id").as("ia"), col("nrm").as("na"),
        col("qscale").as("sa"), col("codes").as("ca"), col("s1").as("s1a"))
      val b = lite.select(col(s"cell$i").as("cell"), col("id").as("ib"), col("nrm").as("nb"),
        col("qscale").as("sb"), col("codes").as("cb"), col("s1").as("s1b"))
      a.join(b, Seq("cell"))
        .where(col("ia") < col("ib"))
        .where(int8Screen(threshold))
        .select(col("ia").as("id_a"), col("ib").as("id_b"))
    }
  }

  /** SemDeDup keep-rows: sample-trained k-means cells (two granularities,
    * k and k/2 — see [[semdedupPairsEnsemble]]) → within-cell
    * exact-verified pairs → connected components → lowest id per group
    * survives. The full semantic-dedup pass a pretraining pipeline runs
    * between exact dedup and quality filtering; every stage is the
    * bounded shape proven elsewhere in this file (codebook = model-sized
    * driver state, assignment map-side compiled, components
    * size-adaptive).
    *
    * COMPLETES past the pair cap: the keep DECISION needs the pair
    * graph's transitive closure, never the pair table itself, so the
    * exact-verified pair stream runs UNGATED straight into the
    * spanning-forest fold ([[graft.operators.Dedup.connectedComponentsScalable]])
    * — pairs are consumed pipelined at O(nodes) space per partition,
    * every materialized artifact (forest, labels, keep set) is
    * node-linear, and a corpus whose τ-pair table is 100× over
    * `spark.graft.pairs.maxOutput` still yields its keep set. The pair
    * TABLE faces (q_dedup_embedding, pair diagnostics) stay gated — there
    * the over-cap table IS the output.
    */
  def semdedupKeep(embeddings: DataFrame, k: Int = 0, threshold: Double = 0.7,
                   iters: Int = 2, sampleFraction: Double = 0.25,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   centroids: Option[Seq[Array[Array[Double]]]] = None): DataFrame = {
    // `centroids` lets a pipeline that already trained the ensemble (e.g. a
    // quality diagnostic scoring the same clustering) pass it in — codebooks
    // are model-sized driver state, trained once per corpus snapshot.
    // k ≤ 0 (the default) derives the cell count from the corpus size
    // ([[autoCellCount]]) so the in-cell screen stays ~linear in n.
    val centsList = centroids.getOrElse {
      val kk = if (k > 0) k else autoCellCount(PairGate.corpusCount(embeddings))
      val sample = Sampling.deterministicSample(embeddings, idCol, sampleFraction)
      Seq(kk, math.max(2, kk / 2)).distinct
        .map(g => kmeansCentroids(sample, g, iters, idCol, vecCol))
    }
    val pairs = semdedupPairsEnsemble(embeddings, centsList, threshold, idCol, vecCol,
      gated = false)
      .select("id_a", "id_b")
    val losers = graft.operators.Dedup.connectedComponentsScalable(pairs)
      .where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    embeddings.join(losers, Seq(idCol), "left_anti")
  }
}
