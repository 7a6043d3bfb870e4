package graft.operators

import graft.Graft
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines. Everything here is
  * built from codegen'd catalyst expressions (higher-order functions +
  * xxhash64) — no UDFs — and every near-dup path goes through a bucketing
  * stage so candidate generation is never all-pairs: at 100 TB the join key
  * is always (band, hash) or (chunk, bits), whose buckets stay small, and
  * the quadratic step runs per-bucket, not per-corpus.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on md5(text), keep the smallest id. One
    * shuffle on the 128-bit digest — uniform keys, no skew.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Keep-rows exact dedup: the surviving documents themselves (lowest id
    * per identical text), not the hash groups — what a curation pipeline
    * feeds downstream. Window-free: semi-join against the keeper ids so the
    * (wide) document rows shuffle once on the join key.
    */
  def deduplicate(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keepers = docs
      .groupBy(md5(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  /** Golden-record survivorship (the MDM merge step AFTER duplicates are
    * clustered): per entity cluster, apply field-level survivorship rules
    * in ONE partial-aggregated pass — earliest id as the canonical key,
    * richest record (longest text, min-id tiebreak) as the survivor, and
    * the source spread as merge provenance. The composite argmax order
    * (length, −id) is encoded into a single comparable DECIMAL
    * (len·10¹⁹ − id: the multiplier exceeds Long.MaxValue, so the
    * encoding is total for EVERY int length × long id — a bigint key
    * would silently overflow at ~9.2M-char texts and corrupt survivor
    * selection nondeterministically; max length 2³¹ × 10¹⁹ is 29 digits,
    * comfortably inside decimal(38)) so max_by is total and the survivor
    * deterministic on every engine — no struct-comparison semantics to
    * disagree about. Nothing shuffles except cluster partials:
    * survivorship is exactly as scalable as a groupBy.
    */
  def survivorship(records: DataFrame, entityCol: String = "entity_id",
                   idCol: String = "doc_id", textCol: String = "text",
                   srcCol: String = "source"): DataFrame =
    records
      .groupBy(col(entityCol))
      .agg(
        count(lit(1)).as("n_members"),
        min(col(idCol)).as("canonical_id"),
        max_by(col(idCol),
          length(col(textCol)).cast("decimal(10,0)") *
            lit(new java.math.BigDecimal("10000000000000000000")) - col(idCol))
          .as("survivor_id"),
        max(length(col(textCol)).cast("long")).as("survivor_len"),
        countDistinct(col(srcCol)).as("n_sources"))

  /** The persisted fingerprint store for incremental dedup: one 128-bit
    * md5 per distinct text ever admitted to the corpus. 16 bytes/doc —
    * at 100 TB of documents the store is ~0.1% of the corpus, and all
    * incremental passes join against IT, never against historical text.
    */
  def fingerprintStore(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(md5(col(textCol)).as("text_hash")).distinct()

  /** Incremental (online) dedup: admit only new-batch documents that are
    * (a) the lowest-id copy within the batch and (b) unseen in the
    * persisted fingerprint store — the daily-crawl-append shape: each day's
    * batch dedups against all history at fingerprint cost, not text cost.
    * Both joins shuffle on the uniform 128-bit digest (no skew); the
    * store side carries hashes only. Admitting the batch afterwards is
    * `store.union(fingerprintStore(admitted))` — the store stays
    * distinct-by-construction because admitted hashes were anti-joined
    * against it.
    */
  def deduplicateIncremental(batch: DataFrame, store: DataFrame,
                             textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val hashed = batch.withColumn("__h", md5(col(textCol)))
    val firstInBatch = hashed
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    hashed
      .join(firstInBatch, Seq(idCol), "left_semi")
      .join(store, hashed("__h") === store("text_hash"), "left_anti")
      .drop("__h")
  }

  /** Incremental NEAR-dedup against a persisted SIGNATURE store — the
    * production shape for continuous crawl ingestion (a MinHash store is
    * how web-scale pipelines dedup each day's batch against ALL history
    * without re-reading historical text: numHashes longs/doc ≈ 512 bytes
    * vs the document). The batch first near-dedups WITHIN itself
    * ([[deduplicateNear]]'s LSH → exact-Jaccard → components pipeline),
    * REUSING the signatures computed here — the batch is shingled and
    * MinHashed exactly once; the intra-batch SURVIVORS are then screened
    * against the store: any survivor whose estimated Jaccard (fraction of
    * agreeing signature slots — the store holds signatures, not text)
    * against ANY store doc reaches `threshold` is dropped, taking its
    * whole intra-batch family with it (the family already collapsed into
    * it — the transitive-drop semantics connected components give within
    * a corpus, extended across the batch/history boundary). Collapsing
    * first also shrinks the screen's batch side: a template family is one
    * row by the time it meets the store's buckets. Candidates come from a
    * banded (band, bucket) equi-join carrying ids only; the compiled
    * signature-agreement kernel ([[graft.plans.SigAgreement]]) runs per
    * candidate, never per corpus row. A linear exact-signature screen
    * (128-bit fingerprint equi-join) additionally drops survivors that
    * are byte-identical to ANY store doc, independent of bucket caps.
    * Admit the survivors by appending the kept signatures (already
    * computed) to the store.
    */
  def nearDedupIncremental(batch: DataFrame, storeSigs: DataFrame,
                           threshold: Double = 0.7,
                           numHashes: Int = 64, bands: Int = 16,
                           maxBucketSize: Int = 10000,
                           oversizedStar: Boolean = false,
                           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"banding geometry must divide evenly: numHashes=$numHashes bands=$bands")
    val rowsPerBand = numHashes / bands
    // the batch signatures feed BOTH passes (intra-batch near-dedup +
    // store screen) — computed once here with THIS geometry, which must
    // also reach the intra pass: banding a w-hash signature with defaults
    // for a different w slices past the array end (empty-slice constant
    // buckets) or silently ignores slots
    // ONE tokenize+3-gram pass over the batch feeds EVERYTHING: the
    // signatures derive from the gram table (minhashSignatures computes
    // the identical word-3-gram array before hashing) and the intra pass
    // receives BOTH, so the batch text is tokenized once, shingled once,
    // hashed once. All three frames are multiply consumed (batch sigs:
    // intra candidates + survivor semi-join + banded screen +
    // exact-fingerprint screen; store sigs: banded screen + agreement
    // join + exact-fingerprint screen) and lazily materialized — no
    // barrier jobs, each computes inside its first consumer. The store
    // side is the caller's frame: at scale it is a PERSISTED signature
    // store (a parquet read), where the cache is one linear scan pinned
    // instead of three.
    val batchGrams = Graft.materialize(
      wordGrams(Graft.spread(batch), 3, textCol, idCol), eager = false)
    val batchSigs = Graft.materialize(batchGrams.select(col("gid").as("id"),
      minhashSignature("grams", numHashes).as("__sig")), eager = false)
    val storeCached = Graft.materialize(storeSigs, eager = false)
    val intra = deduplicateNear(batch, threshold, textCol, idCol,
      sigs = Some(batchSigs), oversizedStar = oversizedStar,
      maxBucketSize = maxBucketSize, numHashes = numHashes, bands = bands,
      gramTable = Some(batchGrams))
    val intraSigs = Graft.materialize(batchSigs
      .join(intra.select(col(idCol).as("id")), Seq("id"), "left_semi"), eager = false)
    def banded(sigs: DataFrame, side: String) = sigs
      .select(col("id").as(side), explode(lshBands("__sig", bands, rowsPerBand)).as("bb"))
      .select(col(side), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // the maxBucketSize guard caps BOTH sides of the candidate join: a
    // boilerplate bucket shared by millions of historical docs — or by most
    // of a batch whose pages share a template — would turn it quadratic;
    // exact template copies are caught by the linear exact-hash screen
    // below instead (the lshCandidatePairs convention). Capping each side
    // bounds a
    // bucket's contribution at maxBucketSize² candidates. With
    // `oversizedStar`, an over-cap bucket keeps ONE representative row in
    // the join instead of vanishing: every batch doc sharing a template
    // bucket with millions of store docs is still screened against the
    // store hub (and the store family's remaining members were themselves
    // deduped when admitted), and an over-cap BATCH bucket screens its hub
    // against history while the intra-batch pass — which sees the same
    // oversizedStar flag — collapses the rest of the template family
    // transitively. Bound unchanged: O(bucket), never bucket².
    val storeBands = banded(storeCached, "sid")
    val batchBands = banded(intraSigs, "bid")
    // ONE aggregate sizes BOTH sides' buckets (count + min id per side)
    // instead of a per-side groupBy each — and it keeps only buckets BOTH
    // sides touch, which is all the bipartite join can use, so the
    // cap/hub semi-joins below probe a crossing-sized table (bounded by
    // the smaller side's bucket count), not a per-side census. The min id
    // doubles as the oversizedStar hub (the star-pairing counterpart of
    // lshCandidatePairs' oversizedStar): an over-cap bucket contributes
    // its hub instead of disappearing, so its contribution to the
    // candidate join is O(other side), never bucket².
    val stats = Graft.materialize(
      batchBands.select(col("band"), col("bucket"), col("bid").as("__id"), lit(1).as("__b"))
        .unionByName(storeBands.select(col("band"), col("bucket"),
          col("sid").as("__id"), lit(0).as("__b")))
        .groupBy(col("band"), col("bucket"))
        .agg(sum(col("__b")).as("__nb"), sum(lit(1) - col("__b")).as("__ns"),
          min(when(col("__b") === 1, col("__id"))).as("__bmin"),
          min(when(col("__b") === 0, col("__id"))).as("__smin"))
        .where(col("__nb") >= 1 && col("__ns") >= 1), eager = false)
    def screened(bands: DataFrame, side: String, n: String, mn: String): DataFrame = {
      val small = bands.join(
        stats.where(col(n) <= maxBucketSize).select(col("band"), col("bucket")),
        Seq("band", "bucket"), "left_semi")
      if (oversizedStar)
        small.unionByName(stats.where(col(n) > maxBucketSize)
          .select(col(mn).as(side), col("band"), col("bucket")))
      else small
    }
    val cands = screened(batchBands, "bid", "__nb", "__bmin")
      .join(screened(storeBands, "sid", "__ns", "__smin"), Seq("band", "bucket"))
      .select(col("bid"), col("sid")).distinct()
    val seen = cands
      .join(intraSigs.select(col("id").as("bid"), col("__sig").as("__sig_a")), "bid")
      .join(storeCached.select(col("id").as("sid"), col("__sig").as("__sig_b")), "sid")
      .where(graft.plans.Exprs.sigAgreement(col("__sig_a"), col("__sig_b"))
        .cast("double") / lit(numHashes) >= threshold)
      .select(col("bid").as(idCol)).distinct()
    // exact-hash pass across the batch/history boundary: a survivor whose
    // FULL signature is identical to any store doc's (estimated Jaccard
    // 1.0 — a byte-identical template copy) is dropped by ONE linear
    // equi-join on a 128-bit signature fingerprint (two independently
    // seeded 64-bit hashes; no banding, no bucket cap), so exact copies of
    // an over-cap historical template family can never slip past the
    // banded screen. The shuffle carries 16 bytes/doc, never the 512-byte
    // signature.
    def sigFp(sigs: DataFrame): DataFrame = sigs.select(col("id"),
      xxhash64(col("__sig")).as("__f1"),
      xxhash64(lit(17L), col("__sig")).as("__f2"))
    val exactSeen = sigFp(intraSigs)
      .join(sigFp(storeCached).select(col("__f1"), col("__f2")),
        Seq("__f1", "__f2"), "left_semi")
      .select(col("id").as(idCol))
    intra.join(seen.unionByName(exactSeen), Seq(idCol), "left_anti")
  }

  /** Whitespace tokens of `textCol`, lowercased. */
  def tokens(textCol: String): Column =
    split(trim(lower(col(textCol))), "\\s+")

  /** A document's word n-gram set: whitespace tokens ([[tokens]]) → one
    * compiled n-gram pass per row (graft.plans.WordNgrams).
    */
  private[graft] def gramsOf(textCol: String, n: Int): Column =
    graft.plans.Exprs.wordNgrams(tokens(textCol), n)

  /** The word n-gram table of a corpus, (gid, grams): [[gramsOf]] per
    * document. `rows = true` explodes it to one (gid, gram) row per n-gram
    * instead of one set per document.
    */
  private[graft] def wordGrams(docs: DataFrame, n: Int, textCol: String, idCol: String,
                              rows: Boolean = false): DataFrame = {
    val grams = gramsOf(textCol, n)
    docs.select(col(idCol).as("gid"), (if (rows) explode(grams) else grams).as("grams"))
  }

  /** MinHash signature: `num` permutations — one compiled pass per row via
    * graft.plans.MinHashSignature (each shingle hashed once, permutations
    * are long-mixes; no per-element lambda interpretation).
    */
  def minhashSignature(shinglesCol: String, num: Int): Column =
    graft.plans.Exprs.minhash(col(shinglesCol), num)

  /** LSH band keys: signature sliced into `bands` bands of `rowsPerBand`,
    * each band hashed to one bucket key.
    */
  def lshBands(sigCol: String, bands: Int, rowsPerBand: Int): Column = expr(
    s"""transform(sequence(0, ${bands - 1}),
       |  b -> named_struct('band', b, 'bucket', xxhash64(slice($sigCol, b * $rowsPerBand + 1, $rowsPerBand))))""".stripMargin)

  /** MinHash signatures (id, __sig) for every document — the shared input
    * of the LSH candidate and exact-verify stages. Callers composing several
    * near-dup passes compute this ONCE and feed it to
    * `lshCandidatePairs` / `minhashCandidates(sigs = …)` rather than
    * letting each stage re-shingle the corpus.
    */
  def minhashSignatures(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64): DataFrame = {
    // a small corpus often arrives as one parquet file = one partition;
    // spread it so the O(shingles × hashes) signature work uses every core
    // (gated: a 100 TB table already has more splits than cores)
    wordGrams(Graft.spread(docs), 3, textCol, idCol)
      .select(col("gid").as("id"), minhashSignature("grams", numHashes).as("__sig"))
  }

  /** Distinct candidate pairs (id_a < id_b) from banded signatures. The
    * bucket stage carries only ids plus one 64-bit full-signature hash —
    * the (heavy) signature itself stays out of the band explosion/shuffle.
    *
    * Buckets over `maxBucketSize` (boilerplate/template buckets, where
    * quadratic pairing would explode) never pair all-vs-all. They get the
    * EXACT-HASH COLLAPSE pass instead: members are grouped by their full
    * 64-slot signature (identical signature ⇒ estimated Jaccard 1.0 —
    * byte-identical template copies) and each exact family star-pairs to
    * its minimum id at O(family) cost. This is the "dedicated exact-hash
    * pass" a degenerate bucket deserves: template-scale exact duplicates
    * collapse even when they differ from the bucket's overall hub, closing
    * the path where two identical docs sharing ONLY an over-cap bucket
    * could slip through. With `oversizedStar = true` the near-but-not-exact
    * RESIDUE is additionally screened: the one representative per exact
    * family star-pairs to the bucket hub (the minimum family rep), so
    * downstream exact-verify + connected components can fold
    * near-but-not-identical variants into the hub's transitive cluster.
    * Candidate volume from an over-cap bucket is O(bucket) either way,
    * never bucket².
    */
  def lshCandidatePairs(
      sigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 10000,
      oversizedStar: Boolean = false): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"banding geometry must divide evenly: numHashes=$numHashes bands=$bands")
    val rowsPerBand = numHashes / bands
    val banded = sigs
      .select(col("id"), xxhash64(col("__sig")).as("__fh"),
        explode(lshBands("__sig", bands, rowsPerBand)).as("bb"))
    // the bucket table feeds BOTH the within-cap pair explosion and the
    // over-cap family collapse (which reads it twice more) — lazily
    // materialized so the band explode + collect_list shuffle run once,
    // not once per consumer; bounded at 16 (id, hash) structs per doc
    val buckets = Graft.materialize(banded
      .groupBy(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .agg(collect_list(struct(col("id"), col("__fh"))).as("ms"))
      .where(size(col("ms")) > 1), eager = false)
    val small = buckets.where(size(col("ms")) <= maxBucketSize)
      .select(transform(col("ms"), m => m.getField("id")).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
    // over-cap buckets, re-exploded to (band, bucket, id, full-sig-hash)
    // rows: the family aggregation below shuffles on (band, bucket, __fh)
    // — a template family of a million identical copies is ONE group, and
    // every emitted pair has the family minimum on the left
    val over = buckets.where(size(col("ms")) > maxBucketSize)
      .select(col("band"), col("bucket"), explode(col("ms")).as("m"))
      .select(col("band"), col("bucket"),
        col("m.id").as("id"), col("m.__fh").as("__fh"))
    val fam = over.groupBy(col("band"), col("bucket"), col("__fh"))
      .agg(min(col("id")).as("fmin"))
    val famPairs = over.join(fam, Seq("band", "bucket", "__fh"))
      .where(col("id") =!= col("fmin"))
      .select(col("fmin").as("id_a"), col("id").as("id_b"))
    val pairs =
      if (!oversizedStar) small.unionByName(famPairs)
      else {
        val hubs = fam.groupBy(col("band"), col("bucket"))
          .agg(min(col("fmin")).as("hub"))
        val residue = fam.join(hubs, Seq("band", "bucket"))
          .where(col("fmin") =!= col("hub"))
          .select(col("hub").as("id_a"), col("fmin").as("id_b"))
        small.unionByName(famPairs).unionByName(residue)
      }
    pairs.distinct()
  }

  def minhashCandidates(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 10000): DataFrame = {
    // signatures feed the banded candidate stage AND both est_jaccard
    // join-backs — materialized lazily so the shingle+minhash kernel runs
    // once per corpus row, not three times (one full signature pipeline
    // per consumer in the unmaterialized plan)
    val sigs = Graft.materialize(minhashSignatures(docs, textCol, idCol, numHashes), eager = false)
    val pairs = lshCandidatePairs(sigs, numHashes, bands, maxBucketSize)
    pairs
      .join(sigs.select(col("id").as("id_a"), col("__sig").as("__sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("__sig").as("__sig_b")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        (graft.plans.Exprs.sigAgreement(col("__sig_a"), col("__sig_b")).cast("double")
          / lit(numHashes)).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard on LSH candidates: re-join candidate ids to their
    * n-gram sets and compute |∩| / |∪| precisely; keep pairs ≥ threshold.
    * The expensive exact step only ever touches LSH survivors.
    *
    * `candidates` (id_a, id_b) lets a pipeline that already ran LSH feed
    * its pairs in; `sigs` lets one that already holds (id, __sig)
    * signatures skip the re-shingle. By default the candidate stage runs
    * here, WITHOUT the est_jaccard signature join-back that
    * `minhashCandidates` pays — the exact Jaccard below supersedes the
    * estimate, so signatures are computed exactly once in this lineage.
    */
  def ngramJaccard(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      candidates: Option[DataFrame] = None,
      sigs: Option[DataFrame] = None,
      oversizedStar: Boolean = false,
      maxBucketSize: Int = 10000,
      numHashes: Int = 64,
      bands: Int = 16,
      gramTable: Option[DataFrame] = None): DataFrame = {
    // ONE tokenize+3-gram pass for the whole query: the gram table feeds
    // BOTH pair sides, and — when no candidate/signature source is given —
    // the MinHash candidate stage derives its signatures FROM these same
    // grams (minhashSignatures computes the identical word-3-gram array
    // before hashing), so the corpus-sized compiled kernels run once
    // instead of once per consumer. Lazy checkpoint: no barrier job, the
    // first consumer materializes it. The spread gate (Graft.spread) keeps
    // a single-split corpus from serializing the kernel on one core; at
    // scale the scan has splits and it's a no-op. A caller that already
    // holds the (gid, grams) table (the incremental pipeline, which also
    // derives its signatures from it) passes it in via `gramTable` and the
    // pass is skipped entirely.
    val grams = gramTable.getOrElse(Graft.materialize(
      wordGrams(Graft.spread(docs), 3, textCol, idCol), eager = false))
    val cands = candidates.getOrElse(
      lshCandidatePairs(sigs.getOrElse(
        grams.select(col("gid").as("id"), minhashSignature("grams", numHashes).as("__sig"))),
        numHashes = numHashes, bands = bands,
        maxBucketSize = maxBucketSize, oversizedStar = oversizedStar)
        .select("id_a", "id_b"))
    cands
      .join(grams.withColumnRenamed("gid", "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
      .join(grams.withColumnRenamed("gid", "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        round(
          size(array_intersect(col("grams_a"), col("grams_b"))).cast("double") /
            size(array_union(col("grams_a"), col("grams_b"))).cast("double"),
          6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected pair list (id_a, id_b) by
    * iterated min-label propagation: label(v) ← min(label(v),
    * min(label(nbr))) until a fixpoint. Each iteration is one self-join on
    * the (symmetrized) edge list + one min-aggregate — all shuffles on the
    * vertex id. Near-dup graphs are unions of SMALL components (dup
    * clusters), so the fixpoint arrives in O(cluster diameter) rounds —
    * `maxIter` is a guard, not the expected cost. Each frontier is
    * checkpointed ([[graft.Graft.materialize]]): iterative driver loops
    * otherwise nest every prior round's plan into the next (quadratic
    * analysis/optimization time and a lineage that re-runs the candidate
    * pipeline on any cache eviction).
    *
    * Output: (id, component) where component = min id of the connected set.
    *
    * Size-adaptive: min-label propagation needs O(log n) ROUNDS (the min
    * must traverse the graph), and at local scale each round's fixed job
    * overhead dominates. So the pair list is first read with the graph
    * loops' one capped collect ([[LocalGraph.edges]]): a graph of at most
    * `localSolveMaxEdges` edges (default [[LocalGraph.MaxEdges]], 1M) with
    * integral ids is solved by union-find on primitive arrays in the
    * driver ([[LocalGraph.components]]) — the same size-based switch Spark
    * itself makes for broadcast joins. At the 1M-edge default the driver
    * briefly holds the collected rows (on the order of 100 B an edge),
    * then tens of MB of primitive arrays (no boxed maps); raise the cap in
    * step with `spark.driver.memory`.
    * Larger graphs (the 100 TB path: billions of candidate pairs) run the
    * distributed rounds.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          localSolveMaxEdges: Long = LocalGraph.MaxEdges): DataFrame =
    LocalGraph.edges(pairs, "id_a", "id_b", localSolveMaxEdges, undirected = false).map { g =>
      LocalGraph.labelFrame(pairs.sparkSession, g, "id", "component", LocalGraph.components(g))
    }.getOrElse(componentRounds(pairs, maxIter))

  private def componentRounds(pairs: DataFrame, maxIter: Int): DataFrame = {
    // the pair list is consumed every iteration (and its lineage is usually
    // an expensive candidate pipeline — shingle/minhash/LSH or a pair join)
    // — materialize it once before anything else. LAZY: the eager edge
    // checkpoint below computes it inside its own job.
    val pairsM = Graft.materialize(pairs.select(col("id_a"), col("id_b")), eager = false)
    val edges = ccEdges(pairsM)
    GraftBridge.unpersistCheckpointed(pairsM)
    // ONE materialize action per round: the propagate plan is inlined under
    // the jump self-join, so it evaluates twice inside that single job —
    // for a frontier this is far cheaper than a second eager-checkpoint
    // job per round (driver round-trips dominate iterative graph loops
    // long before recompute does; lineage stays bounded because the round's
    // output is checkpointed).
    //
    // LAZY round frames: the label-sum aggregate is the action that
    // materializes each round's checkpoint — one job per round instead of
    // an eager-checkpoint job plus the aggregate. The superseded frontier
    // is unpersisted only AFTER the label sum has forced the new round's
    // blocks into existence (a lazy checkpoint that loses its input's
    // blocks before materializing cannot recompute — lineage is
    // truncated). Labels only ever DECREASE (min-propagation), so the
    // frontier is at a fixpoint iff the label sum is unchanged
    // ([[Graph.labelSum]]) — one cheap aggregate over the just-checkpointed
    // frontier instead of a join-and-count against the previous one.
    var labels = Graft.materialize(ccFirstRound(edges), eager = false)
    var prevSum = Graph.labelSum(labels, "component")
    var iter = 1
    var converged = false
    while (!converged && iter < maxIter) {
      val next = Graft.materialize(ccRound(edges, labels), eager = false)
      val s = Graph.labelSum(next, "component") // materializes `next`
      // next's blocks exist now — the superseded frontier's can go.
      // Dataset.unpersist is a silent no-op for checkpoint-backed frames;
      // release through the RDD handle
      GraftBridge.unpersistCheckpointed(labels)
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    // labels is checkpointed — the edge list's blocks can go with the loop
    GraftBridge.unpersistCheckpointed(edges)
    labels
  }

  /** The distributed rounds' edge list (src, dst), checkpointed: the
    * materialized pair list symmetrized, plus a self-loop (v, v) per node,
    * so "min over own ∪ neighbors' labels" is ONE join + ONE aggregate per
    * round — no second join (and no union, whose constraint rewriting
    * chokes when one branch joins the other's source) against the label
    * table itself.
    */
  private[graft] def ccEdges(pairsM: DataFrame): DataFrame =
    Graft.materialize(
      pairsM.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairsM.select(col("id_b").as("src"), col("id_a").as("dst")))
        .union(pairsM.select(col("id_a").as("src")).union(pairsM.select(col("id_b").as("src")))
          .distinct().select(col("src").as("src"), col("src").as("dst"))),
      eager = true)

  /** Pointer jumping: adopt the label OF the current label — the effective
    * diameter halves every round, so a length-d chain converges in O(log d)
    * rounds, not O(d). One self-join of the (id, component) table, which is
    * far smaller than the edge join.
    */
  private def jump(lab: DataFrame): DataFrame = lab.as("a")
    .join(lab.select(col("id").as("component"), col("component").as("__cc")).as("b"),
      Seq("component"), "left")
    .select(col("id"), coalesce(col("__cc"), col("component")).as("component"))

  /** Round 1 needs no label join at all: labels start as ids, so
    * label(v) = min(v, min(neighbors)) is a direct aggregate over the
    * self-looped [[ccEdges]] list, then one jump.
    */
  private[graft] def ccFirstRound(edges: DataFrame): DataFrame =
    jump(edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("component")))

  /** One distributed round (id, component), pre-checkpoint: propagate
    * (min over own ∪ neighbors' labels through the [[ccEdges]] join) +
    * jump.
    */
  private[graft] def ccRound(edges: DataFrame, labels: DataFrame): DataFrame =
    jump(edges
      .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("component", "__l"), "dst")
      .groupBy(col("src").as("id"))
      .agg(min(col("__l")).as("component")))

  /** Open-addressing long→long hash map for the per-partition union-find
    * fold — primitive arrays, ~16 B/entry (a boxed HashMap costs ~5×,
    * which is the difference between a 16M-node partition fitting a task
    * heap or not). Long.MinValue is the empty-slot sentinel and therefore
    * an unsupported key (fail-loud, not silent corruption).
    */
  private final class LongLongMap(initialCapacity: Int = 1 << 12) {
    private val Empty = Long.MinValue
    private var mask = {
      var c = 16
      while (c < initialCapacity * 2) c <<= 1
      c - 1
    }
    private var keys = Array.fill(mask + 1)(Empty)
    private var vals = new Array[Long](mask + 1)
    private var n = 0
    def size: Int = n
    private def slot(k: Long, ks: Array[Long], m: Int): Int = {
      // Stafford mix13 finalizer on a golden-ratio spread — id patterns
      // (sequential, strided) must not cluster into probe chains
      var h = k * -7046029254386353131L
      h ^= h >>> 32
      var i = (h & m).toInt
      while (ks(i) != Empty && ks(i) != k) i = (i + 1) & m
      i
    }
    def getOrDefault(k: Long, dflt: Long): Long = {
      require(k != Empty, "id Long.MinValue is reserved (open-addressing sentinel)")
      val i = slot(k, keys, mask)
      if (keys(i) == k) vals(i) else dflt
    }
    def put(k: Long, v: Long): Unit = {
      require(k != Empty, "id Long.MinValue is reserved (open-addressing sentinel)")
      val i = slot(k, keys, mask)
      if (keys(i) != k) {
        keys(i) = k
        n += 1
        if ((n.toLong * 10) >= (mask + 1).toLong * 7) grow()
      }
      // grow() relocates — re-resolve the slot rather than caching it
      vals(slot(k, keys, mask)) = v
    }
    private def grow(): Unit = {
      val m2 = mask * 2 + 1
      val k2 = Array.fill(m2 + 1)(Empty)
      val v2 = new Array[Long](m2 + 1)
      var i = 0
      while (i <= mask) {
        if (keys(i) != Empty) {
          val j = slot(keys(i), k2, m2)
          k2(j) = keys(i)
          v2(j) = vals(i)
        }
        i += 1
      }
      keys = k2; vals = v2; mask = m2
    }
    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i <= mask) {
        if (keys(i) != Empty) f(keys(i))
        i += 1
      }
    }
  }

  /** Per-partition SPANNING-FOREST fold of a pair stream — the bounded-
    * memory reduction that lets connectivity consumers (keep decisions,
    * cluster labels) COMPLETE on pair sets too large to materialize as a
    * table. Each partition pipes its pairs through a streaming union-find
    * (pairs are consumed as they arrive and never collected) and emits one
    * (root, member) star edge per distinct node it saw — output is
    * ≤ Σ_p |nodes(p)|, LINEAR in nodes × partition-spread, however
    * quadratic the incoming pair stream was.
    *
    * Connectivity is preserved EXACTLY: every input pair's endpoints share
    * a root inside their partition's union-find, the emitted stars connect
    * precisely the nodes each partition saw connected, and the union of
    * per-partition forests therefore has the same transitive closure as
    * the input pairs (a spanning forest per partition, merged downstream).
    * This is the classic forest-contraction step of external-memory
    * connected components.
    *
    * Use when pairs ≫ nodes (dense similarity graphs — the τ-threshold
    * keep paths, where the pair stream is Θ(n²) by geometry); for SPARSE
    * pair sets the fold can EXPAND the edge list (one row per node per
    * partition it appears in) and [[connectedComponents]] directly is
    * cheaper. Integral ids only (the 8-byte union-find is the point);
    * per-partition distinct-node count is capped fail-loud at
    * `maxNodesPerPartition` (default 2²⁴ ≈ 16.7M ⇒ ~0.5 GB transient per
    * task) — nodes, not pairs, bound the memory.
    */
  def spanningForest(pairs: DataFrame, maxNodesPerPartition: Int = 1 << 24): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val idType = pairs.schema("id_a").dataType
    require(LocalGraph.integral(idType),
      s"spanningForest folds ids through a primitive union-find — integral ids only, " +
        s"got ${idType.catalogString} (hash or dictionary-encode upstream)")
    pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new LongLongMap()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          // path compression: point the walked chain at the root
          var c = x
          while (c != r) { val nx = parent.getOrDefault(c, c); parent.put(c, r); c = nx }
          r
        }
        it.foreach { case (a, b) =>
          if (parent.getOrDefault(a, Long.MinValue) == Long.MinValue) parent.put(a, a)
          if (parent.getOrDefault(b, Long.MinValue) == Long.MinValue) parent.put(b, b)
          require(parent.size <= maxNodesPerPartition,
            s"spanningForest partition exceeded $maxNodesPerPartition distinct nodes — " +
              "repartition the pair stream wider or raise maxNodesPerPartition")
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
        }
        val out = Iterator.newBuilder[(Long, Long)]
        parent.foreachKey(v => out += ((find(v), v)))
        out.result()
      }
      .toDF("id_a", "id_b")
      .select(col("id_a").cast(idType).as("id_a"), col("id_b").cast(idType).as("id_b"))
  }

  /** [[connectedComponents]] over the [[spanningForest]] reduction —
    * identical (id, component) output (spec-pinned on random graphs), but
    * the pair stream is consumed ONCE, pipelined, and never materialized:
    * what gets checkpointed and iterated on downstream is the node-linear
    * forest. This is the COMPLETING path for keep-semantics past the
    * [[PairGate]] cap: a keep decision (one survivor per near-dup
    * cluster) never needs the Θ(n²) pair table to exist at once — only
    * its transitive closure, which the fold extracts at O(nodes) space
    * per partition while the quadratic pairs stream through.
    */
  def connectedComponentsScalable(pairs: DataFrame,
                                  maxNodesPerPartition: Int = 1 << 24): DataFrame =
    connectedComponents(spanningForest(pairs, maxNodesPerPartition))

  /** Near-duplicate removal end-to-end: LSH candidates → exact n-gram
    * Jaccard ≥ `threshold` → connected components → keep ONE document per
    * component (the minimum id, which is also the component label) plus
    * every document with no near-dup at all. The keep-decision join is a
    * semi/anti pattern on ids — wide document rows shuffle once.
    */
  def deduplicateNear(docs: DataFrame, threshold: Double,
                      textCol: String = "text", idCol: String = "doc_id",
                      sigs: Option[DataFrame] = None,
                      oversizedStar: Boolean = false,
                      maxBucketSize: Int = 10000,
                      numHashes: Int = 64, bands: Int = 16,
                      gramTable: Option[DataFrame] = None): DataFrame = {
    val pairs = ngramJaccard(docs, threshold, textCol, idCol, sigs = sigs,
      oversizedStar = oversizedStar, maxBucketSize = maxBucketSize,
      numHashes = numHashes, bands = bands, gramTable = gramTable)
      .select("id_a", "id_b")
    val losers = connectedComponents(pairs)
      .where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Corpus-wide boilerplate removal — drop the sentences/lines that repeat
    * across ≥ `minDocFreq` documents (cookie banners, nav text, license
    * footers) and rebuild each document from its surviving units in
    * original order. This is the line-level dedup pass of web-corpus
    * pipelines, complementary to whole-document dedup: it edits documents
    * instead of dropping them.
    *
    * Shape: posexplode units → doc-frequency on md5(unit) (distinct
    * (doc, hash) first, so a unit repeated WITHIN one doc counts once) →
    * anti-join kills boilerplate units → collect_list(struct(pos, unit))
    * + array_sort rebuilds the text. Shuffles carry unit hashes and then
    * per-doc unit lists — bounded by document size, never the corpus.
    * Documents whose every unit is boilerplate disappear entirely.
    */
  def removeBoilerplate(docs: DataFrame, minDocFreq: Long,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val units = docs.select(col(idCol),
      posexplode(split(col(textCol), "\\.\\s+")).as(Seq("pos", "unit")))
    val boiler = units.select(col(idCol), md5(col("unit")).as("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDocFreq)
      .select(col("h").as("__bh"))
    units
      .join(boiler, md5(col("unit")) === col("__bh"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("unit")))),
          s => s.getField("unit")), ". ").as("clean_text"))
  }

  private val MaxSuiteGrams = "spark.graft.decontaminate.maxSuiteGrams"

  /** Benchmark decontamination's one gram-membership screen: does a
    * document share a word `n`-gram with the evaluation suite? Built once
    * per suite by [[gramScreen]]; `inSuite` is its membership test on a
    * gram column. At or under the cap it is an exact probe of a broadcast
    * hash set (graft.plans.StringSetContains), fused into the scan as a
    * per-row filter, batch or stream. Over the cap it is a bloom
    * pre-screen (false positives, no false negatives) whose survivors an
    * exact join against the suite's grams confirms; that side is batch
    * only.
    */
  final class GramScreen private[Dedup] (n: Int, textCol: String, cap: Long,
                                         confirm: Option[DataFrame],
                                         val inSuite: Column => Column) {

    /** `docs` without the documents that share a gram with the suite. A
      * NULL-text document has no grams and is kept, as by an anti-join.
      */
    def apply(docs: DataFrame, idCol: String = "doc_id"): DataFrame = confirm match {
      case None => docs.where(!coalesce(exists(gramsOf(textCol, n), inSuite), lit(false)))
      case Some(suite) =>
        require(!docs.isStreaming, s"the suite has more than $cap distinct grams, so the " +
          s"screen confirms by a join, which a stream cannot run; raise $MaxSuiteGrams")
        val dirty = wordGrams(docs, n, textCol, idCol, rows = true)
          .where(inSuite(col("grams"))).join(suite, "grams")
          .select(col("gid").as(idCol)).distinct()
        docs.join(dirty, Seq(idCol), "left_anti")
    }
  }

  /** The [[GramScreen]] of `benchmark`'s word `n`-grams. One job pulls at
    * most `cap + 1` distinct suite grams to the driver (default cap: the
    * `maxSuiteGrams` conf, 10M grams, about 0.5 GB). At or under the cap
    * they become the exact probe set; over it the suite is aggregated into
    * a bloom filter instead, sized by Spark's own runtime bloom-filter
    * confs and shipped inside the plan.
    */
  def gramScreen(benchmark: DataFrame, n: Int = 8, textCol: String = "text",
                 cap: Option[Long] = None): GramScreen = {
    import graft.plans.Exprs
    val spark = benchmark.sparkSession
    val max = cap.getOrElse(spark.conf.get(MaxSuiteGrams, "10000000").toLong)
    require(max >= 0 && max < Int.MaxValue, s"$MaxSuiteGrams must be in [0, ${Int.MaxValue})")
    val suite = benchmark.select(explode(gramsOf(textCol, n)).as("grams")).distinct()
    val probe = suite.limit(max.toInt + 1).collect()
    if (probe.length <= max) {
      val set = spark.sparkContext.broadcast(
        probe.map(_.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      new GramScreen(n, textCol, max, None, g => Exprs.stringSetContains(g, set))
    } else {
      val bloom = suite.agg(Exprs.bloomAgg(xxhash64(col("grams"))))
        .head().getAs[Array[Byte]](0)
      new GramScreen(n, textCol, max, Some(suite),
        g => Exprs.bloomMightContain(lit(bloom), xxhash64(g)))
    }
  }

  /** Eval-integrity leak report, the inverse direction of the
    * [[GramScreen]]: for each benchmark document, how many DISTINCT corpus
    * documents share at least one n-gram with it. Dropping leaked corpus
    * docs protects training; this is what the eval-integrity review
    * publishes about the SUITE — which items are compromised and how
    * broadly, so a too-leaked task can be retired. The corpus gram rows
    * pass the screen's membership test first, so only the leaked rows
    * join the suite's (bench id, gram) table; the shuffle carries distinct
    * (bench, corpus) id PAIRS. Benchmark docs with zero leaks still appear
    * (n_leaked_docs = 0): absence of evidence is part of the report.
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val inSuite = gramScreen(benchmark, n, textCol).inSuite
    val bg = wordGrams(benchmark, n, textCol, idCol, rows = true)
      .select(col("gid").as("__bid"), col("grams")).distinct()
    val pairs = wordGrams(corpus, n, textCol, idCol, rows = true)
      .where(inSuite(col("grams")))
      .join(bg, "grams")
      .select(col("__bid"), col("gid").as("__cid")).distinct()
    val counts = pairs.groupBy(col("__bid").as("bench_id"))
      .agg(count(lit(1)).as("n_leaked_docs"))
    benchmark.select(col(idCol).as("bench_id"))
      .join(broadcast(counts), Seq("bench_id"), "left") // leak-report sized
      .select(col("bench_id"),
        coalesce(col("n_leaked_docs"), lit(0L)).as("n_leaked_docs"))
  }

  /** 64-bit SimHash fingerprint over whitespace tokens — one compiled
    * vote-and-assemble pass per row (graft.plans.SimHash64).
    */
  def simhash(textCol: String): Column =
    graft.plans.Exprs.simhash(split(trim(lower(col(textCol))), "\\s+"))

  /** Winnowing fingerprint sets (rolling-hash minima) per document — robust
    * to insertions/reordering: any shared substring of ≥ k+w−1 bytes yields
    * shared fingerprints, so containment/overlap detection works where
    * whole-text hashing fails.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"), graft.plans.Exprs.winnow(col(textCol), k, w).as("fps"))

  /** Containment/overlap pairs from winnowing fingerprints: documents
    * sharing ≥ `minShared` fingerprints — robust to insertion, deletion
    * and reordering, which whole-text and shingle-set methods miss (any
    * shared substring of ≥ k+w−1 chars contributes fingerprints). Same
    * bucket shape as every other near-dup path: explode to (fingerprint,
    * id), bucket on the fingerprint, pair within buckets (bounded by
    * `maxBucketSize` against boilerplate), count shared prints per pair.
    */
  def winnowOverlapPairs(docs: DataFrame, minShared: Int = 3,
                         k: Int = 8, w: Int = 4,
                         textCol: String = "text", idCol: String = "doc_id",
                         maxBucketSize: Int = 10000): DataFrame = {
    // Output-cardinality gate (the quadratic-output melt guard shared
    // with the embedding pair family). Tier-2 estimate runs THIS
    // operator's exact semantics on the deterministic ~2048-doc id
    // sample and scales by 1/p² (a pair survives iff both endpoints are
    // sampled and its shared-fingerprint count is pair-local, so the
    // estimate is unbiased; sample buckets can only be SMALLER than the
    // full corpus's, so the cap drops fewer of them — errs toward
    // refusing). Estimator cost is p×fingerprinting + p²×pairing —
    // negligible exactly where the gate matters (p → 0 as the corpus
    // grows); a full-corpus histogram bound instead would double the
    // query's dominant stage at every scale.
    PairGate.check(docs, "winnowOverlapPairs",
      s"minShared=$minShared,k=$k,w=$w,maxBucket=$maxBucketSize",
      s"raise minShared (now $minShared) or enlarge k (now $k) so fewer " +
        "windows collide") { p =>
      val sampled = winnowOverlapImpl(
        docs.where(PairGate.samplePredicate(col(idCol), p)),
        minShared, k, w, textCol, idCol, maxBucketSize).count()
      math.ceil(sampled / (p * p)).toLong
    }
    winnowOverlapImpl(docs, minShared, k, w, textCol, idCol, maxBucketSize)
  }

  private def winnowOverlapImpl(docs: DataFrame, minShared: Int,
                                k: Int, w: Int,
                                textCol: String, idCol: String,
                                maxBucketSize: Int): DataFrame = {
    val fps = winnowFingerprints(docs, k, w, textCol, idCol)
      .select(col("id"), explode(col("fps")).as("fp"))
    val buckets = fps
      .groupBy(col("fp"))
      .agg(collect_set(col("id")).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucketSize)
    buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** Per-doc SimHash fingerprints plus the 4 × 16-bit chunk keys used for
    * candidate bucketing (pigeonhole: hamming ≤ 3 ⇒ some chunk equal).
    */
  def simhashFingerprints(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol).as("id"), simhash(textCol).as("simhash"))
      .select(col("id"), col("simhash"),
        expr("transform(sequence(0, 3), c -> (shiftright(simhash, c * 16) & 65535))").as("chunks"))

  /** SimHash near-dup pairs: bucket on (chunk index, chunk bits), pair within
    * buckets, verify exact hamming distance ≤ `maxHamming` via bit_count.
    *
    * Recall is complete BY CONSTRUCTION: the 64 bits split into
    * `maxHamming + 1` chunks, so ≤ maxHamming differing bits cannot touch
    * every chunk (pigeonhole) — some chunk matches exactly and buckets the
    * pair. A fixed chunk count would silently miss pairs whose differing
    * bits spread across all chunks once maxHamming exceeds chunks − 1.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id",
                   maxBucketSize: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 63]")
    val nChunks = maxHamming + 1
    val fps = docs.select(col(idCol).as("id"), simhash(textCol).as("fp"))
    val chunkCols = (0 until nChunks).map { i =>
      val start = i * 64 / nChunks
      val width = (i + 1) * 64 / nChunks - start
      val mask = if (width >= 64) -1L else (1L << width) - 1
      struct(lit(i).as("chunk_idx"),
        shiftright(col("fp"), start).bitwiseAND(lit(mask)).as("chunk_val"))
    }
    val chunked = fps
      .select(col("id"), col("fp"), explode(array(chunkCols: _*)).as("ck"))
      .select(col("id"), col("fp"),
        col("ck.chunk_idx").as("chunk_idx"), col("ck.chunk_val").as("chunk_val"))
    val buckets = chunked
      .groupBy(col("chunk_idx"), col("chunk_val"))
      .agg(collect_list(struct(col("id"), col("fp"))).as("members"))
      .where(size(col("members")) > 1)
    val small = buckets.where(size(col("members")) <= maxBucketSize)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        expr("bit_count(a.fp ^ b.fp)").as("hamming"))
      .where(col("hamming") <= maxHamming)
    // Over-cap chunk buckets follow the file's bucket-cap convention
    // (every other near-dup path here caps): no all-vs-all inside them —
    // instead members group by their FULL fingerprint and each identical
    // family star-pairs to its minimum id at O(family) cost (identical
    // fingerprints ⇒ hamming 0, always within any maxHamming). The
    // near-but-not-identical residue of an over-cap bucket goes
    // unscreened — pigeonhole completeness holds for buckets within the
    // cap; a degenerate mega-bucket trades the tail for not going
    // quadratic, exactly as the MinHash path does.
    val bigMembers = buckets.where(size(col("members")) > maxBucketSize)
      .select(col("chunk_idx"), col("chunk_val"), explode(col("members")).as("m"))
      .select(col("chunk_idx"), col("chunk_val"), col("m.id").as("id"), col("m.fp").as("fp"))
    val hubs = bigMembers.groupBy(col("chunk_idx"), col("chunk_val"), col("fp"))
      .agg(min(col("id")).as("hub"))
    val collapsed = bigMembers.join(hubs, Seq("chunk_idx", "chunk_val", "fp"))
      .where(col("id") =!= col("hub"))
      .select(least(col("hub"), col("id")).as("id_a"),
        greatest(col("hub"), col("id")).as("id_b"),
        lit(0).as("hamming"))
    small.union(collapsed).distinct()
  }

  /** N-gram CONTAINMENT near-dup pairs — the asymmetric measure Jaccard
    * misses: a short document embedded verbatim in a long one has
    * containment |A∩B| / min(|A|,|B|) = 1.0 while its Jaccard can be
    * arbitrarily small, so quote-heavy and template-wrapped corpora need
    * this pass beside the MinHash one (Broder's resemblance/containment
    * pair).
    *
    * Candidates come from a RARE-GRAM inverted index, not LSH: a pair is
    * compared iff it shares at least one n-gram whose document frequency
    * is in [2, maxDf]. That is DETERMINISTIC (no hash geometry), so the
    * DuckDB oracle replays the exact same blocking and the output is
    * hash-verified — unlike the LSH-candidate keys, which are rows-only
    * by nature. It is also the scale contract: every posting bucket holds
    * ≤ maxDf docs, so the self-join emits ≤ maxDf²/2 pairs per gram —
    * nothing can go quadratic in corpus size; what grows is the number of
    * rare grams (∝ corpus), each a bounded constant of work. The recall
    * trade is explicit: a pair sharing only POPULAR grams (df > maxDf) is
    * not compared — at web scale those grams are boilerplate, and the
    * boilerplate/span-dedup passes own that signal.
    *
    * Output: (id_a, id_b, containment) with id_a < id_b, containment
    * rounded to 6dp, thresholded.
    */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 5,
                       maxDf: Int = 5, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 (got $maxDf) — a df-1 gram cannot pair")
    // gram sets are consumed three times (postings + both pair sides) and
    // their lineage re-tokenizes the corpus — materialize once. LAZY: the
    // postings explode is the first consumer and pays the tokenize pass
    // inside its own job; no separate barrier job.
    val g = Graft.materialize(wordGrams(docs, n, textCol, idCol), eager = false)
    val post = g.select(col("gid"), explode(col("grams")).as("g"))
    val rare = post.groupBy(col("g")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2 && col("__df") <= maxDf)
      .select("g")
    val rarePost = post.join(rare, "g")
    val candPairs = rarePost.as("a")
      .join(rarePost.as("b"),
        col("a.g") === col("b.g") && col("a.gid") < col("b.gid"))
      .select(col("a.gid").as("id_a"), col("b.gid").as("id_b"))
      .distinct()
    candPairs
      .join(g.select(col("gid").as("id_a"), col("grams").as("gs_a")), "id_a")
      .join(g.select(col("gid").as("id_b"), col("grams").as("gs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("gs_a"), col("gs_b"))).cast("double") /
          least(size(col("gs_a")), size(col("gs_b"))).cast("double"), 6)
          .as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Fuzzy record linkage over a string column: all DISTINCT-value pairs
    * within edit distance `maxDist`, candidate-blocked by a shared
    * `blockPrefix`-char prefix. The reference's symbol rewrite
    * (functions.py:144-150) fixes a KNOWN list of variant spellings; this
    * is the discovery side — the variants nobody listed.
    *
    * Scale shape: Levenshtein runs on the distinct-VALUE table, never on
    * record pairs — the first aggregate collapses N records to the
    * vocabulary (model-sized for any column worth linking: names, symbols,
    * domains), and everything after is vocabulary × vocabulary WITHIN a
    * prefix block. The block join is a plain hash-shuffle equi-join on the
    * prefix; the length-band conjunct |len a − len b| ≤ maxDist is implied
    * by the metric (each edit moves length by ≤ 1), so it is a free
    * pre-filter that cuts candidates before the O(len²) distance runs.
    * Both `levenshtein` and the blocking are codegen'd built-ins — no UDF.
    * The prefix block is part of the CONTRACT (pairs differing in their
    * first `blockPrefix` chars are not linked), not a recall accident:
    * linkage keys are normalized so the head is stable, and the oracle
    * replays the same block.
    *
    * Output: (name_a, name_b, dist, n_a, n_b) with name_a < name_b, the
    * record count behind each value — ranked linkage candidates.
    */
  def fuzzyValuePairs(df: DataFrame, strCol: String, maxDist: Int,
                      blockPrefix: Int = 2): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1 (got $maxDist)")
    require(blockPrefix >= 1, s"blockPrefix must be >= 1 (got $blockPrefix)")
    val names = df.where(col(strCol).isNotNull)
      .groupBy(col(strCol).as("__name")).agg(count(lit(1)).as("__n"))
    val a = names.select(col("__name").as("name_a"), col("__n").as("n_a"),
      substring(col("__name"), 1, blockPrefix).as("__blk"),
      length(col("__name")).as("__la"))
    val b = names.select(col("__name").as("name_b"), col("__n").as("n_b"),
      substring(col("__name"), 1, blockPrefix).as("__blk"),
      length(col("__name")).as("__lb"))
    a.join(b, Seq("__blk"))
      .where(col("name_a") < col("name_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"),
        col("n_a"), col("n_b"))
      .where(col("dist") <= maxDist)
  }

  /** Entity resolution on top of [[fuzzyValuePairs]]: fuzzy-linked values
    * collapse to one canonical spelling per connected component, and every
    * RECORD maps to its value's canonical form. The component graph lives
    * in value space (each distinct value gets the min record id bearing it
    * as its node id), so [[connectedComponents]] runs on a vocabulary-sized
    * edge list regardless of record count, and the canonical spelling is
    * the component root's value — deterministic, no training. Records whose
    * value linked to nothing keep their spelling (left join + coalesce).
    * The record-side mapping is one broadcast-sized join: the rewrite table
    * is |vocabulary| rows by construction.
    */
  def fuzzyCanonicalize(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int, blockPrefix: Int = 2): DataFrame = {
    val nameIds = df.where(col(strCol).isNotNull)
      .groupBy(col(strCol).as("__name")).agg(min(col(idCol)).as("__nid"))
    val pairs = fuzzyValuePairs(df, strCol, maxDist, blockPrefix)
      .join(nameIds.select(col("__name").as("name_a"), col("__nid").as("id_a")), "name_a")
      .join(nameIds.select(col("__name").as("name_b"), col("__nid").as("id_b")), "name_b")
      .select("id_a", "id_b")
    val comp = connectedComponents(pairs)
    val canonical = nameIds
      .join(comp.withColumnRenamed("id", "__nid"), Seq("__nid"), "left")
      .join(broadcast(nameIds.select(col("__nid").as("component"),
        col("__name").as("__canon"))), Seq("component"), "left")
      .select(col("__name"),
        coalesce(col("__canon"), col("__name")).as("canonical"))
    df.join(broadcast(canonical), df(strCol) === canonical("__name"), "left")
      .select(df("*"),
        coalesce(col("canonical"), df(strCol)).as("canonical"))
  }
}
