package graft
package registry

import graft.operators._
import graft.registry.QueryKit._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact, near and embedding deduplication of documents and vectors. */
object DedupQueries {

  // ScaleBench runs a diagnostic beside this key
  private[graft] val DedupEmbedding = "q_dedup_embedding"

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dedup_exact", (s, dir) => Dedup.exact(Tables.documents(s, dir)),
      Oracle(
        "SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count FROM documents GROUP BY 1")),

    QuerySpec("q_containment", (s, dir) =>
      // doc-in-doc detection: 5-gram containment |A∩B|/min(|A|,|B|) over
      // rare-gram-blocked candidates (df ∈ [2,5] postings — deterministic
      // blocking, so unlike the LSH keys the oracle replays it exactly
      // and the pair set is hash-verified)
      Dedup.containmentPairs(Tables.documents(s, dir), 0.5),
      Oracle(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          |  FROM documents),
          |gr AS (
          |  SELECT doc_id, CASE WHEN len(t) >= 5
          |    THEN list_distinct(list_transform(range(1, len(t) - 3),
          |                       i -> array_to_string(t[i:i+4], ' ')))
          |    ELSE [array_to_string(t, ' ')] END AS gs
          |  FROM toks),
          |post AS (SELECT doc_id, unnest(gs) AS g FROM gr),
          |rare AS (SELECT g FROM post GROUP BY g HAVING count(*) BETWEEN 2 AND 5),
          |cand AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM post a JOIN rare USING (g) JOIN post b ON a.g = b.g
          |  WHERE a.doc_id < b.doc_id),
          |pairs AS (
          |  SELECT c.id_a, c.id_b,
          |    len(list_intersect(ga.gs, gb.gs)) AS inter,
          |    least(len(ga.gs), len(gb.gs)) AS mn
          |  FROM cand c
          |  JOIN gr ga ON ga.doc_id = c.id_a
          |  JOIN gr gb ON gb.doc_id = c.id_b)
          |SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / mn, 6) AS containment
          |FROM pairs WHERE round(CAST(inter AS DOUBLE) / mn, 6) >= 0.5""".stripMargin)),

    QuerySpec("q_dedup_containment_keep", (s, dir) => {
      // containment dedup end-to-end: doc-in-doc pairs → connected
      // components → keep the min-id doc per cluster (+ singletons) —
      // the q_dedup_embedding_keep shape on the deterministic rare-gram
      // blocking, so the oracle's recursive-CTE closure hash-verifies
      // the component labels here too
      val losers = Dedup.connectedComponents(
          Dedup.containmentPairs(Tables.documents(s, dir), 0.5)
            .select(col("id_a"), col("id_b")))
        .where(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      Tables.documents(s, dir)
        .join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
    },
      Oracle(
        """WITH RECURSIVE toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          |  FROM documents),
          |gr AS (
          |  SELECT doc_id, CASE WHEN len(t) >= 5
          |    THEN list_distinct(list_transform(range(1, len(t) - 3),
          |                       i -> array_to_string(t[i:i+4], ' ')))
          |    ELSE [array_to_string(t, ' ')] END AS gs
          |  FROM toks),
          |post AS (SELECT doc_id, unnest(gs) AS g FROM gr),
          |rare AS (SELECT g FROM post GROUP BY g HAVING count(*) BETWEEN 2 AND 5),
          |cand AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM post a JOIN rare USING (g) JOIN post b ON a.g = b.g
          |  WHERE a.doc_id < b.doc_id),
          |p AS (
          |  SELECT c.id_a, c.id_b FROM cand c
          |  JOIN gr ga ON ga.doc_id = c.id_a
          |  JOIN gr gb ON gb.doc_id = c.id_b
          |  WHERE round(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
          |          / least(len(ga.gs), len(gb.gs)), 6) >= 0.5),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM p
          |          UNION SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT src AS id, src AS r FROM edges
          |  UNION
          |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
          |SELECT d.doc_id, d.lang, d.source FROM documents d
          |WHERE d.doc_id NOT IN (
          |  SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id) t
          |  WHERE id <> comp)""".stripMargin)),

    QuerySpec("q_fuzzy_match", (s, dir) =>
      // record linkage discovery: distinct part-name pairs within edit
      // distance 3 under a 2-char prefix block — Levenshtein runs on the
      // VOCABULARY (one groupBy collapses records first), never on record
      // pairs, so cost is vocab²-within-block at any record count
      Dedup.fuzzyValuePairs(Tables.part(s, dir), "p_name", 3),
      Oracle(
        """WITH names AS (SELECT p_name AS nm, count(*) AS n FROM part GROUP BY 1)
          |SELECT a.nm AS name_a, b.nm AS name_b,
          |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
          |  a.n AS n_a, b.n AS n_b
          |FROM names a JOIN names b
          |  ON substr(a.nm, 1, 2) = substr(b.nm, 1, 2)
          | AND a.nm < b.nm
          | AND abs(len(a.nm) - len(b.nm)) <= 3
          |WHERE levenshtein(a.nm, b.nm) <= 3""".stripMargin)),

    QuerySpec("q_fuzzy_dedup", (s, dir) =>
      // entity resolution end-to-end: fuzzy value pairs → connected
      // components in value space → every record rewritten to its
      // cluster's canonical spelling (min-record-id value). The oracle
      // replays the clustering with a recursive-CTE transitive closure,
      // so the canonical labels are hash-verified.
      Dedup.fuzzyCanonicalize(Tables.part(s, dir), "p_partkey", "p_name", 3)
        .select("p_partkey", "p_name", "canonical"),
      Oracle(
        """WITH RECURSIVE names AS (
          |  SELECT p_name AS nm, min(p_partkey) AS nid FROM part GROUP BY 1),
          |p AS (
          |  SELECT a.nid AS id_a, b.nid AS id_b
          |  FROM names a JOIN names b
          |    ON substr(a.nm, 1, 2) = substr(b.nm, 1, 2)
          |   AND a.nm < b.nm
          |   AND abs(len(a.nm) - len(b.nm)) <= 3
          |  WHERE levenshtein(a.nm, b.nm) <= 3),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM p
          |          UNION SELECT id_b, id_a FROM p),
          |reach AS (
          |  SELECT src AS id, src AS r FROM edges
          |  UNION
          |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
          |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
          |canon AS (
          |  SELECT n.nm, coalesce(n2.nm, n.nm) AS canonical
          |  FROM names n
          |  LEFT JOIN comp c ON n.nid = c.id
          |  LEFT JOIN names n2 ON c.component = n2.nid)
          |SELECT pt.p_partkey, pt.p_name, cn.canonical
          |FROM part pt JOIN canon cn ON pt.p_name = cn.nm""".stripMargin)),

    QuerySpec("q_dedup_keep", (s, dir) => Dedup.deduplicate(Tables.documents(s, dir))
      .select("doc_id", "lang", "source", "n_chars"),
      Oracle(
        """SELECT doc_id, lang, source, n_chars FROM documents
          |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""".stripMargin)),

    QuerySpec("q_dedup_incremental", (s, dir) => {
      // online dedup: even-id docs stand in for the already-ingested
      // corpus (as a FINGERPRINT store — 16 bytes/doc, never the text);
      // odd-id docs are today's batch. Admit batch docs that are first
      // in-batch for their text AND unseen in the store.
      val docs = Tables.documents(s, dir)
      val store = Dedup.fingerprintStore(docs.where(col("doc_id") % 2 === 0))
      Dedup.deduplicateIncremental(docs.where(col("doc_id") % 2 === 1), store)
        .select("doc_id", "lang", "source", "n_chars")
    },
      Oracle(
        """WITH store AS (
          |  SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 2 = 0),
          |batch AS (
          |  SELECT doc_id, lang, source, n_chars, md5(text) AS h
          |  FROM documents WHERE doc_id % 2 = 1),
          |first_in AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY h)
          |SELECT b.doc_id, b.lang, b.source, b.n_chars
          |FROM batch b JOIN first_in USING (doc_id)
          |WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.text_hash = b.h)""".stripMargin)),

    QuerySpec("q_dedup_incremental_near", (s, dir) => {
      // incremental NEAR-dedup: history persists as a MinHash SIGNATURE
      // store (~512 B/doc); today's batch drops docs whose estimated
      // Jaccard vs any store doc clears the threshold, then near-dedups
      // within itself exactly.
      val docs = Tables.documents(s, dir)
      val store = Dedup.minhashSignatures(docs.where(col("doc_id") % 2 === 0))
      Dedup.nearDedupIncremental(docs.where(col("doc_id") % 2 === 1), store, 0.7)
        .select("doc_id", "lang", "source", "n_chars")
    },
      RowsOnly("MinHash signature estimates are engine-specific; DedupSpec pins the semantics")),

    QuerySpec("q_dedup_minhash", (s, dir) => Dedup.minhashCandidates(Tables.documents(s, dir)),
      RowsOnly("MinHash signatures and LSH bands are Spark-hash-specific")),

    QuerySpec("q_dedup_cluster", (s, dir) =>
      // near-dup graph → connected components (cluster id = min doc id)
      Dedup.connectedComponents(
        Dedup.ngramJaccard(Tables.documents(s, dir), 0.4).select("id_a", "id_b")),
      RowsOnly("clusters LSH-candidate pairs, which are Spark-hash-specific")),

    QuerySpec("q_dedup_near_keep", (s, dir) =>
      Dedup.deduplicateNear(Tables.documents(s, dir), 0.4)
        .select("doc_id", "lang", "source", "n_chars"),
      RowsOnly("keeps one doc per cluster of LSH-candidate pairs, which are Spark-hash-specific")),

    QuerySpec("q_dedup_simhash", (s, dir) =>
      Dedup.simhashFingerprints(Tables.documents(s, dir)).select("id", "simhash"),
      RowsOnly("SimHash fingerprints are Spark-hash-specific")),

    QuerySpec("q_simhash_pairs", (s, dir) =>
      // chunk-bucketed candidates + exact hamming verify (pigeonhole)
      Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 8),
      RowsOnly("pairs of Spark-hash-specific SimHash fingerprints")),

    // k=25-char windows: an 8-char window collides on ubiquitous English
    // fragments ("ing the "), flagging ~all pairs; 25+w−1 ≈ a 32-char
    // shared phrase is a real containment signal
    QuerySpec("q_winnow_overlap", (s, dir) =>
      Dedup.winnowOverlapPairs(Tables.documents(s, dir), minShared = 5, k = 25, w = 8),
      RowsOnly("winnowing fingerprints are Spark-hash-specific")),

    // driver's rows-check sorts with pandas, which can't hash array cells —
    // expose the fingerprint set as scalars (count + order-sensitive hash);
    // the raw array stays in the library API (Dedup.winnowFingerprints)
    QuerySpec("q_winnow_fingerprint", (s, dir) =>
      Dedup.winnowFingerprints(Tables.documents(s, dir))
        .select(col("id"), size(col("fps")).cast("long").as("n_fps"),
          xxhash64(col("fps")).as("fps_hash")),
      RowsOnly("winnowing fingerprints are Spark-hash-specific")),

    QuerySpec("q_ngram_jaccard", (s, dir) => Dedup.ngramJaccard(Tables.documents(s, dir), 0.4),
      RowsOnly("Jaccard over LSH-candidate pairs, which are Spark-hash-specific")),

    QuerySpec(DedupEmbedding, (s, dir) => Similarity.cosinePairsExact(Tables.embeddings(s, dir), 0.40),
      Oracle(
        s"""WITH n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings)
           |SELECT id_a, id_b, cosine FROM (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    round((SELECT CAST(sum(CAST(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
           |      / nullif(a.nrm * b.nrm, 0), 6) AS cosine
           |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
           |WHERE cosine > 0.40""".stripMargin)),

    QuerySpec("q_dedup_embedding_keep", (s, dir) => {
      // embedding near-dedup end-to-end: exact cosine pairs → connected
      // components → keep the min-id doc per cluster (+ all singletons).
      // The oracle reproduces the clustering with a recursive-CTE
      // transitive closure, so the component labels are hash-verified.
      // KEEP-SEMANTICS SCALE PATH: the exact pair stream runs UNGATED
      // into the spanning-forest fold — pairs pipeline through
      // per-partition union-find at O(nodes) space and are never
      // materialized as a table, so this key COMPLETES at rungs where the
      // τ=0.4 pair TABLE is far past spark.graft.pairs.maxOutput
      // (q_dedup_embedding, whose output IS that table, stays gated
      // there). Rows are identical to the pair-table path by the
      // spanning-forest connectivity proof (DedupSpec pins equality).
      val pairs = Similarity.cosinePairsExact(
        Tables.embeddings(s, dir), 0.40, gated = false).select("id_a", "id_b")
      val losers = Dedup.connectedComponentsScalable(pairs)
        .where(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      Tables.documents(s, dir)
        .join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
    },
      Oracle(
        s"""WITH RECURSIVE n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
           |p AS (
           |  SELECT id_a, id_b FROM (
           |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |      round((SELECT CAST(sum(CAST(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
           |        / nullif(a.nrm * b.nrm, 0), 6) AS cosine
           |    FROM n a JOIN n b ON a.vec_id < b.vec_id)
           |  WHERE cosine > 0.40),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM p
           |          UNION SELECT id_b, id_a FROM p),
           |reach AS (
           |  SELECT src AS id, src AS r FROM edges
           |  UNION
           |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src)
           |SELECT d.doc_id, d.lang, d.source FROM documents d
           |WHERE d.doc_id NOT IN (
           |  SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id) t
           |  WHERE id <> comp)""".stripMargin)),

    QuerySpec("q_semdedup", (s, dir) =>
      // SemDeDup: k-means-cell-bucketed semantic dedup — the pass a
      // pretraining pipeline runs between exact dedup and quality
      // filtering. Cross-cell recall is measured in SimilaritySpec
      // against the exact grid join; kept rows here are the sound result
      // (every drop is exact-cosine-verified). Runs the KEEP-SEMANTICS
      // SCALE PATH (ungated pair stream → spanning-forest fold — see
      // q_dedup_embedding_keep) over the SAME shared ensemble centroids
      // q_pair_quality scores, so both keys describe one deterministic
      // clustering; this key now COMPLETES at rungs where the pair table
      // itself is over-cap.
      {
        val pairs = Similarity.semdedupPairsEnsemble(
          Tables.embeddings(s, dir), sharedSemCents(s, dir), 0.4, gated = false)
          .select("id_a", "id_b")
        val losers = Dedup.connectedComponentsScalable(pairs)
          .where(col("id") =!= col("component"))
          .select(col("id").as("vec_id"))
        Tables.embeddings(s, dir).join(losers, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("label"))
      },
      RowsOnly("k-means-cell bucketing is approximate; SimilaritySpec bounds its recall")),

    QuerySpec("q_pair_quality", (s, dir) => {
      // pair-level quality for the sub-quadratic candidate generators,
      // again as data. Every truth set here is SCALABLE — no all-pairs
      // path: LSH-cosine recall scores against the exact grid theta-join
      // (itself oracle-exact), and the text generators score PRECISION by
      // exact-verifying only their own candidates (recall for those has no
      // sub-quadratic truth; simhash recall is pigeonhole-complete by
      // construction, spec-verified).
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val docs = Tables.documents(s, dir)
      // each candidate pipeline materializes ONCE (pair lists are bounded);
      // the count and the exact-verify join both read the checkpointed rows
      // instead of re-running signatures/buckets
      // τ = 0.4 (the q_dedup_embedding setting): the exact truth set's cost
      // is dominated by per-survivor decimal recompute, so a low threshold
      // that passes ~5% of all pairs turns the truth query quadratic-ish in
      // OUTPUT (measured 33 s vs 1.4 s at sf0.1 for τ 0.2 vs 0.4)
      // LAZY checkpoints: each pair list materializes inside the first
      // count that touches it instead of paying a separate barrier job —
      // three fewer sequential jobs in a query that is a chain of
      // driver-side counts
      def mat(df: DataFrame): DataFrame = Graft.materialize(df, eager = false)
      // the truth set and the SemDeDup centroids are the per-process shared
      // artifacts — scoring retrained models would measure a DIFFERENT
      // clustering than the one q_semdedup ships
      val exact = sharedExactPairs(s, dir)
      val lsh = mat(Similarity.cosinePairsBucketed(emb, 0.4).select("id_a", "id_b"))
      val nTrue = exact.count()
      val lshHit = lsh.join(exact, Seq("id_a", "id_b")).count()
      // ONE fused exact-Jaccard verify covers both text generators: their
      // candidate lists union (deduped) into a single ngramJaccard call, so
      // the corpus is tokenized/n-grammed once instead of once per method;
      // threshold 0 keeps every verified pair so each method's precision
      // filter applies at count time (skips minhashCandidates'
      // est_jaccard join-back, which this metric would discard anyway)
      val mhCands = mat(Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs))
        .select("id_a", "id_b"))
      val nMh = mhCands.count()
      val sh = mat(Dedup.simhashPairs(docs).select("id_a", "id_b"))
      val nSh = sh.count()
      val j = mat(Dedup.ngramJaccard(docs, 0.0,
        candidates = Some(mhCands.unionByName(sh).dropDuplicates("id_a", "id_b"))))
      val mhGood = j.join(mhCands, Seq("id_a", "id_b"))
        .where(col("jaccard") >= 0.4).count()
      val shGood = j.join(sh, Seq("id_a", "id_b"))
        .where(col("jaccard") >= 0.4).count()
      // SemDeDup ensemble recall vs the same exact truth set (its pairs are
      // exact-verified, so precision is 1.0 by construction — recall is the
      // number that can silently regress)
      val sem = sharedSemPairs(s, dir)
      val semHit = sem.join(exact, Seq("id_a", "id_b")).count()
      def ratio(a: Long, b: Long): Double =
        if (b == 0) 1.0 else math.rint(a.toDouble / b * 1e6) / 1e6
      Seq(
        ("lsh_cosine", "recall_vs_exact_t0.4", nTrue, ratio(lshHit, nTrue)),
        ("semdedup_ens2", "recall_vs_exact_t0.4", nTrue, ratio(semHit, nTrue)),
        ("minhash_lsh", "precision_at_j0.4", nMh, ratio(mhGood, nMh)),
        ("simhash_h3", "precision_at_j0.4", nSh, ratio(shGood, nSh)))
        .toDF("method", "metric", "n_pairs", "value")
    },
      RowsOnly("scores the approximate pair generators against their own truth sets")),

    QuerySpec("q_span_dedup", (s, dir) =>
      // substring-level dedup: strip every non-first occurrence of a
      // repeated 8-token span, keep documents (possibly emptied) in order
      graft.operators.SpanDedup.dedupSpans(Tables.documents(s, dir), k = 8),
      // stride-1 8-gram occurrences -> non-first occurrences of repeated
      // grams -> merged [s, e) islands per doc -> surviving tokens rebuild
      // the text (the Spark side groups by xxhash64(gram), the oracle by the
      // gram itself — identical families absent 64-bit collisions)
      Oracle(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
          |tp AS (
          |  SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
          |    SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
          |                          i -> {'pos': i, 'tok': t[i]})) AS u
          |    FROM toks)),
          |occ AS (
          |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
          |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
          |                          i -> {'pos': i, 'g': array_to_string(t[i:i+7], ' ')})) AS u
          |    FROM toks WHERE len(t) >= 8)),
          |mark AS (
          |  SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt,
          |         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
          |  FROM occ),
          |spans AS (SELECT doc_id, pos AS s, pos + 8 AS e FROM mark WHERE cnt >= 2 AND rn > 1),
          |isl0 AS (
          |  SELECT doc_id, s, e,
          |    max(e) OVER (PARTITION BY doc_id ORDER BY s
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
          |  FROM spans),
          |isl1 AS (SELECT doc_id, s, e,
          |           CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS brk FROM isl0),
          |isl2 AS (SELECT doc_id, s, e,
          |           sum(brk) OVER (PARTITION BY doc_id ORDER BY s
          |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
          |         FROM isl1),
          |isl AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM isl2 GROUP BY doc_id, isl),
          |rem AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM isl),
          |kept AS (SELECT tp.* FROM tp WHERE NOT EXISTS (
          |           SELECT 1 FROM rem WHERE rem.doc_id = tp.doc_id AND rem.pos = tp.pos)),
          |reb AS (SELECT doc_id, count(*) AS n_kept,
          |          string_agg(tok, ' ' ORDER BY pos) AS text_clean
          |        FROM kept GROUP BY doc_id)
          |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
          |  CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
          |  coalesce(reb.text_clean, '') AS text_clean
          |FROM toks t LEFT JOIN reb ON t.doc_id = reb.doc_id""".stripMargin)),

    QuerySpec("q_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.fingerprint("text").as("fp")),
      Oracle(
        """SELECT doc_id,
          | md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
          |FROM documents""".stripMargin))
  )
}
