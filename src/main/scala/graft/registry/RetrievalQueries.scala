package graft
package registry

import graft.operators._
import graft.registry.QueryKit._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nearest-neighbour retrieval, ANN indexes and ranking. */
object RetrievalQueries {

  // ScaleBench runs a diagnostic beside this key
  private[graft] val AnnLsh = "q_ann_lsh"

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_kmeans", (s, dir) => {
      // k-means codebook + map-side IVF assignment: cluster occupancy
      val emb = Tables.embeddings(s, dir)
      Similarity.buildIvfIndex(emb, Similarity.kmeansCentroids(emb, 8, iters = 2))
        .groupBy(col("cent_idx"))
        .agg(count(lit(1)).as("n"))
    },
      RowsOnly("Lloyd's iterations train the centroids in Scala; no SQL engine mirrors them")),

    QuerySpec("q_ann_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.topK(emb, emb.orderBy(col("vec_id")).limit(1), 10)
    },
      Oracle(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, $normSql AS qn
           |           FROM embeddings ORDER BY vec_id LIMIT 1),
           |n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings)
           |SELECT vec_id, cosine FROM (
           |  SELECT n.vec_id,
           |    round((SELECT CAST(sum(CAST(CAST(n.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
           |      / nullif(n.nrm * q.qn, 0), 6) AS cosine
           |  FROM n, q WHERE n.vec_id <> q.qid)
           |ORDER BY cosine DESC, vec_id
           |LIMIT 10""".stripMargin)),

    QuerySpec("q_ann_batch", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.topKBatch(emb, emb.orderBy(col("vec_id")).limit(2), 10)
    },
      Oracle(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, $normSql AS qn
           |           FROM embeddings ORDER BY vec_id LIMIT 2),
           |n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
           |scored AS (
           |  SELECT q.qid, n.vec_id,
           |    round((SELECT CAST(sum(CAST(CAST(n.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
           |      / nullif(n.nrm * q.qn, 0), 6) AS cosine
           |  FROM n, q WHERE n.vec_id <> q.qid)
           |SELECT qid, vec_id, cosine FROM (
           |  SELECT qid, vec_id, cosine,
           |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
           |  FROM scored)
           |WHERE rn <= 10""".stripMargin)),

    QuerySpec("q_bitext_mine", (s, dir) => {
      // margin-based bitext mining: a FIXED batch of up to 1000 even-id
      // queries against the odd-id corpus; forward margin
      // cos(top1)/mean(top4) > 1.25 keeps ~the top decile. The query
      // batch is the pipeline's unit of work (a full-corpus sweep is
      // repeated batches), so per-batch compute is LINEAR in the corpus
      // at every rung — broadcast-screen, zero shuffle of the corpus side
      val emb = Tables.embeddings(s, dir)
      // id < 2000 = the first 1000 even ids (ids are dense from 0): a
      // pushed-down scan filter, no sort/limit exchange
      Similarity.bitextMine(emb.where(col("vec_id") % 2 === 1),
        emb.where(col("vec_id") % 2 === 0 && col("vec_id") < 2000),
        k = 4, minMargin = 1.25)
    },
      Oracle(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, $normSql AS qn
           |           FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 2000),
           |n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings
           |      WHERE vec_id % 2 = 1),
           |c AS (SELECT q.qid, n.vec_id,
           |    round((SELECT CAST(sum(CAST(CAST(n.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
           |      / nullif(n.nrm * q.qn, 0), 6) AS cosine
           |  FROM n, q),
           |r AS (SELECT qid, vec_id, cosine,
           |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
           |  FROM c),
           |t AS (SELECT qid,
           |    max(CASE WHEN rn = 1 THEN cosine END) AS cos1,
           |    max(CASE WHEN rn = 1 THEN vec_id END) AS match_id,
           |    CAST(sum(CAST(cosine AS DECIMAL(28,12))) AS DOUBLE) AS sumc,
           |    count(*) AS nc
           |  FROM r WHERE rn <= 4 GROUP BY qid)
           |SELECT qid, match_id, cos1 + 0.0 AS cosine,
           |  round(cos1 / nullif(sumc / nc, 0), 6) + 0.0 AS margin
           |FROM t WHERE round(cos1 / nullif(sumc / nc, 0), 6) + 0.0 > 1.25
           |ORDER BY qid""".stripMargin)),

    QuerySpec("q_ann_mmr", (s, dir) => {
      // diversity re-rank after ANN: top-20 brute candidates per query →
      // greedy MMR top-5 (λ = 0.7) so near-duplicate hits can't crowd out
      // coverage.
      val emb = Tables.embeddings(s, dir)
      val queries = emb.orderBy(col("vec_id").desc).limit(3)
      Similarity.mmrRerank(Similarity.topKBatch(emb, queries, 20), emb, k = 5)
    },
      RowsOnly("greedy MMR selection is engine-specific; SimilaritySpec pins its semantics")),

    QuerySpec("q_hard_negatives", (s, dir) => {
      // contrastive hard negatives: nearest different-label vectors per
      // anchor — one batched brute-force pass with the label test riding
      // the screen projection (q_ann_batch's plan + one predicate)
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.orderBy(col("vec_id")).limit(3), 10)
    },
      // q_ann_batch's oracle + the different-label predicate (self-pairs
      // fall out with it)
      Oracle(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql, $normSql AS qn
           |           FROM embeddings ORDER BY vec_id LIMIT 3),
           |n AS (SELECT vec_id, embedding, label, $normSql AS nrm FROM embeddings),
           |scored AS (
           |  SELECT q.qid, n.vec_id,
           |    round((SELECT CAST(sum(CAST(CAST(n.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
           |      / nullif(n.nrm * q.qn, 0), 6) AS cosine
           |  FROM n, q WHERE n.label <> q.ql)
           |SELECT qid, vec_id, cosine FROM (
           |  SELECT qid, vec_id, cosine,
           |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
           |  FROM scored)
           |WHERE rn <= 10""".stripMargin)),

    // threshold 0.4 = q_pair_quality's measured operating point. 0.2 is
    // outside any pair-generator's regime on this corpus: 5.5% of ALL
    // pairs clear it, so the RESULT is Θ(n²) and no algorithm returns it
    // in sub-quadratic time (measured: 7.1M output rows at 10× sf0.1).
    QuerySpec(AnnLsh, (s, dir) =>
      Similarity.cosinePairsBucketed(Tables.embeddings(s, dir), 0.4),
      RowsOnly("random-hyperplane LSH is approximate")),

    QuerySpec("q_ann_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.orderBy(col("vec_id").desc).limit(1), 10)
    },
      RowsOnly("IVF probing is approximate")),

    QuerySpec("q_ann_ivfpq", (s, dir) => {
      // IVF-PQ: partition-pruned coarse cells + ADC over m-byte codes —
      // the billion-scale composition of q_ann_ivf and q_pq_topk. Codebooks
      // train on a deterministic hash SAMPLE (the production shape at
      // 100 TB: quantizers need representative statistics, not the corpus)
      // while the full corpus is encoded and probed.
      val emb = Tables.embeddings(s, dir)
      val sample = Sampling.deterministicSample(emb, "vec_id", 0.25)
      val cents = Similarity.kmeansCentroids(sample, 16, 2)
      // residual coding (the FAISS IndexIVFPQ default): codes quantize
      // x − cent[cell], probed via the cell-aware LUT kernel
      val (books, index) = Similarity.buildIvfPqResidualIndex(
        emb, cents, m = 8, ksub = 16, iters = 2, trainFraction = 0.25)
      Similarity.ivfPqResidualTopK(index, cents, books,
        emb.orderBy(col("vec_id").desc).limit(1), 10, nprobe = 8)
    },
      RowsOnly("IVF-PQ probing is approximate")),

    QuerySpec("q_embed_mean", (s, dir) =>
      // per-class mean-pooled embedding (centroid per label) — the pooling
      // pass under classifier prototypes / cluster summaries. posexplode →
      // one partially-aggregated groupBy: the exchange carries
      // (label × dim) partial sums, never vectors. Decimal accumulation ⇒
      // partition-invariant, oracle-exact.
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(round(sum(col("x").cast("double").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("mean_x")),
      Oracle(
        """SELECT label, CAST(u.dim AS BIGINT) AS dim,
          |  round(CAST(sum(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
          |    / count(*), 6) AS mean_x
          |FROM (SELECT label,
          |        unnest(list_transform(embedding, (x, i) -> struct_pack(dim := i - 1, x := x))) AS u
          |      FROM embeddings)
          |GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_pca_project", (s, dir) => {
      // PCA projection of the embedding corpus onto its top-2 principal
      // components (the whitening/reduction step before cosine geometry):
      // moments from ONE single-stage treeAggregate (fixed-point, bit-
      // deterministic), driver-side Jacobi eigen on the d×d covariance,
      // scan-speed projection through the codegen'd dot kernel — zero
      // shuffle at any corpus size.
      val emb = Tables.embeddings(s, dir)
      Pca.fitProject(emb, emb, "vec_id", "embedding", 2)
    },
      RowsOnly("the eigenbasis is engine-specific; PcaSpec's differentials pin the math")),

    QuerySpec("q_pq_topk", (s, dir) => {
      // product-quantization ADC top-k: train codebooks, encode the corpus
      // to m-byte codes, probe with table lookups only — the memory-resident
      // ANN scan shape.
      val emb = Tables.embeddings(s, dir)
      val books = sharedPqBooks(s, dir)
      Similarity.pqTopK(Similarity.pqEncoded(emb, books), books,
        emb.orderBy(col("vec_id")).limit(1), 10)
    },
      RowsOnly("product-quantization ADC is approximate, like IVF and LSH")),

    QuerySpec("q_ann_ivf_indexed", (s, dir) => {
      // the production IVF shape: the index PERSISTS partitioned by
      // cent_idx, so a probe is a partition-PRUNED scan (`PartitionFilters:
      // [cent_idx IN (…)]` — plan-spec-asserted) plus one dot product per
      // probed row. This key makes CORRECTNESS exercise the pruned on-disk
      // path, not the inline rebuild; train/encode cost amortizes across
      // queries exactly as it would at 100 TB.
      val emb = Tables.embeddings(s, dir)
      val (path, cents) = sharedIvfIndex(s, dir)
      Similarity.ivfTopKIndexed(s.read.parquet(path), cents,
        emb.orderBy(col("vec_id").desc).limit(1), 10, nprobe = 4)
    },
      RowsOnly("IVF probing of the persisted index is approximate")),

    QuerySpec("q_ann_ivf_append", (s, dir) => {
      // incremental IVF maintenance end-to-end: probe the index whose last
      // 10% arrived as a frozen-centroid partition APPEND, not a rebuild.
      // The merged index is row-identical to a full rebuild
      // (spec-asserted), so this probe doubles as the maintenance check;
      // occupancy drift rides along as data — the driver sees the retrain
      // signal, not just a green row count.
      val emb = Tables.embeddings(s, dir)
      val (path, cents, drift) = sharedIvfAppendIndex(s, dir)
      Similarity.ivfTopKIndexed(s.read.parquet(path), cents,
        emb.orderBy(col("vec_id").desc).limit(1), 10, nprobe = 4)
        .withColumn("occupancy_drift", round(lit(drift), 6))
    },
      RowsOnly("IVF probing of the appended index is approximate")),

    QuerySpec("q_ann_ivfpq_indexed", (s, dir) => {
      // the billion-scale layout END-TO-END on disk: residual IVF-PQ
      // codes persisted partitioned by cent_idx — a probe reads m-byte
      // codes from the nprobe pruned partitions only and scores with
      // O(m) LUT adds per row. Completes the persisted-index family
      // (q_ann_ivf_indexed covers plain IVF).
      val emb = Tables.embeddings(s, dir)
      val (path, cents, books) = sharedIvfPqIndex(s, dir)
      Similarity.ivfPqResidualTopK(s.read.parquet(path), cents, books,
        emb.orderBy(col("vec_id").desc).limit(1), 10, nprobe = 4)
    },
      RowsOnly("IVF-PQ probing of the persisted index is approximate")),

    QuerySpec("q_ann_recall", (s, dir) => {
      // driver-visible QUALITY metrics for the rows-only ANN family: no
      // DuckDB oracle can check a sketch, so emit recall@10 vs the exact
      // brute-force ranking AS DATA — the check harness (and any operator
      // dashboard) reads the quality instead of trusting a rows-only green.
      // Truth is one brute scan; each method's candidate ids join against
      // it — all bounded, engine-side work.
      val emb = Tables.embeddings(s, dir)
      val q = emb.orderBy(col("vec_id").desc).limit(1)
      val brute = Similarity.topK(emb, q, 10).select(col("vec_id"), lit(1).as("hit"))
      val books = sharedPqBooks(s, dir)
      val encoded = Similarity.pqEncoded(emb, books)
      // the incrementally-maintained index scores beside the one-shot
      // methods: probing through a frozen-centroid APPEND must not cost
      // recall vs a rebuild (it can't — merged ≡ rebuild — but the metric
      // keeps that claim measured, not assumed, as the corpus drifts)
      val (appendPath, appendCents, _) = sharedIvfAppendIndex(s, dir)
      // the persisted residual IVF-PQ layout scores beside the rest: its
      // recall reflects BOTH approximation axes (cell probe budget × PQ
      // distortion) — the number that tells an operator whether to raise
      // nprobe or re-rank against float vectors
      val (pqPath, pqCents, pqBooks) = sharedIvfPqIndex(s, dir)
      val methods: Seq[(String, DataFrame)] = Seq(
        "ivf_trained" -> Similarity.ivfTopK(emb, q, 10, nlist = 16, nprobe = 4),
        "ivf_append" -> Similarity.ivfTopKIndexed(
          s.read.parquet(appendPath), appendCents, q, 10, nprobe = 4),
        "ivfpq_residual" -> Similarity.ivfPqResidualTopK(
          s.read.parquet(pqPath), pqCents, pqBooks, q, 10, nprobe = 4),
        "pq_adc" -> Similarity.pqTopK(encoded, books, q, 10),
        "pq_adc_rerank" -> Similarity.pqTopKReranked(encoded, books, emb, q, 10))
      methods
        .map { case (m, df) => df.select(lit(m).as("method"), col("vec_id")) }
        .reduce(_.unionByName(_))
        .join(broadcast(brute), Seq("vec_id"), "left")
        .groupBy(col("method"))
        .agg(round(sum(coalesce(col("hit"), lit(0))).cast("double") / 10.0, 6)
          .as("recall_at_10"))
    },
      RowsOnly("scores the approximate ANN methods, which no DuckDB oracle can check")),

    QuerySpec("q_bm25_topk", (s, dir) => {
      import s.implicits._
      // seed queries over the corpus vocabulary; BM25 top-10 per query
      val qs = Seq(
        (1L, "table scan filter"), (2L, "merge join batch"),
        (3L, "stream window agg"), (4L, "customer order group")
      ).toDF("q_id", "q_text")
      graft.operators.Retrieval.bm25TopK(Tables.documents(s, dir), qs, k = 10)
    },
      // per-term BM25 contributions rounded to 12 decimals and summed in
      // decimal, exactly as the Spark side does — double casts force every
      // intermediate through the same IEEE ops in both engines
      Oracle(
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          |  FROM documents),
          |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
          |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
          |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
          |q(q_id, q_text) AS (VALUES
          |  (CAST(1 AS BIGINT), 'table scan filter'), (CAST(2 AS BIGINT), 'merge join batch'),
          |  (CAST(3 AS BIGINT), 'stream window agg'), (CAST(4 AS BIGINT), 'customer order group')),
          |qt AS (SELECT q_id, unnest(list_distinct(regexp_split_to_array(trim(lower(q_text)), '\s+'))) AS token
          |       FROM q),
          |dfq AS (SELECT token, count(*) AS df FROM tf
          |        WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1),
          |sc AS (
          |  SELECT qt.q_id, tf.doc_id,
          |    CAST(round(
          |      ln(1.0 + (n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
          |      ((tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
          |       (tf + CAST(1.2 AS DOUBLE) *
          |        (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))), 12)
          |      AS DECIMAL(28,12)) AS term
          |  FROM qt JOIN tf USING (token) JOIN dfq USING (token)
          |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
          |agg AS (SELECT q_id, doc_id,
          |          CAST(round(CAST(sum(term) AS DOUBLE), 6) AS DOUBLE) AS score
          |        FROM sc GROUP BY 1, 2)
          |SELECT q_id, doc_id, score FROM (
          |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
          |  FROM agg) WHERE rn <= 10""".stripMargin)),

    QuerySpec("q_rrf_fusion", (s, dir) => {
      import s.implicits._
      // hybrid retrieval: BM25 top-20 (lexical) fused with cosine top-20
      // against the matching anchor embedding (dense; anchor for query i =
      // embedding i, the self-pair excluded by topKBatch's contract) under
      // reciprocal-rank fusion, c = 60 (the Cormack et al. constant)
      val qs = Seq(
        (1L, "table scan filter"), (2L, "merge join batch"),
        (3L, "stream window agg"), (4L, "customer order group")
      ).toDF("q_id", "q_text")
      val lex = Retrieval.bm25TopK(Tables.documents(s, dir), qs, k = 20)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("score").desc, col("doc_id"))))
        .select(col("q_id"), col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.topKBatch(
        emb, emb.where(col("vec_id").isin(1L, 2L, 3L, 4L)), k = 20)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cosine").desc, col("vec_id"))))
        .select(col("qid").as("q_id"), col("vec_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, dense), k = 10)
    },
      // BM25 CTE chain verbatim from q_bm25_topk (cut at 20); dense CTE from
      // q_ann_batch with the anchor set vec_id IN (1..4); RRF terms rounded
      // to 12 and decimal-accumulated like every float aggregation here
      Oracle(
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
           |  FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
           |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
           |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
           |q(q_id, q_text) AS (VALUES
           |  (CAST(1 AS BIGINT), 'table scan filter'), (CAST(2 AS BIGINT), 'merge join batch'),
           |  (CAST(3 AS BIGINT), 'stream window agg'), (CAST(4 AS BIGINT), 'customer order group')),
           |qt AS (SELECT q_id, unnest(list_distinct(regexp_split_to_array(trim(lower(q_text)), '\\s+'))) AS token
           |       FROM q),
           |dfq AS (SELECT token, count(*) AS df FROM tf
           |        WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1),
           |sc AS (
           |  SELECT qt.q_id, tf.doc_id,
           |    CAST(round(
           |      ln(1.0 + (n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
           |      ((tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
           |       (tf + CAST(1.2 AS DOUBLE) *
           |        (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))), 12)
           |      AS DECIMAL(28,12)) AS term
           |  FROM qt JOIN tf USING (token) JOIN dfq USING (token)
           |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
           |agg AS (SELECT q_id, doc_id,
           |          CAST(round(CAST(sum(term) AS DOUBLE), 6) AS DOUBLE) AS score
           |        FROM sc GROUP BY 1, 2),
           |lex AS (SELECT q_id, doc_id, rn AS rank FROM (
           |  SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
           |  FROM agg) WHERE rn <= 20),
           |anch AS (SELECT vec_id AS qid, embedding AS qv, $normSql AS qn
           |         FROM embeddings WHERE vec_id IN (1, 2, 3, 4)),
           |nv AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
           |scored AS (
           |  SELECT anch.qid, nv.vec_id,
           |    round((SELECT CAST(sum(CAST(CAST(nv.embedding[i] AS DOUBLE) * CAST(anch.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
           |      / nullif(nv.nrm * anch.qn, 0), 6) AS cosine
           |  FROM nv, anch WHERE nv.vec_id <> anch.qid),
           |dense AS (SELECT qid AS q_id, vec_id AS doc_id, rn AS rank FROM (
           |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
           |  FROM scored) WHERE rn <= 20),
           |terms AS (
           |  SELECT q_id, doc_id, CAST(round(CAST(1.0 AS DOUBLE) / (60 + rank), 12) AS DECIMAL(28,12)) AS term FROM lex
           |  UNION ALL
           |  SELECT q_id, doc_id, CAST(round(CAST(1.0 AS DOUBLE) / (60 + rank), 12) AS DECIMAL(28,12)) AS term FROM dense),
           |fused AS (SELECT q_id, doc_id,
           |            CAST(round(CAST(sum(term) AS DOUBLE), 6) AS DOUBLE) AS rrf_score
           |          FROM terms GROUP BY 1, 2)
           |SELECT q_id, doc_id, rrf_score FROM (
           |  SELECT q_id, doc_id, rrf_score,
           |         row_number() OVER (PARTITION BY q_id ORDER BY rrf_score DESC, doc_id) AS rn
           |  FROM fused) WHERE rn <= 10""".stripMargin)),

    QuerySpec("q_rank_eval", (s, dir) => {
      import s.implicits._
      // offline eval of the DENSE ranking against exact LEXICAL relevance:
      // grade(q, d) = #distinct query tokens present in d's token set —
      // integer ground truth, no float thresholds. nDCG@10 / MRR / P@10
      // per query answer "does dense retrieval surface lexically relevant
      // docs", the report a hybrid pipeline reads before shipping.
      val qs = Seq(
        (1L, "table scan filter"), (2L, "merge join batch"),
        (3L, "stream window agg"), (4L, "customer order group")
      ).toDF("q_id", "q_text")
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.topKBatch(
        emb, emb.where(col("vec_id").isin(1L, 2L, 3L, 4L)), k = 10)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cosine").desc, col("vec_id"))))
        .select(col("qid").as("q_id"), col("vec_id").as("doc_id"), col("rank"))
      val qTerms = qs.select(col("q_id"),
        explode(array_distinct(Dedup.tokens("q_text"))).as("token"))
      val rel = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(Dedup.tokens("text"))).as("token"))
        .join(broadcast(qTerms), "token")
        .groupBy(col("q_id"), col("doc_id"))
        .agg(count(lit(1)).cast("int").as("rel"))
      Retrieval.rankEval(dense, rel, k = 10)
    },
      // dense ranking CTE from q_ann_batch (anchors 1..4, cut 10); relevance
      // = #distinct query tokens in the doc's distinct token set (exact
      // integer ground truth); DCG/IDCG terms rounded to 12 and
      // decimal-accumulated, ideal list cut at 10 inside its window
      Oracle(
        s"""WITH q(q_id, q_text) AS (VALUES
           |  (CAST(1 AS BIGINT), 'table scan filter'), (CAST(2 AS BIGINT), 'merge join batch'),
           |  (CAST(3 AS BIGINT), 'stream window agg'), (CAST(4 AS BIGINT), 'customer order group')),
           |qt AS (SELECT q_id, unnest(list_distinct(regexp_split_to_array(trim(lower(q_text)), '\\s+'))) AS token
           |       FROM q),
           |dt AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS token
           |       FROM documents),
           |rel AS (SELECT q_id, doc_id, CAST(count(*) AS INTEGER) AS rel
           |        FROM dt JOIN qt USING (token) GROUP BY 1, 2),
           |anch AS (SELECT vec_id AS qid, embedding AS qv, $normSql AS qn
           |         FROM embeddings WHERE vec_id IN (1, 2, 3, 4)),
           |nv AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
           |scored AS (
           |  SELECT anch.qid, nv.vec_id,
           |    round((SELECT CAST(sum(CAST(CAST(nv.embedding[i] AS DOUBLE) * CAST(anch.qv[i] AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) FROM range(1,65) t(i))
           |      / nullif(nv.nrm * anch.qn, 0), 6) AS cosine
           |  FROM nv, anch WHERE nv.vec_id <> anch.qid),
           |rk AS (SELECT qid AS q_id, vec_id AS doc_id, rn AS rank FROM (
           |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
           |  FROM scored) WHERE rn <= 10),
           |j AS (SELECT rk.q_id, rk.rank, coalesce(rel.rel, 0) AS rel
           |      FROM rk LEFT JOIN rel ON rk.q_id = rel.q_id AND rk.doc_id = rel.doc_id),
           |d AS (SELECT q_id,
           |        CAST(sum(CAST(round((power(2, rel) - 1) / log2(rank + 1), 12) AS DECIMAL(28,12))) AS DOUBLE) AS dcg,
           |        min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
           |        CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS "precision"
           |      FROM j GROUP BY 1),
           |ic AS (SELECT q_id,
           |         CAST(sum(CAST(round((power(2, rel) - 1) / log2(irank + 1), 12) AS DECIMAL(28,12))) AS DOUBLE) AS idcg
           |       FROM (SELECT q_id, rel, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, doc_id) AS irank
           |             FROM rel WHERE rel > 0) WHERE irank <= 10 GROUP BY 1)
           |SELECT d.q_id,
           |  coalesce(round(dcg / nullif(idcg, 0), 6), CAST(0.0 AS DOUBLE)) AS ndcg,
           |  coalesce(round(CAST(1.0 AS DOUBLE) / first_rel, 6), CAST(0.0 AS DOUBLE)) AS mrr,
           |  "precision"
           |FROM d LEFT JOIN ic USING (q_id)""".stripMargin))
  )
}
