package graft
package registry

import graft.operators._
import graft.registry.QueryKit._
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

/** Training-data curation: URL and domain rules, decontamination,
  * sampling, packing, the composed pipeline and multimodal records.
  */
object CurationQueries {

  // ScaleBench runs a diagnostic beside this key
  private[graft] val CurationStream = "q_curation_stream"

  /** The dataset-card oracle, shared VERBATIM by q_dataset_card (one
    * keyed aggregate) and q_card_stream (the foreachBatch maintenance
    * face incl. a replayed batch): identical rows by construction.
    */
  private val datasetCardSql: String =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
      |  round(CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      |        / CAST(count(*) AS DOUBLE), 6) AS mean_tokens,
      |  round(1.0 - count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The curation-pipeline oracle, shared VERBATIM by q_pipeline_e2e
    * (single fused plan) and q_dag_run (the same composition through the
    * QueryDag orchestrator): identical rows by construction, so one SQL
    * string hash-checks both faces and can never drift between them.
    */
  private val pipelineE2eSql =
    """WITH s AS (
      |  SELECT doc_id,
      |   CAST(toks AS BIGINT) AS n_tokens,
      |   CAST(round(CAST(least(chars / 500.0, 1.0) AS DECIMAL(18,12)) * 0.5
      |       + CAST(least(stops / nullif(toks, 0) * 5.0, 1.0) AS DECIMAL(18,12)) * 0.3
      |       + CAST(1.0 - least(punct / nullif(chars, 0) * 10.0, 1.0) AS DECIMAL(18,12)) * 0.2, 6)
      |     AS DOUBLE) AS quality
      |  FROM (SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
      |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS punct,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS stops,
      |    CAST(length(text) AS DOUBLE) AS chars
      |  FROM documents WHERE doc_id % 50 <> 0)),
      |t AS (SELECT quantile_cont(quality, 0.25) AS thr FROM s),
      |gated AS (SELECT s.doc_id, s.n_tokens, s.quality FROM s, t WHERE s.quality >= t.thr),
      |dedup AS (
      |  SELECT min(g.doc_id) AS doc_id
      |  FROM gated g JOIN documents d ON g.doc_id = d.doc_id
      |  GROUP BY md5(d.text)),
      |toks2 AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
      |                        i -> array_to_string(t[i:i+7], ' '))) AS g
      |  FROM toks2),
      |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
      |dirty AS (SELECT DISTINCT doc_id FROM grams
      |          WHERE doc_id IN (SELECT doc_id FROM dedup)
      |            AND g IN (SELECT g FROM bench))
      |SELECT d.doc_id, d.lang, d.source, g.n_tokens, g.quality
      |FROM documents d
      |JOIN gated g ON d.doc_id = g.doc_id
      |JOIN dedup k ON d.doc_id = k.doc_id
      |WHERE d.doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_mix_temperature", (s, dir) =>
      // languages are the skewed stratum in the testdata (en dominates) —
      // α=0.5 downsamples it toward the flattened mixture
      Sampling.temperatureMix(Tables.documents(s, dir), "lang", "doc_id", 0.5)
        .select("doc_id", "lang", "source"),
      Oracle(
        """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
          |nmin AS (SELECT min(n) AS nm FROM counts),
          |rates AS (SELECT lang,
          |    CAST(round(power(CAST(nm AS DOUBLE) / CAST(n AS DOUBLE), 0.5) * 65536, 0)
          |      AS INT) AS t
          |  FROM counts, nmin)
          |SELECT doc_id, lang, source FROM documents JOIN rates USING (lang)
          |WHERE t >= 65536
          |   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < lpad(lower(to_hex(t)), 4, '0')""".stripMargin)),

    QuerySpec("q_url_normalize", (s, dir) => {
      // deterministic synthetic URLs (the documents table carries no URL
      // column): both engines build the identical string, then canonicalize
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/docs/"), (col("doc_id") % 5).cast("string"),
        lit("/?utm_source=feed&id="), (col("doc_id") % 3).cast("string"),
        when(col("doc_id") % 2 === 0, "#top").otherwise(""))
      Tables.documents(s, dir).select(
        col("doc_id"), url.as("url"),
        TextAnalysis.canonicalizeUrl(url).as("canon_url"))
    },
      Oracle(
        """WITH u AS (
          |  SELECT doc_id,
          |    'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs/' ||
          |    CAST(doc_id % 5 AS VARCHAR) || '/?utm_source=feed&id=' ||
          |    CAST(doc_id % 3 AS VARCHAR) ||
          |    CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END AS url
          |  FROM documents),
          |pre AS (
          |  SELECT doc_id, url,
          |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
          |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)),
          |      '^www\.', '') AS nw,
          |    regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1), '/$', '') AS path,
          |    array_to_string(list_filter(
          |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
          |      x -> NOT starts_with(x, 'utm_')), '&') AS cleanq
          |  FROM u),
          |parts AS (
          |  SELECT doc_id, url, scheme,
          |    CASE WHEN scheme = 'https' THEN regexp_replace(nw, ':443$', '')
          |         WHEN scheme = 'http' THEN regexp_replace(nw, ':80$', '')
          |         ELSE nw END AS host,
          |    path, cleanq
          |  FROM pre)
          |SELECT doc_id, url,
          |  scheme || '://' || host || path ||
          |  CASE WHEN cleanq = '' THEN '' ELSE '?' || cleanq END AS canon_url
          |FROM parts""".stripMargin)),

    QuerySpec("q_dedup_url", (s, dir) => {
      // canonical-URL dedup — the FIRST pass of any web-corpus pipeline
      // (two crawls of one page differ only in tracking params/fragment/
      // case): canonicalize, keep the min-id doc per canonical URL via
      // the bounded-heap GroupTopK. Same synthetic URLs as
      // q_url_normalize; ~2 docs per canonical key by construction.
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/docs/"), (col("doc_id") % 5).cast("string"),
        lit("/?utm_source=feed&id="), (col("doc_id") % 3).cast("string"),
        when(col("doc_id") % 2 === 0, "#top").otherwise(""))
      val canon = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), col("n_chars"),
        TextAnalysis.canonicalizeUrl(url).as("canon_url"))
      graft.plans.GroupTopK.topKPerKey(
        canon, Seq("canon_url"), Seq(col("doc_id").asc), 1)
        .select("doc_id", "source", "canon_url")
    },
      Oracle(
        """WITH u AS (
          |  SELECT doc_id, source,
          |    'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs/' ||
          |    CAST(doc_id % 5 AS VARCHAR) || '/?utm_source=feed&id=' ||
          |    CAST(doc_id % 3 AS VARCHAR) ||
          |    CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END AS url
          |  FROM documents),
          |pre AS (
          |  SELECT doc_id, source, url,
          |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
          |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)),
          |      '^www\.', '') AS nw,
          |    regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1), '/$', '') AS path,
          |    array_to_string(list_filter(
          |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
          |      x -> NOT starts_with(x, 'utm_')), '&') AS cleanq
          |  FROM u),
          |canon AS (
          |  SELECT doc_id, source,
          |    scheme || '://' ||
          |    (CASE WHEN scheme = 'https' THEN regexp_replace(nw, ':443$', '')
          |          WHEN scheme = 'http' THEN regexp_replace(nw, ':80$', '')
          |          ELSE nw END) || path ||
          |    CASE WHEN cleanq = '' THEN '' ELSE '?' || cleanq END AS canon_url
          |  FROM pre)
          |SELECT doc_id, source, canon_url FROM canon
          |WHERE doc_id = (SELECT min(doc_id) FROM canon c2
          |                WHERE c2.canon_url = canon.canon_url)""".stripMargin)),

    QuerySpec("q_domain_stats", (s, dir) => {
      // per-domain curation stats (the C4/RefinedWeb host-level gate):
      // synthetic URLs by the q_url_normalize convention, grouped by
      // canonical host — docs, chars, tokens, languages per domain
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/docs/"), (col("doc_id") % 5).cast("string"),
        lit("/?utm_source=feed&id="), (col("doc_id") % 3).cast("string"),
        when(col("doc_id") % 2 === 0, "#top").otherwise(""))
      TextAnalysis.domainStats(
        Tables.documents(s, dir).withColumn("url", url))
    },
      Oracle(
        """WITH u AS (
          |  SELECT *,
          |    'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs/' ||
          |    CAST(doc_id % 5 AS VARCHAR) || '/?utm_source=feed&id=' ||
          |    CAST(doc_id % 3 AS VARCHAR) ||
          |    CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END AS url
          |  FROM documents),
          |h AS (
          |  SELECT *,
          |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
          |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)),
          |      '^www\.', '') AS nw
          |  FROM u),
          |d AS (
          |  SELECT *,
          |    CASE WHEN scheme = 'https' THEN regexp_replace(nw, ':443$', '')
          |         WHEN scheme = 'http' THEN regexp_replace(nw, ':80$', '')
          |         ELSE nw END AS host
          |  FROM h)
          |SELECT host,
          |  count(*) AS n_docs,
          |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
          |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
          |  count(DISTINCT lang) AS n_langs
          |FROM d GROUP BY host""".stripMargin)),

    QuerySpec("q_survivorship", (s, dir) => {
      // golden-record merge: documents plus a deterministic 'mirror
      // system' copy of every third doc (longer text, new source) —
      // survivorship must pick the richer mirror while the canonical id
      // stays the original; one partial-aggregated pass per entity
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val mirror = docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" [archived copy]")).as("text"),
          lit("mirror").as("source"))
      Dedup.survivorship(
        docs.unionByName(mirror)
          .withColumn("entity_id", pmod(col("doc_id"), lit(1000000L))))
        .orderBy(col("entity_id"))
    },
      Oracle(
        """WITH rec AS MATERIALIZED (
          |  SELECT doc_id, text, source FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, text || ' [archived copy]', 'mirror'
          |  FROM documents WHERE doc_id % 3 = 0)
          |SELECT doc_id % 1000000 AS entity_id, count(*) AS n_members,
          |  min(doc_id) AS canonical_id,
          |  arg_max(doc_id, length(text)::HUGEINT * 10000000000000000000 - doc_id) AS survivor_id,
          |  max(length(text)) AS survivor_len,
          |  count(DISTINCT source) AS n_sources
          |FROM rec GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q_dataset_card", (s, dir) =>
      // per-(source, lang) release card: docs/chars/tokens, mean length,
      // exact-dup rate — one keyed aggregate on the card's grain
      TextAnalysis.datasetCard(Tables.documents(s, dir)),
      Oracle(datasetCardSql)),

    QuerySpec("q_card_stream", (s, dir) => {
      // streaming card maintenance driven batch-by-batch IN the measured
      // query: three micro-batches into a fresh store, then batch 1
      // REPLAYED (the at-least-once delivery the exactly-once contract
      // absorbs — delta partition overwrites itself, hash append re-drops)
      // before the card is derived; oracle = the batch card's SQL, so
      // convergence is hash-checked, not just spec-asserted
      val docs = Tables.documents(s, dir)
      val store = s"${Graft.localScratchDir}/graft-card-" +
        s"${s.sparkContext.applicationId}-${System.nanoTime}"
      (0 to 2).foreach { i =>
        EventsStream.cardMergeBatch(docs.where(col("doc_id") % 3 === i), store, i.toLong)
      }
      EventsStream.cardMergeBatch(docs.where(col("doc_id") % 3 === 1), store, 1L)
      EventsStream.readCard(s, store)
    },
      // the streaming face converges to the SAME card — one SQL string
      // hash-checks both, so the two faces can never drift (the
      // q_pipeline_e2e / q_dag_run precedent)
      Oracle(datasetCardSql)),

    QuerySpec("q_boilerplate", (s, dir) => {
      // line-level dedup: boilerplate sentences are synthesized
      // deterministically (the raw word-soup texts carry no repeated
      // sentences), then units repeating across ≥ 10 docs are stripped and
      // documents rebuilt in original unit order
      val withBoiler = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, ". subscribe to our newsletter today").otherwise(""),
          when(col("doc_id") % 2 === 0, ". all rights reserved worldwide").otherwise(""))
          .as("text"))
      Dedup.removeBoilerplate(withBoiler, minDocFreq = 10)
    },
      Oracle(
        """WITH synth AS (
          |  SELECT doc_id, text ||
          |    (CASE WHEN doc_id % 3 = 0 THEN '. subscribe to our newsletter today' ELSE '' END) ||
          |    (CASE WHEN doc_id % 2 = 0 THEN '. all rights reserved worldwide' ELSE '' END) AS text
          |  FROM documents),
          |us AS (SELECT doc_id, regexp_split_to_array(text, '\.\s+') AS arr FROM synth),
          |units AS (SELECT doc_id,
          |            unnest(list_transform(arr, (x, i) -> struct_pack(pos := i, unit := x))) AS u
          |          FROM us),
          |flat AS (SELECT doc_id, u.pos AS pos, u.unit AS unit FROM units),
          |freq AS (SELECT md5(unit) AS h, count(DISTINCT doc_id) AS df FROM flat GROUP BY 1),
          |kept AS (SELECT doc_id, pos, unit FROM flat
          |         WHERE md5(unit) NOT IN (SELECT h FROM freq WHERE df >= 10))
          |SELECT doc_id,
          |  array_to_string(list_transform(
          |    list_sort(list(struct_pack(pos := pos, unit := unit))), s -> s.unit), '. ') AS clean_text
          |FROM kept GROUP BY doc_id""".stripMargin)),

    QuerySpec("q_decontaminate", (s, dir) => {
      // benchmark decontamination: docs sharing any 8-gram with the
      // (deterministically chosen) benchmark slice are removed
      val docs = Tables.documents(s, dir)
      Dedup.gramScreen(docs.where(col("doc_id") % 50 === 0))(
        docs.where(col("doc_id") % 50 =!= 0))
        .select("doc_id", "lang", "source")
    },
      Oracle(
        // t[i:i+7] slices clamp on short lists, matching the compiled
        // kernel's short-gram behavior for docs under 8 tokens
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
          |grams AS (
          |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
          |                        i -> array_to_string(t[i:i+7], ' '))) AS g
          |  FROM toks),
          |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
          |dirty AS (SELECT DISTINCT doc_id FROM grams
          |          WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench))
          |SELECT doc_id, lang, source FROM documents
          |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin)),

    QuerySpec("q_decontaminate_bloom", (s, dir) => {
      // same semantics as q_decontaminate (same oracle!), but a cap of 0
      // forces the screen's over-cap side: the gram membership set ships
      // as a fixed-size bloom filter with an exact confirm join on the
      // bloom survivors — the shape that scales past a broadcastable
      // benchmark gram set
      val docs = Tables.documents(s, dir)
      Dedup.gramScreen(docs.where(col("doc_id") % 50 === 0), cap = Some(0L))(
        docs.where(col("doc_id") % 50 =!= 0))
        .select("doc_id", "lang", "source")
    },
      // bloom pre-screen + exact confirm = exactly the exact side's semantics,
      // so the bloom variant shares its oracle verbatim
      Oracle(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
          |grams AS (
          |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
          |                        i -> array_to_string(t[i:i+7], ' '))) AS g
          |  FROM toks),
          |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
          |dirty AS (SELECT DISTINCT doc_id FROM grams
          |          WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench))
          |SELECT doc_id, lang, source FROM documents
          |WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin)),

    QuerySpec("q_contamination_report", (s, dir) => {
      // the eval-integrity direction of decontamination: per benchmark
      // doc, how many distinct corpus docs share an 8-gram with it —
      // zero-leak suite items included (absence is part of the report)
      val docs = Tables.documents(s, dir)
      Dedup.contaminationReport(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0))
    },
      Oracle(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
          |grams AS (
          |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
          |                        i -> array_to_string(t[i:i+7], ' '))) AS g
          |  FROM toks),
          |bg AS (SELECT DISTINCT doc_id AS bench_id, g FROM grams WHERE doc_id % 50 = 0),
          |pairs AS (
          |  SELECT DISTINCT bg.bench_id, grams.doc_id AS cid
          |  FROM grams JOIN bg USING (g) WHERE grams.doc_id % 50 <> 0)
          |SELECT b.doc_id AS bench_id,
          |  CAST(coalesce(p.n, 0) AS BIGINT) AS n_leaked_docs
          |FROM documents b
          |LEFT JOIN (SELECT bench_id, count(*) AS n FROM pairs GROUP BY bench_id) p
          |  ON b.doc_id = p.bench_id
          |WHERE b.doc_id % 50 = 0""".stripMargin)),

    QuerySpec("q_chunk_split", (s, dir) =>
      // sliding-window chunking (RAG / long-doc pretraining): 64-token
      // chunks, 16-token overlap, codegen'd scan-speed projection
      TextAnalysis.chunkDocs(Tables.documents(s, dir), size = 64, overlap = 16),
      Oracle(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
          |sized AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
          |starts AS (SELECT doc_id, t, n, unnest(range(0, n, 48)) AS start FROM sized)
          |SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_idx,
          |  array_to_string(t[start + 1 : start + 64], ' ') AS chunk_text,
          |  CAST(least(64, n - start) AS BIGINT) AS n_tokens
          |FROM starts
          |WHERE start = 0 OR start + 16 < n""".stripMargin)),

    QuerySpec("q_pipeline_e2e", (s, dir) => {
      // The curation path END TO END as ONE declarative plan — corpus/
      // benchmark split → corpus-quantile quality gate → exact dedup
      // (keep first) → benchmark decontamination → curated manifest —
      // exactly how the operators compose in production: each stage's
      // output frame feeds the next, Catalyst fuses the whole thing, and
      // the DuckDB oracle replays the composition as chained CTEs. Scale
      // shape is the union of the stages': one percentile aggregate +
      // broadcast-back, hash-partitioned md5 dedup, the suite's gram
      // screen as a per-row filter — no stage materializes, no driver loop
      // but the screen's one capped suite-gram collect.
      val docs = Tables.documents(s, dir)
      val bench = docs.where(col("doc_id") % 50 === 0)
      val corpus = docs.where(col("doc_id") % 50 =!= 0)
      // gate with pass-through columns — no join-back scan of the corpus;
      // keep-first dedup is the single-pass GroupTopK heap (k=1 per text
      // hash), not a groupBy + self-semi-join that would replicate the
      // whole upstream subtree a second time
      val gated = TextAnalysis.qualityGate(corpus,
        keep = Seq("text", "lang", "source"))
      val deduped = graft.plans.GroupTopK.topKPerKey(
        gated.withColumn("__h", md5(col("text"))),
        Seq("__h"), Seq(col("doc_id").asc), 1).drop("__h")
      Dedup.gramScreen(bench)(deduped)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_tokens"), col("quality"))
    },
      // the composed curation pipeline: chained CTEs mirroring gate →
      // dedup-keep → decontaminate stage for stage (each fragment reused
      // verbatim from its standalone oracle)
      Oracle(pipelineE2eSql)),

    QuerySpec("q_dag_run", (s, dir) => {
      // the q_pipeline_e2e composition EXPRESSED AS A DAG and executed by
      // the declarative QueryDag orchestrator (the reference's main.py
      // dependency loop as data): corpus/bench splits → quality gate →
      // keep-first dedup → decontaminated manifest, each stage
      // materialized ONCE at its boundary, deterministic topological
      // order (QueryDagSpec). Rows are identical
      // to q_pipeline_e2e by construction — the SAME oracle SQL
      // hash-checks both faces, so the orchestrator's stage-boundary
      // semantics are oracle-verified, not just spec'd. Runs the
      // PERSISTED face (parquet stage boundaries under a fresh run id):
      // the failure-recovery path — resume from completed stages after a
      // driver crash, QueryDagSpec's kill-and-restart — is what the
      // oracle hash-checks every round, not a spec-only sibling. A fresh
      // run id per invocation keeps repeat bench passes measuring the
      // full run, never a warm resume.
      import QueryDag.Stage
      val stages = Seq(
        QueryDag.ofQuery("corpus", (s2, d) =>
          Tables.documents(s2, d).where(col("doc_id") % 50 =!= 0)),
        QueryDag.ofQuery("bench", (s2, d) =>
          Tables.documents(s2, d).where(col("doc_id") % 50 === 0)),
        Stage("gated", Seq("corpus"), (_, _, up) =>
          TextAnalysis.qualityGate(up("corpus"), keep = Seq("text", "lang", "source"))),
        Stage("deduped", Seq("gated"), (_, _, up) =>
          graft.plans.GroupTopK.topKPerKey(
            up("gated").withColumn("__h", md5(col("text"))),
            Seq("__h"), Seq(col("doc_id").asc), 1).drop("__h")),
        Stage("curated", Seq("deduped", "bench"), (_, _, up) =>
          Dedup.gramScreen(up("bench"))(up("deduped"))
            .select(col("doc_id"), col("lang"), col("source"),
              col("n_tokens"), col("quality"))))
      // fresh run id per invocation (repeat bench passes measure the full
      // run, not a warm resume); the PREVIOUS invocation's root is dead
      // the moment a new one starts — queries are independent
      // (dropQueryState contract) — so reap this app's stale roots here
      // rather than letting a 400-query battery fill the scratch mount
      val prefix = s"graft-dag-${s.sparkContext.applicationId}-"
      val scratch = new java.io.File(Graft.localScratchDir)
      Option(scratch.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
        .foreach { d =>
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
            f.delete(); ()
          }
          rm(d)
        }
      val runRoot = s"${Graft.localScratchDir}/$prefix${java.util.UUID.randomUUID()}"
      QueryDag.runPersisted(s, dir, stages, runRoot)("curated")
    },
      Oracle(pipelineE2eSql)),

    QuerySpec(CurationStream, (s, dir) => {
      // DuckDB-checked batch mirror for the streaming curation pipeline
      // (the q_funnel_stream pattern): the SAME curationStream entry point
      // on a batch frame — gate via one-row threshold broadcast,
      // first-arrival dedup (batch mirror: keep-min GroupTopK), per-row
      // gram-overlap decontamination — so the continuous face's admission
      // semantics are oracle-verified, not just spec-asserted
      val docs = Tables.documents(s, dir)
        .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      val bench = docs.where(col("doc_id") % 50 === 0)
      val corpus = docs.where(col("doc_id") % 50 =!= 0)
      val thr = TextAnalysis.qualityThreshold(corpus, 0.25)
      val store = Dedup.fingerprintStore(corpus.limit(0))
      streaming.EventsStream.curationStream(corpus, thr, store, Dedup.gramScreen(bench))
        .select(col("doc_id"), col("n_tokens"), col("quality"))
    },
      // the streaming curation pipeline's batch mirror shares the composed
      // pipeline's oracle logic (empty store ⇒ the store stage is identity;
      // per-row gram overlap ≡ the dirty-id anti-join)
      Oracle(
        """WITH s AS (
          |  SELECT doc_id,
          |   CAST(toks AS BIGINT) AS n_tokens,
          |   CAST(round(CAST(least(chars / 500.0, 1.0) AS DECIMAL(18,12)) * 0.5
          |       + CAST(least(stops / nullif(toks, 0) * 5.0, 1.0) AS DECIMAL(18,12)) * 0.3
          |       + CAST(1.0 - least(punct / nullif(chars, 0) * 10.0, 1.0) AS DECIMAL(18,12)) * 0.2, 6)
          |     AS DOUBLE) AS quality
          |  FROM (SELECT doc_id,
          |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
          |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS punct,
          |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS stops,
          |    CAST(length(text) AS DOUBLE) AS chars
          |  FROM documents WHERE doc_id % 50 <> 0)),
          |t AS (SELECT quantile_cont(quality, 0.25) AS thr FROM s),
          |gated AS (SELECT s.doc_id, s.n_tokens, s.quality FROM s, t WHERE s.quality >= t.thr),
          |dedup AS (
          |  SELECT min(g.doc_id) AS doc_id
          |  FROM gated g JOIN documents d ON g.doc_id = d.doc_id
          |  GROUP BY md5(d.text)),
          |toks2 AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
          |grams AS (
          |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
          |                        i -> array_to_string(t[i:i+7], ' '))) AS g
          |  FROM toks2),
          |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
          |dirty AS (SELECT DISTINCT doc_id FROM grams
          |          WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM bench))
          |SELECT g.doc_id, g.n_tokens, g.quality
          |FROM gated g
          |JOIN dedup k ON g.doc_id = k.doc_id
          |WHERE g.doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin)),

    QuerySpec("q_profile", (s, dir) =>
      Profile.numericProfile(Tables.documents(s, dir), Seq("doc_id", "n_chars")),
      Oracle(
        """SELECT 'doc_id' AS col, count(*) AS n, count(doc_id) AS non_null,
          |       count(DISTINCT doc_id) AS n_distinct,
          |       CAST(min(doc_id) AS DOUBLE) AS min_v, CAST(max(doc_id) AS DOUBLE) AS max_v
          |FROM documents
          |UNION ALL
          |SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
          |       CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE)
          |FROM documents""".stripMargin)),

    QuerySpec("q_sample_hash", (s, dir) =>
      Sampling.deterministicSample(Tables.documents(s, dir), "doc_id", 0.125)
        .select("doc_id", "lang", "source"),
      Oracle(
        """SELECT doc_id, lang, source FROM documents
          |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '2000'""".stripMargin)),

    QuerySpec("q_weighted_sample", (s, dir) =>
      // length-weighted doc sample (A-ES without replacement): long docs
      // proportionally likelier, membership engine-reproducible from
      // md5(doc_id) — no rand(), so retries and other engines agree
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id", "n_chars",
        k = 200).select("doc_id", "lang", "sample_key"),
      // u reconstructed digit-by-digit from md5's first 12 hex chars (exact
      // integer arithmetic in doubles < 2^48, bit-identical to Spark's
      // conv(...,16,10)); the A-ES key pow(u, 1/w) is rounded to 9 — pow is
      // the one libm call, see Sampling.weightedSample
      Oracle(
        """WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx,
          |             CAST(n_chars AS DOUBLE) AS w FROM documents),
          |u AS (SELECT doc_id, lang, w,
          |        (SELECT CAST(sum((strpos('0123456789abcdef', substr(hx, i, 1)) - 1)
          |                         * power(CAST(16 AS DOUBLE), 12 - i)) AS DOUBLE)
          |         FROM range(1, 13) t(i)) / power(CAST(16 AS DOUBLE), 12) AS u
          |      FROM h)
          |SELECT doc_id, lang,
          |  round(power(u, CAST(1 AS DOUBLE) / w), 9) AS sample_key
          |FROM u ORDER BY sample_key DESC, doc_id LIMIT 200""".stripMargin)),

    QuerySpec("q_stratified_sample", (s, dir) =>
      // exactly 20 docs per language, hash-ordered (eval-set construction)
      Sampling.stratifiedExact(Tables.documents(s, dir), "lang", "doc_id", 20)
        .select("doc_id", "lang"),
      Oracle(
        """SELECT doc_id, lang FROM (
          |  SELECT doc_id, lang,
          |         row_number() OVER (PARTITION BY lang
          |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          |  FROM documents)
          |WHERE rn <= 20""".stripMargin)),

    QuerySpec("q_corpus_mix", (s, dir) =>
      Sampling.mixCorpora(Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 0.25, "de" -> 1.0, "fr" -> 1.0, "es" -> 0.5))
        .select("doc_id", "lang"),
      Oracle(
        """SELECT doc_id, lang FROM documents
          |WHERE (lang = 'en' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
          |   OR lang = 'de'
          |   OR lang = 'fr'
          |   OR (lang = 'es' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')""".stripMargin)),

    QuerySpec("q_scrub_pii", (s, dir) =>
      // PII appended deterministically so the redaction actually fires on
      // every row — both engines synthesize the identical input
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.scrubPii(concat(col("text"),
          lit(" contact bob@x-corp.io at 555-867-5309 or https://ex.com/a?b=1 ip 10.0.0.1")))
          .as("scrubbed")),
      Oracle(
        """SELECT doc_id,
          | regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          |   text || ' contact bob@x-corp.io at 555-867-5309 or https://ex.com/a?b=1 ip 10.0.0.1',
          |   'https?://\S+', '<URL>', 'g'),
          |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |   '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g'),
          |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed
          |FROM documents""".stripMargin)),

    QuerySpec("q_split_assign", (s, dir) =>
      Sampling.assignSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split"),
      Oracle(
        """SELECT doc_id,
          | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
          |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
          |      ELSE 'test' END AS split
          |FROM documents""".stripMargin)),

    QuerySpec("q_pack_sequences", (s, dir) =>
      // pre-training sequence packing: 2048-token budget along doc_id order
      // (distributed two-level prefix sum; small chunkSize so sf0.01 still
      // exercises the multi-chunk path)
      Packing.packSequences(Tables.documents(s, dir), budget = 2048, chunkSize = 64),
      Oracle(
        """WITH toks AS (
          |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
          |  FROM documents),
          |pre AS (
          |  SELECT doc_id, n_tokens,
          |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
          |  FROM toks)
          |SELECT doc_id, n_tokens, prefix // 2048 AS seq_id, prefix % 2048 AS seq_offset
          |FROM pre""".stripMargin)),

    QuerySpec("q_shard_assign", (s, dir) =>
      // deterministic global shuffle + 4096-token training shards: md5(id)
      // order, two-level prefix sum chunked on the hash's high bits
      Packing.shardAssign(Tables.documents(s, dir), budget = 4096),
      // same prefix-sum contract as q_pack_sequences, but laid out along the
      // md5(id) pseudo-random order (ties break on the id)
      Oracle(
        """WITH toks AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS h
          |  FROM documents),
          |pre AS (
          |  SELECT doc_id, n_tokens,
          |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
          |  FROM toks)
          |SELECT doc_id, n_tokens, prefix // 4096 AS shard_id, prefix % 4096 AS shard_offset
          |FROM pre""".stripMargin)),

    QuerySpec("q_domain_cap", (s, dir) => {
      // per-domain quota: keep the 20 best-quality docs per canonical host
      // (synthetic URLs by the q_url_normalize convention)
      val url = concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".Example.COM:443/docs/"), (col("doc_id") % 5).cast("string"),
        lit("/?utm_source=feed&id="), (col("doc_id") % 3).cast("string"),
        when(col("doc_id") % 2 === 0, "#top").otherwise(""))
      TextAnalysis.domainCap(
        Tables.documents(s, dir).withColumn("url", url), cap = 20)
    },
      // quality CTE verbatim from q_quality_score; the synthetic URL's
      // canonical host reduces to lower(source).example.com
      Oracle(
        """WITH s AS (SELECT doc_id, source,
          |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
          |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS punct,
          |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS stops,
          |    CAST(length(text) AS DOUBLE) AS chars
          |  FROM documents),
          |q AS (SELECT doc_id, source,
          |  CAST(round(CAST(least(chars / 500.0, 1.0) AS DECIMAL(18,12)) * 0.5
          |      + CAST(least(stops / nullif(toks, 0) * 5.0, 1.0) AS DECIMAL(18,12)) * 0.3
          |      + CAST(1.0 - least(punct / nullif(chars, 0) * 10.0, 1.0) AS DECIMAL(18,12)) * 0.2, 6)
          |    AS DOUBLE) AS quality
          |  FROM s)
          |SELECT doc_id, host, quality FROM (
          |  SELECT doc_id, lower(source) || '.example.com' AS host, quality,
          |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
          |  FROM q) WHERE rn <= 20""".stripMargin)),

    QuerySpec("q_frame_sample", (s, dir) => {
      // video keyframe sampling: one row per sampled frame
      val media = Multimodal.mediaRecords(s, Tables.documents(s, dir))
      Multimodal.sampleFrames(media.filter(col("kind") === "video")).toDF()
    },
      RowsOnly("frame decode is a deterministic stub with no SQL equivalent")),

    // the rows check sorts with pandas, which can't hash array cells: keep
    // the feature vector out of the query projection (scalar summary
    // instead); the typed Dataset keeps the array
    QuerySpec("q_multimodal_features", (s, dir) =>
      Multimodal.featurize(s, Tables.documents(s, dir)).toDF()
        .select(col("doc_id"), col("kind"), col("byte_len"), col("checksum"),
          size(col("features")).cast("long").as("n_features"),
          round(element_at(col("features"), 1), 6).as("f0")),
      RowsOnly("feature extraction is a deterministic stub with no SQL equivalent"))
  )
}
