package graft
package registry

import graft.operators._
import graft.registry.QueryKit._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text statistics, language models and tokenizers over documents. */
object TextQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_percentile_rank", (s, dir) =>
      // per-source percent_rank of documents by length — the rank-based
      // curation filter ("keep the top X% per source"); exact window form
      // (the approximate form at corpus scale is the quantile-gate family)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(percent_rank().over(
            Window.partitionBy(col("source")).orderBy(col("n_chars"))), 6)
            .as("pr")),
      Oracle(
        """SELECT doc_id, source, n_chars,
          |  round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6) AS pr
          |FROM documents""".stripMargin)),

    QuerySpec("q_vocab", (s, dir) =>
      TextAnalysis.vocabulary(Tables.documents(s, dir), minCount = 2),
      Oracle(
        """SELECT token, count(*) AS n
          |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          |      FROM documents)
          |GROUP BY token HAVING count(*) >= 2""".stripMargin)),

    QuerySpec("q_pmi", (s, dir) =>
      // top-50 bigram collocations by PMI, keyed unigram joins (vocab-sized
      // sides never broadcast), deterministic tie-break
      TextAnalysis.pmiCollocations(Tables.documents(s, dir), k = 50, minCount = 5),
      Oracle(
        """WITH t AS (
          |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
          |uni AS (SELECT unnest(toks) AS token FROM t),
          |uc AS (SELECT token, count(*) AS c_tok FROM uni GROUP BY 1),
          |bgl AS (
          |  SELECT unnest(list_transform(range(1, len(toks)),
          |                i -> toks[i] || ' ' || toks[i + 1])) AS bg
          |  FROM t WHERE len(toks) >= 2),
          |bc AS (
          |  SELECT split_part(bg, ' ', 1) AS a, split_part(bg, ' ', 2) AS b,
          |    count(*) AS c_ab
          |  FROM bgl GROUP BY 1, 2),
          |tot AS (SELECT CAST(sum(c_tok) AS DOUBLE) AS n_tok FROM uc),
          |btot AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bg FROM bc),
          |scored AS (
          |  SELECT a, b, c_ab,
          |    round(ln((CAST(c_ab AS DOUBLE) / n_bg) /
          |      ((CAST(ca.c_tok AS DOUBLE) / n_tok) *
          |       (CAST(cb.c_tok AS DOUBLE) / n_tok))), 6) AS pmi
          |  FROM bc JOIN uc ca ON bc.a = ca.token JOIN uc cb ON bc.b = cb.token
          |  CROSS JOIN tot CROSS JOIN btot
          |  WHERE c_ab >= 5)
          |SELECT a, b, c_ab, pmi FROM (
          |  SELECT a, b, c_ab, pmi,
          |    row_number() OVER (ORDER BY pmi DESC, a, b) AS rn FROM scored)
          |WHERE rn <= 50""".stripMargin)),

    QuerySpec("q_kl_divergence", (s, dir) =>
      // per-source token-distribution KL vs the whole corpus — corpus
      // counts derived from the per-slice aggregate, not a second scan
      TextAnalysis.corpusDivergence(Tables.documents(s, dir), "source")
        .withColumnRenamed("slice", "source"),
      Oracle(
        """WITH sc AS (
          |  SELECT source, token, count(*) AS c_s FROM (
          |    SELECT source,
          |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          |    FROM documents)
          |  GROUP BY 1, 2),
          |cc AS (SELECT token, sum(c_s) AS c_all FROM sc GROUP BY 1),
          |ns AS (SELECT source, CAST(sum(c_s) AS DOUBLE) AS n_s FROM sc GROUP BY 1),
          |na AS (SELECT CAST(sum(c_all) AS DOUBLE) AS n_all FROM cc)
          |SELECT source, CAST(sum(c_s) AS BIGINT) AS n_tokens,
          |  round(CAST(sum(CAST(
          |    (CAST(c_s AS DOUBLE) / n_s) *
          |      ln((CAST(c_s AS DOUBLE) / n_s) / (CAST(c_all AS DOUBLE) / n_all))
          |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS kl
          |FROM sc JOIN cc USING (token) JOIN ns USING (source) CROSS JOIN na
          |GROUP BY 1""".stripMargin)),

    QuerySpec("q_quality_gate", (s, dir) =>
      // FineWeb-style quantile cut: keep docs at or above the corpus' own
      // 25th quality percentile — exact interpolated percentile, so the
      // oracle reproduces the threshold bit-for-bit
      TextAnalysis.qualityGate(Tables.documents(s, dir), 0.25),
      Oracle(
        """WITH s AS (
          |  SELECT doc_id,
          |   CAST(toks AS BIGINT) AS n_tokens,
          |   round(punct / nullif(chars, 0), 6) AS punct_ratio,
          |   round(stops / nullif(toks, 0), 6) AS stopword_ratio,
          |   CAST(round(CAST(least(chars / 500.0, 1.0) AS DECIMAL(18,12)) * 0.5
          |       + CAST(least(stops / nullif(toks, 0) * 5.0, 1.0) AS DECIMAL(18,12)) * 0.3
          |       + CAST(1.0 - least(punct / nullif(chars, 0) * 10.0, 1.0) AS DECIMAL(18,12)) * 0.2, 6)
          |     AS DOUBLE) AS quality
          |  FROM (SELECT doc_id,
          |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
          |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS punct,
          |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS stops,
          |    CAST(length(text) AS DOUBLE) AS chars
          |  FROM documents)),
          |t AS (SELECT quantile_cont(quality, 0.25) AS thr FROM s)
          |SELECT s.* FROM s, t WHERE s.quality >= t.thr""".stripMargin)),

    QuerySpec("q_wordlm", (s, dir) =>
      // word-level LM cross-entropy (the KenLM/CCNet perplexity filter at
      // word granularity) — corpus-trained, decimal-exact, oracle-checked
      TextAnalysis.wordBigramLM(Tables.documents(s, dir)),
      Oracle(
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          |  FROM documents),
          |bg AS (
          |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
          |                        i -> toks[i] || ' ' || toks[i + 1])) AS bg
          |  FROM t WHERE len(toks) >= 2),
          |dc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
          |m AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
          |ctx AS (SELECT split_part(bg, ' ', 1) AS a, CAST(sum(c2) AS BIGINT) AS c1
          |        FROM m GROUP BY 1),
          |lp AS (SELECT m.bg, ln(c2) - ln(c1) AS logp
          |       FROM m JOIN ctx ON split_part(m.bg, ' ', 1) = ctx.a)
          |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
          |  round(-CAST(sum(CAST(c * logp AS DECIMAL(28,12))) AS DOUBLE)
          |    / CAST(sum(c) AS DOUBLE), 6) AS nll
          |FROM dc JOIN lp ON dc.bg = lp.bg GROUP BY doc_id""".stripMargin)),

    QuerySpec("q_bpe", (s, dir) =>
      // BPE tokenizer: ONE distributed (word,count) aggregate, merges
      // trained driver-side on the vocab-bounded counts (model-sized
      // state, like every codebook here), applied by encoding the
      // distinct vocabulary and broadcast-joining piece counts back —
      // per-doc word/BPE-piece totals.
      Bpe.pieceStats(Tables.documents(s, dir), numMerges = 50),
      RowsOnly("merge training is iterative, not SQL; BpeSpec checks hand-worked merges")),

    QuerySpec("q_unigram_lm", (s, dir) =>
      // Unigram-LM (SentencePiece-family) tokenizer beside BPE: same ONE
      // distributed (word,count) aggregate, Viterbi-EM trained driver-side
      // on the capped counts, applied by broadcast-joining the encoded
      // vocabulary with the compiled graft_unigram_encode Viterbi covering
      // OOV words exactly.
      Unigram.pieceStats(Tables.documents(s, dir), vocabSize = 200),
      RowsOnly("Viterbi-EM training is iterative, not SQL; UnigramSpec checks round-trips")),

    QuerySpec("q_tokenizer_quality", (s, dir) =>
      // tokenizer scorecard AS DATA (the family's q_ann_recall analogue):
      // BPE + unigram trained on the same corpus, pieces/word compression,
      // OOV coverage, round-trip exactness, and the compiled ≡ driver
      // agreement measured corpus-wide. maxVocab is deliberately small so
      // the tail of the corpus vocabulary exercises the compiled OOV
      // encoders — the path a top-2²⁰ cap would hide at this sf.
      TokenizerQuality.score(Tables.documents(s, dir), maxVocab = 512),
      RowsOnly("tokenizer training is iterative, not SQL; BpeSpec asserts its invariants")),

    QuerySpec("q_tfidf", (s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), k = 3),
      Oracle(
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          |  FROM documents),
          |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
          |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*) AS n FROM documents),
          |scored AS (
          |  SELECT doc_id, token, tf, round(tf * ln(n / df), 6) AS score
          |  FROM tf JOIN df USING (token) CROSS JOIN n)
          |SELECT doc_id, token, tf, score FROM (
          |  SELECT doc_id, token, tf, score,
          |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
          |  FROM scored)
          |WHERE rn <= 3""".stripMargin)),

    QuerySpec("q_char_diversity", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.charDiversity(col("text")).as("diversity")),
      Oracle(
        """SELECT doc_id,
          | CAST(round(1 - CAST(sum(c*c) AS DOUBLE) / (CAST(sum(c) AS DOUBLE) * sum(c)), 6)
          |   AS DOUBLE) AS diversity
          |FROM (SELECT doc_id, ch, count(*) AS c
          |      FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
          |      GROUP BY doc_id, ch)
          |GROUP BY doc_id""".stripMargin)),

    QuerySpec("q_bigram_frac", (s, dir) =>
      TextAnalysis.topBigramFraction(Tables.documents(s, dir)),
      Oracle(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
          |bg AS (
          |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
          |  FROM toks),
          |cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
          |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS max_count,
          |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
          |FROM cnt GROUP BY doc_id""".stripMargin)),

    QuerySpec("q_charlm", (s, dir) =>
      TextAnalysis.charBigramLM(Tables.documents(s, dir)),
      Oracle(
        """WITH bg AS (
          |  SELECT doc_id, unnest(list_transform(range(1, length(text)),
          |                        i -> substr(text, i, 2))) AS bg
          |  FROM documents WHERE length(text) >= 2),
          |dc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
          |m AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
          |ctx AS (SELECT substr(bg, 1, 1) AS a, CAST(sum(c2) AS BIGINT) AS c1
          |        FROM m GROUP BY 1),
          |lp AS (SELECT m.bg, ln(c2) - ln(c1) AS logp
          |       FROM m JOIN ctx ON substr(m.bg, 1, 1) = ctx.a)
          |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
          |  round(-CAST(sum(CAST(c * logp AS DECIMAL(28,12))) AS DOUBLE)
          |    / CAST(sum(c) AS DOUBLE), 6) AS nll
          |FROM dc JOIN lp ON dc.bg = lp.bg GROUP BY doc_id""".stripMargin)),

    QuerySpec("q_compress_ratio", (s, dir) =>
      // deflate-ratio repetition signal
      Tables.documents(s, dir).select(
        col("doc_id"),
        round(graft.plans.Exprs.compressRatio(col("text")), 6).as("compress_ratio")),
      RowsOnly("the deflate ratio is deterministic but java.util.zip-specific")),

    QuerySpec("q_c4_rules", (s, dir) => {
      // the word-soup corpus carries no placeholder text or code — the two
      // content tripwires are synthesized deterministically (q_boilerplate
      // convention); word-count/word-length variation is natural
      val synth = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 17 === 0, " lorem ipsum dolor sit amet").otherwise(""),
          when(col("doc_id") % 23 === 0, " function() { return 1; }").otherwise(""))
          .as("text"))
      TextAnalysis.c4Rules(synth)
    },
      Oracle(
        """WITH synth AS (
          |  SELECT doc_id, text ||
          |    (CASE WHEN doc_id % 17 = 0 THEN ' lorem ipsum dolor sit amet' ELSE '' END) ||
          |    (CASE WHEN doc_id % 23 = 0 THEN ' function() { return 1; }' ELSE '' END) AS text
          |  FROM documents),
          |sig AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS word_count,
          |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
          |      / nullif(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0)
          |      AS ml,
          |    contains(lower(text), 'lorem ipsum') AS has_lorem,
          |    contains(text, '{') AS has_brace
          |  FROM synth)
          |SELECT doc_id, word_count, round(ml, 6) AS mean_word_len, has_lorem, has_brace,
          |  (word_count >= 30 AND word_count <= 120000 AND ml >= 3.0 AND ml <= 10.0
          |   AND NOT has_lorem AND NOT has_brace) AS keep
          |FROM sig""".stripMargin)),

    QuerySpec("q_repetition", (s, dir) => {
      // intra-doc repetition: the raw word-soup texts never repeat a
      // sentence, so repeated units are synthesized deterministically
      // (same convention as q_boilerplate/q_url_normalize)
      val withRep = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            ". click here to subscribe. click here to subscribe").otherwise(""),
          when(col("doc_id") % 6 === 0, ". limited time offer only").otherwise(""))
          .as("text"))
      TextAnalysis.repetitionStats(withRep)
    },
      Oracle(
        """WITH synth AS (
          |  SELECT doc_id, text ||
          |    (CASE WHEN doc_id % 4 = 0
          |          THEN '. click here to subscribe. click here to subscribe' ELSE '' END) ||
          |    (CASE WHEN doc_id % 6 = 0 THEN '. limited time offer only' ELSE '' END) AS text
          |  FROM documents),
          |units AS (
          |  SELECT doc_id, unnest(string_split_regex(text, '\.\s+')) AS unit FROM synth),
          |gu AS (
          |  SELECT doc_id, unit, count(*) AS c, length(unit) AS len
          |  FROM units GROUP BY 1, 2)
          |SELECT doc_id,
          |  CAST(sum(c) AS BIGINT) AS n_units,
          |  round(CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
          |    AS dup_unit_frac,
          |  round(CAST(sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS DOUBLE)
          |    / nullif(CAST(sum(c * len) AS DOUBLE), 0), 6) AS dup_char_frac
          |FROM gu GROUP BY doc_id""".stripMargin)),

    QuerySpec("q_zipf_slope", (s, dir) =>
      // corpus health: OLS slope of ln(freq) vs ln(rank) over each
      // source's top-100 terms; vocab-sized throughout
      TextAnalysis.zipfSlope(Tables.documents(s, dir), topK = 100),
      Oracle(
        """WITH freq AS MATERIALIZED (
          |  SELECT source, token, count(*) AS f FROM (
          |    SELECT source,
          |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          |    FROM documents)
          |  GROUP BY 1, 2),
          |ranked AS MATERIALIZED (
          |  SELECT source, f,
          |    row_number() OVER (PARTITION BY source ORDER BY f DESC, token) AS r
          |  FROM freq),
          |pts AS MATERIALIZED (
          |  SELECT source, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
          |  FROM ranked WHERE r <= 100),
          |agg AS MATERIALIZED (
          |  SELECT source, CAST(count(*) AS DOUBLE) AS n,
          |    CAST(sum(CAST(round(x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
          |    CAST(sum(CAST(round(y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
          |    CAST(sum(CAST(round(x * y, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
          |    CAST(sum(CAST(round(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx
          |  FROM pts GROUP BY 1)
          |SELECT source, CAST(n AS BIGINT) AS n_terms,
          |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
          |FROM agg ORDER BY 1""".stripMargin)),

    QuerySpec("q_ngram_novelty", (s, dir) =>
      // per-doc fraction of word-8-grams unique to the doc (memorization/
      // boilerplate inverse): gram-df aggregate + join-back, linear in
      // total grams — no pair enumeration
      TextAnalysis.ngramNovelty(Tables.documents(s, dir), n = 8),
      Oracle(
        // same 8-gram construction as q_decontaminate (slices clamp on short
        // docs), made per-doc DISTINCT to mirror the compiled kernel's set
        // semantics
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
          |grams AS (
          |  SELECT DISTINCT doc_id, g FROM (
          |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 6, 2)),
          |                          i -> array_to_string(t[i:i+7], ' '))) AS g
          |    FROM toks)),
          |df AS (SELECT g, count(*) AS df FROM grams GROUP BY 1)
          |SELECT doc_id, count(*) AS n_grams,
          |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
          |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |        / CAST(count(*) AS DOUBLE), 6) AS novelty
          |FROM grams JOIN df USING (g) GROUP BY doc_id""".stripMargin)),

    QuerySpec("q_lang_id", (s, dir) => TextAnalysis.langId(Tables.documents(s, dir)),
      Oracle(
        """SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
          | CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
          |      WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
          |      WHEN es_hits >= fr_hits THEN 'es'
          |      ELSE 'fr' END AS pred_lang
          |FROM (SELECT doc_id,
          |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is)\b')) AS en_hits,
          |  len(regexp_extract_all(lower(text), '\b(der|die|und|das|ein|nicht)\b')) AS de_hits,
          |  len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|una)\b')) AS es_hits,
          |  len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|une)\b')) AS fr_hits
          |FROM documents)""".stripMargin)),

    QuerySpec("q_quality_score", (s, dir) => TextAnalysis.qualityScore(Tables.documents(s, dir)),
      Oracle(
        """SELECT doc_id,
          | CAST(toks AS BIGINT) AS n_tokens,
          | round(punct / nullif(chars, 0), 6) AS punct_ratio,
          | round(stops / nullif(toks, 0), 6) AS stopword_ratio,
          | CAST(round(CAST(least(chars / 500.0, 1.0) AS DECIMAL(18,12)) * 0.5
          |     + CAST(least(stops / nullif(toks, 0) * 5.0, 1.0) AS DECIMAL(18,12)) * 0.3
          |     + CAST(1.0 - least(punct / nullif(chars, 0) * 10.0, 1.0) AS DECIMAL(18,12)) * 0.2, 6)
          |   AS DOUBLE) AS quality
          |FROM (SELECT doc_id,
          |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS toks,
          |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS punct,
          |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS stops,
          |  CAST(length(text) AS DOUBLE) AS chars
          |FROM documents)""".stripMargin)),

    QuerySpec("q_code_detect", (s, dir) => {
      // code-vs-prose detector (the router in front of separate code/text
      // curation tracks): three independent signals — brace/semicolon
      // density, code-keyword hits, symbol-to-alpha ratio — combined into
      // one score; pure column arithmetic at scan speed, no shuffle
      val text = col("text")
      val n = greatest(length(text).cast("double"), lit(1.0))
      val punct = size(regexp_extract_all(text, lit("[{}();=\\[\\]<>]"), lit(0)))
        .cast("double") / n
      val kw = size(regexp_extract_all(lower(text),
        lit("\\b(def|return|function|var|class|import|if|else|for|while)\\b"),
        lit(0))).cast("double")
      val words = greatest(
        size(split(trim(text), "\\s+")).cast("double"), lit(1.0))
      val score = round(punct * 10.0 + (kw / words) * 5.0, 6)
      Tables.documents(s, dir)
        .select(col("doc_id"), score.as("code_score"),
          (score > 0.5).as("is_code"))
    },
      Oracle(
        """WITH sig AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text, '[{}();=\[\]<>]')) AS DOUBLE)
          |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct,
          |    CAST(len(regexp_extract_all(lower(text),
          |      '\b(def|return|function|var|class|import|if|else|for|while)\b'))
          |      AS DOUBLE) AS kw,
          |    greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE),
          |      1.0) AS words
          |  FROM documents)
          |SELECT doc_id,
          |  round(punct * 10.0 + (kw / words) * 5.0, 6) AS code_score,
          |  round(punct * 10.0 + (kw / words) * 5.0, 6) > 0.5 AS is_code
          |FROM sig""".stripMargin)),

    QuerySpec("q_readability", (s, dir) => {
      // Flesch-style reading-ease score as pure column arithmetic over
      // three regexp counts (words, sentence terminators, vowel-group
      // syllable proxy) — scan-speed, codegen'd, no shuffle at all; the
      // regex classes are dialect-portable so the oracle counts match
      val text = lower(col("text"))
      val words = size(regexp_extract_all(text, lit("[a-z0-9']+"), lit(0))).cast("long")
      val sents = greatest(
        size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"), lit(1L))
      val syll = size(regexp_extract_all(text, lit("[aeiouy]+"), lit(0))).cast("long")
      Tables.documents(s, dir)
        .select(col("doc_id"), words.as("n_words"), sents.as("n_sents"),
          syll.as("n_syll"))
        .where(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"), col("n_sents"),
          round(lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sents").cast("double")) -
            lit(84.6) * (col("n_syll").cast("double") / col("n_words").cast("double")), 6)
            .as("flesch"))
    },
      Oracle(
        """WITH counts AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9'']+')) AS BIGINT)
          |      AS n_words,
          |    greatest(CAST(len(regexp_extract_all(lower(text), '[.!?]+')) AS BIGINT),
          |      1) AS n_sents,
          |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
          |      AS n_syll
          |  FROM documents)
          |SELECT doc_id, n_words, n_sents,
          |  round(206.835
          |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
          |    - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
          |    AS flesch
          |FROM counts WHERE n_words > 0""".stripMargin)),

    QuerySpec("q_classifier", (s, dir) =>
      // learned quality filter, scorecard AS DATA (the FineWeb-Edu/DCLM
      // distillation loop): heuristic-gate labels → hash 80/20 split →
      // hashed-BOW logistic regression trained train-side only →
      // held-out confusion emitted as one metrics row.
      graft.operators.Classifier.scorecard(Tables.documents(s, dir)),
      RowsOnly("GD training is iterative, not SQL; ClassifierSpec asserts accuracy, invariance")),

    QuerySpec("q_type_token", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.typeTokenRatio("text").as("ttr")),
      Oracle(
        """SELECT doc_id,
          | round(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))
          |   / nullif(CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE), 0), 6)
          |   AS ttr
          |FROM documents""".stripMargin)),

    QuerySpec("q_token_count", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount("text").as("n_ws_tokens"),
        TextAnalysis.regexTokenCount("text").as("n_re_tokens")),
      Oracle(
        """SELECT doc_id,
          | len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
          | len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS n_re_tokens
          |FROM documents""".stripMargin))
  )
}
