package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: language ID, quality scoring,
  * token counting, fingerprinting. All pure column expressions — one narrow
  * projection over the corpus, no shuffle, fully codegen'd; at 100 TB these
  * run at scan speed.
  */
object TextAnalysis {

  private val langStopwords: Seq[(String, String)] = Seq(
    "en" -> "(the|and|of|to|in|is)",
    "de" -> "(der|die|und|das|ein|nicht)",
    "es" -> "(el|la|de|que|los|una)",
    "fr" -> "(le|la|les|des|et|une)")

  /** Heuristic language ID: count language-marker stopword hits, pick the
    * best score with a fixed priority tie-break (en > de > es > fr).
    */
  def langId(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val scored = langStopwords.foldLeft(docs.select(col(idCol), col(textCol))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"${lang}_hits",
          size(expr(s"regexp_extract_all(lower($textCol), '\\\\b$markers\\\\b', 0)")).cast("long"))
    }
    scored.select(
      col(idCol),
      col("en_hits"), col("de_hits"), col("es_hits"), col("fr_hits"),
      when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("es_hits")
        && col("en_hits") >= col("fr_hits"), "en")
        .when(col("de_hits") >= col("es_hits") && col("de_hits") >= col("fr_hits"), "de")
        .when(col("es_hits") >= col("fr_hits"), "es")
        .otherwise("fr").as("pred_lang"))
  }

  /** Whitespace token count (int64, matching SQL engines' len()). */
  def tokenCount(textCol: String): Column =
    size(split(trim(col(textCol)), "\\s+")).cast("long")

  /** BPE-ish token count: alphanumeric runs and single non-space symbols
    * each count as one token.
    */
  def regexTokenCount(textCol: String): Column =
    size(expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+|[^a-z0-9\\\\s]', 0)")).cast("long")

  /** Quality score from length / punctuation ratio / stopword ratio —
    * the standard cheap pre-filter for web-scale corpora.
    */
  def qualityScore(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   keep: Seq[String] = Nil): DataFrame = {
    // ONE compiled pass computes all four statistics (graft.plans.TextStats,
    // field-for-field identical to the regex formulation the oracle still
    // runs) — three regexp_extract_all sweeps cost ~60 µs/row, the scan
    // ~1 µs, and this projection is the first thing every raw-corpus row
    // pays at 100 TB. The two-level select keeps the kernel evaluated once:
    // CollapseProject declines to inline a non-trivial alias referenced by
    // several downstream expressions.
    // `keep` threads pass-through columns (text, lang, …) so a composed
    // pipeline can gate WITHOUT a join-back scan of the corpus
    val stats = docs.select(col(idCol) +: keep.map(col) :+
      graft.plans.Exprs.textStats(col(textCol)).as("__st"): _*)
    val toks = col("__st.toks").cast("double")
    val punct = col("__st.punct").cast("double")
    val stops = col("__st.stops").cast("double")
    val chars = col("__st.chars").cast("double")
    stats.select(col(idCol) +: keep.map(col) :+
      toks.cast("long").as("n_tokens") :+
      round(punct / nullif(chars, lit(0.0)), 6).as("punct_ratio") :+
      round(stops / nullif(toks, lit(0.0)), 6).as("stopword_ratio") :+
      // each term is cast to decimal(18,12) BEFORE weighting: 1-ulp double
      // divergence between engines vanishes at 12 digits, decimal × decimal
      // and decimal + decimal are exact, and round(decimal, 6) half-up is
      // identical everywhere. (The plain double blend hit a .5-boundary
      // rounding tie at 1 row in 5000; decimal DIVISION would not do —
      // DuckDB returns double for it — but multiplication stays decimal.)
      round(
        least(chars / lit(500.0), lit(1.0)).cast("decimal(18,12)") * lit(BigDecimal("0.5"))
          + least(stops / nullif(toks, lit(0.0)) * lit(5.0), lit(1.0)).cast("decimal(18,12)")
            * lit(BigDecimal("0.3"))
          + (lit(1.0) - least(punct / nullif(chars, lit(0.0)) * lit(10.0), lit(1.0)))
            .cast("decimal(18,12)") * lit(BigDecimal("0.2")),
        6).cast("double").as("quality"): _*)
  }

  /** Quantile-threshold quality gate — the FineWeb-style "keep everything
    * above the corpus' own q-th score percentile" cut (an absolute
    * threshold drifts as the corpus mix shifts; a quantile tracks it).
    * One aggregate computes the EXACT interpolated percentile (what the
    * oracle can reproduce); the one-row threshold broadcasts back, so the
    * gate is scan → one-row cross join → filter: no data-sized shuffle at
    * all. `percentile()` buffers every score in one aggregation buffer —
    * fine at benchmark scale; at corpus scale the same exact threshold
    * comes in bounded memory from [[Quantiles.quantileCont]] over the
    * scores (radix-bisection passes).
    */
  def qualityGate(docs: DataFrame, quantile: Double = 0.25,
                  textCol: String = "text", idCol: String = "doc_id",
                  keep: Seq[String] = Nil): DataFrame = {
    val scored = qualityScore(docs, textCol, idCol, keep)
    val thr = scored.agg(expr(s"percentile(quality, $quantile)").as("__thr"))
    scored.crossJoin(broadcast(thr))
      .where(col("quality") >= col("__thr"))
      .drop("__thr")
  }

  /** One-row threshold frame for [[qualityGate]]'s streaming face: the
    * exact q-th quality percentile of a LANDED corpus (column `__thr`).
    * Computed from data at rest because a live stream cannot see its own
    * percentile — the same landed-corpus contract as
    * `Sampling.temperatureRates`.
    */
  def qualityThreshold(landed: DataFrame, quantile: Double = 0.25,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    qualityScore(landed, textCol, idCol)
      .agg(expr(s"percentile(quality, $quantile)").as("__thr"))

  /** Type-token ratio: distinct tokens / total tokens over lowercased
    * whitespace tokens — the standard repetition/boilerplate signal
    * (near-zero for templated spam, high for natural prose). Scan-speed
    * column expression.
    */
  def typeTokenRatio(textCol: String): Column = {
    val toks = split(trim(lower(col(textCol))), "\\s+")
    round(size(array_distinct(toks)).cast("double")
      / nullif(size(toks).cast("double"), lit(0.0)), 6)
  }

  /** PII scrubbing: URLs, emails, phone-shaped numbers and IPv4 addresses
    * replaced by typed placeholder tokens — the standard redaction pass
    * before text enters a training corpus. Order matters: URLs first (they
    * absorb embedded credentials/hosts), then emails, phones, IPs. Patterns
    * stay within the regex subset Java and RE2 interpret identically, so
    * any engine reproduces the exact output. Pure codegen'd
    * regexp_replace — scan speed.
    */
  def scrubPii(text: Column): Column = {
    val url = "https?://\\S+"
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, url, "<URL>"),
          email, "<EMAIL>"),
        phone, "<PHONE>"),
      ip, "<IP>")
  }

  /** Document fingerprint: md5 of the normalized text (lowercase, strip
    * non-alphanumerics, collapse whitespace) — catches trivially-reformatted
    * duplicates that exact hashing misses.
    */
  def fingerprint(textCol: String): Column =
    md5(trim(regexp_replace(regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""), " +", " ")))

  /** Character-diversity quality signal (Simpson/Gini impurity over char
    * counts) — see graft.plans.CharDiversity for why this is the
    * engine-exact stand-in for Shannon entropy. Scan-speed projection.
    */
  def charDiversity(text: Column): Column =
    round(graft.plans.Exprs.charDiversity(text), 6)

  /** URL canonicalization — the FIRST dedup pass over a web crawl is by
    * canonical URL, before any content hashing: lowercase scheme and host,
    * strip `www.`, drop default ports, drop tracking (`utm_*`) query
    * params, drop the fragment, strip the trailing slash. Pure regex/array
    * column ops; identical semantics in any regex engine in the shared
    * subset.
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]*)", 1))
    val noWww = regexp_replace(hostport, "^www\\.", "")
    // only the scheme's OWN default port is redundant — http://h:443 is a
    // genuinely different endpoint and must stay distinct
    val host = when(scheme === "https", regexp_replace(noWww, ":443$", ""))
      .when(scheme === "http", regexp_replace(noWww, ":80$", ""))
      .otherwise(noWww)
    val path = regexp_replace(regexp_extract(url, "^[A-Za-z]+://[^/?#]*([^?#]*)", 1), "/$", "")
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    // startswith, not LIKE 'utm_%': the SQL underscore is a single-char
    // wildcard, which would also strip legitimate params like 'utmost='
    val cleanQuery = array_join(
      filter(split(query, "&"), x => !startswith(x, lit("utm_"))), "&")
    concat(scheme, lit("://"), host, path,
      when(cleanQuery === "", lit("")).otherwise(concat(lit("?"), cleanQuery)))
  }

  /** Canonical host of a URL: lowercased authority, `www.` and the
    * scheme's own default port stripped — the grouping key for per-domain
    * corpus curation (same host rules as [[canonicalizeUrl]]).
    */
  def urlHost(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z]+://([^/?#]*)", 1))
    val noWww = regexp_replace(hostport, "^www\\.", "")
    when(scheme === "https", regexp_replace(noWww, ":443$", ""))
      .when(scheme === "http", regexp_replace(noWww, ":80$", ""))
      .otherwise(noWww)
  }

  /** Per-domain corpus statistics — the curation dashboard behind domain
    * up/down-weighting decisions (C4/RefinedWeb both gate on per-host
    * counts): documents, total characters, whitespace tokens, and distinct
    * languages per canonical host. One hash aggregate on the host key;
    * the shuffle carries per-domain partials, never documents. A corpus
    * without a language column (langCol absent from the schema) reports
    * n_langs = 0 rather than failing analysis.
    */
  def domainStats(docs: DataFrame, urlCol: String = "url",
                  textCol: String = "text", langCol: String = "lang"): DataFrame = {
    val nLangs =
      if (docs.columns.contains(langCol)) countDistinct(col(langCol))
      else lit(0L)
    docs
      .groupBy(urlHost(col(urlCol)).as("host"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col(textCol)).cast("long")).as("total_chars"),
        sum(tokenCount(textCol)).as("total_tokens"),
        nLangs.as("n_langs"))
  }

  /** Per-domain quota cap — keep at most `cap` documents per canonical host,
    * chosen by quality rank (the C4/RefinedWeb counter to a single domain
    * flooding the corpus; the mirror of up-weighting in
    * [[graft.operators.Sampling.mixCorpora]]). Rank ties resolve on the
    * rounded quality then id, so the kept set is deterministic in any
    * engine. The ranking runs on the bounded-heap GroupTopK operator: the
    * rank stage shuffles `cap` rows per host, not every document — at
    * 100 TB the exchange carries |hosts|·cap rows, a fraction of the
    * corpus, and a boilerplate mega-host costs O(its rows) in the partial
    * stage instead of serializing a window sort.
    */
  def domainCap(docs: DataFrame, cap: Int = 20, urlCol: String = "url",
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val scored = qualityScore(docs, textCol, idCol, keep = Seq(urlCol))
      .select(col(idCol), urlHost(col(urlCol)).as("host"), col("quality"))
    graft.plans.GroupTopK.topKPerKey(
      scored, Seq("host"), Seq(col("quality").desc, col(idCol).asc), cap)
  }

  /** TF-IDF top-`k` terms per document: token counts per doc (tf), document
    * frequency per token (df), score = tf × ln(N/df), rounded BEFORE the
    * per-doc top-k so rank ties resolve on the rounded value + token in any
    * engine. N arrives as a broadcast one-row aggregate (no driver action);
    * the top-k runs on the bounded-heap GroupTopK operator, so the rank
    * stage shuffles k rows per document, not every (doc, token) score.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol), explode(Dedup.tokens(textCol)).as("token"))
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = broadcast(docs.agg(count(lit(1)).as("__n")))
    val scored = tf.join(df, "token").crossJoin(n)
      .select(col(idCol), col("token"), col("tf"),
        round(col("tf") * log(col("__n") / col("df")), 6).as("score"))
    graft.plans.GroupTopK.topKPerKey(
      scored, Seq(idCol), Seq(col("score").desc, col("token").asc), k)
  }

  /** Top-bigram fraction — the Gopher-style repetition rule: the share of
    * all word bigrams taken by the most frequent one (≈1 for templated/
    * looping spam). Bigram explode → two partial-aggregated groupBys; the
    * shuffles carry (doc, bigram) counts and per-doc summaries, never the
    * token stream.
    */
  def topBigramFraction(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val bigrams = docs
      .withColumn("__toks", Dedup.tokens(textCol))
      // single-token docs: try_element_at (never the ANSI-throwing
      // element_at — this operator must survive ansi.enabled=true) yields a
      // null bigram, filtered below (DuckDB's range(1,1) is empty — same
      // rows)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, greatest(size(__toks) - 1, 1)), " +
          "i -> concat(try_element_at(__toks, i), ' ', try_element_at(__toks, i + 1)))")).as("bg"))
      .where(col("bg").isNotNull)
    bigrams
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("max_count"),
        round(max(col("c")).cast("double") / sum(col("c")).cast("double"), 6)
          .as("top_bigram_frac"))
  }

  /** Character-bigram language-model score — the engine-exact stand-in for
    * the CCNet/KenLM perplexity filter: train a bigram model ON THE CORPUS
    * ITSELF (c(ab)/c(a·), maximum likelihood), then score each document by
    * its average negative log-likelihood in nats (cross-entropy;
    * perplexity = e^nll). Outlier-high nll marks text whose character
    * statistics diverge from the corpus — gibberish, wrong-language,
    * encoding damage; near-zero marks degenerate repetition.
    *
    * Shape: one bigram explode feeds both the model counts (vocab-bounded,
    * partial-aggregated) and per-doc bigram counts; the model side
    * broadcast-joins back. Per-term c·log p products accumulate in decimal
    * so the fold order can't move the 6th decimal. Docs under 2 chars have
    * no bigrams and emit no row.
    */
  def charBigramLM(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id",
                   maxBroadcastGrams: Long = 4L * 1000 * 1000,
                   sniffDocs: Int = 64): DataFrame = {
    // Two COMPILED bigram passes total (graft.plans.CharNgrams — the
    // interpreted transform/substring HOF costs a lambda per character
    // position): the model branch partial-aggregates the gram stream
    // straight to vocab-sized counts and takes its context totals from a
    // window over that (vocab-sized) frame — NOT a third corpus re-explode;
    // the scoring branch combines to per-(doc, bigram) counts first so the
    // decimal accumulation runs per distinct pair, not per occurrence
    // (measured ~25% of query time at sf0.1), then joins the model back.
    // No exchange in the plan ever carries raw gram occurrences.
    val grams = docs
      .select(col(idCol), explode(graft.plans.Exprs.charNgrams(col(textCol), 2)).as("bg"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(substring(col("bg"), 1, 1))
    val model = grams.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .withColumn("c1", sum(col("c2")).over(w))
      .select(col("bg"), (log(col("c2")) - log(col("c1"))).as("__logp"))
    // Size-adaptive model join. The model is CHARSET²-bounded, not bounded:
    // Latin corpora hold ~10⁴ distinct char bigrams (a trivial broadcast),
    // but a CJK-heavy corpus has ~10⁸ possible bigrams — FORCING a
    // broadcast there (the hint overrides Spark's size threshold) blows up
    // both the driver and every executor. The gate sniffs the charset from
    // a `sniffDocs`-row prefix (limit-pushed scan, ~ms) and bounds the model
    // by charset²: below `maxBroadcastGrams` the hint pins the broadcast,
    // above it the hint is withheld so the scoring join shuffles on `bg` —
    // uniform-ish hash keys, carrying per-(doc, gram) counts, never raw
    // occurrences. Decided this way — rather than counting the materialized
    // model, as connectedComponents can afford to — both join plans stay
    // LAZY, so AQE still runs the model and scoring scans as concurrent
    // query stages (an eager count was measured to serialize them: 2.4 s →
    // 4.0 s on q_charlm at sf0.1). AQE's own threshold remains the second
    // line of defense: a sniff that underestimates a mixed corpus still
    // can't force a broadcast past the planner's size check.
    val charset = docs.select(substring(col(textCol), 1, 4096).as(textCol)).limit(sniffDocs)
      .select(explode(graft.plans.Exprs.charNgrams(col(textCol), 1)).as("ch"))
      .agg(countDistinct(col("ch"))).head().getLong(0)
    val logp = if (charset * charset > maxBroadcastGrams) model else broadcast(model)
    grams
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .join(logp, "bg")
      .groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_bigrams"),
        round(-sum((col("c") * col("__logp")).cast("decimal(28,12)")).cast("double")
          / sum(col("c")), 6).as("nll"))
  }

  /** Word-bigram LM cross-entropy — [[charBigramLM]] at word granularity,
    * the closer stand-in for the KenLM perplexity filter CCNet actually
    * runs (trained on the corpus itself, maximum likelihood c(ab)/c(a·)).
    * Outlier-high nll flags documents whose word sequences diverge from
    * corpus statistics; near-zero flags degenerate repetition.
    *
    * Same shape and same scale gate as the char LM: one token-bigram
    * explode feeds model and scoring branches; context totals come from a
    * window over the VOCAB²-bounded model frame, never a corpus
    * re-explode; the model join broadcasts only when a sniffed
    * distinct-token bound says vocab² fits (a web corpus' word-bigram
    * vocabulary is ~10⁸ — far past any broadcast), else it shuffle-joins
    * on `bg`. Decimal-accumulated c·log p keeps results
    * partitioning-invariant (the DuckDB oracle hash-matches).
    */
  def wordBigramLM(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id",
                   maxBroadcastGrams: Long = 4L * 1000 * 1000,
                   sniffDocs: Int = 64): DataFrame = {
    val toks = docs.select(col(idCol), Dedup.tokens(textCol).as("__toks"))
      .where(size(col("__toks")) >= 2)
    val grams = toks.select(col(idCol), explode(expr(
      "transform(sequence(1, size(__toks) - 1), " +
        "i -> concat(try_element_at(__toks, i), ' ', try_element_at(__toks, i + 1)))")).as("bg"))
      .where(col("bg").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(substring_index(col("bg"), " ", 1))
    val model = grams.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .withColumn("c1", sum(col("c2")).over(w))
      .select(col("bg"), (log(col("c2")) - log(col("c1"))).as("__logp"))
    val vocab = docs.select(substring(col(textCol), 1, 4096).as(textCol)).limit(sniffDocs)
      .select(explode(Dedup.tokens(textCol)).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    val logp = if (vocab * vocab > maxBroadcastGrams) model else broadcast(model)
    grams
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .join(logp, "bg")
      .groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_bigrams"),
        round(-sum((col("c") * col("__logp")).cast("decimal(28,12)")).cast("double")
          / sum(col("c")), 6).as("nll"))
  }

  /** C4-style heuristic quality rules (Raffel et al., arXiv:1910.10683
    * §2.2, as carried into FineWeb): word-count bounds, mean-word-length
    * bounds, and the two classic content tripwires — "lorem ipsum"
    * (placeholder text) and `{` (code leaking into prose). Emits the
    * per-document signals plus the combined `keep` verdict so pipelines can
    * audit WHY a document dropped. Pure codegen'd projection — scan speed,
    * no shuffle.
    */
  def c4Rules(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
              minWords: Long = 30, maxWords: Long = 120000,
              minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0): DataFrame = {
    val wc = size(split(trim(col(textCol)), "\\s+")).cast("long")
    // Σ word lengths = non-whitespace chars; / word count = mean word length
    val meanLen = length(regexp_replace(col(textCol), "\\s+", ""))
      .cast("double") / nullif(wc.cast("double"), lit(0.0))
    val hasLorem = lower(col(textCol)).contains("lorem ipsum")
    val hasBrace = col(textCol).contains("{")
    docs.select(
      col(idCol),
      wc.as("word_count"),
      round(meanLen, 6).as("mean_word_len"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      (wc >= minWords && wc <= maxWords &&
        meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen &&
        !hasLorem && !hasBrace).as("keep"))
  }

  /** Gopher-style intra-document repetition stats over sentence units
    * (split on ". "): `dup_unit_frac` = unit occurrences beyond the first
    * of their kind / total units; `dup_char_frac` = characters inside units
    * that appear ≥ 2 times (all occurrences) / total unit characters. High
    * values mark templated or looping text that per-document dedup can't
    * catch and quality filters drop (Rae et al., Gopher, arXiv:2112.11446
    * §A1.1). Shape: one explode → (doc, unit) counts → per-doc summary —
    * both shuffles partial-aggregate, carrying unit counts and per-doc
    * rows, never raw text.
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val perUnit = docs
      .select(col(idCol), explode(split(col(textCol), "\\.\\s+")).as("unit"))
      .groupBy(col(idCol), col("unit"))
      .agg(count(lit(1)).as("c"))
      .select(col(idCol), col("c"), length(col("unit")).as("len"))
    perUnit
      .groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_units"),
        round((sum(col("c")) - count(lit(1))).cast("double")
          / sum(col("c")).cast("double"), 6).as("dup_unit_frac"),
        round(sum(when(col("c") > 1, col("c") * col("len")).otherwise(0L)).cast("double")
          / nullif(sum(col("c") * col("len")).cast("double"), lit(0.0)), 6)
          .as("dup_char_frac"))
  }

  /** Sliding-window document chunking — the context-window splitting pass
    * under RAG indexing and long-document pre-training: each document
    * yields chunks of `size` whitespace tokens starting every
    * `size − overlap` tokens, so consecutive chunks share `overlap` tokens
    * and no boundary sentence is ever lost to a hard cut. A trailing start
    * whose tokens are wholly contained in the previous chunk is suppressed
    * (start + overlap must still be inside the doc). Pure builtins
    * (split/sequence/slice/explode) — fully codegen'd, no shuffle: at
    * 100 TB this runs at scan speed and the output is safely larger than
    * the input by ×(1 + overlap/stride).
    */
  def chunkDocs(docs: DataFrame, size: Int = 128, overlap: Int = 32,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val stride = size - overlap
    // `size` the param shadows functions.size — qualify the builtin
    val nToks = org.apache.spark.sql.functions.size(col("__toks")).cast("long")
    docs
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__toks"))
      .withColumn("__n", nToks)
      .where(col("__n") > 0)
      .select(col(idCol), col("__toks"), col("__n"),
        explode(expr(s"sequence(0L, __n - 1, $stride)")).as("start"))
      .where(col("start") === 0 || col("start") + overlap < col("__n"))
      .select(
        col(idCol),
        (col("start") / stride).cast("long").as("chunk_idx"),
        array_join(slice(col("__toks"), (col("start") + 1).cast("int"), lit(size)), " ")
          .as("chunk_text"),
        least(lit(size.toLong), col("__n") - col("start")).as("n_tokens"))
  }

  /** Corpus vocabulary: token → frequency over lowercased whitespace tokens,
    * keeping tokens seen ≥ `minCount` times — the counting pass under BPE /
    * tokenizer training and frequency-based filtering. explode + groupBy
    * partial-aggregates map-side, so the exchange carries per-partition
    * (token, count) partials — bounded by vocabulary size per task, never
    * the token stream (Zipf makes the hot tokens combine hardest).
    */
  def vocabulary(docs: DataFrame, textCol: String = "text",
                 minCount: Long = 1L): DataFrame =
    docs
      .select(explode(Dedup.tokens(textCol)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)

  /** Zipf-law slope per corpus slice: OLS fit of ln(freq) against ln(rank)
    * over each slice's top-`topK` terms (a healthy natural-language slice
    * sits near −1; flat or cliff-shaped slopes flag templated/boilerplate
    * sources — the corpus-mix diagnostic next to [[corpusDivergence]]).
    *
    * Term counting partial-aggregates to (slice, token) — vocabulary-sized
    * per slice, never the token stream; ranking is one per-slice window
    * over that vocab-sized frame (freq desc, token tiebreak → total
    * order), and the slope reduces in the SAME aggregate pass from the
    * closed form (nΣxy − ΣxΣy) / (nΣxx − (Σx)²) with round-12
    * decimal-accumulated moments, so the statistic is bit-stable across
    * partition counts and engines.
    */
  def zipfSlope(docs: DataFrame, topK: Int = 100,
                sliceCol: String = "source", textCol: String = "text"): DataFrame = {
    def m(c: Column): Column =
      sum(round(c, 12).cast("decimal(28,12)")).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sliceCol)).orderBy(col("f").desc, col("token"))
    docs
      .select(col(sliceCol), explode(Dedup.tokens(textCol)).as("token"))
      .groupBy(col(sliceCol), col("token"))
      .agg(count(lit(1)).as("f"))
      .withColumn("r", row_number().over(w))
      .where(col("r") <= topK)
      .select(col(sliceCol),
        log(col("r").cast("double")).as("x"),
        log(col("f").cast("double")).as("y"))
      .groupBy(col(sliceCol))
      .agg(count(lit(1)).cast("double").as("n"),
        m(col("x")).as("sx"), m(col("y")).as("sy"),
        m(col("x") * col("y")).as("sxy"), m(col("x") * col("x")).as("sxx"))
      .select(col(sliceCol), col("n").cast("long").as("n_terms"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
      .orderBy(col(sliceCol))
  }

  /** Top-k word-bigram collocations by pointwise mutual information —
    * PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) with p over corpus bigram/token
    * totals. The phrase-mining pass under tokenizer vocab extension and
    * corpus characterization.
    *
    * Everything is counting: one bigram aggregate and one unigram
    * aggregate (both vocab-sized after map-side combine), joined KEYED on
    * the token — the unigram table is vocabulary-sized, which at web-corpus
    * scale exceeds broadcast budget, so the join must shuffle by token and
    * never collects. Corpus totals ride a one-row broadcast. `minCount`
    * suppresses the low-count PMI explosion (a pair seen once has maximal
    * PMI); ties at equal rounded score break lexicographically so top-k is
    * deterministic.
    */
  def pmiCollocations(docs: DataFrame, k: Int = 50, minCount: Long = 5L,
                      textCol: String = "text"): DataFrame = {
    // two corpus scans (unigram + bigram aggregates) by design: the only
    // shareable intermediate is the tokenized corpus itself, and caching a
    // corpus-sized explode costs more than the second scan it saves
    val toks = docs.select(Dedup.tokens(textCol).as("__toks"))
    val uni = toks.select(explode(col("__toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c_tok"))
    val bg = toks.where(size(col("__toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__toks) - 2), " +
          "i -> struct(__toks[i] AS a, __toks[i + 1] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val totals = broadcast(
      uni.agg(sum(col("c_tok")).cast("double").as("n_tok"))
        .crossJoin(bg.agg(sum(col("c_ab")).cast("double").as("n_bg"))))
    val scored = bg.where(col("c_ab") >= minCount)
      .join(uni.select(col("token").as("a"), col("c_tok").as("c_a")), Seq("a"))
      .join(uni.select(col("token").as("b"), col("c_tok").as("c_b")), Seq("b"))
      .crossJoin(totals)
      .select(col("a"), col("b"), col("c_ab"),
        round(log(
          (col("c_ab").cast("double") / col("n_bg")) /
            ((col("c_a").cast("double") / col("n_tok")) *
              (col("c_b").cast("double") / col("n_tok")))), 6).as("pmi"))
    scored.orderBy(col("pmi").desc, col("a"), col("b")).limit(k)
  }

  /** Per-slice KL divergence of the token distribution against the whole
    * corpus — KL(P_slice ‖ P_corpus) = Σ p_s·ln(p_s/p_c) — the drift/mix
    * diagnostic that says which source's language is farthest from the
    * blend it feeds (zero-count corpus tokens can't occur: every slice
    * token is in the corpus by construction).
    *
    * ONE corpus scan: the (slice, token) aggregate is persisted —
    * vocab×slices-sized, orders of magnitude under the corpus — and every
    * downstream total (corpus counts, slice totals, grand total) derives
    * from the cache instead of re-scanning the corpus (Catalyst clones
    * unpersisted subtrees per consumer: without the persist this plan
    * reads the corpus four times). Per-slice totals are slice-count-sized
    * broadcasts, and the Σ accumulates decimal so the result is
    * partition-order-independent.
    */
  def corpusDivergence(docs: DataFrame, sliceCol: String = "source",
                       textCol: String = "text",
                       persistAggregate: Boolean = true): DataFrame = {
    // cache ownership: the persisted (slice, token) aggregate lives until
    // the session evicts it (LRU; vocab×slices-sized, so pressure is
    // modest). A caller invoking this repeatedly in one session who wants
    // zero cache footprint passes persistAggregate = false and pays the
    // 4× corpus re-scan instead.
    val scBase = docs
      .select(col(sliceCol).as("slice"), explode(Dedup.tokens(textCol)).as("token"))
      .groupBy(col("slice"), col("token")).agg(count(lit(1)).as("c_s"))
    val sc = if (persistAggregate) scBase.persist() else scBase
    val cc = sc.groupBy(col("token")).agg(sum(col("c_s")).as("c_all"))
    val perSlice = broadcast(
      sc.groupBy(col("slice")).agg(sum(col("c_s")).cast("double").as("n_s")))
    val total = broadcast(cc.agg(sum(col("c_all")).cast("double").as("n_all")))
    val ps = col("c_s").cast("double") / col("n_s")
    val pc = col("c_all").cast("double") / col("n_all")
    sc.join(cc, Seq("token"))
      .join(perSlice, Seq("slice"))
      .crossJoin(total)
      .select(col("slice"), col("c_s"), (ps * log(ps / pc)).as("__term"))
      .groupBy(col("slice"))
      .agg(
        sum(col("c_s")).as("n_tokens"),
        round(sum(col("__term").cast("decimal(28,12)")).cast("double"), 6).as("kl"))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * word n-grams appearing in NO other document — the memorization /
    * boilerplate inverse ("how much of this doc is its own"). Same
    * compiled gram generator as decontamination (graft.plans.WordNgrams,
    * per-doc distinct by construction), one document-frequency aggregate
    * keyed on the gram, one join back, one per-doc rollup — everything
    * linear in total grams; no pair enumeration anywhere.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 8, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val grams = Dedup.wordGrams(docs, n, textCol, idCol, rows = true)
    val df = grams.groupBy(col("grams")).agg(count(lit(1)).as("df"))
    grams.join(df, Seq("grams"))
      .groupBy(col("gid"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, lit(1L)).otherwise(lit(0L))).as("n_unique"))
      .select(col("gid").as(idCol), col("n_grams"), col("n_unique"),
        round(col("n_unique") / col("n_grams").cast("double"), 6).as("novelty"))
  }

  /** Per-(source, lang) dataset card: the one-pass summary a corpus
    * release ships — document and token volumes, mean document length,
    * and the exact-duplicate rate (1 − distinct md5 / docs). One keyed
    * aggregate carrying four partials plus a distinct-hash count; the
    * shuffle keys on the card's own grain.
    */
  def datasetCard(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(tokenCount(textCol)).as("total_tokens"),
        countDistinct(md5(col(textCol))).as("n_distinct"))
      .select(col("source"), col("lang"), col("n_docs"), col("total_chars"),
        col("total_tokens"),
        round(col("total_tokens") / col("n_docs").cast("double"), 6).as("mean_tokens"),
        round(lit(1.0) - col("n_distinct") / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
      .orderBy(col("source"), col("lang"))
}
