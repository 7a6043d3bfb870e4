package graft

import graft.operators.{Multimodal, TextAnalysis}
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  test("qualityThreshold equals the bounded-memory quantileCont over the scores, bit for bit") {
    import graft.operators.Quantiles
    val docs = Tables.documents(spark, sfDir)
    val buffering = TextAnalysis.qualityThreshold(docs, 0.25).head().getDouble(0)
    val scored = TextAnalysis.qualityScore(docs, "text", "doc_id").withColumn("__g", lit("all"))
    val scalable = Quantiles.quantileCont(scored, "__g", "quality", Seq(0.25 -> "__thr"))
      .head().getDouble(1)
    assert(scalable === buffering)
  }
  import spark.implicits._

  test("token counts: whitespace vs regex tokenization") {
    val df = Seq((1L, "Hello, world! 42 times")).toDF("doc_id", "text")
    val r = df.select(
      TextAnalysis.tokenCount("text"),
      TextAnalysis.regexTokenCount("text")).head()
    assert(r.getLong(0) === 4L)
    // hello , world ! 42 times
    assert(r.getLong(1) === 6L)
  }

  test("fingerprint is invariant to case, punctuation and extra whitespace") {
    val df = Seq((1L, "The   quick, brown fox!"), (2L, "the quick brown fox")).toDF("doc_id", "text")
    val fps = df.select(TextAnalysis.fingerprint("text")).as[String].collect()
    assert(fps(0) === fps(1))
  }

  test("langId picks the language with the most stopword hits") {
    val docs = Seq(
      (1L, "the cat and the dog went to the house in the rain"),
      (2L, "der hund und die katze sind ein team nicht wahr"),
      (3L, "el perro y la casa de que los gatos una vez")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(docs).orderBy($"doc_id").collect()
    assert(out(0).getString(5) === "en")
    assert(out(1).getString(5) === "de")
    assert(out(2).getString(5) === "es")
  }

  test("qualityScore components are bounded and rounded") {
    val out = TextAnalysis.qualityScore(Tables.documents(spark, sfDir)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val q = r.getDouble(4)
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("charDiversity: 0 for one repeated char, 1-Σc²/n² otherwise") {
    val out = Seq((1L, "aaaa"), (2L, "ab"), (3L, "aab"), (4L, ""))
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.charDiversity($"text").as("d"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) === 0.0)
    assert(out(2L) === 0.5)           // 1 - (1+1)/4
    assert(out(3L) === 0.444444)      // 1 - (4+1)/9
    assert(out(4L) === 0.0)
  }

  test("canonicalizeUrl lowercases scheme/host, strips www/port/utm/fragment/slash") {
    val cases = Seq(
      (1L, "HTTPS://WWW.Ex.COM:443/docs/1/?utm_source=x&id=2#top",
        "https://ex.com/docs/1?id=2"),
      (2L, "http://site.org:80/a/b/", "http://site.org/a/b"),
      (3L, "https://plain.net/p?utm_a=1&utm_b=2", "https://plain.net/p"),
      // 'utmost' is NOT a utm_ tracking param (the LIKE-wildcard trap)
      (4L, "https://shop.com/p?utmost=1&size=2", "https://shop.com/p?utmost=1&size=2"),
      // :443 is NOT http's default port — a different endpoint, kept
      (5L, "http://api.example.com:443/v1", "http://api.example.com:443/v1"),
      (6L, "https://h.io:80/x", "https://h.io:80/x"))
    val out = cases.map(c => (c._1, c._2)).toDF("id", "url")
      .select($"id", TextAnalysis.canonicalizeUrl($"url").as("c"))
      .as[(Long, String)].collect().toMap
    cases.foreach { case (id, _, want) => assert(out(id) === want, s"case $id") }
  }

  test("tfidfTopTerms ranks rare-but-frequent terms first, k per doc") {
    val docs = Seq(
      (1L, "apple apple apple common"),
      (2L, "banana banana common"),
      (3L, "common common cherry")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'common' appears in every doc → idf 0; the doc-specific term wins
    assert(out === Map(1L -> "apple", 2L -> "banana", 3L -> "cherry"))
  }

  test("topBigramFraction flags repeated bigrams") {
    val docs = Seq(
      (1L, "spam ham spam ham spam"), // "spam ham"×2,"ham spam"×2 of 4
      (2L, "all words differ here now"), // every bigram unique
      (3L, "single")).toDF("doc_id", "text")
    val out = TextAnalysis.topBigramFraction(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((4L, 2L, 0.5)))
    assert(out(2L) === ((4L, 1L, 0.25)))
    assert(!out.contains(3L)) // no bigrams → no row, same as the oracle
  }

  test("repetitionStats: duplicate-unit and duplicate-char fractions") {
    val docs = Seq(
      (1L, "a b. c d. a b"),          // 3 units, "a b"×2 (len 3 each)
      (2L, "alpha. beta. gamma"),     // all distinct
      (3L, "x. x. x")                 // one unit ×3
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((3L, 0.333333, 0.666667))) // (3-2)/3, (2·3)/(3·3)
    assert(out(2L) === ((3L, 0.0, 0.0)))
    assert(out(3L) === ((3L, 0.666667, 1.0)))
  }

  test("charBigramLM: hand-computed cross-entropy on a two-doc corpus") {
    // corpus bigrams: "ab" (from doc 1), "ac" (doc 2); context 'a' total 2
    // → P = 1/2 each → per-doc nll = ln 2
    val docs = Seq((1L, "ab"), (2L, "ac")).toDF("doc_id", "text")
    val out = TextAnalysis.charBigramLM(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) === ((1L, 0.693147)))
    assert(out(2L) === ((1L, 0.693147)))
    // a perfectly predictable doc scores 0
    val aa = TextAnalysis.charBigramLM(Seq((1L, "aaaa")).toDF("doc_id", "text")).collect()
    assert(aa.head.getDouble(2) === 0.0)
    // docs under 2 chars emit no row
    assert(TextAnalysis.charBigramLM(Seq((1L, "x")).toDF("doc_id", "text")).isEmpty)
  }

  test("charBigramLM size gate: wide-charset corpus shuffle-joins the model, same results") {
    // synthetic wide-charset corpus — BMP codepoints spread far beyond
    // Latin (the CJK-class shape whose charset² gram space makes a
    // broadcast model a scale hazard). Results must be identical on both
    // sides of the gate; the fallback plan must NOT broadcast the model.
    val docs = (0 until 40).map { i =>
      val chars = (0 until 64).map(j => (0x4E00 + (i * 131 + j * 7) % 20000).toChar)
      (i.toLong, chars.mkString)
    }.toDF("doc_id", "text")
    val viaBroadcast = TextAnalysis.charBigramLM(docs, maxBroadcastGrams = Long.MaxValue)
    val a = viaBroadcast.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val aPlan = viaBroadcast.queryExecution.executedPlan.toString
    assert(aPlan.contains("BroadcastHashJoin"), s"small-model path should broadcast:\n$aPlan")
    // Above the gate the operator must not FORCE the broadcast hint (the
    // hint overrides Spark's size threshold — exactly the 10⁸-gram hazard).
    // A tiny test model would still be auto-broadcast by AQE's size check,
    // so disable the auto threshold to observe the hint alone: the gated
    // path must then plan a shuffle join, with identical results. The
    // DEFAULT gate must sniff this corpus's ~2.5k-char charset (6M possible
    // bigrams > 4M) and pick the shuffle side on its own.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaShuffle = TextAnalysis.charBigramLM(docs)
      val b = viaShuffle.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(a.toSeq === b.toSeq)
      assert(a.nonEmpty)
      val bPlan = viaShuffle.queryExecution.executedPlan.toString
      assert(!bPlan.contains("BroadcastHashJoin"), s"default gate must sniff wide charset:\n$bPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("chunkDocs: sliding windows with overlap, contained trailing start suppressed") {
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "x y")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(docs, size = 4, overlap = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3))).toMap
    // stride 3 → starts 0,3,6 for the 10-token doc; start 9 is suppressed
    // (9 + overlap 1 is not inside the doc — its tokens are all in chunk 2)
    assert(out.keySet === Set((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L)))
    assert(out((1L, 0L)) === (("a b c d", 4L)))
    assert(out((1L, 1L)) === (("d e f g", 4L)))   // overlap: shares 'd'
    assert(out((1L, 2L)) === (("g h i j", 4L)))
    assert(out((2L, 0L)) === (("x y", 2L)))        // short doc: one short chunk
    // every token appears in some chunk (no boundary loss)
    val covered = out.collect { case ((1L, _), (t, _)) => t.split(" ") }.flatten.toSet
    assert(covered === Set("a", "b", "c", "d", "e", "f", "g", "h", "i", "j"))
  }

  test("compressRatio separates repetitive from high-entropy text, deterministic") {
    val docs = Seq(
      (1L, "spam " * 200),                                   // highly repetitive
      (2L, (1 to 200).map(i => (i * 2654435761L).toHexString).mkString(" ")), // high entropy
      (3L, "")
    ).toDF("doc_id", "text")
    val out = docs.select($"doc_id", graft.plans.Exprs.compressRatio($"text").as("r"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) < 0.1, s"repetitive ${out(1L)}")
    assert(out(2L) > 0.5, s"entropy ${out(2L)}")
    assert(out(3L) === 1.0)
    val again = docs.select($"doc_id", graft.plans.Exprs.compressRatio($"text").as("r"))
      .as[(Long, Double)].collect().toMap
    assert(out === again)
  }

  test("c4Rules: signals and keep verdict on crafted docs") {
    val docs = Seq(
      (1L, Seq.fill(40)("hello").mkString(" ")),            // clean, 40×5-char words
      (2L, "too short"),                                     // < minWords
      (3L, Seq.fill(40)("ok").mkString(" ")),                // mean word len 2 < 3
      (4L, Seq.fill(40)("hello").mkString(" ") + " lorem ipsum x"),
      (5L, Seq.fill(40)("hello").mkString(" ") + " if (x) { y }")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Rules(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(out(1L) === ((40L, false, false, true)))
    assert(out(2L)._4 === false)
    assert(out(3L)._4 === false)
    assert(out(4L) === ((43L, true, false, false)))
    assert(out(5L)._3 === true && out(5L)._4 === false)
    // the keep verdict must vary on the real corpus (not a constant column)
    val kept = TextAnalysis.c4Rules(Tables.documents(spark, sfDir)).where($"keep").count()
    val total = Tables.documents(spark, sfDir).count()
    assert(kept > 0 && kept < total, s"$kept of $total")
  }

  test("multimodal sampleFrames: one row per sampled chunk, deterministic checksums") {
    val media = Multimodal.mediaRecords(spark, Tables.documents(spark, sfDir))
      .filter($"kind" === "video")
    val frames = Multimodal.sampleFrames(media, frameBytes = 100, everyN = 2).collect()
    assert(frames.nonEmpty)
    // frame indices step by everyN and every sampled frame carries bytes
    val byDoc = frames.groupBy(_.doc_id)
    byDoc.values.foreach { fs =>
      assert(fs.map(_.frame_idx).sorted.toSeq === fs.map(_.frame_idx).sorted.distinct.toSeq)
      fs.foreach(f => assert(f.frame_idx % 2 === 0 && f.frame_len > 0))
    }
    val again = Multimodal.sampleFrames(media, frameBytes = 100, everyN = 2).collect()
    assert(frames.map(_.checksum).sorted.toSeq === again.map(_.checksum).sorted.toSeq)
  }

  test("multimodal featurize: deterministic 16-bin byte histogram summing to ~1") {
    val feats = Multimodal.featurize(spark, Tables.documents(spark, sfDir)).collect()
    assert(feats.length === 500)
    feats.take(10).foreach { f =>
      assert(f.features.length === 16)
      assert(math.abs(f.features.sum - 1.0) < 1e-9)
      assert(f.byte_len > 0)
    }
    // deterministic across runs
    val again = Multimodal.featurize(spark, Tables.documents(spark, sfDir)).collect()
    assert(feats.map(_.checksum).toSeq === again.map(_.checksum).toSeq)
  }

  test("qualityGate keeps exactly the docs at/above the corpus quantile") {
    val docs = Tables.documents(spark, sfDir)
    val scored = TextAnalysis.qualityScore(docs)
    val thr = scored.selectExpr("percentile(quality, 0.25)").head().getDouble(0)
    val kept = TextAnalysis.qualityGate(docs, 0.25)
    assert(kept.count() === scored.where(col("quality") >= thr).count())
    assert(kept.count() >= (0.74 * scored.count()).toLong)
  }

  test("wordBigramLM matches hand-computed ML cross-entropy") {
    import spark.implicits._
    // model counts: "a b":2, "b a":1, "a c":1; ctx a: 3, b: 1
    // d1 = -(2·ln(2/3) + 1·ln(1))/3; d2 = -ln(1/3)
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.wordBigramLM(docs).orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq === Seq(1L, 2L))
    assert(out(0)._2 === 3L && out(1)._2 === 1L)
    assert(math.abs(out(0)._3 - (-(2 * math.log(2.0 / 3)) / 3)) < 1e-6, out(0).toString)
    assert(math.abs(out(1)._3 - (-math.log(1.0 / 3))) < 1e-6, out(1).toString)
    // single-token and empty docs emit no row
    val edge = TextAnalysis.wordBigramLM(
      Seq((3L, "lonely"), (4L, "  ")).toDF("doc_id", "text"))
    assert(edge.count() === 0)
  }

  test("domainStats groups by canonical host with per-domain totals") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three", "en", "HTTPS://WWW.News.Example.COM:443/a"),
      (2L, "four five", "de", "https://news.example.com/b?utm_source=x"),
      (3L, "six", "en", "http://Blog.Example.com:80/c"),
      (4L, "seven eight", "en", "http://blog.example.com:8080/d") // non-default port → distinct host
    ).toDF("doc_id", "text", "lang", "url")
    val stats = TextAnalysis.domainStats(docs).orderBy("host")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(stats === Array(
      ("blog.example.com", 1L, 3L, 1L, 1L),
      ("blog.example.com:8080", 1L, 11L, 2L, 1L),
      ("news.example.com", 2L, 22L, 5L, 2L)))
    // a corpus without a language column still profiles (n_langs = 0)
    // instead of throwing AnalysisException
    val noLang = TextAnalysis.domainStats(docs.drop("lang")).orderBy("host")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(noLang.map(_._5).toSeq === Seq(0L, 0L, 0L))
    assert(noLang.map(r => (r._1, r._2, r._3, r._4)) ===
      stats.map(r => (r._1, r._2, r._3, r._4)))
  }
}
