package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the classic Sennrich et al. worked example: est-family pairs dominate
  private val counts = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("trainMerges reproduces the hand-worked merge order on the classic corpus") {
    val merges = Bpe.trainMerges(counts, 3)
    // (e,s) appears in newest(6)+widest(3)=9 — the max; then es+t, then est+</w>
    assert(merges === Vector(("e", "s"), ("es", "t"), ("est", "</w>")))
  }

  test("trainMerges is deterministic and tie-breaks lexicographically") {
    val m1 = Bpe.trainMerges(counts, 10)
    val m2 = Bpe.trainMerges(counts.reverse, 10)
    assert(m1 === m2) // input order must not matter
    // all-tied pair counts: "ab" and "cd" both once — (a,b) < (c,d) wins first
    val tied = Bpe.trainMerges(Seq(("ab", 1L), ("cd", 1L)), 1)
    assert(tied === Vector(("a", "b")))
  }

  test("encodeWord round-trips: concatenated pieces spell the word + marker") {
    val merges = Bpe.trainMerges(counts, 8)
    for (w <- Seq("low", "lowest", "newest", "unseen", "xyz")) {
      val pieces = Bpe.encodeWord(w, merges)
      assert(pieces.mkString === w.map(_.toString).mkString + "</w>", s"word=$w pieces=$pieces")
    }
  }

  test("more merges never increase a word's piece count") {
    val m4 = Bpe.trainMerges(counts, 4)
    val m8 = Bpe.trainMerges(counts, 8)
    for (w <- Seq("low", "lower", "newest", "widest", "west"))
      assert(Bpe.encodeWord(w, m8).length <= Bpe.encodeWord(w, m4).length, w)
  }

  test("pieceStats: per-doc word totals match and piece totals are bounded") {
    val docs = Seq(
      (1L, "low low lower"),
      (2L, "newest widest"),
      (3L, "low newest newest")).toDF("doc_id", "text")
    val out = Bpe.pieceStats(docs, numMerges = 8).orderBy("doc_id")
      .as[(Long, Long, Long)].collect()
    assert(out.map(r => (r._1, r._2)) === Array((1L, 3L), (2L, 2L), (3L, 3L)))
    // each word is between 1 piece and len+1 pieces
    val lens = Map(1L -> "lowlowlower", 2L -> "newestwidest", 3L -> "lownewestnewest")
    out.foreach { case (id, nWords, nPieces) =>
      assert(nPieces >= nWords, s"doc $id")
      assert(nPieces <= lens(id).length + nWords, s"doc $id")
    }
    // with enough merges the corpus' own frequent words collapse to few pieces:
    // "low</w>" is a single piece after (l,o),(lo,w),(low,</w>) fire
    val merges = Bpe.trainMerges(
      Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)), 10)
    assert(Bpe.encodeWord("low", merges).length <= 2)
  }

  test("wordCounts aggregates corpus tokens (the only distributed pass)") {
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val wc = Bpe.wordCounts(docs).as[(String, Long)].collect().toMap
    assert(wc === Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }

  test("BpeEncode expression matches encodeWord differentially (incl. multibyte)") {
    val merges = Bpe.trainMerges(counts :+ ("hélloé", 4L) :+ ("a😀b", 2L), 12)
    val words = Seq("low", "lowest", "newest", "unseen", "xyz", "hélloé",
      "a😀b", "😀😀", "")
    val got = words.toDF("w")
      .select(col("w"), graft.plans.Exprs.bpeEncode(col("w"), merges).as("p"))
      .as[(String, Seq[String])].collect().toMap
    for (w <- words)
      assert(got(w) === Bpe.encodeWord(w, merges), s"word=$w")
  }

  test("pieceStats: a non-binding cap reproduces the uncapped result exactly") {
    val docs = Seq(
      (1L, "low low lower rareword"),
      (2L, "newest widest anotherrare"),
      (3L, "low newest newest")).toDF("doc_id", "text")
    val uncapped = Bpe.pieceStats(docs, numMerges = 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // cap present but not binding (6 distinct words ≤ maxVocab = 6): the
    // collected table, hence the trained merges and every total, is
    // unchanged — the cap machinery itself is a no-op until it has to bite
    val roomy = Bpe.pieceStats(docs, numMerges = 8, minCount = 1, maxVocab = 6)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(roomy === uncapped)
  }

  test("pieceStats with a BINDING cap: every token still counted, OOV encoded exactly") {
    val docs = Seq(
      (1L, "low low lower rareword"),
      (2L, "newest widest anotherrare"),
      (3L, "low newest newest")).toDF("doc_id", "text")
    // minCount = 2 keeps only {low: 3, newest: 3} as driver state; the
    // expected totals re-derive from first principles: train on the capped
    // table, encode EVERY token (in-vocab and OOV alike) with those merges
    val cappedCounts = Bpe.wordCounts(docs).where(col("n") >= 2)
      .as[(String, Long)].collect().toSeq
    val merges = Bpe.trainMerges(cappedCounts, 8)
    val expected = docs.as[(Long, String)].collect().map { case (id, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (id, toks.length.toLong, toks.map(w => Bpe.encodeWord(w, merges).length.toLong).sum)
    }.sortBy(_._1)
    val got = Bpe.pieceStats(docs, numMerges = 8, minCount = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got === expected)
    // a maxVocab = 1 cap pushes all but one word through the compiled
    // fallback; token counts must still cover every word (left join —
    // rows are never dropped)
    val tiny = Bpe.pieceStats(docs, numMerges = 8, maxVocab = 1)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(tiny.map(r => (r._1, r._2)) === expected.map(r => (r._1, r._2)))
    tiny.foreach { case (_, nWords, nPieces) => assert(nPieces >= nWords) }
  }

  test("TokenizerQuality: compiled ≡ driver on the full vocab, exact round-trips") {
    val docs = Seq(
      (1L, "low low lower rareword newest"),
      (2L, "newest widest anotherrare west"),
      (3L, "low newest newest unseenish")).toDF("doc_id", "text")
    // maxVocab = 4 forces the corpus tail through the compiled OOV
    // encoders, so the scorecard measures BOTH apply paths
    val rows = graft.operators.TokenizerQuality
      .score(docs, numMerges = 8, vocabSize = 40, maxVocab = 4)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("bpe", "unigram"))
    val nTokens = 13L
    val nDistinct = 8L
    for ((name, r) <- rows) {
      assert(r.getAs[Long]("n_words") === nTokens, name)
      assert(r.getAs[Long]("n_distinct_words") === nDistinct, name)
      assert(r.getAs[Long]("vocab_size") === 4L, name)
      assert(r.getAs[Long]("oov_words") === nDistinct - 4L, name)
      // the two health invariants the scorecard exists to surface:
      // every distinct word round-trips through the compiled encoder,
      // and the compiled encoder agrees with the driver encoder on
      // EVERY training-vocab word
      assert(r.getAs[Long]("roundtrip_exact") === nDistinct, name)
      assert(r.getAs[Long]("vocab_agree") === 4L, name)
      // compression: pieces never fewer than words
      assert(r.getAs[Long]("n_pieces") >= nTokens, name)
    }
  }
}
