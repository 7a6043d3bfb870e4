package graft

import graft.operators.Skew
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("RewriteWindowTopK: the window row_number idiom gets the heap operator") {
    Graft.enable(spark)
    val orders = Tables.orders(spark, sfDir).select("o_custkey", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    val q = orders.withColumn("rn", row_number().over(w)).where($"rn" <= 3)

    val optimized = q.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("GroupTopK"), optimized)

    // and the rewritten plan computes the same result as the un-rewritten one
    val expected = {
      // fresh plan in a session without the rule: emulate by collecting from
      // a RewriteWindowTopK-free computation (distinct path: sort + slice)
      orders.collect().groupBy(_.getLong(0)).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(3).toSeq
      }.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val got = q.select("o_custkey", "o_orderkey").as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("RewriteWindowTopK: rank-limit inside a conjunction rewrites, extra preds survive") {
    Graft.enable(spark)
    val orders = Tables.orders(spark, sfDir).select("o_custkey", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    val q = orders.withColumn("rn", row_number().over(w))
      .where($"rn" <= 3 && $"o_totalprice" > 50000.0)
    assert(q.queryExecution.optimizedPlan.toString().contains("GroupTopK"))
    val expected = orders.collect().groupBy(_.getLong(0)).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(3)
        .filter(_.getDouble(2) > 50000.0)
    }.map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = q.select("o_custkey", "o_orderkey").as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("RewriteWindowTopK leaves non-top-k window queries alone") {
    Graft.enable(spark)
    val orders = Tables.orders(spark, sfDir)
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate")
    // lag over a window is not a rank-filter pattern
    val q = orders.withColumn("prev", lag($"o_totalprice", 1).over(w)).where($"prev" > 0)
    assert(!q.queryExecution.optimizedPlan.toString().contains("GroupTopK"))
  }

  test("SQL surface: every graft_* function resolves and evaluates") {
    graft.plans.GraftFunctions.register(spark)
    Seq((1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      .toDF("id", "a", "b").createOrReplaceTempView("t")
    val r = spark.sql(
      """SELECT graft_dot(a, b) AS d,
        |       graft_dot_int8(cast(array(1, 2) as array<tinyint>),
        |                      cast(array(3, 4) as array<tinyint>)) AS di,
        |       graft_quantize_int8(a).s1 AS s1,
        |       graft_hyperplane_lsh(a, 8) AS sig,
        |       size(graft_minhash(array('ab','bc'), 16)) AS nsig,
        |       graft_simhash(array('x','y')) AS sh,
        |       size(graft_winnow('hello world hello', 4, 3)) AS nw,
        |       graft_char_diversity('ab') AS cd,
        |       graft_char_ngrams('abc', 2) AS cng,
        |       graft_compress_ratio('xyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxy') AS cr,
        |       graft_sig_agreement(cast(array(1, 2, 3) as array<bigint>),
        |                           cast(array(1, 9, 3) as array<bigint>)) AS sa,
        |       graft_bpe_encode('lowest', array(array('l', 'o'), array('lo', 'w'))) AS bp
        |FROM t""".stripMargin).head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getLong(1) === 11L) // 1*3 + 2*4
    assert(r.getLong(2) > 0L)
    assert(r.getInt(4) === 16)
    assert(r.getInt(6) > 0)
    assert(r.getDouble(7) === 0.5)
    assert(r.getSeq[String](8) === Seq("ab", "bc"))
    assert(r.getDouble(9) > 0.0 && r.getDouble(9) < 1.0)
    assert(r.getInt(10) === 2)
    assert(r.getSeq[String](11) === Seq("low", "e", "s", "t", "</w>"))
  }

  test("graft_bucket_screen: conservative superset of true pairs, zero vectors never pair") {
    graft.plans.GraftFunctions.register(spark)
    // 6 members: two near-identical (0,5), one orthogonal-ish (1), a
    // negative twin of 0 (2), a zero vector (3), and a moderate match (4)
    val vecs: Map[Long, Array[Float]] = Map(
      0L -> Array(1f, 0f, 0.1f, 0f), 5L -> Array(0.99f, 0.01f, 0.1f, 0f),
      1L -> Array(0f, 1f, 0f, 0f), 2L -> Array(-1f, 0f, -0.1f, 0f),
      3L -> Array(0f, 0f, 0f, 0f), 4L -> Array(0.7f, 0.7f, 0f, 0f))
    vecs.toSeq.map { case (id, v) => (id, v) }.toDF("id", "v")
      .createOrReplaceTempView("bs")
    val thr = 0.5
    val got = spark.sql(
      s"""SELECT explode(graft_bucket_screen(collect_list(
         |  struct(id, sqrt(graft_dot(v, v)) AS nrm,
         |         graft_quantize_int8(v).qscale AS qscale,
         |         graft_quantize_int8(v).codes AS codes,
         |         graft_quantize_int8(v).s1 AS s1)), $thr)) AS p
         |FROM bs""".stripMargin)
      .select("p.id_a", "p.id_b").as[(Long, Long)].collect().toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na * nb == 0) 0.0 else d / (na * nb)
    }
    val truth = (for {
      a <- vecs.keys; b <- vecs.keys if a < b
      if cos(vecs(a), vecs(b)) > thr
    } yield (a, b)).toSet
    assert(truth.subsetOf(got), s"screen dropped true pairs: ${truth -- got}")
    assert(got.forall { case (a, b) => a < b })
    assert(got.forall { case (a, b) => a != 3L && b != 3L }, "zero vector paired")
    // the screen is a SCREEN: admitted false positives must still be near
    // the threshold (within the int8 error bound), not arbitrary
    assert(got.forall { case (a, b) => cos(vecs(a), vecs(b)) > thr - 0.05 }, got)
  }

  test("graft_text_stats equals the regex formulation, edge cases and real corpus") {
    graft.plans.GraftFunctions.register(spark)
    val edges = Seq(
      "", " ", "   ", "\t", " \tleading tab", "trailing tab\t ",
      "the and of to in is a", "The AND Of tO iN Is A",
      "the_1 and2 a_ _a thethe a a a", "a", "x",
      "the,and.of;to", "no stops here whatsoever",
      "multi\n\nline\r\n textwith\fodd ws",
      "punct!@#$%^&*()_+ only", "héllo wörld — em-dash… ünïcode",
      "日本語のテキスト the test", "emoji 😀 pair 𝕏 astral",
      "  double  spaced  ", "tab\tsep\tvals", "a  a  a")
    val docs = Tables.documents(spark, sfDir).select(col("text")).as[String].collect().toSeq
    (edges ++ docs).zipWithIndex.toDF("text", "i").createOrReplaceTempView("ts")
    val diff = spark.sql(
      """SELECT i, text, graft_text_stats(text) AS k,
        |  size(split(trim(text), '\\s+')) AS toks,
        |  size(regexp_extract_all(text, '[^a-zA-Z0-9\\s]', 0)) AS punct,
        |  size(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b', 0)) AS stops,
        |  length(text) AS chars
        |FROM ts""".stripMargin)
      .where(col("k.toks") =!= col("toks") || col("k.punct") =!= col("punct") ||
        col("k.stops") =!= col("stops") || col("k.chars") =!= col("chars"))
      .select("i", "text", "k.toks", "toks", "k.punct", "punct",
        "k.stops", "stops", "k.chars", "chars")
      .collect()
    assert(diff.isEmpty, diff.take(5).mkString("\n"))
  }

  test("saltedJoin equals the plain join result") {
    val fact = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey", "l_quantity")
    val dim = Tables.part(spark, sfDir).withColumnRenamed("p_partkey", "l_partkey")
      .select("l_partkey", "p_brand")
    val plain = fact.join(dim, "l_partkey")
      .groupBy("p_brand").agg(sum($"l_quantity").as("q"))
      .as[(String, Double)].collect().toMap
    val salted = Skew.saltedJoin(fact, dim, "l_partkey", 8)
      .groupBy("p_brand").agg(sum($"l_quantity").as("q"))
      .as[(String, Double)].collect().toMap
    assert(salted === plain)
  }
}
