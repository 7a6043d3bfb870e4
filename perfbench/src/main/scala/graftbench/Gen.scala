package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the benchmark's inputs, in the layout graft's
  * loaders read (`<dir>/<table>.parquet`) and with the column types of the
  * TPC-H-style orders and lineitem tables and the events, documents and
  * embeddings tables. Every value is a hash of (row id, seed, column salt), so the
  * output depends only on the seed and the scale — never on partitioning
  * or on the order tasks run in.
  *
  * Row counts follow the sf0.1 reference sizes: 600k lineitem, 150k
  * orders, 100k events over 30 days of January 2024, 5k documents and 2k
  * 64-dimensional embeddings, all scaled linearly by `sf / 0.1`.
  */
object Gen {

  final case class Written(rows: Long, bytes: Long)

  private val parts = 4

  /** Uniform double in [0, 1) from (id expression, seed, salt). */
  private def u(id: Column, seed: Long, salt: String): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(1L << 30)).cast("double") / (1L << 30).toDouble

  private def pick(id: Column, seed: Long, salt: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (pmod(xxhash64(id, lit(seed), lit(salt)), lit(values.size.toLong)) + 1).cast("int"))

  private def ri(id: Column, seed: Long, salt: String, n: Long): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(n))

  private def rows(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n, 1L, parts).toDF("id")

  private def dayTs(base: String, days: Column): Column =
    date_add(to_date(lit(base)), days.cast("int")).cast("timestamp_ntz")

  def scaled(base: Long, sf: Double): Long = math.max(1L, math.round(base * sf / 0.1))

  /** Dense uniform word list with a few very common function words, so
    * quality, stop-word and repetition statistics are not degenerate.
    */
  val vocab: Seq[String] = Seq("the", "a", "of", "and", "to", "in",
    "data", "table", "query", "join", "window", "merge", "spark", "stream",
    "batch", "filter", "key", "order", "sort", "scan", "hash", "group",
    "value", "row", "column", "vector", "agg", "part", "line", "customer",
    "fast", "slow", "big", "small", "price", "market", "trade", "index",
    "shard", "token", "model", "train", "score", "rank", "graph", "node",
    "edge", "path", "cache", "store")

  def events(spark: SparkSession, sf: Double, seed: Long): DataFrame = {
    val n = scaled(100000L, sf)
    val users = scaled(1500L, sf)
    val span = 30L * 86400L
    val id = col("id")
    rows(spark, n).select(
      id.as("event_id"),
      timestamp_micros((lit(1704067200L) * 1000000L +
        ((id.cast("double") + u(id, seed, "ts")) * (span.toDouble * 1e6 / n)).cast("long")))
        .cast("timestamp_ntz").as("ts"),
      ri(id, seed, "user", users).as("user_id"),
      pick(id, seed, "type", Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      round(u(id, seed, "value") * 560.21, 2).as("value"),
      concat(lit("{\"k\": "), ri(id, seed, "props", 100L).cast("string"), lit("}")).as("props"))
  }

  /** Documents with planted exact and near duplicates: 3% of docs copy an
    * earlier doc's token stream (a third of those verbatim, the rest with
    * ~8% of tokens replaced), so every dedup stage has real work.
    */
  def documents(spark: SparkSession, sf: Double, seed: Long): DataFrame = {
    val n = scaled(5000L, sf)
    val id = col("id")
    val words = array(vocab.map(lit): _*)
    val v = vocab.size
    def word(h: Column): Column =
      element_at(words, (floor(h * h * v) + 1).cast("int"))
    val copy = u(id, seed, "dup") < 0.03 && id > 0
    val tmpl = when(copy, id - 1 - pmod(xxhash64(id, lit(seed), lit("dt")), least(id, lit(50L))))
      .otherwise(id)
    val mut = when(!copy, lit(0.0)).when(u(id, seed, "exact") < 0.33, lit(0.0)).otherwise(lit(0.08))
    rows(spark, n).select(id, tmpl.as("t"), mut.as("mut"))
      .select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(
          sequence(lit(1), (lit(8) + pmod(xxhash64(col("t"), lit(seed), lit("len")), lit(90L))).cast("int")),
          i => when(u(concat_ws(":", col("id").cast("string"), i.cast("string")), seed, "m") < col("mut"),
              word(u(concat_ws(":", col("id").cast("string"), i.cast("string")), seed, "mw")))
            .otherwise(word(u(concat_ws(":", col("t").cast("string"), i.cast("string")), seed, "w"))))).as("text"),
        when(u(col("id"), seed, "lang") < 0.4, lit("en"))
          .otherwise(pick(col("id"), seed, "lang2", Seq("zh", "de", "fr", "es"))).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim float embeddings clustered around 10 label centroids, with 2%
    * near-copies of the previous vector.
    */
  def embeddings(spark: SparkSession, sf: Double, seed: Long): DataFrame = {
    val n = scaled(2000L, sf)
    val id = col("id")
    val src = when(u(id, seed, "edup") < 0.02 && id > 0, id - 1).otherwise(id)
    rows(spark, n).select(id, src.as("src"))
      .withColumn("label", ri(col("src"), seed, "label", 10L).cast("int"))
      .select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((u(concat_ws(":", col("label").cast("string"), j.cast("string")), seed, "c") - 0.5) * 0.35 +
            (u(concat_ws(":", col("src").cast("string"), j.cast("string")), seed, "e") - 0.5) * 0.45 +
            (u(concat_ws(":", col("id").cast("string"), j.cast("string")), seed, "n") - 0.5) * 0.01)
            .cast("float")).as("embedding"),
        col("label"))
  }

  /** The two TPC-H fact tables the benchmark's keys read; their foreign
    * keys range over the sf-scaled customer, part and supplier counts.
    */
  def tpch(spark: SparkSession, sf: Double, seed: Long): Map[String, DataFrame] = {
    val nCust = scaled(15000L, sf)
    val nSupp = scaled(1000L, sf)
    val nPart = scaled(20000L, sf)
    val nOrd = scaled(150000L, sf)
    val nLine = scaled(600000L, sf)
    val id = col("id")
    val orders = rows(spark, nOrd).select(
      id.as("o_orderkey"),
      ri(id, seed, "oc", nCust).as("o_custkey"),
      pick(id, seed, "os", Seq("O", "P", "F")).as("o_orderstatus"),
      round(u(id, seed, "op") * 498991.27 + 1001.91, 2).as("o_totalprice"),
      dayTs("1995-01-01", ri(id, seed, "od", 2404L)).as("o_orderdate"),
      pick(id, seed, "opr", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = rows(spark, nLine).select(
      ri(id, seed, "lo", nOrd).as("l_orderkey"),
      ri(id, seed, "lp", nPart).as("l_partkey"),
      ri(id, seed, "ls", nSupp).as("l_suppkey"),
      (ri(id, seed, "ln", 7L) + 1).cast("int").as("l_linenumber"),
      (ri(id, seed, "lq", 50L) + 1).cast("double").as("l_quantity"),
      round(u(id, seed, "le") * 104099.23 + 900.68, 2).as("l_extendedprice"),
      (ri(id, seed, "ld", 11L).cast("double") / 100.0).as("l_discount"),
      (ri(id, seed, "lt", 9L).cast("double") / 100.0).as("l_tax"),
      pick(id, seed, "lr", Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, seed, "lst", Seq("F", "O")).as("l_linestatus"),
      dayTs("1995-01-02", ri(id, seed, "lsd", 2498L)).as("l_shipdate"))
    Map("orders" -> orders, "lineitem" -> lineitem)
  }

  def write(tables: Map[String, DataFrame], dir: String): Written =
    Par.run(tables.toSeq.sortBy(_._1).map { case (name, df) => () =>
      val path = s"$dir/$name.parquet"
      df.write.mode("overwrite").parquet(path)
      Written(df.sparkSession.read.parquet(path).count(), Files.bytes(new java.io.File(path)))
    }).foldLeft(Written(0, 0))((a, b) => Written(a.rows + b.rows, a.bytes + b.bytes))

  /** Salt for curation copy `k`: copy 0 keeps the base tokens, every other
    * copy gets a seed-derived suffix, so copies share no shingles.
    */
  def salt(seed: Long, k: Int): String =
    if (k == 0) "" else "_" + java.lang.Long.toString(
      (scala.util.hashing.MurmurHash3.productHash((seed, k)) & 0x7fffffffL), 36)

  /** The `mult`× curation corpus, as ScaleBench builds it: copy k rewrites
    * each token t to t + salt(k), and rotates each embedding by k with a
    * per-copy ±1 sign pattern. Norms and every within-copy relation are
    * preserved exactly, so duplicate density stays constant as the corpus
    * grows.
    */
  def curationCorpus(docs: DataFrame, emb: DataFrame, mult: Int, seed: Long): Map[String, DataFrame] = {
    val nDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val nEmb = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val d = (0 until mult).map { k =>
      val s = salt(seed, k)
      val text = if (k == 0) col("text")
        else array_join(transform(split(col("text"), " "), t => concat(t, lit(s))), " ")
      docs.select((col("doc_id") + lit(k * nDoc)).as("doc_id"), text.as("text"),
        col("lang"), col("source")).withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _)
    val e = (0 until mult).map { k =>
      val rotated = if (k == 0) col("embedding")
        else expr(s"transform(sequence(0, ${dim - 1}), i -> CAST(" +
          s"embedding[(i + $k) % $dim] * " +
          s"(CASE WHEN pmod(hash(i, ${seed}L, $k), 2) = 0 THEN 1.0 ELSE -1.0 END) AS FLOAT))")
      emb.select((col("vec_id") + lit(k * nEmb)).as("vec_id"), rotated.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    Map("documents" -> d.repartition(parts), "embeddings" -> e.repartition(parts))
  }
}

object Files {
  def bytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
