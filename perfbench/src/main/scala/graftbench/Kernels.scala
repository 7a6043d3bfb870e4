package graftbench

import graft.plans.{Exprs, GroupTopK}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fixed-input throughput of graft's compiled kernels (`graft.plans`):
  * rows per second of each kernel over a cached curation corpus that does
  * not depend on the run's seed. Each probe fully consumes the kernel's
  * output through a hash sum; the figure is the median of three repeats.
  */
object Kernels {
  val baseSf = 0.01
  val mult = 10
  val reps = 3

  private def timed(df: DataFrame, out: Column): Double = {
    val t0 = System.nanoTime()
    df.select(xxhash64(out).as("h")).agg(sum(col("h").cast("decimal(38,0)"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def probe(spark: SparkSession): Map[String, (Double, String)] = {
    val corpus = Gen.curationCorpus(
      Gen.documents(spark, baseSf, Workloads.DataSeed),
      Gen.embeddings(spark, baseSf, Workloads.DataSeed), mult, 1L)
    val docs = corpus("documents").withColumn("tokens", split(col("text"), " "))
      .persist(StorageLevel.MEMORY_ONLY)
    val emb = corpus("embeddings").persist(StorageLevel.MEMORY_ONLY)
    try {
      val nDocs = docs.count().toDouble
      val nEmb = emb.count().toDouble
      val probes: Seq[(String, () => Double, Double)] = Seq(
        ("graft_minhash", () => timed(docs, Exprs.minhash(col("tokens"), 64)), nDocs),
        ("graft_simhash", () => timed(docs, Exprs.simhash(col("tokens"))), nDocs),
        ("graft_char_ngrams", () => timed(docs, Exprs.charNgrams(col("text"), 5)), nDocs),
        ("graft_text_stats", () => timed(docs, Exprs.textStats(col("text"))), nDocs),
        ("graft_winnow", () => timed(docs, Exprs.winnow(col("text"), 8, 4)), nDocs),
        ("graft_dot", () => timed(emb, Exprs.dot(col("embedding"), col("embedding"))), nEmb),
        ("topKPerKey", () => {
          val t0 = System.nanoTime()
          Checksum.of(GroupTopK.topKPerKey(emb.select("label", "vec_id"), Seq("label"),
            Seq(col("vec_id").desc), 10))
          (System.nanoTime() - t0) / 1e9
        }, nEmb))
      probes.map { case (name, f, rows) =>
        f() // warm
        s"plans.${name}_rows_per_s" -> (rows / Stats.median((1 to reps).map(_ => f())), "rows/s")
      }.toMap
    } finally {
      docs.unpersist(true)
      emb.unpersist(true)
    }
  }
}
