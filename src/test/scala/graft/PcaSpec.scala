package graft

import graft.operators.Pca
import org.apache.spark.sql.functions._

class PcaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs: Array[Array[Double]] =
    Tables.embeddings(spark, sfDir).select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))

  test("moments equals a plain-double driver recount of mean and covariance") {
    val emb = Tables.embeddings(spark, sfDir)
    val (n, mean, cov) = Pca.moments(emb, "embedding")
    assert(n === vecs.length.toLong)
    val d = vecs(0).length
    val refMean = Array.tabulate(d)(i => vecs.map(_(i)).sum / n)
    refMean.zip(mean).foreach { case (r, m) => assert(math.abs(r - m) < 1e-6) }
    // spot-check a band of covariance cells against the naive formula
    for (i <- 0 until d by 7; j <- 0 to i by 5) {
      val ref = vecs.map(v => (v(i) - refMean(i)) * (v(j) - refMean(j))).sum / n
      assert(math.abs(ref - cov(i)(j)) < 1e-6, s"cov($i,$j): ${cov(i)(j)} vs $ref")
    }
  }

  test("eigenSym reproduces A·v = λ·v on the real covariance and yields an orthonormal basis") {
    val (_, _, cov) = Pca.moments(Tables.embeddings(spark, sfDir), "embedding")
    val (values, vectors) = Pca.eigenSym(cov)
    val d = cov.length
    // eigen equation for the top 4 components
    for (c <- 0 until 4) {
      val v = vectors(c)
      val av = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      av.zip(v).foreach { case (a, x) =>
        assert(math.abs(a - values(c) * x) < 1e-9, s"component $c eigen equation")
      }
    }
    // orthonormality
    for (a <- 0 until 4; b <- 0 until 4) {
      val dot = vectors(a).zip(vectors(b)).map { case (x, y) => x * y }.sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"<v$a, v$b> = $dot")
    }
    // descending order, trace preserved
    assert(values.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    val trace = (0 until d).map(i => cov(i)(i)).sum
    assert(math.abs(values.sum - trace) < 1e-9, "eigenvalue sum vs trace")
  }

  test("q_pca_project matches a driver-side projection; pc variances equal the eigenvalues") {
    val emb = Tables.embeddings(spark, sfDir)
    val got = SparkEntry.queries("q_pca_project")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap

    val (n, mean, cov) = Pca.moments(emb, "embedding")
    val (values, vectors) = Pca.eigenSym(cov)
    val ids = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    assert(got.size === ids.length)
    val proj = ids.map { case (id, v) =>
      def pc(c: Int) = v.zip(vectors(c)).map { case (x, w) => x * w }.sum -
        mean.zip(vectors(c)).map { case (m, w) => m * w }.sum
      id -> (pc(0), pc(1))
    }.toMap
    proj.foreach { case (id, (p1, p2)) =>
      val (g1, g2) = got(id)
      // the query projects float-cast components; allow float-precision slack
      assert(math.abs(g1 - p1) < 1e-3, s"vec $id pc1: $g1 vs $p1")
      assert(math.abs(g2 - p2) < 1e-3, s"vec $id pc2: $g2 vs $p2")
    }
    // population variance of each projection equals its eigenvalue
    Seq(0, 1).foreach { c =>
      val xs = proj.values.map(p => if (c == 0) p._1 else p._2).toArray
      val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / n
      assert(math.abs(v - values(c)) < 1e-6, s"pc${c + 1} variance $v vs ${values(c)}")
    }
  }
}
