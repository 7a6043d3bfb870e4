package graft.operators

import graft.plans.Exprs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PCA over the embedding column — the whitening /
  * dimensionality-reduction step a semantic-dedup or clustering pass runs
  * before cosine geometry (reference: the embedding-space operators around
  * Similarity.scala; the technique is Pearson 1901 via the covariance
  * eigenbasis).
  *
  * Scale shape: the data pass is ONE single-stage treeAggregate (the
  * Classifier GD pattern) producing d + d(d+1)/2 + 1 fixed-point moments —
  * model-sized for any embedding dim worth reducing (d = 64 → 2,145
  * longs). Eigen-decomposition runs driver-side on the d×d covariance
  * (cyclic Jacobi, deterministic); projection is scan-speed through the
  * codegen'd dot kernel against broadcast literal component vectors — no
  * shuffle anywhere, so the operator is a map over the corpus at any row
  * count.
  */
object Pca {

  /** Fixed-point scale for the moment accumulators: embedding components
    * are O(1), so ×10⁹ keeps nine exact fractional digits per term with
    * overflow headroom for ~10⁹ fit rows (9.2×10¹⁸ / 10⁹ ≈ 10¹⁰ terms of
    * magnitude ≤ 1) — fit on a hash sample past that, like the
    * classifier's training cap. Exact, commutative addition makes the
    * moments bit-identical under any partitioning.
    */
  private val Fp = 1e9

  /** Row count, mean vector and population covariance from one
    * treeAggregate over `vecCol` (array<float>).
    */
  def moments(df: DataFrame, vecCol: String): (Long, Array[Double], Array[Array[Double]]) = {
    val d = df.select(size(col(vecCol))).head().getInt(0)
    val nTri = d * (d + 1) / 2
    val acc = df.select(col(vecCol)).rdd
      .map(_.getSeq[Float](0).toArray)
      .treeAggregate(new Array[Long](1 + d + nTri))(
        seqOp = { (a, v) =>
          a(0) += 1L
          var i = 0
          var t = 1 + d
          while (i < d) {
            val vi = v(i).toDouble
            a(1 + i) += math.rint(vi * Fp).toLong
            var j = 0
            while (j <= i) {
              a(t) += math.rint(vi * v(j).toDouble * Fp).toLong
              j += 1; t += 1
            }
            i += 1
          }
          a
        },
        combOp = { (x, y) =>
          var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x
        })
    val n = acc(0)
    require(n > 1, s"PCA needs at least 2 rows, got $n")
    val mean = Array.tabulate(d)(i => acc(1 + i) / Fp / n)
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    var t = 1 + d
    while (i < d) {
      var j = 0
      while (j <= i) {
        val c = acc(t) / Fp / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    (n, mean, cov)
  }

  /** Eigen-decomposition of a symmetric matrix by cyclic Jacobi rotations —
    * deterministic (fixed sweep order, fixed convergence bound), O(d³) per
    * sweep on the driver where d is the embedding dim. Returns
    * (eigenvalues, eigenvectors-as-rows), sorted by eigenvalue descending,
    * each vector sign-normalized so its largest-magnitude component is
    * positive (the eigenbasis is otherwise sign-ambiguous and two runs
    * could ship mirrored projections).
    */
  def eigenSym(m: Array[Array[Double]], maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val values = order.map(i => a(i)(i)).toArray
    val vectors = order.map { i =>
      val vec = Array.tabulate(d)(k => v(k)(i))
      val m = vec.indices.maxBy(k => math.abs(vec(k)))
      if (vec(m) < 0) vec.map(x => -x) else vec
    }.toArray
    (values, vectors)
  }

  /** Fit on `fit` (pass a hash sample to bound the accumulator at extreme
    * row counts), project every row of `df`: pcᵢ = (x − μ)·vᵢ, evaluated
    * as x·vᵢ − μ·vᵢ so the projection is one codegen'd dot against a
    * broadcast literal per component — scan speed, zero shuffle. Output:
    * idCol, pc1..pck.
    */
  def fitProject(df: DataFrame, fit: DataFrame, idCol: String, vecCol: String,
                 k: Int): DataFrame = {
    val (_, mean, cov) = moments(fit, vecCol)
    val (_, vectors) = eigenSym(cov)
    val pcs = (0 until k).map { i =>
      val comp = vectors(i)
      val shift = comp.zip(mean).map { case (a, b) => a * b }.sum
      round(Exprs.dot(col(vecCol), lit(comp.map(_.toFloat))) - lit(shift), 6)
        .as(s"pc${i + 1}")
    }
    df.select(col(idCol) +: pcs: _*)
  }
}
