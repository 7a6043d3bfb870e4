package graft

import org.apache.spark.sql.functions._

/** Risk-statistic keys (VaR/ES, Sortino, pairs spread) — differentials
  * against naive Scala recomputation from the same sf0.001 bar store the
  * queries read, so the window rank / tail semantics are pinned
  * end-to-end, not just per-operator.
  */
class FinanceStatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val returns: Map[Long, Seq[(java.sql.Date, Double)]] = {
    val bars = RefBars.dailyBars(
      graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts"))
      .select($"user_id", $"d", $"close")
      .as[(Long, java.sql.Date, Double)].collect()
      .groupBy(_._1)
    bars.map { case (u, rows) =>
      val sorted = rows.sortBy(_._2.getTime)
      val rets = sorted.zip(sorted.drop(1)).collect {
        case ((_, _, prev), (_, d, cur)) if prev != 0.0 => (d, cur / prev - 1)
      }
      u -> rets.toSeq
    }
  }

  test("q_var_es matches naive discrete-rank tail on every entity") {
    val got = SparkEntry.queries("q_var_es")(spark, sfDir)
      .select($"user_id", $"n_days", $"var95", $"es95")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.nonEmpty)
    for ((u, rets) <- returns if rets.nonEmpty) {
      val sorted = rets.sortBy(r => (r._2, r._1.getTime)).map(_._2)
      val n = sorted.size
      val k = (n + 19) / 20
      val expVar = BigDecimal(sorted(k - 1)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val tail = sorted.take(k)
      val expEs = (tail.map(x => BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum
        / k).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val (_, nd, v, e) = got(u)
      assert(nd === n.toLong, s"user=$u")
      // both sides round at 6; tolerance absorbs double-vs-BigDecimal
      // division at a rounding boundary
      assert(math.abs(v - expVar.toDouble) < 2e-6, s"var user=$u")
      assert(math.abs(e - expEs.toDouble) < 2e-6, s"es user=$u")
    }
  }

  test("q_sortino penalizes only downside days (naive recomputation)") {
    val got = SparkEntry.queries("q_sortino")(spark, sfDir)
      .select($"user_id", $"sortino").as[(Long, Double)].collect().toMap
    for ((u, rets) <- returns if rets.size > 1) {
      val rs = rets.map(_._2)
      val n = rs.size.toDouble
      val mu = rs.sum / n
      val dd = math.sqrt(rs.map(r => if (r < 0) r * r else 0.0).sum / (n - 1))
      if (dd > 1e-12) {
        val exp = mu / dd * math.sqrt(252.0)
        assert(math.abs(got(u) - exp) < 1e-4, s"user=$u got=${got(u)} exp=$exp")
      }
    }
  }

  test("q_pairs_spread: OLS residuals mean ~0, z standardized, days align") {
    val rows = SparkEntry.queries("q_pairs_spread")(spark, sfDir)
      .select($"d", $"spread", $"z")
      .as[(java.sql.Date, Double, Double)].collect()
    assert(rows.nonEmpty)
    // aligned day set == intersection of the two entities' bar days
    val bars = RefBars.dailyBars(
      graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts"))
      .select($"user_id", $"d").as[(Long, java.sql.Date)].collect()
    val d1 = bars.filter(_._1 == 1L).map(_._2.toString).toSet
    val d2 = bars.filter(_._1 == 2L).map(_._2.toString).toSet
    assert(rows.map(_._1.toString).toSet === (d1 intersect d2))
    // OLS with intercept: residuals sum to ~0; z has mean ~0 and sd ~1
    val n = rows.length.toDouble
    val meanSpread = rows.map(_._2).sum / n
    assert(math.abs(meanSpread) < 1e-4, s"mean spread $meanSpread")
    val zs = rows.map(_._3)
    val zMean = zs.sum / n
    val zVar = zs.map(z => (z - zMean) * (z - zMean)).sum / (n - 1)
    assert(math.abs(zMean) < 1e-4)
    assert(math.abs(zVar - 1.0) < 1e-2, s"z variance $zVar")
  }
}
