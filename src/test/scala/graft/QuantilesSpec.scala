package graft

import graft.operators.Quantiles
import graft.plans.DoubleSortBits
import org.apache.spark.sql.functions._

/** Bounded-memory exact quantiles: the bit encoding's order contract, the
  * radix bisection against a sorted-array reference (negatives,
  * duplicates, single-element groups), and end-to-end agreement with the
  * built-in exact percentile on the events table.
  */
class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  test("DoubleSortBits: unsigned-order-preserving, exact round-trip") {
    val rnd = new scala.util.Random(7)
    val vs = Seq(Double.NegativeInfinity, -1e300, -2.5, -1.0, -0.0, 0.0,
      Double.MinPositiveValue, 1.0, 2.5, 1e300, Double.PositiveInfinity) ++
      Seq.fill(200)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(6)))
    for (v <- vs) assert(DoubleSortBits.decode(DoubleSortBits.encode(v)) === v ||
      (v == 0.0 && 1 / DoubleSortBits.decode(DoubleSortBits.encode(v)) == 1 / v))
    val sortedByDouble = vs.sorted
    val sortedByBits = vs.sortBy(v => DoubleSortBits.encode(v) ^ Long.MinValue) // unsigned order
    assert(sortedByBits === sortedByDouble)
  }

  test("quantileCont equals the sorted array's order statistics on random data with negatives and dupes") {
    val rnd = new scala.util.Random(11)
    val data = (for {
      g <- Seq("a", "b", "c")
      _ <- 1 to (if (g == "c") 1 else 500)
    } yield (g, if (rnd.nextBoolean()) rnd.nextGaussian() * 100 else rnd.nextInt(5).toDouble - 2))
    val df = data.toDF("k", "v").repartition(7)
    val byKey = data.groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).sorted.toIndexedSeq }
    val got = Quantiles.quantileCont(df, "k", "v", Seq(0.0 -> "q0", 0.5 -> "q50", 1.0 -> "q100"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    for ((k, vs) <- byKey) {
      // the median of an even count is the symmetric lerp of the middle pair
      val mid = 0.5 * (vs.length - 1)
      val (lo, hi) = (vs(math.floor(mid).toInt), vs(math.ceil(mid).toInt))
      val median = if (lo == hi) lo else 0.5 * lo + 0.5 * hi
      assert(got(k) === ((vs.head, median, vs.last)), s"group $k")
    }
  }

  test("quantileCont matches the built-in exact percentile on events, bit for bit") {
    val ev = Fns.eventsNorm(spark, sfDir)
    val builtin = ev.groupBy(col("event_type").as("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val scalable = Quantiles.quantileCont(ev, "event_type", "value",
        Seq(0.5 -> "p50", 0.95 -> "p95"))
      .select(col("event_type"), round(col("p50"), 6).as("p50"), round(col("p95"), 6).as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(scalable === builtin)
  }

  test("NULL group keys and infinite values match the built-in percentile") {
    val df = Seq(
      (Some("g"), 1.0), (Some("g"), 2.0), (Some("g"), Double.PositiveInfinity),
      (None, 5.0), (None, 7.0), (None, 9.0))
      .toDF("k", "v").select($"k", $"v")
    val builtin = df.groupBy($"k")
      .agg(expr("percentile(v, 0.5)").as("p50"), expr("percentile(v, 1.0)").as("p100"))
      .collect().map(r => Option(r.getString(0)) -> (r.getDouble(1), r.getDouble(2))).toMap
    val got = Quantiles.quantileCont(df, "k", "v", Seq(0.5 -> "p50", 1.0 -> "p100"))
      .collect().map(r => Option(r.getString(0)) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got === builtin)
    // the NULL group is a real row and q=1.0 on the +Inf group is +Inf,
    // not Inf - Inf = NaN
    assert(got(None) === ((7.0, 9.0)))
    assert(got(Some("g"))._2 === Double.PositiveInfinity)
  }

  test("randomized differential: quantileCont equals the sorted-array reference over seeds") {
    for (seed <- Seq(3, 17, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 200 + rnd.nextInt(300)
      // mix of continuous values, heavy duplicates, negatives and exact zeros
      val vals = (1 to n).map { _ =>
        rnd.nextInt(4) match {
          case 0 => rnd.nextGaussian() * 1000
          case 1 => rnd.nextInt(10).toDouble
          case 2 => -rnd.nextInt(5).toDouble
          case _ => 0.0
        }
      }
      val df = vals.map(("g", _)).toDF("k", "v").repartition(1 + rnd.nextInt(8))
      val qs = Seq(0.0 -> "q0", 0.25 -> "q25", 0.5 -> "q50", 0.77 -> "q77", 1.0 -> "q100")
      val got = Quantiles.quantileCont(df, "k", "v", qs).head()
      val sorted = vals.sorted.toIndexedSeq
      qs.zipWithIndex.foreach { case ((q, _), i) =>
        val pos = q * (n - 1)
        val lo = math.floor(pos).toInt
        val hi = math.ceil(pos).toInt
        val expect = if (lo == hi) sorted(lo)
          else { val f = pos - lo; (1.0 - f) * sorted(lo) + f * sorted(hi) }
        assert(got.getDouble(i + 1) === expect, s"seed $seed q $q")
      }
    }
  }

  test("robustStats: median/MAD/outlier-count against a hand-computed reference") {
    // group g: values 1..9 plus one wild outlier. med = 5 (of 1..9,1000 →
    // 10 values: med = (5+6)/2 = 5.5); absdevs from 5.5: 0.5..4.5 ×2, 994.5
    // → MAD = interpolate sorted absdevs
    val vals = (1 to 9).map(_.toDouble) :+ 1000.0
    val df = vals.map(("g", _)).toDF("k", "v")
    val row = Quantiles.robustStats(df, "k", "v").head()
    val med = 5.5
    val absdevs = vals.map(v => math.abs(v - med)).sorted
    val pos = 0.5 * (absdevs.length - 1)
    val mad = absdevs(pos.toInt) + (pos - pos.toInt) *
      (absdevs(pos.toInt + 1) - absdevs(pos.toInt))
    assert(row.getDouble(1) === med)
    assert(row.getDouble(2) === math.rint(mad * 1e6) / 1e6)
    val nOut = vals.count(v => math.abs(v - med) > 3.0 * 1.4826 * mad)
    assert(row.getLong(3) === nOut && nOut === 1)
  }

  test("the driver-sized-groups precondition is enforced, not just documented") {
    // a user-keyed call (more groups than the cap) must fail loudly with an
    // actionable message BEFORE building driver-side state, not OOM
    val df = (1 to 50).map(i => (s"user_$i", i.toDouble)).toDF("k", "v")
    spark.conf.set("spark.graft.quantiles.maxGroups", "10")
    try {
      val e = intercept[IllegalArgumentException] {
        Quantiles.quantileCont(df, "k", "v", Seq(0.5 -> "p50"))
      }
      assert(e.getMessage.contains("spark.graft.quantiles.maxGroups"))
      val e2 = intercept[IllegalArgumentException] {
        Quantiles.robustStats(df, "k", "v")
      }
      assert(e2.getMessage.contains("coarser key"))
    } finally spark.conf.unset("spark.graft.quantiles.maxGroups")
    // under the cap the same call succeeds
    assert(Quantiles.quantileCont(df, "k", "v", Seq(0.5 -> "p50")).count() === 50)
  }

  test("caller-supplied counts are held to the same group cap") {
    // quantileContWithCounts skips the counting pass, not the precondition:
    // a counts map past the cap fails before any driver-side rank state
    val df = (1 to 50).map(i => (s"user_$i", i.toDouble)).toDF("k", "v")
    val counts = (1 to 50).map(i => s"user_$i" -> 1L).toMap
    spark.conf.set("spark.graft.quantiles.maxGroups", "10")
    try {
      val e = intercept[IllegalArgumentException] {
        Quantiles.quantileContWithCounts(df, "k", "v", Seq(0.5 -> "p50"), counts)
      }
      assert(e.getMessage.contains("spark.graft.quantiles.maxGroups"))
      assert(e.getMessage.contains("coarser key"))
    } finally spark.conf.unset("spark.graft.quantiles.maxGroups")
    assert(Quantiles.quantileContWithCounts(df, "k", "v", Seq(0.5 -> "p50"), counts)
      .count() === 50)
  }

  test("a real string key equal to the NULL sentinel stays its own group") {
    // keys are carried with an out-of-band marker byte, so a StringType key
    // that literally holds "\u0000NULL" cannot merge with the null group
    val df = Seq((Option("\u0000NULL"), 1.0), (Option("\u0000NULL"), 3.0),
      (Option.empty[String], 10.0), (Option.empty[String], 30.0))
      .toDF("k", "v")
    val got = Quantiles.quantileCont(df, "k", "v", Seq(0.5 -> "p50"))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(got.size === 2)
    assert(got(Some("\u0000NULL")) === 2.0)
    assert(got(None) === 20.0)
  }

  test("robustStats is type-stable on a non-string group key") {
    val df = Seq((1, 1.0), (1, 2.0), (1, 3.0), (2, 10.0), (2, 20.0), (2, 30.0))
      .toDF("k", "v")
    val got = Quantiles.robustStats(df, "k", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("1" -> 2.0, "2" -> 20.0))
  }

  test("b1=12 branch (17..256 groups) and heavy-duplicate windows stay exact") {
    // 30 groups exercises the 12-bit first pass (64 - 12 leaves a 4-bit
    // final narrowing pass); group g29 is ONE repeated value whose window
    // never shrinks below the resolve threshold until the prefix pins all
    // 64 bits — the live-state path must terminate and decode exactly
    val rnd = new scala.util.Random(23)
    val data = (0 until 30).flatMap { g =>
      if (g == 29) Seq.fill(5000)((s"g$g", 42.125))
      else (0 until 50).map(_ => (s"g$g", rnd.nextGaussian() * 10))
    }
    val df = data.toDF("k", "v").repartition(5)
    val got = Quantiles.quantileCont(df, "k", "v", Seq(0.5 -> "p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ref = data.groupBy(_._1).map { case (k, rows) =>
      val vs = rows.map(_._2).sorted.toIndexedSeq
      val pos = 0.5 * (vs.length - 1)
      val lo = pos.toInt
      k -> (if (lo == pos) vs(lo)
        else { val f = pos - lo; (1.0 - f) * vs(lo) + f * vs(lo + 1) })
    }
    assert(got.size === 30)
    for ((k, v) <- ref) assert(got(k) === v, s"group $k")
    assert(got("g29") === 42.125)
  }

  test("winsorize clips at the exact quantile bounds and reports the robust mean") {
    // 1..9 plus an outlier at 1000; lo=0.1/hi=0.9 → bounds from the same
    // interpolation the reference engines use, clipped mean hand-computed
    val vals = (1 to 9).map(_.toDouble) :+ 1000.0
    val df = vals.map(("g", _)).toDF("k", "v")
    val row = Quantiles.winsorize(df, "k", "v", 0.1, 0.9).head()
    val sorted = vals.sorted.toIndexedSeq
    def q(p: Double): Double = {
      val pos = p * (sorted.length - 1)
      val lo = pos.toInt
      if (lo == pos) sorted(lo)
      else { val f = pos - lo; (1.0 - f) * sorted(lo) + f * sorted(lo + 1) }
    }
    val (blo, bhi) = (q(0.1), q(0.9))
    val clipped = vals.map(v => math.max(blo, math.min(bhi, v)))
    assert(row.getDouble(1) === math.rint(blo * 1e6) / 1e6)
    assert(row.getDouble(2) === math.rint(bhi * 1e6) / 1e6)
    assert(row.getDouble(3) === math.rint(clipped.sum / clipped.length * 1e6) / 1e6)
    assert(row.getLong(4) === vals.count(v => v < blo || v > bhi))
  }

  test("equiDepthBins: quartile populations on a skewed column") {
    // heavy-tailed: 1..96 plus four huge outliers — fixed-width bins
    // would put ~everything in bin 1; equi-depth must split 25/25/25/25
    val vals = (1 to 96).map(_.toDouble) ++ Seq(1e6, 2e6, 3e6, 4e6)
    val df = vals.map(("g", _)).toDF("k", "v").repartition(4)
    val bins = Quantiles.equiDepthBins(df, "k", "v", 4)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(bins === Map(1 -> 25L, 2 -> 25L, 3 -> 25L, 4 -> 25L))
  }

  test("populationStability: identical halves score 0, a shifted half alarms") {
    val ref = (1 to 200).map(i => ("g", i.toDouble)).toDF("k", "v")
    val same = Quantiles.populationStability(ref, ref, "k", "v").head()
    assert(same.getDouble(1) === 0.0) // p = q in every bin -> every term 0
    val shifted = (1 to 200).map(i => ("g", i.toDouble + 150)).toDF("k", "v")
    val drift = Quantiles.populationStability(ref, shifted, "k", "v").head().getDouble(1)
    assert(drift > 0.25, s"shifted distribution must cross the retrain bar, got $drift")
  }

  test("a requested group key with no rows fails loudly") {
    val df = Seq(("a", 1.0)).toDF("k", "v")
    val err = intercept[IllegalArgumentException] {
      Quantiles.quantileContWithCounts(df, "k", "v", Seq(0.5 -> "p50"), Map("a" -> 1L, "zzz" -> 1L))
    }
    assert(err.getMessage.contains("zzz"), err.getMessage)
  }

  test("tiny groups and exact ranks resolve correctly") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("k", "v")
    val stats = Quantiles.quantileCont(df, "k", "v", Seq(0.0 -> "lo", 1.0 -> "hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(stats === Map("a" -> ((1.0, 2.0)), "b" -> ((3.0, 3.0))))
  }

  test("discrete-quantile rank is boundary-exact where double ceil(q·n) is not") {
    // q = 7/100, n = 100: exact rank is 7, but the double product
    // 0.07 × 100 = 7.000000000000001 ceils to 8 — DuckDB's quantile_disc
    // returns element 7 (probed), so the integer form
    // (n·num + den − 1) div den is the only cross-engine-safe rank.
    // q_quantile_disc uses this exact shape.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = spark.range(1, 101).selectExpr("'g' AS k", "CAST(id AS DOUBLE) AS v")
    val ranked = df.select(col("k"), col("v"),
      row_number().over(Window.partitionBy(col("k")).orderBy(col("v"))).as("rn"),
      count(lit(1)).over(Window.partitionBy(col("k"))).as("n"))
    val exact = ranked.groupBy(col("k"))
      .agg(min(when(col("rn") === expr("(n * 7L + 99L) div 100L"), col("v"))).as("q07"))
      .head().getDouble(1)
    assert(exact === 7.0)
    val fp = ranked.groupBy(col("k"))
      .agg(min(when(col("rn") === ceil(lit(0.07) * col("n")), col("v"))).as("q07"))
      .head().getDouble(1)
    assert(fp === 8.0, "the double form really is off by one here — the " +
      "integer rank is a fix, not a no-op")
  }

  private object Fns {
    def eventsNorm(s: org.apache.spark.sql.SparkSession, dir: String) =
      graft.functions.Fns.normalizeTsNtz(Tables.events(s, dir), "ts")
  }
}
