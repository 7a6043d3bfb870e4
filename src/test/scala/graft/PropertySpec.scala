package graft

import graft.operators.{AsOfJoin, Incremental}
import graft.plans.GroupTopK
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Randomized differential tests: each operator vs a naive in-memory
  * reference implementation on scalacheck-generated data (fixed seeds —
  * reproducible).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private case class E(k: Long, t: Long, v: Double)

  private def genData(seed: Long, n: Int): Seq[E] = {
    val gen = Gen.listOfN(n, for {
      k <- Gen.choose(1L, 5L)
      t <- Gen.choose(0L, 200L)
      v <- Gen.choose(1, 1000).map(_ / 10.0)
    } yield E(k, t, v))
    gen(Gen.Parameters.default, Seed(seed)).getOrElse(Seq.empty)
  }

  test("asOf join equals the naive most-recent-at-or-before lookup (random data)") {
    for (seed <- 1L to 5L) {
      val all = genData(seed, 120).zipWithIndex.map { case (e, i) => (e.k, e.t * 1000L + i, e.v) }
      val (l, r) = all.splitAt(60)
      val left = l.toDF("k", "t", "lv")
      val right = r.map { case (k, t, v) => (k, t, v) }.toDF("k", "t", "rv")
      val got = AsOfJoin.asOf(left, right.select($"k", $"t", $"rv"), "k", "t", Seq("rv"))
        .select($"k", $"t", $"rv").collect()
        .map(row => (row.getLong(0), row.getLong(1)) ->
          (if (row.isNullAt(2)) None else Some(row.getDouble(2)))).toMap
      l.foreach { case (k, t, _) =>
        val expected = r.filter(x => x._1 == k && x._2 <= t).sortBy(_._2).lastOption.map(_._3)
        assert(got((k, t)) === expected, s"seed=$seed key=$k t=$t")
      }
    }
  }

  test("maxConcurrent equals the naive per-instant interval count (random sessions)") {
    import graft.operators.Activity
    for (seed <- 30L to 33L) {
      val evs = genData(seed, 150).map(e =>
        (e.k, new java.sql.Timestamp(1704067200000L + e.t * 60000L)))
      val df = evs.toDF("user_id", "ts").withColumn("value", lit(1.0))
      val gapSec = 600L
      val got = Activity.maxConcurrent(df, gapSec)
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      // naive reference: rebuild sessions per user, then for every boundary
      // instant count CLOSED-interval overlaps and take the max per day
      val sessions = evs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        val ts = rows.map(_._2.getTime).sorted
        ts.foldLeft(List.empty[(Long, Long)]) {
          case (Nil, t)                                   => List((t, t))
          case ((s, e) :: rest, t) if t - e <= gapSec * 1000 => (s, t) :: rest
          case (acc, t)                                   => (t, t) :: acc
        }
      }
      val instants = sessions.flatMap(s => Seq(s._1, s._2)).distinct
      // per-day maxima over boundary instants, day taken in UTC (the
      // session timezone the spec harness pins)
      val expByDay = instants
        .map(t => java.time.Instant.ofEpochMilli(t).toString.take(10) ->
          sessions.count(s => s._1 <= t && t <= s._2))
        .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).max.toLong }
      assert(got === expByDay, s"seed=$seed")
    }
  }

  test("shortestHops equals Dijkstra-on-unit-weights within the round budget (random graphs)") {
    import graft.operators.Graph
    for (seed <- 40L to 43L) {
      val edges = genData(seed, 60).map(e => (e.k, (e.t % 7) + 1L)).distinct
      val df = edges.toDF("src", "dst")
      val iters = 4
      val got = Graph.shortestHops(df, source = 1L, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // naive BFS over the symmetrized edge set
      val und = edges.flatMap(e => Seq(e, (e._2, e._1))).toSet
      val nodes = und.map(_._1)
      var dist = nodes.map(n => n -> (if (n == 1L) 0L else Graph.Unreached)).toMap
      var frontier = Set(1L)
      var hop = 0L
      while (frontier.nonEmpty && hop < iters) {
        hop += 1
        val next = und.filter(e => frontier(e._1)).map(_._2)
          .filter(n => dist(n) == Graph.Unreached)
        dist = dist ++ next.map(_ -> hop)
        frontier = next
      }
      assert(got === dist, s"seed=$seed")
    }
  }

  test("GroupTopK equals naive sort-take per key (random data)") {
    for (seed <- 10L to 13L) {
      val data = genData(seed, 150).zipWithIndex.map { case (e, i) => (e.k, i.toLong, e.v) }
      val df = data.toDF("k", "id", "v").repartition(5)
      val got = GroupTopK.topKPerKey(df, Seq("k"), Seq($"v".desc, $"id".asc), 4)
        .select("k", "id").as[(Long, Long)].collect().toSet
      val expected = data.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(4).map(r => (r._1, r._2))
      }.toSet
      assert(got === expected, s"seed=$seed")
    }
  }

  test("cosinePairsExact equals naive all-pairs at every threshold (random vectors)") {
    // the quantization error bound must never drop a true pair — exercise
    // it on adversarial vectors: mixed signs, tiny/huge scales, zeros
    for (seed <- 30L to 33L) {
      val gen = Gen.listOfN(40, for {
        scale <- Gen.oneOf(1e-4f, 1.0f, 37.5f)
        comps <- Gen.listOfN(8, Gen.choose(-100, 100))
      } yield comps.map(c => c * scale / 100.0f).toArray)
      val vecs = gen(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
        .zipWithIndex.map { case (v, i) => (i.toLong, if (i == 7) Array.fill(8)(0.0f) else v) }
      val df = vecs.toDF("vec_id", "embedding")
      for (t <- Seq(0.1, 0.5, 0.9)) {
        val naive = (for {
          (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
          na = math.sqrt(va.map(x => x.toDouble * x).sum)
          nb = math.sqrt(vb.map(x => x.toDouble * x).sum)
          if na > 0 && nb > 0
          cos = va.zip(vb).map { case (a, b) => a.toDouble * b.toDouble }.sum / (na * nb)
          if cos > t + 1e-9 // stay off the float boundary; the engines round identically
        } yield (ia, ib)).toSet
        val got = operators.Similarity.cosinePairsExact(df, t, blocks = 3)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val boundary = (for {
          (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
          na = math.sqrt(va.map(x => x.toDouble * x).sum)
          nb = math.sqrt(vb.map(x => x.toDouble * x).sum)
          if na > 0 && nb > 0
          cos = va.zip(vb).map { case (a, b) => a.toDouble * b.toDouble }.sum / (na * nb)
          if math.abs(cos - t) <= 1e-6 // rounding-ambiguous pairs: either verdict fine
        } yield (ia, ib)).toSet
        assert(naive.subsetOf(got), s"seed=$seed t=$t missing=${naive -- got}")
        assert((got -- naive).subsetOf(boundary), s"seed=$seed t=$t extra=${got -- naive}")
      }
    }
  }

  test("streamingAsOf through MemoryStream equals batch as-of (random arrival order)") {
    import graft.streaming.EventsStream
    import graft.streaming.EventsStream.Ev
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    for (seed <- 40L to 42L) {
      val data = genData(seed, 80).zipWithIndex.map { case (e, i) =>
        Ev(e.k, new java.sql.Timestamp(1700000000000L + e.t * 60000L + i), "x", e.v)
      }
      val (factRows, dimRows) = data.splitAt(40)
      val facts = MemoryStream[Ev]
      val dims = MemoryStream[Ev]
      // event times span ≤ 200 min but chunks arrive in index order — the
      // watermark delay must cover that disorder or rows are (correctly)
      // dropped as late; 4 h ≫ the max possible lateness here
      val query = EventsStream.streamingAsOf(facts.toDS(), dims.toDS(), delay = "4 hours")
        .writeStream.format("memory").queryName(s"asof_prop_$seed")
        .outputMode("append").start()
      try {
        // deliver in interleaved chunks — arrival order ≠ event order
        val fChunks = factRows.grouped(15).toSeq
        val dChunks = dimRows.grouped(15).toSeq
        fChunks.zipAll(dChunks, Seq.empty[Ev], Seq.empty[Ev]).foreach { case (f, d) =>
          if (f.nonEmpty) facts.addData(f: _*)
          if (d.nonEmpty) dims.addData(d: _*)
          query.processAllAvailable()
        }
        // flush: push the watermark (flushTs − 4 h) far past every buffered fact
        val flushTs = new java.sql.Timestamp(1700000000000L + 1000L * 60000L)
        facts.addData(Ev(999L, flushTs, "x", 0.0))
        dims.addData(Ev(999L, flushTs, "x", 0.0))
        query.processAllAvailable()
        val got = spark.table(s"asof_prop_$seed")
          .where($"user_id" =!= 999L)
          .collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
        val expected = factRows.map { f =>
          val dimVal = dimRows.filter(d => d.user_id == f.user_id && !d.ts.after(f.ts))
            .sortBy(_.ts.getTime).lastOption.map(_.value)
          (f.user_id, f.ts, f.value, dimVal)
        }.toSet
        assert(got === expected, s"seed=$seed")
      } finally query.stop()
    }
  }

  test("CharNgrams equals naive sliding window on random unicode text") {
    val gen = Gen.listOf(Gen.frequency(
      (8, Gen.alphaNumChar.map(_.toString)), (2, Gen.const(" ")),
      (2, Gen.oneOf("é", "ß", "中", "文", "🎈")))).map(_.mkString)
    for (seed <- 30L to 34L) {
      val texts = Gen.listOfN(40, gen)(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = df.select($"id", graft.plans.Exprs.charNgrams($"text", 2).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        // sliding over CODE POINTS — the kernel must be character-accurate
        // on multi-byte text, not a byte window. (🎈 is a surrogate pair in
        // the JVM's UTF-16 Strings, so build the reference from codepoints.)
        val cps = t.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        val expected = cps.sliding(2).filter(_.length == 2).map(_.mkString).toSeq
        assert(got(i.toLong) === expected, s"seed=$seed text='$t'")
      }
    }
  }

  test("temperatureMix membership equals the naive per-stratum rate filter (random data)") {
    for (seed <- 40L to 42L) {
      val rows = genData(seed, 200).zipWithIndex
        .map { case (e, i) => (i.toLong, s"s${e.k}") }
      val df = rows.toDF("id", "stratum")
      val alpha = 0.3
      val got = graft.operators.Sampling.temperatureMix(df, "stratum", "id", alpha)
        .select("id").as[Long].collect().toSet
      // naive: rates from exact counts, same md5-prefix rule
      val counts = rows.groupBy(_._2).map { case (s, r) => s -> r.size.toLong }
      val nMin = counts.values.min
      val expected = rows.filter { case (id, s) =>
        val t = math.round(math.pow(nMin.toDouble / counts(s), 1 - alpha) * 65536).toInt
        t >= 65536 || {
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(id.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(4)
          md < f"$t%04x"
        }
      }.map(_._1).toSet
      assert(got === expected, s"seed=$seed")
    }
  }

  test("winsorize equals the naive clipped reference over seeds (multi-group)") {
    for (seed <- Seq(5L, 31L, 77L)) {
      val data = genData(seed, 300).map(e => (s"g${e.k}", e.v))
      val df = data.toDF("k", "v").repartition(1 + (seed % 7).toInt)
      val got = graft.operators.Quantiles.winsorize(df, "k", "v", 0.1, 0.9)
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
      def q(vs: IndexedSeq[Double], p: Double): Double = {
        val pos = p * (vs.length - 1)
        val lo = pos.toInt
        if (lo == pos) vs(lo)
        else { val f = pos - lo; (1.0 - f) * vs(lo) + f * vs(lo + 1) }
      }
      data.groupBy(_._1).foreach { case (k, rows) =>
        val vs = rows.map(_._2).sorted.toIndexedSeq
        val (blo, bhi) = (q(vs, 0.1), q(vs, 0.9))
        val clipped = vs.map(v => math.max(blo, math.min(bhi, v)))
        val (glo, ghi, gmean, gclip) = got(k)
        assert(glo === math.rint(blo * 1e6) / 1e6, s"seed $seed group $k lo")
        assert(ghi === math.rint(bhi * 1e6) / 1e6, s"seed $seed group $k hi")
        // decimal(28,6)-accumulated mean: quantize each clipped value at
        // 1e-6 exactly as the cast does, then a rationally-exact mean
        val dec = clipped.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        val expectMean = (dec.sum / dec.length).toDouble
        assert(gmean === math.rint(expectMean * 1e6) / 1e6, s"seed $seed group $k mean")
        assert(gclip === vs.count(v => v < blo || v > bhi).toLong, s"seed $seed group $k clip")
      }
    }
  }

  test("populationStability equals the naive PSI reference over seeds") {
    for (seed <- Seq(9L, 42L)) {
      val ref = genData(seed, 400).map(e => (s"g${e.k % 3}", e.v))
      val cur = genData(seed + 1000, 400).map(e => (s"g${e.k % 3}", e.v * (1.0 + (seed % 3) * 0.2)))
      val refDf = ref.toDF("k", "v").repartition(3)
      val curDf = cur.toDF("k", "v").repartition(5)
      val got = graft.operators.Quantiles.populationStability(refDf, curDf, "k", "v")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      def q(vs: IndexedSeq[Double], p: Double): Double = {
        val pos = p * (vs.length - 1)
        val lo = pos.toInt
        if (lo == pos) vs(lo)
        else { val f = pos - lo; (1.0 - f) * vs(lo) + f * vs(lo + 1) }
      }
      val curByK = cur.groupBy(_._1)
      ref.groupBy(_._1).foreach { case (k, rrows) =>
        val rv = rrows.map(_._2).sorted.toIndexedSeq
        val bounds = (1 until 10).map(i => q(rv, i / 10.0))
        def binOf(v: Double) = 1 + bounds.count(v > _)
        val cv = curByK.getOrElse(k, Seq.empty).map(_._2)
        val rc = (1 to 10).map(b => rv.count(binOf(_) == b).toLong)
        val cc = (1 to 10).map(b => cv.count(binOf(_) == b).toLong)
        val (nr, nc) = (rc.sum, cc.sum)
        val terms = (0 until 10).map { i =>
          val p = (rc(i) + 0.5) / (nr + 5.0)
          val qq = (cc(i) + 0.5) / (nc + 5.0)
          BigDecimal((p - qq) * math.log(p / qq)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        }
        val expect = math.rint(terms.sum.toDouble * 1e6) / 1e6
        assert(got(k) === expect, s"seed $seed group $k")
      }
    }
  }

  test("incremental append equals naive newer-than filter (random data)") {
    for (seed <- 20L to 23L) {
      val all = genData(seed, 100).zipWithIndex.map { case (e, i) => (e.k, e.t * 1000L + i, e.v) }
      val (ex, in) = all.splitAt(50)
      val existing = ex.toDF("k", "t", "v")
      val incoming = in.toDF("k", "t", "v")
      val got = Incremental.newerThanExisting(existing, incoming, "k", "t")
        .select("k", "t").as[(Long, Long)].collect().toSet
      val maxByKey = ex.groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
      val expected = in.filter(x => maxByKey.get(x._1).forall(x._2 > _)).map(x => (x._1, x._2)).toSet
      assert(got === expected, s"seed=$seed")
    }
  }

  test("melt of pivotAgg equals the naive long aggregate over seeds") {
    import graft.operators.PivotOps
    for (seed <- 1L to 3L) {
      val rows = genData(seed, 150).map(e => (e.k, s"c${e.t % 4}", e.v))
      val vocab = Seq("c0", "c1", "c2", "c3")
      val wide = PivotOps.pivotAgg(rows.toDF("k", "cat", "v"), "k", "cat",
        vocab, "v", c => sum(c.cast("decimal(28,6)")).cast("double"))
      val got = PivotOps.melt(wide, "k", vocab, "cat", "v")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
      val expected = rows.groupBy(x => (x._1, x._2))
        .map { case (key, rs) =>
          key -> (BigDecimal(rs.map(x => BigDecimal(x._3)).sum.toString)).toDouble }
      assert(got.keySet === expected.keySet, s"seed=$seed")
      got.foreach { case (key, v) =>
        assert(math.abs(v - expected(key)) < 1e-6, s"seed=$seed $key") }
    }
  }
}
