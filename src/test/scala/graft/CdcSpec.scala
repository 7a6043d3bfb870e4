package graft

import graft.operators.{Cdc, TextAnalysis}
import org.apache.spark.sql.functions._

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("Cdc.scd2 collapses consecutive equal values into validity intervals") {
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 00:00:00"), "A"),
      (1L, 11L, ts("2024-01-02 00:00:00"), "A"), // same run — collapsed
      (1L, 12L, ts("2024-01-03 00:00:00"), "B"),
      (1L, 13L, ts("2024-01-04 00:00:00"), "A"), // A again — NEW run
      (2L, 20L, ts("2024-01-01 00:00:00"), "X")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Cdc.scd2(ev, "user_id", "event_type", "ts", "event_id")
      .orderBy($"user_id", $"valid_from")
      .select($"user_id", $"event_type", $"valid_from", $"valid_to", $"is_current")
      .collect()
    assert(out.length === 4)
    assert(out(0).getString(1) === "A" && out(0).getTimestamp(3) === ts("2024-01-03 00:00:00"))
    assert(out(1).getString(1) === "B" && out(1).getTimestamp(3) === ts("2024-01-04 00:00:00"))
    assert(out(2).getString(1) === "A" && out(2).isNullAt(3) && out(2).getBoolean(4))
    assert(out(3).getLong(0) === 2L && out(3).getBoolean(4))
    // open rows: exactly one per key
    assert(out.count(_.getBoolean(4)) === 2)
  }

  test("Cdc.scd2 breaks equal-ts ties by the tie column") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00"), "A"),
      (1L, 2L, ts("2024-01-01 00:00:00"), "B") // same instant, higher id wins as latest
    ).toDF("user_id", "event_id", "ts", "event_type")
    val cur = Cdc.scd2(ev, "user_id", "event_type", "ts", "event_id")
      .where($"is_current").select($"event_type").as[String].collect()
    assert(cur.toSeq === Seq("B"))
  }

  test("Cdc.mergeChangelog: upserts win, tombstones delete, untouched keys survive") {
    val snap = Seq(
      (1L, 1.0, ts("2024-01-10 00:00:00")),
      (2L, 2.0, ts("2024-01-10 00:00:00")),
      (3L, 3.0, ts("2024-01-10 00:00:00"))
    ).toDF("user_id", "value", "ts")
    val chg = Seq(
      (2L, 9.0, ts("2024-01-20 00:00:00"), 100L, "update"),
      (2L, 8.0, ts("2024-01-19 00:00:00"), 99L, "update"), // older change — loses
      (3L, 0.0, ts("2024-01-21 00:00:00"), 101L, "error"), // tombstone
      (4L, 4.0, ts("2024-01-22 00:00:00"), 102L, "insert") // brand-new key
    ).toDF("user_id", "value", "ts", "event_id", "event_type")
    val out = Cdc.mergeChangelog(snap, chg, "user_id", "ts", "event_id",
        "event_type", deleteOp = "error", valueCols = Seq("value"))
      .orderBy($"user_id")
      .select($"user_id", $"value", $"from_changelog").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq ===
      Seq((1L, 1.0, false), (2L, 9.0, true), (4L, 4.0, true)))
  }

  test("Cdc.mergeChangelog: event time governs — a late older change cannot regress state") {
    // the snapshot row IS newer merged state (e.g. produced by a previous
    // micro-batch); a late-arriving change and a stale tombstone both
    // carry older timestamps and must lose
    val snap = Seq(
      (1L, 5.0, ts("2024-02-01 00:00:00")),
      (2L, 6.0, ts("2024-02-01 00:00:00"))
    ).toDF("user_id", "value", "ts")
    val chg = Seq(
      (1L, 1.0, ts("2024-01-15 00:00:00"), 50L, "update"), // stale update
      (2L, 0.0, ts("2024-01-16 00:00:00"), 51L, "error")   // stale tombstone
    ).toDF("user_id", "value", "ts", "event_id", "event_type")
    val out = Cdc.mergeChangelog(snap, chg, "user_id", "ts", "event_id",
        "event_type", deleteOp = "error", valueCols = Seq("value"))
      .orderBy($"user_id")
      .select($"user_id", $"value", $"from_changelog").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq ===
      Seq((1L, 5.0, false), (2L, 6.0, false)))
  }

  test("Cdc.mergeChangelog is idempotent: replaying the changelog converges") {
    val snap = Seq((1L, 1.0, ts("2024-01-10 00:00:00"))).toDF("user_id", "value", "ts")
    val chg = Seq((1L, 7.0, ts("2024-01-20 00:00:00"), 5L, "update"))
      .toDF("user_id", "value", "ts", "event_id", "event_type")
    val once = Cdc.mergeChangelog(snap, chg, "user_id", "ts", "event_id",
      "event_type", "error", Seq("value"))
    val twice = Cdc.mergeChangelog(
      once.select($"user_id", $"value", $"ts"), chg, "user_id", "ts",
      "event_id", "event_type", "error", Seq("value"))
    assert(twice.select($"user_id", $"value").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 7.0)))
  }

  test("Cdc.mergeChangelog rejects a non-numeric tie column loudly") {
    val snap = Seq((1L, 1.0, ts("2024-01-10 00:00:00"))).toDF("user_id", "value", "ts")
    val chg = Seq((1L, 7.0, ts("2024-01-20 00:00:00"), "ev-5", "update"))
      .toDF("user_id", "value", "ts", "event_id", "event_type")
    val e = intercept[IllegalArgumentException] {
      Cdc.mergeChangelog(snap, chg, "user_id", "ts", "event_id",
        "event_type", "error", Seq("value"))
    }
    assert(e.getMessage.contains("must be numeric"))
  }

  test("randomized differential: mergeChangelog ≡ a brute-force fold, scd2 ≡ run collapse") {
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val base = ts("2024-01-01 00:00:00").getTime
      def randTs() = new java.sql.Timestamp(base + rnd.nextInt(100) * 3600_000L)
      // --- mergeChangelog vs reference fold ---
      // snapshot timestamps OVERLAP the changelog's range: half the keys
      // carry state newer than some changes, exercising the event-time
      // contract (an older change must lose to newer merged state)
      val snapRows = (1L to 6L).map(k => (k, rnd.nextInt(100).toDouble,
        if (k % 2 == 0) randTs() else ts("2023-12-31 00:00:00")))
      val chgRows = (0 until 40).map { i =>
        (rnd.nextInt(10).toLong + 1L, rnd.nextInt(100).toDouble, randTs(),
          i.toLong, if (rnd.nextInt(5) == 0) "error" else "update")
      }
      val out = Cdc.mergeChangelog(
        snapRows.toDF("user_id", "value", "ts"),
        chgRows.toDF("user_id", "value", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type", "error", Seq("value"))
        .select($"user_id", $"value").as[(Long, Double)].collect().toMap
      // reference: per key the newest row by (ts, priority, tie) wins,
      // snapshot rows at (pri=0, tie=-1); a winning tombstone deletes
      val snapMap = snapRows.map(r => r._1 -> r).toMap
      val expect = (snapRows.map(_._1) ++ chgRows.map(_._1)).distinct.flatMap { k =>
        val cand =
          snapMap.get(k).map(r => (r._3.getTime, 0, -1L, r._2, "__snap")).toSeq ++
          chgRows.filter(_._1 == k).map(r => (r._3.getTime, 1, r._4, r._2, r._5))
        val win = cand.maxBy(c => (c._1, c._2, c._3))
        if (win._5 == "error") None else Some(k -> win._4)
      }.toMap
      assert(out === expect, s"seed $seed: merge mismatch")
      // --- scd2 vs reference run collapse ---
      val evRows = (0 until 60).map { i =>
        (rnd.nextInt(4).toLong + 1L, i.toLong, randTs(),
          Seq("A", "B", "C")(rnd.nextInt(3)))
      }
      val scd = Cdc.scd2(evRows.toDF("user_id", "event_id", "ts", "event_type"),
          "user_id", "event_type", "ts", "event_id")
        .select($"user_id", $"event_type", $"valid_from").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
        .sortBy(r => (r._1, r._3))
      val refRuns = evRows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        val ordered = rs.sortBy(r => (r._3.getTime, r._2))
        ordered.zipWithIndex.collect {
          case ((_, _, t, v), i) if i == 0 || ordered(i - 1)._4 != v =>
            (k, v, t.getTime)
        }
      }.sortBy(r => (r._1, r._3))
      assert(scd.toSeq === refRuns, s"seed $seed: scd2 mismatch")
    }
  }

  test("pmiCollocations ranks the glued pair above independent pairs") {
    // "alpha beta" always co-occur; filler words pair randomly
    val docs = (0 until 40).map { i =>
      (i.toLong, "alpha beta " + (if (i % 2 == 0) "x y" else "y x"))
    }.toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, k = 10, minCount = 5)
      .select($"a", $"b", $"pmi").collect()
    assert(out.nonEmpty)
    val top = out.head
    assert((top.getString(0), top.getString(1)) === ("alpha", "beta"))
    // PMI of a deterministic pair must beat the shuffled fillers
    val pmis = out.map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(pmis(("alpha", "beta")) > pmis.getOrElse(("x", "y"), Double.NegativeInfinity))
  }

  test("pmiCollocations minCount suppresses rare pairs") {
    val docs = Seq((0L, "rare pair"), (1L, "common words common words common words " +
      "common words common words")).toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, k = 10, minCount = 5)
      .select($"a", $"b").as[(String, String)].collect().toSet
    assert(!out.contains(("rare", "pair")))
  }

  test("corpusDivergence: identical slices have zero KL, skewed ones positive") {
    val docs = Seq(
      (0L, "a", "t t u u v v"),
      (1L, "b", "t t u u v v"),   // b == corpus blend of a,b → KL 0
      (2L, "c", "w w w w w w")    // disjoint vocabulary → strongly positive
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.corpusDivergence(docs, "source")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("a")._1 === 6L)
    assert(out("a")._2 === out("b")._2) // symmetric construction
    assert(out("c")._2 > out("a")._2)
    assert(out("c")._2 > 0.0)
  }

  test("q_vwap equals per-day mean trade price; q_lead_lag stays in [-1,1] and is paired") {
    val vw = SparkEntry.queries("q_vwap")(spark, sfDir).collect()
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
      .select($"user_id", to_date($"ts").as("d"), $"value")
      .as[(Long, java.sql.Date, Double)].collect()
    val ref = ev.groupBy(r => (r._1, r._2.toString))
      .map { case (k, rs) => k -> rs.map(_._3).sum / rs.length }
    vw.foreach { r =>
      val k = (r.getLong(0), r.getDate(1).toString)
      assert(math.abs(r.getDouble(3) - ref(k)) < 1e-5, s"$k: ${r.getDouble(3)} vs ${ref(k)}")
    }
    val ll = SparkEntry.queries("q_lead_lag")(spark, sfDir).collect()
    assert(ll.nonEmpty)
    ll.foreach { r =>
      if (!r.isNullAt(2)) {
        val v = r.getDouble(2)
        assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9)
      }
    }
    // directional statistic, but the RANKED pair set is symmetric: both
    // orientations of every top-10 pair are present
    val dirs = ll.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dirs.forall { case (a, b2) => dirs.contains((b2, a)) })
  }

  test("q_rolling_corr equals a driver-side rolling Pearson at 4dp, inside [-1,1]") {
    val got = SparkEntry.queries("q_rolling_corr")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // reference: same bars → returns → market mean → trailing-30 Pearson,
    // plain double arithmetic on the driver
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    val bars = RefBars.dailyBars(ev)
      .select($"user_id", $"d", $"close")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2)))
    val byUser = bars.groupBy(_._1).map { case (u, rs) =>
      val sorted = rs.sortBy(_._2)
      u -> sorted.zipWithIndex.drop(1).flatMap { case ((_, d, c), i) =>
        val prev = sorted(i - 1)._3
        if (prev == 0.0) None else Some(d -> (c / prev - 1))
      }
    }
    val mkt = byUser.values.flatten.groupBy(_._1)
      .map { case (d, rs) => d -> rs.map(_._2).sum / rs.size }
    var checked = 0
    byUser.foreach { case (u, series) =>
      val rm = series.map { case (d, r) => (d, r, mkt(d)) }
      rm.indices.foreach { i =>
        val w = rm.slice(math.max(0, i - 29), i + 1)
        val n = w.size
        val expect = if (n < 10) None else {
          val (sr, sm) = (w.map(_._2).sum, w.map(_._3).sum)
          val srm = w.map(t => t._2 * t._3).sum
          val srr = w.map(t => t._2 * t._2).sum
          val smm = w.map(t => t._3 * t._3).sum
          val den = math.sqrt(n * srr - sr * sr) * math.sqrt(n * smm - sm * sm)
          if (den == 0.0 || den.isNaN) None else Some((n * srm - sr * sm) / den)
        }
        (got((u, w.last._1)), expect) match {
          case (Some(g), Some(e)) =>
            assert(math.abs(g - e) < 5e-4, s"user $u day ${w.last._1}: $g vs $e")
            assert(g >= -1.0 - 1e-9 && g <= 1.0 + 1e-9)
            checked += 1
          case (None, None) => ()
          case (g, e) => fail(s"user $u day ${w.last._1}: got $g expect $e")
        }
      }
    }
    assert(checked > 100, s"too few windows checked: $checked")
  }

  test("q_cusum's closed form equals the recursive CUSUM definition; q_stochastic stays in [0,100]") {
    // the scan form S_t = cs_t − min(0, min_{j≤t} cs_j) must equal the
    // textbook recursion S_t = max(0, S_{t−1} + (x_t − μ)) row for row
    val got = SparkEntry.queries("q_cusum")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) -> r.getDouble(2)).toMap
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    val bars = RefBars.dailyBars(ev)
      .select($"user_id", $"d", $"close")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2)))
    var checked = 0
    bars.groupBy(_._1).foreach { case (u, rows) =>
      val sorted = rows.sortBy(_._2)
      val mu = sorted.map(_._3).sum / sorted.size
      var s = 0.0
      sorted.foreach { case (_, d, c) =>
        s = math.max(0.0, s + (c - mu))
        assert(math.abs(got((u, d)) - s) < 1e-4, s"user $u day $d: ${got((u, d))} vs $s")
        checked += 1
      }
    }
    assert(checked > 300, s"too few rows checked: $checked")
    val st = SparkEntry.queries("q_stochastic")(spark, sfDir).collect()
    var nK = 0
    st.foreach { r =>
      if (!r.isNullAt(2)) {
        val k = r.getDouble(2)
        assert(k >= -1e-9 && k <= 100.0 + 1e-9, s"pct_k out of range: $k")
        nK += 1
      }
      if (!r.isNullAt(3)) {
        val dd = r.getDouble(3)
        assert(dd >= -1e-9 && dd <= 100.0 + 1e-9, s"pct_d out of range: $dd")
      }
    }
    assert(nK > 100, s"too few %K rows: $nK")
  }

  test("q_beta agrees with the covar/var regression slope at 4dp") {
    // differential: the decimal-exact cross-moment formula vs Spark's own
    // covar_pop/var_pop — independent float paths, same statistic
    val q = SparkEntry.queries("q_beta")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    val bars = RefBars.dailyBars(ev).select($"user_id", $"d", $"close")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"d")
    val ret = bars.select($"user_id", $"d",
        ($"close" / nullif(lag($"close", 1).over(w), lit(0.0)) - 1).as("r"))
      .where($"r".isNotNull)
    val mkt = ret.groupBy($"d").agg(avg($"r").as("mr"))
    val ref = ret.join(broadcast(mkt), Seq("d"))
      .groupBy($"user_id")
      .agg((covar_pop($"r", $"mr") / var_pop($"mr")).as("beta"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q.keySet === ref.keySet)
    q.foreach { case (u, b) => assert(math.abs(b - ref(u)) < 5e-4, s"user $u: $b vs ${ref(u)}") }
  }

  test("q_sharpe equals a driver-side mean/sd·√252 recount; q_atr equals a TR SMA-14 recount") {
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    val bars = RefBars.dailyBars(ev)
      .select($"user_id", $"d", $"high", $"low", $"close")
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val byUser = bars.groupBy(_._1).map { case (u, rs) => u -> rs.sortBy(_._2) }

    val sharpe = SparkEntry.queries("q_sharpe")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    var checkedS = 0
    byUser.foreach { case (u, rs) =>
      val closes = rs.map(_._5)
      val ret = closes.sliding(2).collect { case Array(a, b) if a != 0.0 => b / a - 1 }.toArray
      if (ret.nonEmpty) {
        val (nD, got) = sharpe(u)
        assert(nD === ret.length, s"user $u n_days: $nD vs ${ret.length}")
        val mu = ret.sum / ret.length
        val sd = if (ret.length < 2) 0.0
          else math.sqrt(ret.map(r => (r - mu) * (r - mu)).sum / (ret.length - 1))
        if (sd > 0) {
          val e = mu / sd * math.sqrt(252.0)
          assert(math.abs(got.get - e) < 5e-4, s"user $u sharpe: ${got.get} vs $e")
          checkedS += 1
        }
      }
    }
    assert(checkedS > 5, s"too few entities checked: $checkedS")

    val atr = SparkEntry.queries("q_atr")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    var checkedA = 0
    byUser.foreach { case (u, rs) =>
      val trs = rs.sliding(2).collect { case Array((_, _, _, _, pc), (_, d, h, l, _)) =>
        (d, math.max(h - l, math.max(math.abs(h - pc), math.abs(l - pc))))
      }.toArray
      trs.zipWithIndex.foreach { case ((d, _), i) =>
        val got = atr((u, d))
        if (i >= 13) {
          val e = trs.slice(i - 13, i + 1).map(_._2).sum / 14.0
          assert(math.abs(got.get - e) < 1e-4, s"user $u day $d atr: ${got.get} vs $e")
          checkedA += 1
        } else assert(got.isEmpty, s"user $u day $d: warm-up row must be NULL")
      }
    }
    assert(checkedA > 100, s"too few ATR rows checked: $checkedA")
  }

  test("q_donchian: channel equals trailing-20 extremes, breakout flags are causal") {
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    val bars = RefBars.dailyBars(ev)
      .select($"user_id", $"d", $"high", $"low", $"close")
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val got = SparkEntry.queries("q_donchian")(spark, sfDir)
      .collect().map { r =>
        (r.getLong(0), r.getDate(1).toString) ->
          (Option(r.get(3)).map(_.asInstanceOf[Double]),
           Option(r.get(4)).map(_.asInstanceOf[Double]),
           Option(r.get(6)).map(_.asInstanceOf[Boolean]))
      }.toMap
    var checked = 0
    bars.groupBy(_._1).foreach { case (u, rs) =>
      val s = rs.sortBy(_._2)
      s.zipWithIndex.foreach { case ((_, d, _, _, close), i) =>
        val (up, dn, bu) = got((u, d))
        if (i >= 19) {
          val w = s.slice(i - 19, i + 1)
          assert(up.get === w.map(_._3).max, s"user $u day $d dc_up")
          assert(dn.get === w.map(_._4).min, s"user $u day $d dc_dn")
          if (i >= 20) {
            // causal: breakout compares to the PRIOR bar's channel
            val prevUp = s.slice(i - 20, i).map(_._3).max
            assert(bu.get === (close > prevUp), s"user $u day $d breakout_up")
            checked += 1
          }
        } else {
          assert(up.isEmpty && dn.isEmpty, s"user $u day $d: warm-up must be NULL")
        }
      }
    }
    assert(checked > 50, s"too few channel rows checked: $checked")
  }
}
