package graft

import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("daily bars pick open/close by time and aggregate high/low/volume") {
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00"), 10.0),
      (1L, ts("2024-01-01 12:00:00"), 30.0),
      (1L, ts("2024-01-01 16:00:00"), 20.0),
      (1L, ts("2024-01-02 09:00:00"), 5.0)
    ).toDF("user_id", "ts", "value")
    // the summary's bar columns and the specs' reference bars alike
    val cols = Seq("user_id", "d", "open", "high", "low", "close", "volume").map(col)
    for (df <- Seq(Ohlc.dailySummary(ev, Nil, Nil), RefBars.dailyBars(ev))) {
      val bars = df.select(cols: _*).orderBy($"d").collect()
      assert(bars.length === 2)
      val b0 = bars(0)
      assert(b0.getDouble(2) === 10.0) // open
      assert(b0.getDouble(3) === 30.0) // high
      assert(b0.getDouble(4) === 10.0) // low
      assert(b0.getDouble(5) === 20.0) // close
      assert(b0.getLong(6) === 3L)     // volume
    }
  }

  test("Incremental.newerThanExisting keeps only strictly-newer rows per key") {
    val existing = Seq((1L, ts("2024-01-05 00:00:00"), 1.0), (2L, ts("2024-01-01 00:00:00"), 2.0))
      .toDF("user_id", "ts", "value")
    val incoming = Seq(
      (1L, ts("2024-01-05 00:00:00"), 10.0), // duplicate instant — dropped
      (1L, ts("2024-01-06 00:00:00"), 11.0), // newer — kept
      (2L, ts("2024-01-02 00:00:00"), 12.0), // newer — kept
      (3L, ts("2023-12-31 00:00:00"), 13.0)  // unseen key — kept
    ).toDF("user_id", "ts", "value")
    val out = Incremental.newerThanExisting(existing, incoming, "user_id", "ts")
      .select($"value").as[Double].collect().sorted
    assert(out.toSeq === Seq(11.0, 12.0, 13.0))
  }

  test("Incremental.newerThanGlobal filters on the table-wide latest timestamp") {
    val existing = Seq((1L, ts("2024-01-05 00:00:00"), 1.0)).toDF("user_id", "ts", "value")
    val incoming = Seq(
      (1L, ts("2024-01-05 00:00:00"), 10.0), // equal instant — dropped
      (2L, ts("2024-01-04 00:00:00"), 11.0), // older than GLOBAL max — dropped
      (3L, ts("2024-01-06 00:00:00"), 12.0)  // newer — kept
    ).toDF("user_id", "ts", "value")
    val out = Incremental.newerThanGlobal(existing, incoming, "ts")
      .select($"value").as[Double].collect().toSeq
    assert(out === Seq(12.0))
    // empty existing table → everything is new
    val empty = existing.where(lit(false))
    assert(Incremental.newerThanGlobal(empty, incoming, "ts").count() === 3)
  }

  test("PivotOps.pivotDynamic discovers the vocabulary and matches the declared pivot") {
    val ev = Seq((1L, "a", 2.0), (1L, "b", 3.0), (2L, "a", 5.0)).toDF("k", "t", "v")
    val dyn = PivotOps.pivotDynamic(ev, "k", "t", sum($"v"))
    assert(dyn.columns.toSeq === Seq("k", "a", "b"))
    val declared = PivotOps.pivotAgg(ev, "k", "t", Seq("a", "b"), "v", sum(_))
    assert(dyn.collect().map(_.toSeq).toSet === declared.collect().map(_.toSeq).toSet)
  }

  test("AsOfJoin.asOf picks the most recent right row at-or-before, else null") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "l1"), (1L, ts("2024-01-03 10:00:00"), "l2"),
      (2L, ts("2024-01-01 00:00:00"), "l3"))
      .toDF("user_id", "ts", "tag")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 100.0), (1L, ts("2024-01-02 00:00:00"), 200.0))
      .toDF("user_id", "ts", "px")
    val out = AsOfJoin.asOf(left, right, "user_id", "ts", Seq("px"))
      .orderBy($"tag").collect()
    assert(out(0).getDouble(3) === 100.0)  // equal ts visible
    assert(out(1).getDouble(3) === 200.0)  // latest at-or-before
    assert(out(2).isNullAt(3))             // no prior snapshot
  }

  test("asOfMany aligns multiple snapshot tables in one pass, same as chained asOf") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c")).toDF("k", "t", "tag")
    val r1 = Seq((1L, 8L, 100.0), (1L, 15L, 200.0)).toDF("k", "t", "x")
    val r2 = Seq((1L, 12L, 7.0), (2L, 1L, 9.0)).toDF("k", "t", "y")
    val many = AsOfJoin.asOfMany(left, Seq(r1 -> Seq("x"), r2 -> Seq("y")), "k", "t")
      .select("tag", "x", "y").orderBy("tag").collect()
    val chained = AsOfJoin.asOf(
      AsOfJoin.asOf(left, r1, "k", "t", Seq("x")), r2, "k", "t", Seq("y"))
      .select("tag", "x", "y").orderBy("tag").collect()
    assert(many.map(_.toString).toSeq === chained.map(_.toString).toSeq)
    assert(many(0).getDouble(1) === 100.0 && many(0).isNullAt(2)) // a: x@8, no y yet
    assert(many(1).getDouble(1) === 200.0 && many(1).getDouble(2) === 7.0) // b
    assert(many(2).isNullAt(1) && many(2).getDouble(2) === 9.0) // c: only y
  }

  test("PivotOps: declared-vocabulary pivot and evolved-schema union") {
    val df = Seq((1L, "x", 1.0), (1L, "y", 2.0), (2L, "x", 3.0)).toDF("k", "t", "v")
    val wide = PivotOps.pivotAgg(df, "k", "t", Seq("x", "y", "z"), "v", sum)
    assert(wide.columns.toSeq === Seq("k", "x", "y", "z"))
    val r1 = wide.where($"k" === 1L).head()
    assert(r1.getDouble(1) === 1.0 && r1.getDouble(2) === 2.0 && r1.isNullAt(3))

    val a = Seq((1L, 1.0)).toDF("k", "x")
    val b = Seq((2L, 2.0, 3.0)).toDF("k", "x", "y")
    val u = PivotOps.unionEvolved(Seq("a" -> a, "b" -> b)).orderBy($"k").collect()
    assert(u(0).isNullAt(u(0).fieldIndex("y")))
    assert(u(1).getDouble(u(1).fieldIndex("y")) === 3.0)
  }

  test("Profile.numericProfile: one row per column with exact counts and ranges") {
    val df = Seq((1L, 10), (2L, 10), (3L, 30)).toDF("id", "v")
      .union(Seq((4L, 0)).toDF("id", "v").withColumn("v", lit(null).cast("int")))
    val p = operators.Profile.numericProfile(df, Seq("id", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(p("id") === ((4L, 4L, 4L, 1.0, 4.0)))
    assert(p("v") === ((4L, 3L, 2L, 10.0, 30.0)))
  }

  test("asOfBroadcast equals the union+window as-of with zero fact-side shuffle") {
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    val clicks = ev.where($"event_type" === "click").select("event_id", "user_id", "ts")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    val viaBroadcast = AsOfJoin
      .asOfBroadcast(clicks, purchases, "user_id", "ts", "value", "last_purchase_value")
    val got = viaBroadcast
      .select("event_id", "last_purchase_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val expected = AsOfJoin.asOf(
      clicks, purchases.withColumnRenamed("value", "last_purchase_value"),
      "user_id", "ts", Seq("last_purchase_value"))
      .select("event_id", "last_purchase_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    val plan = viaBroadcast.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastExchange"), plan)
    // the ONLY exchanges are the dim aggregation + its broadcast — the fact
    // stream stays map-side (no hashpartitioning of the click rows)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("theta sketch set algebra is exact below sketch capacity") {
    val ev = Seq(
      (1L, "click"), (2L, "click"), (3L, "click"), (4L, "click"),
      (3L, "purchase"), (4L, "purchase"), (5L, "purchase"))
      .toDF("user_id", "event_type")
    val sk = ev.groupBy($"event_type").agg(expr("theta_sketch_agg(user_id)").as("sk"))
    val a = sk.where($"event_type" === "click").select($"sk".as("a"))
    val b = sk.where($"event_type" === "purchase").select($"sk".as("b"))
    val out = a.crossJoin(b).select(
      expr("cast(round(theta_sketch_estimate(theta_union(a, b))) as long)"),
      expr("cast(round(theta_sketch_estimate(theta_intersection(a, b))) as long)"),
      expr("cast(round(theta_sketch_estimate(theta_difference(a, b))) as long)")).head()
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) === ((5L, 2L, 2L)))
  }

  test("asOfForward picks the earliest right row at-or-after, else null") {
    val left = Seq((1L, ts("2024-01-02 10:00:00"), "l1"), (1L, ts("2024-01-01 10:00:00"), "l2"),
      (2L, ts("2024-01-09 00:00:00"), "l3"))
      .toDF("user_id", "ts", "tag")
    val right = Seq((1L, ts("2024-01-02 10:00:00"), 100.0), (1L, ts("2024-01-03 00:00:00"), 200.0))
      .toDF("user_id", "ts", "px")
    val out = AsOfJoin.asOfForward(left, right, "user_id", "ts", Seq("px"))
      .orderBy($"tag").collect()
    assert(out(0).getDouble(3) === 100.0) // equal ts visible
    assert(out(1).getDouble(3) === 100.0) // earliest at-or-after
    assert(out(2).isNullAt(3))            // nothing later for this key
  }

  test("asOfTtl nulls matches staler than the TTL, keeps fresh ones") {
    val left = Seq(
      (1L, ts("2024-01-01 10:30:00"), "fresh"),   // match 30 min old
      (1L, ts("2024-01-01 12:01:00"), "stale"),   // match 2h01 old
      (1L, ts("2024-01-01 10:00:00"), "exact"),   // equal-instant match
      (2L, ts("2024-01-01 10:00:00"), "none")
    ).toDF("user_id", "ts", "tag")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 42.0)).toDF("user_id", "ts", "px")
    val out = AsOfJoin.asOfTtl(left, right, "user_id", "ts", "px", "recent", ttlSec = 3600)
      .select("tag", "recent").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out("fresh") === Some(42.0))
    assert(out("stale") === None)
    assert(out("exact") === Some(42.0))
    assert(out("none") === None)
  }

  test("asOfNearest picks the closer side, ties to at-or-before") {
    val left = Seq(
      (1L, ts("2024-01-02 12:00:00"), "closer_after"),  // 12h back vs 6h fwd
      (1L, ts("2024-01-01 06:00:00"), "closer_before"), // 6h back vs 1d18h fwd
      (1L, ts("2024-01-02 00:00:00"), "exact_tie"),     // 1d back vs 18h fwd... fwd
      (2L, ts("2024-01-05 00:00:00"), "only_before"),
      (3L, ts("2024-01-05 00:00:00"), "no_match")
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0),
      (1L, ts("2024-01-02 18:00:00"), 20.0),
      (2L, ts("2024-01-01 00:00:00"), 30.0)
    ).toDF("user_id", "ts", "px")
    val out = AsOfJoin.asOfNearest(left, right, "user_id", "ts", "px", "nearest")
      .select("tag", "nearest").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out("closer_after") === Some(20.0))
    assert(out("closer_before") === Some(10.0))
    assert(out("exact_tie") === Some(20.0)) // 18h fwd beats 24h back
    assert(out("only_before") === Some(30.0))
    assert(out("no_match") === None)
  }

  test("asOfBroadcast surfaces a null dim VALUE as null, not 0.0") {
    val facts = Seq((10L, 1L, ts("2024-01-02 00:00:00"))).toDF("event_id", "user_id", "ts")
    val dims = Seq((1L, ts("2024-01-01 00:00:00"), null.asInstanceOf[java.lang.Double]))
      .toDF("user_id", "ts", "value")
    val out = AsOfJoin.asOfBroadcast(facts, dims, "user_id", "ts", "value", "v").head()
    assert(out.isNullAt(out.fieldIndex("v")), out.toString)
  }

  test("Ohlc.fillForward carries the last close across date gaps") {
    val series = Seq(
      (1L, "2024-01-01", 10.0), (1L, "2024-01-04", 40.0), // 3-day gap
      (2L, "2024-01-02", 5.0)
    ).toDF("user_id", "d", "close").withColumn("d", to_date($"d"))
    val out = Ohlc.fillForward(series, Seq("close"))
      .orderBy($"user_id", $"d").collect()
    assert(out.length === 5) // 4 days for user 1, 1 day for user 2
    assert(out.map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2))).toSeq === Seq(
      (1L, "2024-01-01", 10.0), (1L, "2024-01-02", 10.0),
      (1L, "2024-01-03", 10.0), (1L, "2024-01-04", 40.0),
      (2L, "2024-01-02", 5.0)))
  }

  test("Ohlc.bars buckets at arbitrary resolution with the daily aggregate's shape") {
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    val hourly = Ohlc.bars(ev, "1 hour")
    val total = hourly.agg(sum($"volume")).head.getLong(0)
    assert(total === ev.count()) // every tick lands in exactly one bucket
    val r = hourly.head()
    assert(r.schema.fieldNames.toSeq ===
      Seq("user_id", "bucket", "open", "high", "low", "close", "volume"))
  }

  test("PivotOps.projectToVocabulary drops departed columns and adds missing ones") {
    // snapshot has x (stays), w (ticker left the index), lacks z (new ticker)
    val snap = Seq((1L, 1.0, 9.0)).toDF("k", "x", "w")
    val out = PivotOps.projectToVocabulary(snap, Seq("k"), Seq("x", "z"))
    assert(out.columns.toSeq === Seq("k", "x", "z"))
    val r = out.head()
    assert(r.getDouble(1) === 1.0 && r.isNullAt(2))
    assert(out.schema("z").dataType.simpleString === "double")
  }

  test("Analytics.weightedPrice = sum(price*qty)/sum(qty) per brand") {
    val li = Seq((1L, 10.0, 2.0), (1L, 20.0, 3.0), (2L, 5.0, 1.0)).toDF("l_partkey", "l_extendedprice", "l_quantity")
    val p = Seq((1L, "B1"), (2L, "B2")).toDF("p_partkey", "p_brand")
    val out = Analytics.weightedPrice(li, p).orderBy($"p_brand").collect()
    assert(out(0).getDouble(1) === 16.0) // (10*2+20*3)/(2+3)
    assert(out(1).getDouble(1) === 5.0)
  }

  private val summaryLatest = Seq("shares" -> "purchase", "outstanding" -> "signup")

  private def summaryRowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toSeq).toSet

  test("mergeable bars: any split of the tick stream merges to the full recompute") {
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    val sums = Seq("click", "purchase")
    val full = Ohlc.dailySummary(ev, summaryLatest, sums)
    // the summary's bars are the daily bars
    val bars = Seq("user_id", "d", "open", "high", "low", "close", "volume")
    assert(summaryRowSet(full.select(bars.map(col): _*)) ===
      summaryRowSet(RefBars.dailyBars(ev).select(bars.map(col): _*)))
    // three arbitrary slices (by event id mod) — not even time-contiguous —
    // summarized apart, then merged
    val parts = (0 to 2).map(i => Ohlc.dailySummary(ev.where($"event_id" % 3 === i), summaryLatest, sums))
    val merged = Ohlc.mergeDaily(parts.reduce(_ unionByName _), summaryLatest, sums)
    assert(summaryRowSet(merged) === summaryRowSet(full))
    // a stored summary merged with raw ticks, each a one-row summary
    val forward = Ohlc.mergeDaily(parts.head.unionByName(
      Ohlc.summaryRows(ev.where($"event_id" % 3 =!= 0), summaryLatest, sums)), summaryLatest, sums)
    assert(summaryRowSet(forward) === summaryRowSet(full))
  }

  test("mergeable bars: duplicate extreme timestamps split across partials still merge deterministically") {
    // two ticks share the day's min AND max instant, landing in different
    // partial frames — the (ts, value) struct tie-break must pick the same
    // open/close/shares as the full build over everything
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00"), 9.0),
      (1L, ts("2024-01-01 09:00:00"), 5.0),
      (1L, ts("2024-01-01 16:00:00"), 7.0),
      (1L, ts("2024-01-01 16:00:00"), 3.0)
    ).toDF("user_id", "ts", "value").withColumn("event_type", lit("purchase"))
    val single = Ohlc.dailySummary(ev, summaryLatest, Nil)
    for (splitBit <- 0 to 1) {
      val a = ev.where($"value" % 2 === splitBit)
      val b = ev.where($"value" % 2 =!= splitBit)
      val merged = Ohlc.mergeDaily(Ohlc.dailySummary(a, summaryLatest, Nil)
        .unionByName(Ohlc.dailySummary(b, summaryLatest, Nil)), summaryLatest, Nil)
      assert(summaryRowSet(merged) === summaryRowSet(single), s"split $splitBit")
      val forward = Ohlc.mergeDaily(Ohlc.dailySummary(a, summaryLatest, Nil)
        .unionByName(Ohlc.summaryRows(b, summaryLatest, Nil)), summaryLatest, Nil)
      assert(summaryRowSet(forward) === summaryRowSet(single), s"split $splitBit, ticks")
    }
    val r = single.head()
    // min-value / max-value ties
    assert((r.getAs[Double]("open"), r.getAs[Double]("close"), r.getAs[Double]("shares")) === (5.0, 7.0, 7.0))
    assert(r.isNullAt(r.fieldIndex("outstanding")))
  }

  test("HLL sketch per-day union estimates within 5% of exact distinct") {
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    val est = ev.groupBy($"event_type", to_date($"ts").as("d"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .groupBy($"event_type")
      .agg(expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as long)").as("est"))
      .as[(String, Long)].collect().toMap
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n")).as[(String, Long)].collect().toMap
    exact.foreach { case (t, n) =>
      assert(math.abs(est(t) - n) <= math.max(1L, (n * 0.05).toLong), s"$t: est ${est(t)} vs $n")
    }
  }

  test("Sessionize.byGap splits on inactivity and emits the trailing session") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0), // same session (10 min gap)
      (1L, ts("2024-01-01 13:00:00"), 7.0), // > 30 min → new (trailing) session
      (2L, ts("2024-01-01 09:00:00"), 5.0)  // other key, its own session
    ).toDF("user_id", "ts", "value")
    val out = Sessionize.byGap(ev, gapSec = 1800)
      .orderBy($"user_id", $"session_start").collect()
    assert(out.length === 3)
    assert(out(0).getLong(2) === 2L && out(0).getDouble(3) === 3.0
      && out(0).getDouble(4) === 600.0)
    assert(out(1).getLong(2) === 1L && out(1).getDouble(3) === 7.0
      && out(1).getDouble(4) === 0.0)
    assert(out(2).getLong(0) === 2L && out(2).getLong(2) === 1L)
  }

  test("Sessionize.byGap agrees with Spark's built-in session_window aggregate") {
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    val builtin = ev
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(28,6)")).cast("double").as("total_value"))
      .select($"user_id", $"sw.start".as("session_start"), $"n_events", $"total_value")
      .collect().map(_.toSeq).toSet
    val ours = Sessionize.byGap(ev, gapSec = 1800)
      .select("user_id", "session_start", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    assert(ours === builtin)
  }

  test("Profile.histogram bins values at fixed width per key") {
    val ev = Seq(("a", 10.0), ("a", 49.9), ("a", 50.0), ("b", -0.1))
      .toDF("event_type", "value")
    val out = Profile.histogram(ev, "value", 50.0, "event_type")
      .orderBy($"event_type", $"bin_start").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ===
      Seq(("a", 0.0, 2L), ("a", 50.0, 1L), ("b", -50.0, 1L)))
  }

  test("Analytics.rollupDaily emits details, per-type subtotals and a grand total") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "click", 1.0),
      (1L, ts("2024-01-02 10:00:00"), "click", 2.0),
      (2L, ts("2024-01-01 10:00:00"), "view", 4.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val out = Analytics.rollupDaily(ev).collect()
    assert(out.length === 6) // 3 details + 2 type subtotals + 1 grand total
    val grand = out.find(r => r.getLong(4) == 1L && r.getLong(5) == 1L).get
    assert(grand.getLong(2) === 3L && grand.getDouble(3) === 7.0)
    val clickSub = out.find(r => r.getLong(4) == 0L && r.getLong(5) == 1L
      && r.getString(0) == "click").get
    assert(clickSub.getLong(2) === 2L && clickSub.getDouble(3) === 3.0)
  }

  test("Analytics.groupingSetsDaily emits per-type, per-day and grand bands — no fine grain") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "click", 1.0),
      (1L, ts("2024-01-02 10:00:00"), "click", 2.0),
      (2L, ts("2024-01-01 10:00:00"), "view", 4.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val out = Analytics.groupingSetsDaily(ev).collect()
    // 2 type bands + 2 day bands + 1 grand total; NO (type, day) details
    assert(out.length === 5)
    assert(out.map(r => (r.getLong(4), r.getLong(5))).toSet ===
      Set((0L, 1L), (1L, 0L), (1L, 1L)))
    val grand = out.find(r => r.getLong(4) == 1L && r.getLong(5) == 1L).get
    assert(grand.getLong(2) === 3L && grand.getDouble(3) === 7.0)
    val day1 = out.find(r => r.getLong(4) == 1L && r.getLong(5) == 0L
      && r.getDate(1).toString == "2024-01-01").get
    assert(day1.getLong(2) === 2L && day1.getDouble(3) === 5.0)
  }

  test("Graph.pagerank matches the hand-iterated formula on a tiny graph with a dangling node") {
    // a -> b, a -> c, b -> c ; c dangling. N = 3, d = 0.85, 2 iterations.
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val out = Graph.pagerank(edges, iters = 2, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def t12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val n = 3.0
    var rank = Map("a" -> 1.0 / n, "b" -> 1.0 / n, "c" -> 1.0 / n)
    for (_ <- 1 to 2) {
      val dm = t12(rank("c")).toDouble // c is the only dangling node
      val inB = t12(rank("a") / 2.0).toDouble
      val inC = (t12(rank("a") / 2.0) + t12(rank("b") / 1.0)).toDouble
      val base = (1 - 0.85) / 3
      rank = Map(
        "a" -> (base + 0.85 * (0.0 + dm / n)),
        "b" -> (base + 0.85 * (inB + dm / n)),
        "c" -> (base + 0.85 * (inC + dm / n)))
    }
    rank.foreach { case (node, exp) =>
      assert(out(node) === exp, s"node $node")
    }
    // mass is conserved: ranks still sum to ~1
    assert(math.abs(out.values.sum - 1.0) < 1e-9)
  }

  test("Graph.pagerank concentrates rank down the star's funnel") {
    // everyone links to h; h links to s1 only — h aggregates the leaves'
    // mass and hands ALL of it to s1 each iteration, so s1 > h > leaves
    val edges = (1 to 8).map(i => (s"v$i", "h")) :+ (("h", "s1"))
    val out = Graph.pagerank(edges.toDF("src", "dst"), iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("s1") === out.values.max)    // the funnel's sink
    assert(out("h") > out("v2"))            // the cited hub beats leaves
    assert(math.abs(out.values.sum - 1.0) < 1e-9)
  }

  test("Graph.connectedComponents labels components by their minimum node") {
    // two components: a-b-c (chain) and x-y; edges given in one direction
    val edges = Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val out = Graph.connectedComponents(edges, iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("Graph.connectedComponents resolves exactly the k-hop neighborhood per round") {
    // path v1-v2-...-v8: after k rounds label(v_i) = v_{max(1, i-k)};
    // enough rounds collapse the whole path to v1
    val edges = (1 to 7).map(i => (s"v$i", s"v${i + 1}")).toDF("src", "dst")
    val at2 = Graph.connectedComponents(edges, iters = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert((1 to 8).forall(i => at2(s"v$i") == s"v${math.max(1, i - 2)}"), s"$at2")
    val at7 = Graph.connectedComponents(edges, iters = 7)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(at7.values.toSet === Set("v1"))
  }

  test("Analytics.bigOrders keeps only orders whose summed quantity clears the bar") {
    val cust = Seq((1L, "Alice"), (2L, "Bob")).toDF("c_custkey", "c_name")
    val ords = Seq((10L, 1L, ts("2024-01-01 00:00:00"), 500.0),
      (20L, 2L, ts("2024-01-02 00:00:00"), 900.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val li = Seq((10L, 100.0), (10L, 160.0), (20L, 200.0))
      .toDF("l_orderkey", "l_quantity")
    val out = Analytics.bigOrders(cust, ords, li, minQty = 250, k = 10).collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "Alice" && out.head.getDouble(5) === 260.0)
  }

  test("Graph.shortestHops: exact hop counts within range, sentinel beyond") {
    // path v1-v2-v3-v4-v5, source v1, 2 rounds → v4/v5 unreached
    val edges = (1 to 4).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val out = Graph.shortestHops(edges, source = 1L, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L,
      4L -> Graph.Unreached, 5L -> Graph.Unreached))
    val full = Graph.shortestHops(edges, source = 3L, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full === Map(1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 1L, 5L -> 2L))
  }

  /** `localSolveMaxEdges = 0` pins the distributed loops; the default cap
    * solves this tiny long-id graph in the driver.
    */
  private def bspEarlyExit(cap: Long): Unit = {
    // MEASURED by Spark job count, not just timing: with the exits, the
    // extra 90+ budgeted rounds must launch zero additional jobs. Counted
    // by a listener: the status tracker keeps only the last
    // spark.ui.retainedJobs jobs, so differences of its job list go
    // negative once a long run passes that many.
    def jobsDuring(f: => Unit): Int = JobProbe.during(spark)(f)._2.jobs
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst") // diameter 5
    def hops(iters: Int): Map[Long, Long] =
      Graph.shortestHops(edges, source = 1L, iters = iters, localSolveMaxEdges = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var small: Map[Long, Long] = null
    var huge: Map[Long, Long] = null
    val jSmall = jobsDuring { small = hops(7) }
    val jHuge = jobsDuring { huge = hops(100) }
    assert(small.values.max === 5L && huge === small)
    // one extra round runs to OBSERVE the empty frontier; beyond that the
    // 93-round budget difference must be free
    assert(jHuge <= jSmall + 2, s"BFS iters=100 ran $jHuge jobs vs $jSmall at iters=7")
    def comps(iters: Int): Map[Long, Long] =
      Graph.connectedComponents(edges, iters = iters, localSolveMaxEdges = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cSmall = jobsDuring { small = comps(8) }
    val cHuge = jobsDuring { huge = comps(100) }
    assert(small.values.toSet === Set(1L) && huge === small)
    assert(cHuge <= cSmall + 2, s"components iters=100 ran $cHuge jobs vs $cSmall at iters=8")
  }

  test("BSP early exit: BFS stops at an empty frontier and components at the " +
    "label fixpoint — a huge round budget costs the same jobs as the diameter") {
    bspEarlyExit(cap = 0L)
  }

  test("BSP early exit at the default cap: a huge round budget costs the same jobs as the diameter") {
    bspEarlyExit(cap = LocalGraph.MaxEdges)
  }

  test("Analytics.giniBySegment: zero for equal orders, known value for a skewed pair") {
    val cust = Seq((1L, "A"), (2L, "B")).toDF("c_custkey", "c_mktsegment")
    val ords = Seq(
      (10L, 1L, 50.0), (11L, 1L, 50.0), (12L, 1L, 50.0), // equal → gini 0
      (20L, 2L, 0.0), (21L, 2L, 100.0)) // maximal two-order skew → 0.5
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = Analytics.giniBySegment(cust, ords)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out === Map("A" -> 0.0, "B" -> 0.5))
  }

  test("TextAnalysis.zipfSlope reproduces the closed-form OLS on a tiny corpus") {
    // one slice, tokens: a×4 b×2 c×1 → ranks 1,2,3 with freqs 4,2,1
    val docs = Seq(("s1", "a a a a b b c")).toDF("source", "text")
    val out = TextAnalysis.zipfSlope(docs, topK = 100).collect()
    assert(out.length === 1 && out.head.getLong(1) === 3L)
    val xs = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys = Seq(4.0, 2.0, 1.0).map(math.log)
    val n = 3.0
    val exp = (n * xs.zip(ys).map { case (x, y) => x * y }.sum - xs.sum * ys.sum) /
      (n * xs.map(x => x * x).sum - xs.sum * xs.sum)
    assert(math.abs(out.head.getDouble(2) - exp) < 1e-6)
  }

  test("Analytics.profitByNationYear routes revenue through the part filter and dims") {
    val nation = Seq((100, "N_A"), (200, "N_B")).toDF("n_nationkey", "n_name")
    val sup = Seq((1L, 100), (2L, 200)).toDF("s_suppkey", "s_nationkey")
    val part = Seq((7L, "PROMO"), (8L, "LARGE")).toDF("p_partkey", "p_type")
    val ords = Seq((10L, ts("1996-03-01 00:00:00")), (11L, ts("1997-06-01 00:00:00")))
      .toDF("o_orderkey", "o_orderdate")
    val li = Seq(
      (10L, 7L, 1L, 100.0, 0.1), // PROMO, supplier 1 → N_A, 1996, 90
      (10L, 8L, 1L, 999.0, 0.0), // LARGE: filtered
      (11L, 7L, 2L, 50.0, 0.0))  // PROMO, supplier 2 → N_B, 1997, 50
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    val out = Analytics.profitByNationYear(nation, sup, part, ords, li, "PROMO")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(out.toSeq === Seq(("N_A", 1996, 90.0), ("N_B", 1997, 50.0)))
  }

  test("Analytics.orderCohorts: first-order month anchors, repeat orders dedup per cell") {
    val ords = Seq(
      (1L, 10L, ts("2024-01-05 00:00:00")), // cohort 2024-01, k=0
      (1L, 11L, ts("2024-03-09 00:00:00")), // k=2
      (1L, 12L, ts("2024-03-20 00:00:00")), // same cell — deduped
      (2L, 20L, ts("2024-03-01 00:00:00"))) // cohort 2024-03, k=0
      .map { case (c, o, t) => (o, c, t) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val out = Analytics.orderCohorts(ords)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      ("2024-01", 0L, 1L), ("2024-01", 2L, 1L), ("2024-03", 0L, 1L)))
  }

  test("Dedup.survivorship: richest record wins, min-id tiebreak, canonical stays earliest") {
    val recs = Seq(
      (1L, 10L, "short", "web"),
      (1L, 20L, "a longer record", "crm"),   // longest → survivor
      (2L, 30L, "same len", "web"),
      (2L, 31L, "same len", "web"),          // tie on length → min id 30 wins
      (3L, 40L, "alone", "web"))
      .toDF("entity_id", "doc_id", "text", "source")
    val out = Dedup.survivorship(recs).orderBy($"entity_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5)))
    assert(out.toSeq === Seq(
      (1L, 2L, 10L, 20L, 2L), (2L, 2L, 30L, 30L, 1L), (3L, 1L, 40L, 40L, 1L)))
  }

  test("Dedup.survivorship: a ≥9.2M-char text cannot overflow the argmax key") {
    // a bigint len·10¹² − id key overflows Long at ~9.2M chars and would
    // corrupt survivor selection silently; the decimal key is total for
    // every (int length × long id)
    val recs = spark.range(0, 2).selectExpr(
      "1L AS entity_id", "id + 10 AS doc_id",
      "CASE WHEN id = 1 THEN repeat('a', 10000000) ELSE 'tiny' END AS text",
      "'web' AS source")
    val out = Dedup.survivorship(recs).collect().head
    assert(out.getLong(3) === 11L, "longest text must survive")   // survivor_id
    assert(out.getLong(4) === 10000000L)                          // survivor_len
  }

  test("Analytics.forecastEval: persistence-forecast errors per series") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 10.0),
      (1L, ts("2024-01-02 10:00:00"), "a", 13.0), // e = +3
      (1L, ts("2024-01-03 10:00:00"), "a", 9.0))  // e = -4
      .toDF("user_id", "ts", "event_type", "value")
    val out = Analytics.forecastEval(ev).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === 2L)                       // n_days with a forecast
    assert(r.getDouble(2) === 3.5)                    // mae = (3+4)/2
    assert(math.abs(r.getDouble(3) - math.sqrt(12.5)) < 1e-6) // rmse (round-6 output)
    assert(r.getDouble(4) === -0.5)                   // bias
  }

  test("Analytics.custOrderDistribution counts the zero bucket and excludes the priority") {
    val cust = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("c_custkey", "c_name")
    val ords = Seq(
      (10L, 1L, "1-URGENT"), (11L, 1L, "5-LOW"), (12L, 1L, "5-LOW"),
      (20L, 2L, "1-URGENT")) // customer 2: urgent-only → zero bucket; 3: no orders
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val out = Analytics.custOrderDistribution(cust, ords, "1-URGENT")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 2L, 2L -> 1L))
  }

  test("Analytics.topSupplier surfaces every supplier tied at the max window revenue") {
    val sup = Seq((1L, "s1"), (2L, "s2"), (3L, "s3"))
      .toDF("s_suppkey", "s_name")
    val li = Seq(
      (1L, ts("1996-02-01 00:00:00"), 100.0, 0.0),
      (2L, ts("1996-02-02 00:00:00"), 50.0, 0.0),
      (2L, ts("1996-02-03 00:00:00"), 50.0, 0.0), // ties supplier 1
      (3L, ts("1995-01-01 00:00:00"), 999.0, 0.0)) // outside the window
      .toDF("l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    val out = Analytics.topSupplier(sup, li, "1996-01-01", "1996-04-01")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.toSeq === Seq((1L, 100.0), (2L, 100.0)))
  }

  test("Analytics.supplierClassCount drops blacklisted suppliers before the distinct count") {
    val part = Seq((1L, "B1", "T1", 5)).toDF("p_partkey", "p_brand", "p_type", "p_size")
    val sup = Seq((1L, 10.0), (2L, -5.0)).toDF("s_suppkey", "s_acctbal")
    val li = Seq((1L, 1L), (1L, 1L), (1L, 2L)) // supplier 2 is blacklisted
      .toDF("l_partkey", "l_suppkey")
    val out = Analytics.supplierClassCount(part, sup, li, k = 10).collect()
    assert(out.length === 1 && out.head.getLong(3) === 1L)
  }

  test("Analytics.idleRichCustomers: above positive-average balance and no urgent orders") {
    val cust = Seq(
      (1L, 100.0, "A"), (2L, 60.0, "A"), (3L, -50.0, "B"), (4L, 90.0, "B"))
      .toDF("c_custkey", "c_acctbal", "c_mktsegment")
    // positive avg = (100+60+90)/3 = 83.33; rich = {1, 4}; 4 has an urgent order
    val ords = Seq((40L, 4L, "1-URGENT"), (41L, 1L, "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val out = Analytics.idleRichCustomers(cust, ords, "1-URGENT").collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "A" && out.head.getLong(1) === 1L &&
      out.head.getDouble(2) === 100.0)
  }

  test("Activity.rollingDistinct counts the trailing window on observed days only") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-03 10:00:00")), (3L, ts("2024-01-03 12:00:00")))
      .toDF("user_id", "ts").withColumn("value", lit(1.0))
    val out = Activity.rollingDistinct(ev, windowDays = 2)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // Jan 2 had no events → not emitted; Jan 3 window = {Jan 2, Jan 3} → {1, 3}
    assert(out === Map("2024-01-01" -> 2L, "2024-01-03" -> 2L))
  }

  test("Activity.maxConcurrent: closed intervals, single-event sessions count") {
    val ev = Seq(
      // user 1: one session 10:00–10:40 (10:00, 10:20, 10:40)
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:20:00")),
      (1L, ts("2024-01-01 10:40:00")),
      // user 2: single-event session exactly at user 1's session end
      (2L, ts("2024-01-01 10:40:00")),
      // user 3: lone session the next day, overlapping nothing
      (3L, ts("2024-01-02 09:00:00")))
      .toDF("user_id", "ts").withColumn("value", lit(1.0))
    val out = Activity.maxConcurrent(ev, gapSec = 1800)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // closed intervals: user 2's instant session at 10:40 overlaps user 1
    assert(out === Map("2024-01-01" -> 2L, "2024-01-02" -> 1L))
  }

  test("Activity.topPaths mines per-user trigrams in (ts, event_id) order") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "a"), (2L, 1L, ts("2024-01-01 10:01:00"), "b"),
      (3L, 1L, ts("2024-01-01 10:02:00"), "c"), (4L, 1L, ts("2024-01-01 10:03:00"), "a"),
      (5L, 2L, ts("2024-01-01 10:00:00"), "a"), (6L, 2L, ts("2024-01-01 10:01:00"), "b"),
      (7L, 2L, ts("2024-01-01 10:02:00"), "c"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = Activity.topPaths(ev, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    // a→b→c appears for both users; b→c→a only for user 1
    assert(out.head === ("a", "b", "c", 2L))
    assert(out(1) === ("b", "c", "a", 1L))
  }

  test("Packing.prefixSum equals the single-partition global window, any chunk size") {
    val df = (1L to 500L).map(i => (i * 7 % 1000, (i % 13) + 1)).distinct
      .toDF("ord", "v")
    val w = Window.orderBy($"ord").rowsBetween(Window.unboundedPreceding, -1)
    val global = df.withColumn("prefix", coalesce(sum($"v").over(w), lit(0L)))
      .select("ord", "prefix").as[(Long, Long)].collect().toSet
    for (chunk <- Seq(1L, 16L, 1L << 20)) {
      val two = Packing.prefixSum(df, "ord", "v", chunkSize = chunk)
        .select("ord", "prefix").as[(Long, Long)].collect().toSet
      assert(two === global, s"chunkSize=$chunk")
    }
  }

  test("packSequences: offsets stay under budget and sequences cover the stream") {
    val docs = Tables.documents(spark, sfDir)
    val packed = Packing.packSequences(docs, budget = 512, chunkSize = 32).collect()
    assert(packed.length === docs.count())
    packed.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(3) < 512) // seq_offset ∈ [0, budget)
    }
    // token positions tile contiguously: total tokens == max(prefix)+last len
    val totalToks = packed.map(_.getLong(1)).sum
    val maxStart = packed.map(r => r.getLong(2) * 512 + r.getLong(3)).max
    val lastLen = packed.find(r => r.getLong(2) * 512 + r.getLong(3) == maxStart).get.getLong(1)
    assert(maxStart + lastLen === totalToks)
  }

  test("TextAnalysis.vocabulary counts lowercased tokens above the floor") {
    val docs = Seq((1L, "The cat and the dog"), (2L, "a CAT")).toDF("doc_id", "text")
    val vocab = TextAnalysis.vocabulary(docs, minCount = 2)
      .as[(String, Long)].collect().toMap
    assert(vocab === Map("the" -> 2L, "cat" -> 2L))
  }

  test("Skew.runningSumBucketed: identical to the plain window on a 30%-hot-key stream") {
    // 1000 events over 10 days; key 1 is pathological (30% of all rows),
    // the rest spread over 20 keys — the raw per-entity window shape
    // where one key serializes one task
    val rows = (0 until 1000).map { i =>
      val key = if (i % 10 < 3) 1L else 2L + (i % 20)
      val day = 1 + (i % 10)
      val tsv = ts(f"2024-01-$day%02d ${8 + (i % 9)}%02d:${i % 60}%02d:00")
      (key, tsv, (i % 7).toDouble + 0.5)
    }
    val df = rows.toDF("user_id", "ts", "value")
    def canon(d: org.apache.spark.sql.DataFrame) = d
      .select($"user_id", $"ts", $"value", $"running")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2, t._3))
    // the plain plan: ONE entity-partitioned ordered window
    def runningSum(d: org.apache.spark.sql.DataFrame) = d.withColumn("running",
      sum($"value").over(Window.partitionBy($"user_id").orderBy($"ts")))
    val plain = runningSum(df)
    val bucketed = Skew.runningSumBucketed(df, "user_id", "ts", "value")
    assert(canon(bucketed) === canon(plain))
    // equal-timestamp ties get the same cumulative value in both plans
    val tied = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1.0),
      (1L, ts("2024-01-01 09:00:00"), 2.0),
      (1L, ts("2024-01-02 09:00:00"), 4.0)).toDF("user_id", "ts", "value")
    assert(canon(Skew.runningSumBucketed(tied, "user_id", "ts", "value"))
      === canon(runningSum(tied)))
    // the two-stage SHAPE: the data-sized window partitions on
    // (key, bucket); only the bucket-count offset window partitions on
    // the bare key — and the plain plan is a single bare-key window
    val wins = bucketed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.map(_.references.map(_.name).mkString).toSet
    }
    assert(wins.size === 2, wins)
    assert(wins.count(_.exists(_.contains("__b"))) === 1, wins)
    val plainWins = plain.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(plainWins.size === 1)
  }

  test("Profile.benford extracts the first significant digit exactly") {
    val df = Seq(
      ("a", 123.45), ("a", 1.0), ("a", 0.5), ("a", 0.0007), ("a", -23.4),
      ("a", 0.0), ("a", 0.0000001) // 0 and sub-1e-6 render no digit — excluded
    ).toDF("event_type", "value")
    val out = Profile.benford(df, "value", "event_type")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // digits: 1 (123.45), 1 (1.0), 5 (0.5), 7 (0.0007), 2 (|−23.4|)
    assert(out === Map("1" -> 2L, "5" -> 1L, "7" -> 1L, "2" -> 1L))
    val freqs = Profile.benford(df, "value", "event_type")
      .agg(sum($"obs_freq")).head().getDouble(0)
    assert(math.abs(freqs - 1.0) < 1e-6)
    val b1 = Profile.benford(df, "value", "event_type")
      .where($"first_digit" === "1").head().getDouble(4)
    assert(math.abs(b1 - 0.30103) < 1e-5) // Benford's p(1)
  }

  test("q_obv runs a signed cumulative volume: zero start, sign-consistent steps") {
    val rows = SparkEntry.queries("q_obv")(spark, sfDir)
      .orderBy($"user_id", $"d").collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.values.foreach { rs =>
      assert(rs.head.getLong(2) === 0L) // first day: no prior close, sv = 0
    }
    // differential vs an independent recomputation of the final OBV
    val bars = RefBars.dailyBars(
      graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"d")
    val finals = bars
      .select($"user_id",
        (signum($"close" - lag($"close", 1).over(w)).cast("long") * $"volume").as("sv"))
      .groupBy($"user_id").agg(sum(coalesce($"sv", lit(0L))).as("total"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byUser.foreach { case (u, rs) => assert(rs.last.getLong(2) === finals(u)) }
  }

  test("q_entropy, q_markov_transition, q_target_encoding, q_percentile_rank invariants") {
    val ents = SparkEntry.queries("q_entropy")(spark, sfDir).collect()
    val nTypes = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
      .select($"event_type").distinct().count()
    ents.foreach { r =>
      val h = r.getDouble(2)
      assert(h >= -1e-9 && h <= math.log(nTypes.toDouble) + 1e-9,
        s"entropy out of [0, ln k]: $h")
    }
    val mk = SparkEntry.queries("q_markov_transition")(spark, sfDir).collect()
    mk.groupBy(_.getString(0)).values.foreach { rows =>
      val total = rows.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-4, s"row probs must sum to 1, got $total")
    }
    // target encoding is a convex combination of category and global mean
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    val gmean = ev.agg(avg($"value")).head().getDouble(0)
    val catMeans = ev.groupBy($"event_type").agg(avg($"value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    SparkEntry.queries("q_target_encoding")(spark, sfDir).collect().foreach { r =>
      val (cat, enc) = (r.getString(0), r.getDouble(2))
      val (lo, hi) = (math.min(catMeans(cat), gmean), math.max(catMeans(cat), gmean))
      assert(enc >= lo - 1e-6 && enc <= hi + 1e-6,
        s"$cat: enc $enc outside [$lo, $hi]")
    }
    val pr = SparkEntry.queries("q_percentile_rank")(spark, sfDir).collect()
    assert(pr.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    pr.groupBy(_.getString(1)).values.foreach { rows =>
      assert(rows.map(_.getDouble(3)).min === 0.0)
      // pr is non-decreasing in n_chars (ties share a rank, so the max
      // pr is 1.0 only when the longest doc is untied)
      val sorted = rows.sortBy(_.getLong(2))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(3) <= b.getDouble(3) + 1e-12)
        case _ =>
      }
    }
  }

  test("trend decomposition reassembles; skew/kurt match Spark's builtins") {
    // additive identity: close = trend + seasonal + remainder
    SparkEntry.queries("q_trend_decompose")(spark, sfDir).collect().foreach { r =>
      val (c, t, s2, rem) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(math.abs(c - (t + s2 + rem)) < 5e-6, s"decomposition broke: $c vs ${t + s2 + rem}")
    }
    // differential: decimal power-sum moments vs Spark's skewness()/kurtosis()
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    val bars = RefBars.dailyBars(ev)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"d")
    val ret = bars.select($"user_id",
        ($"close" / nullif(lag($"close", 1).over(w), lit(0.0)) - 1).as("r"))
      .where($"r".isNotNull)
    val ref = ret.groupBy($"user_id")
      .agg(skewness($"r").as("sk"), kurtosis($"r").as("ku"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    SparkEntry.queries("q_skew_kurt")(spark, sfDir).collect().foreach { r =>
      val (u, sk, ku) = (r.getLong(0), r.getDouble(2), r.getDouble(3))
      assert(math.abs(sk - ref(u)._1) < 1e-3, s"user $u skew: $sk vs ${ref(u)._1}")
      assert(math.abs(ku - ref(u)._2) < 1e-3, s"user $u kurt: $ku vs ${ref(u)._2}")
    }
  }

  test("q_minmax_scale bounds and q_lag_features label alignment") {
    SparkEntry.queries("q_minmax_scale")(spark, sfDir).collect().foreach { r =>
      if (!r.isNullAt(2)) {
        val v = r.getDouble(2)
        assert(v >= -1e-9 && v <= 1.0 + 1e-9, s"scaled out of [0,1]: $v")
      }
    }
    val lf = SparkEntry.queries("q_lag_features")(spark, sfDir)
      .orderBy($"user_id", $"d").collect()
    lf.groupBy(_.getLong(0)).values.foreach { rows =>
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDouble(7) === b.getDouble(2)) // label_next = next close
          assert(b.getDouble(3) === a.getDouble(2)) // lag1 = previous close
        case _ =>
      }
      assert(rows.last.isNullAt(7)) // no label beyond the horizon
    }
  }

  test("PivotOps.melt inverts pivotAgg, dropping never-present cells") {
    val long = Seq((1L, "a", 2.0), (1L, "a", 3.0), (1L, "b", 4.0), (2L, "b", 5.0))
      .toDF("user_id", "k", "v")
    val wide = PivotOps.pivotAgg(long, "user_id", "k", Seq("a", "b", "c"), "v",
      c => sum(c.cast("decimal(28,6)")).cast("double"))
    val back = PivotOps.melt(wide, "user_id", Seq("a", "b", "c"),
        keyName = "k", valueName = "v")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    // user 1 never had 'c', user 2 never had 'a' or 'c' — those cells drop
    assert(back === Map((1L, "a") -> 5.0, (1L, "b") -> 4.0, (2L, "b") -> 5.0))
    // a quote in the column name survives the stack literal round trip —
    // Spark concatenates ADJACENT string literals, so the SQL-standard
    // doubled-quote escape would silently emit "its"
    val quoted = Seq((1L, 2.0)).toDF("id", "it's")
    val qback = PivotOps.melt(quoted, "id", Seq("it's"), "k", "v")
      .select($"k").as[String].collect()
    assert(qback.toSeq === Seq("it's"))
  }

  test("melt ∘ pivotAgg NULL contract: all-NULL combinations drop on BOTH " +
    "sides (melt ≡ direct aggregate HAVING total IS NOT NULL)") {
    // the q_unpivot latent class: a combination PRESENT in the long form
    // whose values are all NULL aggregates to a NULL wide cell, which melt
    // cannot distinguish from an absent combination — the declared
    // contract is that both drop, mirroring the oracle's HAVING clause
    val long = Seq(
      (1L, "a", Option(2.0)), (1L, "a", Option.empty[Double]), // partial NULL → 2.0
      (1L, "b", Option.empty[Double]),                         // all-NULL → drops
      (2L, "b", Option(5.0)))
      .toDF("user_id", "k", "v")
    val wide = PivotOps.pivotAgg(long, "user_id", "k", Seq("a", "b"), "v",
      c => sum(c.cast("decimal(28,6)")).cast("double"))
    val back = PivotOps.melt(wide, "user_id", Seq("a", "b"),
        keyName = "k", valueName = "v")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val direct = long.groupBy($"user_id", $"k")
      .agg(sum($"v".cast("decimal(28,6)")).cast("double").as("v"))
      .where($"v".isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(back === Map((1L, "a") -> 2.0, (2L, "b") -> 5.0))
    assert(back === direct)
  }

  test("q_table_diff, q_user_growth, q_gap_detect reconciliation invariants") {
    val diff = SparkEntry.queries("q_table_diff")(spark, sfDir).collect()
    diff.foreach { r =>
      val st = r.getString(3)
      if (r.isNullAt(1)) assert(st === "added")
      else if (r.isNullAt(2)) assert(st === "removed")
      else assert(st === (if (r.getDouble(1) == r.getDouble(2)) "unchanged" else "changed"))
    }
    val growth = SparkEntry.queries("q_user_growth")(spark, sfDir)
      .orderBy($"d").collect()
    val cums = growth.map(_.getLong(2))
    assert(cums.zip(cums.tail).forall { case (a, b) => b > a }) // strictly growing
    val totalUsers = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
      .select($"user_id").distinct().count()
    assert(cums.last === totalUsers)
    assert(growth.map(_.getLong(1)).sum === totalUsers)
    SparkEntry.queries("q_gap_detect")(spark, sfDir).collect().foreach { r =>
      val (nDays, nMissing, maxGap) = (r.getLong(3), r.getLong(4), r.getLong(5))
      val span = java.time.temporal.ChronoUnit.DAYS.between(
        r.getDate(1).toLocalDate, r.getDate(2).toLocalDate) + 1
      assert(nMissing === span - nDays)
      assert(nMissing >= 0 && maxGap >= 1 && maxGap <= span)
    }
  }

  test("q_ab_test counts match a collected recount; q_readability matches java-regex recount") {
    val ab = SparkEntry.queries("q_ab_test")(spark, sfDir).head()
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
      .select($"user_id", $"event_type").as[(Long, String)].collect()
    val byUser = ev.groupBy(_._1).toSeq.map { case (u, rs) =>
      (u % 2, rs.exists(_._2 == "purchase")) }
    val (v0, v1) = byUser.partition(_._1 == 0L)
    assert(ab.getLong(0) === v0.length && ab.getLong(1) === v1.length)
    assert(math.abs(ab.getDouble(2) - v0.count(_._2).toDouble / v0.length) < 1e-6)
    assert(math.abs(ab.getDouble(3) - v1.count(_._2).toDouble / v1.length) < 1e-6)
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
      .as[(Long, String)].collect().take(20).toMap
    val rd = SparkEntry.queries("q_readability")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    docs.foreach { case (id, text) =>
      val t = text.toLowerCase
      def cnt(p: String) = p.r.findAllIn(t).length.toLong
      val (w, s2, sy) = (cnt("[a-z0-9']+"), math.max(cnt("[.!?]+"), 1L), cnt("[aeiouy]+"))
      if (w > 0) {
        val (qw, qs, qf) = rd(id)
        assert(qw === w && qs === s2, s"doc $id: counts $qw/$qs vs $w/$s2")
        val expect = 206.835 - 1.015 * (w.toDouble / s2) - 84.6 * (sy.toDouble / w)
        assert(math.abs(qf - expect) < 1e-5, s"doc $id: $qf vs $expect")
      }
    }
  }

  test("q_code_detect separates code from prose; q_rolling_outliers flags injected spikes") {
    // recompute the detector's exact expression on two hand-made docs
    val docs = Seq(
      (1L, "function process(x) { if (x > 0) { return x * 2; } else { return 0; } }"),
      (2L, "The quiet afternoon light settled over the harbor and the boats swayed gently")
    ).toDF("doc_id", "text")
    val n = greatest(length($"text").cast("double"), lit(1.0))
    val punct = size(regexp_extract_all($"text", lit("[{}();=\\[\\]<>]"), lit(0)))
      .cast("double") / n
    val kw = size(regexp_extract_all(lower($"text"),
      lit("\\b(def|return|function|var|class|import|if|else|for|while)\\b"),
      lit(0))).cast("double")
    val words = greatest(size(split(trim($"text"), "\\s+")).cast("double"), lit(1.0))
    val scored = docs.select($"doc_id",
      (punct * 10.0 + (kw / words) * 5.0).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(1L) > 0.5 && scored(2L) < 0.5, s"scores: $scored")
    // rolling outliers: causal flags only after a 10-bar warmup, and the
    // rate at 3 sigma is tiny on an in-distribution series
    val ro = SparkEntry.queries("q_rolling_outliers")(spark, sfDir).collect()
    val flagged = ro.count(r => !r.isNullAt(3) && r.getBoolean(3))
    val evaluated = ro.count(r => !r.isNullAt(3))
    assert(evaluated > 0)
    assert(flagged.toDouble / evaluated < 0.05, s"$flagged/$evaluated flagged")
  }

  test("q_ks_test matches a brute-force KS on the collected sample") {
    val out = SparkEntry.queries("q_ks_test")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out.values.forall(v => v >= 0.0 && v <= 1.0))
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    val rows = ev.select($"event_type", $"value", ($"ts" < lit("2024-01-20")).as("h1"))
      .as[(String, Double, Boolean)].collect()
    rows.groupBy(_._1).foreach { case (et, rs) =>
      val s1 = rs.filter(_._3).map(_._2).sorted
      val s2 = rs.filterNot(_._3).map(_._2).sorted
      val xs = (s1 ++ s2).distinct.sorted
      val d = xs.map { x =>
        val f1 = s1.count(_ <= x).toDouble / s1.length
        val f2 = s2.count(_ <= x).toDouble / s2.length
        math.abs(f1 - f2)
      }.max
      assert(math.abs(out(et) - d) < 1e-5, s"$et: ${out(et)} vs brute-force $d")
    }
  }

  test("entropy, markov, target encoding recount exactly from collected events") {
    val ev = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
      // NTZ collects as LocalDateTime; a double epoch keeps microsecond
      // order for the pairing without the java.time plumbing
      .select($"user_id", $"ts".cast("timestamp").cast("double"), $"event_id",
        $"event_type", $"value")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    // entropy: −Σ p ln p per user
    val entGot = SparkEntry.queries("q_entropy")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    ev.groupBy(_._1).foreach { case (u, rs) =>
      val n = rs.length.toDouble
      val h = -rs.groupBy(_._4).values.map { g =>
        val p = g.length / n; p * math.log(p)
      }.sum
      assert(math.abs(entGot(u) - h) < 1e-5, s"user $u entropy")
    }
    // markov: transition probabilities per from-state
    val mkGot = SparkEntry.queries("q_markov_transition")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val pairs = ev.groupBy(_._1).values.flatMap { rs =>
      val ordered = rs.sortBy(r => (r._2, r._3))
      ordered.zip(ordered.tail).map { case (a, b2) => (a._4, b2._4) }
    }.toSeq
    val byFrom = pairs.groupBy(_._1)
    pairs.groupBy(identity).foreach { case ((f, t), ps) =>
      val (gn, gp) = mkGot((f, t))
      assert(gn === ps.length.toLong, s"$f->$t count")
      assert(math.abs(gp - ps.length.toDouble / byFrom(f).length) < 1e-5, s"$f->$t prob")
    }
    // target encoding: (sum + 50*gmean)/(n + 50) per category
    val gmean = ev.map(_._5).sum / ev.length
    val teGot = SparkEntry.queries("q_target_encoding")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    ev.groupBy(_._4).foreach { case (cat, rs) =>
      val expect = (rs.map(_._5).sum + 50.0 * gmean) / (rs.length + 50.0)
      assert(math.abs(teGot(cat) - expect) < 1e-4, s"$cat: ${teGot(cat)} vs $expect")
    }
  }

  test("q_seasonality and q_autocorr hold their structural invariants") {
    val season = SparkEntry.queries("q_seasonality")(spark, sfDir).collect()
    assert(season.length <= 7)
    assert(season.forall(r => r.getLong(0) >= 1 && r.getLong(0) <= 7))
    val ac = SparkEntry.queries("q_autocorr")(spark, sfDir).collect()
    assert(ac.nonEmpty)
    ac.foreach { r =>
      if (!r.isNullAt(2)) {
        val v = r.getDouble(2)
        assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"ac1 out of range: $v")
      }
    }
  }
}
