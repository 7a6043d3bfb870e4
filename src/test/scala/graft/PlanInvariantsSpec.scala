package graft

import graft.registry.QueryKit

/** The plans we rely on at 100 TB, asserted — a regression gate so a
  * refactor can't silently reintroduce a sort-merge join, a nested-loop
  * pair generator, or an extra exchange into the headline queries.
  */
class PlanInvariantsSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString()

  private def count(p: String, token: String): Int =
    token.r.findAllIn(p).length

  test("star joins broadcast their dimensions — no sort-merge joins") {
    for (q <- Seq("q5_region_revenue", "q3_top_orders", "q_weighted_price")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
    }
  }

  test("time-series aggregates partial-combine: the shuffle moves bars, not ticks") {
    // the bars keys read one checkpointed daily summary frame per events
    // snapshot (QueryKit.daily); its build, like plain daily bars, is one
    // tick-level aggregate: a partial + final pair around one exchange —
    // no raw-tick repartition anywhere
    val ticks = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    for (built <- Seq(graft.operators.Ohlc.dailyBars(ticks), QueryKit.dailySummary(ticks))) {
      val build = built.queryExecution.executedPlan.toString()
      assert(count(build, "Exchange") === 1, build)
      assert(count(build, "HashAggregate") === 2, s"expected partial+final:\n$build")
    }
    // projections of the bars read the shared frame: no exchange, no scan
    for (q <- Seq("q_ohlc_daily", "q_dollar_volume", "q_gap_on_peak")) {
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD") && !p.contains("FileScan"), s"$q:\n$p")
      assert(count(p, "Exchange") === 0, s"$q:\n$p")
    }
    // windowed derivatives add exactly one exchange, carrying bars
    for (q <- Seq("q_sma", "q_drawdown")) {
      assert(count(plan(q), "Exchange") === 1, s"$q:\n${plan(q)}")
    }
  }

  test("bars keys over an unchanged store share one bars frame; an append rescans") {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("graft_plan_store").toString
    val events = s"$store/events.parquet"
    val ticks = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
    val cut = lit("2024-01-20").cast("timestamp_ntz")
    ticks.where(col("ts") < cut).write.parquet(events)
    def sma() = SparkEntry.queries("q_sma")(spark, store)
    SparkEntry.queries("q_ohlc_daily")(spark, store).collect()
    // every reference key after q_ohlc_daily reads the snapshot's daily
    // summary frame: no parquet scan at all
    val reference = Seq("q_ohlc_daily", "q_sma", "q_gap_off_peak", "q_gap_on_peak",
      "q_pct_change_ndays", "q_sector_price", "q_pivot_wide", "q_latest_date")
    def ref(k: String) = SparkEntry.queries(k)(spark, store)
    for (k <- reference) {
      val p = ref(k).queryExecution.executedPlan.toString()
      assert(!p.contains("FileScan") && !p.contains("events.parquet"), s"$k:\n$p")
    }
    val (_, unchanged) = JobProbe.during(spark)(reference.foreach(k => ref(k).collect()))
    assert(!unchanged.rddNames.contains("FileScanRDD"), unchanged.rddNames)
    // the sector price's as-of lookups are one window over the summary:
    // a single shuffle, no union of filtered aggregates
    val sector = ref("q_sector_price").queryExecution.executedPlan.toString()
    assert(this.count(sector, "Exchange hashpartitioning") === 1, sector)
    assert(!sector.contains("Union"), sector)
    // an append changes the file set: the first bars key scans the store again
    graft.sources.Sinks.appendNewerThan(spark, ticks.where(col("ts") >= cut), events, "user_id", "ts")
    val (_, appended) = JobProbe.during(spark)(sma().collect())
    assert(appended.rddNames.contains("FileScanRDD"), appended.rddNames)
  }

  test("pair generators never plan a nested-loop join") {
    for (q <- Seq("q_dedup_embedding", "q_ann_lsh", "q_dedup_minhash", "q_dedup_simhash",
        "q_dedup_incremental_near")) {
      assert(!plan(q).contains("BroadcastNestedLoopJoin"), s"$q:\n${plan(q)}")
    }
  }

  test("BSP loop bodies: the pagerank step broadcasts the rank side, the CC round " +
    "stays an equi-join within r12's exchanges") {
    import graft.operators.{Dedup, Graph}
    val setup = Graph.rankSetup(QueryKit.purchaseEdges(spark, sfDir), "src", "dst")
    val step = Graph.rankContributions(setup, setup.rank)
      .queryExecution.executedPlan.toString()
    // one shuffle (the contribution aggregate); the checkpointed edge list
    // never moves, the rank side is the broadcast build
    assert(count(step, "(?<!Broadcast)Exchange") === 1, step)
    assert(count(step, "BroadcastHashJoin .*Inner, BuildRight") === 1, step)
    assert(!step.contains("SortMergeJoin"), step)
    val pairs = SparkEntry.queries("q_ngram_jaccard")(spark, sfDir).select("id_a", "id_b")
    val edges = Dedup.ccEdges(Graft.materialize(pairs, eager = false))
    val labels = Graft.materialize(Dedup.ccFirstRound(edges), eager = false)
    val round = Dedup.ccRound(edges, labels).queryExecution.executedPlan.toString()
    assert(!round.contains("NestedLoopJoin"), round)
    assert(count(round, "Exchange") <= 7, round)
  }

  test("near-dup family keeps r12's exchange counts") {
    for ((q, max) <- Seq("q_dedup_minhash" -> 5, "q_dedup_incremental_near" -> 11,
        "q_ngram_jaccard" -> 5)) {
      val p = plan(q)
      assert(count(p, "Exchange") <= max, s"$q:\n$p")
    }
  }

  test("declared-vocabulary pivot is a single-exchange aggregate") {
    assert(count(plan("q_pivot_wide"), "Exchange") === 1)
  }

  test("per-group top-k plans the custom operator, not a window sort") {
    val p = plan("q_topk_per_key")
    assert(p.contains("GroupTopK"), p)
    assert(!p.contains("Window"), p)
  }

  test("as-of joins: union+window uses one shuffle; broadcast variant shuffles no facts") {
    assert(count(plan("q_asof_join"), "Exchange hashpartitioning") === 1, plan("q_asof_join"))
    val b = plan("q_asof_broadcast")
    // both hash exchanges sit on the (tiny) dim side — the (key, ts)
    // dedupe and the timeline pack; the fact stream flows map-side into
    // the broadcast probe
    assert(count(b, "Exchange hashpartitioning") === 2, b)
    assert(b.contains("BroadcastExchange"), b)
    assert(!b.contains("SortMergeJoin"), b)
  }

  test("sessionize: session window + session groupBy share ONE exchange") {
    val p = plan("q_sessionize")
    assert(count(p, "Exchange") === 1, p)
  }

  test("rollup is one Expand over one exchange, not three scans") {
    val p = plan("q_rollup")
    assert(count(p, "Expand") === 1, p)
    assert(count(p, "Exchange") === 1, p)
    assert(count(p, "Scan |FileScan") <= 1, p)
  }

  test("histogram and vocabulary shuffle partial aggregates, not rows") {
    for (q <- Seq("q_histogram", "q_vocab")) {
      val p = plan(q)
      assert(count(p, "Exchange") === 1, s"$q:\n$p")
      assert(count(p, "HashAggregate") === 2, s"$q expected partial+final:\n$p")
    }
  }

  test("tfidf ranks through GroupTopK with broadcast corpus count") {
    val p = plan("q_tfidf")
    assert(p.contains("GroupTopK"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastExchange"), p) // the one-row N
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("projections prune the parquet scan to the referenced columns") {
    // the daily summary (the one events scan of the daily-series keys)
    // reads the 4 columns it aggregates, not the table
    val p = QueryKit.dailySummary(
      graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts"))
      .queryExecution.executedPlan.toString()
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse(fail(p))
    for (c <- Seq("user_id", "ts", "event_type", "value")) assert(read.contains(c), read)
    assert(!read.contains("props") && !read.contains("event_id"), read)
  }

  test("filters push down to the parquet scan") {
    val p = plan("q1_pricing_summary")
    val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findFirstIn(p).getOrElse(fail(p))
    assert(pushed.contains("l_shipdate"), pushed)
  }

  test("round-3 operators keep their scale shapes") {
    // PQ probe: compiled encode + ADC are pure map work — ZERO exchanges
    // between scan and TakeOrdered
    val pq = plan("q_pq_topk")
    assert(count(pq, "Exchange") === 0, pq)
    assert(pq.contains("TakeOrderedAndProject"), pq)
    // mean-pooling: one partial-aggregated exchange carrying (label × dim)
    // sums, never vectors
    val em = plan("q_embed_mean")
    assert(count(em, "Exchange") === 1, em)
    assert(count(em, "HashAggregate") === 2, em)
    // char-LM: the model side broadcasts (vocab-bounded); no sort-merge
    // join, no nested loop anywhere
    val lm = plan("q_charlm")
    assert(!lm.contains("SortMergeJoin") && !lm.contains("BroadcastNestedLoopJoin"), lm)
    assert(lm.contains("BroadcastHashJoin"), lm)
    // word-level LM shares the shape: model broadcasts below the vocab²
    // gate, no sort-merge or nested-loop joins anywhere
    val wlm = plan("q_wordlm")
    assert(!wlm.contains("SortMergeJoin") && !wlm.contains("BroadcastNestedLoopJoin"), wlm)
    assert(wlm.contains("BroadcastHashJoin"), wlm)
    // temperature mix: rates broadcast back; the only nested loop is the
    // one-row n_min build (the q_ann_topk convention)
    val mx = plan("q_mix_temperature")
    assert(!mx.contains("SortMergeJoin"), mx)
    assert(count(mx, "BroadcastNestedLoopJoin") <= 1, mx)
    // scan-speed quality signals: pure projections, zero exchanges
    for (q <- Seq("q_c4_rules", "q_compress_ratio")) {
      assert(count(plan(q), "Exchange") === 0, s"$q:\n${plan(q)}")
    }
    // TTL as-of keeps the single-shuffle union+window shape: one exchange
    // for the as-of window, plus the query's own (key, ts) dim dedup
    val ttl = plan("q_asof_ttl")
    assert(count(ttl, "Exchange hashpartitioning") === 2, ttl)
    assert(count(ttl, "Window") === 1, ttl)
  }

  test("round-4 operators keep their scale shapes") {
    // persisted-IVF probe: the on-disk index scan is partition-PRUNED to
    // the nprobe cells — the probe never touches unprobed cells' files
    val ivfIdx = plan("q_ann_ivf_indexed")
    assert(ivfIdx.contains("PartitionFilters: [cent_idx"), ivfIdx)
    // banded LSH: int8-code band shuffle (4× under float vectors), the
    // candidate cross product screened INSIDE the bucket by the compiled
    // kernel — no nested loop, and the only joins are the output-sized
    // id-keyed vector join-backs, hash joins all
    val lsh = plan("q_ann_lsh")
    assert(!lsh.contains("BroadcastNestedLoopJoin") && !lsh.contains("CartesianProduct"), lsh)
    // persisted residual IVF-PQ probe: same pruning invariant on the
    // m-byte-code index
    val pq = plan("q_ann_ivfpq_indexed")
    assert(pq.contains("PartitionFilters: [cent_idx"), pq)
    // SemDeDup pair stage: cell-bucketed equi-join only — no nested loop
    val sem = plan("q_semdedup")
    assert(!sem.contains("BroadcastNestedLoopJoin") && !sem.contains("CartesianProduct"), sem)
  }

  test("dynamic partition pruning fires on a day-partitioned fact join") {
    // at 100 TB the fact table is date-partitioned and dim-filtered joins
    // must prune partitions at RUNTIME — assert Spark plans the DPP
    // subquery filter into the scan rather than reading every day
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val events = graft.functions.Fns.normalizeTsNtz(Tables.events(spark, sfDir), "ts")
      .withColumn("day", to_date(col("ts")))
    events.write.mode("overwrite").partitionBy("day").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = events.select(col("day")).distinct()
      .where(dayofmonth(col("day")) <= 2)
    val joined = fact.join(dim, Seq("day")).groupBy(col("day")).count()
    val p = joined.queryExecution.executedPlan.toString()
    assert(p.contains("dynamicpruning"), p)
    assert(joined.collect().nonEmpty)
  }

  test("round-8 quantile/report keys join only by broadcast hash") {
    // every non-base frame in these plans is group/output-sized but
    // derives from aggregates or local relations Catalyst can't size —
    // the explicit hints must hold (no SMJ, no nested-loop)
    for (q <- Seq("q_psi_drift", "q_contamination_report",
        "q_quantile_bins", "q_winsorize_stream")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
    }
  }

  test("winsorize: bounds broadcast, one data-sized exchange") {
    // the group-sized bounds frame must broadcast into the clip scan
    // (null-safe equality as a hash-join KEY, not a nested-loop residual)
    // and the only hash exchanges are the final group aggregate's
    val p = plan("q_winsorize")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(count(p, "Exchange hashpartitioning") === 1, p)
  }

  test("incremental bar merge reads STORED bars — only the fresh batch scans ticks") {
    val p = plan("q_incremental_bars")
    // the history half must come from the persisted day-partitioned bar
    // store (a plain parquet scan of bar rows — no aggregate above it),
    // leaving exactly one mergeableBars partial+final pair for the fresh
    // batch plus the merge's pair: 4 aggregates, 2 partial_min_by, and
    // two exchanges (fresh bars + merge). A third min_by or aggregate
    // means history is being re-derived from ticks again.
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("/bars_"), p) // history = bar-store scan
    assert(count(p, "Aggregate\\(") === 4, p)
    assert(count(p, "partial_min_by") === 2, p)
    assert(count(p, "Exchange") === 2, p)
  }

  test("round-5 analytics keep their scale shapes") {
    // EWMA: all ten lag terms share ONE window pass over ONE bar exchange
    // (over the shared bars frame, like q_sma)
    val ewma = plan("q_ewma")
    assert(count(ewma, "Exchange") === 1, ewma)
    assert(count(ewma, "Window ") === 1, ewma)
    // rolling volatility: same window family as q_sma — ONE entity-window
    // exchange over the shared bars frame, which the stacked lag and
    // frame-sum Window operators share
    val vol = plan("q_volatility")
    assert(count(vol, "Exchange hashpartitioning") === 1, vol)
    assert(count(vol, "Window ") === 2, vol)
    // corr matrix: the day-aligned self-join of the top-N series is
    // broadcast — no sort-merge join, no cartesian
    val corr = plan("q_corr_pairs")
    assert(corr.contains("BroadcastHashJoin"), corr)
    assert(!corr.contains("SortMergeJoin") && !corr.contains("CartesianProduct"), corr)
    // funnel: the three stage-gated windows stack on ONE user exchange,
    // and the per-user rollup reuses that partitioning — a single
    // data-sized shuffle end to end
    val funnel = plan("q_funnel")
    assert(count(funnel, "Exchange hashpartitioning") === 1, funnel)
    assert(count(funnel, "Window ") === 3, funnel)
    // retention: joins stay hash/broadcast over deduped activity — never
    // a nested loop over raw events
    val ret = plan("q_retention")
    assert(!ret.contains("BroadcastNestedLoopJoin") && !ret.contains("CartesianProduct"), ret)
  }

  test("round-6 operators keep their scale shapes") {
    // composed curation pipeline: the ONLY nested-loop join is the
    // one-row percentile-threshold broadcast-back; every data-sized join
    // (gate join-back, dedup semi, decontamination) is a hash join, and
    // the whole chain fuses without a cartesian anywhere
    val e2e = plan("q_pipeline_e2e")
    assert(count(e2e, "BroadcastNestedLoopJoin") === 1, e2e)
    assert(!e2e.contains("CartesianProduct") && !e2e.contains("SortMergeJoin"), e2e)
    // banded LSH pairs: candidates are screened INSIDE buckets by the
    // compiled kernel — the joins are the output-sized id-keyed vector
    // join-backs (corpus side broadcast) plus the over-cap exact-collapse
    // star join (family-keyed, O(family)); nothing sort-merges
    val lsh2 = plan("q_ann_lsh")
    assert(lsh2.contains("graft_bucket_screen"), lsh2)
    assert(count(lsh2, "BroadcastHashJoin") === 3, lsh2)
    assert(!lsh2.contains("SortMergeJoin") && !lsh2.contains("CartesianProduct"), lsh2)
    // quality scoring runs the fused one-pass kernel, not regex sweeps
    val qs = plan("q_quality_score")
    assert(qs.contains("graft_text_stats"), qs)
    assert(!qs.contains("regexp_extract_all"), qs)
  }

  test("round-8 session keys keep their scale shapes") {
    // scd2: both windows share one sort/exchange, no join anywhere
    val scd = plan("q_scd2")
    assert(count(scd, "Exchange") === 1, scd)
    assert(!scd.contains("Join"), scd)
    // cdc merge resolves by window, never a join — the changelog can be
    // any size relative to the snapshot
    val cdc = plan("q_cdc_merge")
    assert(!cdc.contains("Join"), cdc)
    // factor joins broadcast their calendar/type-keyed small side; the
    // big side never sort-merges
    for (q <- Seq("q_beta", "q_minmax_scale")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
    // target encoding joins a ONE-ROW global-mean frame: a broadcast
    // nested loop over one row is the sanctioned stats-frame pattern
    val te = plan("q_target_encoding")
    assert(te.contains("BroadcastNestedLoopJoin") && !te.contains("SortMergeJoin"), te)
    // pure window/aggregate keys: no join operator at all
    for (q <- Seq("q_autocorr", "q_obv", "q_seasonality", "q_benford",
        "q_entropy", "q_markov_transition", "q_skew_kurt", "q_lag_features",
        "q_trend_decompose", "q_ks_test", "q_gap_detect", "q_user_growth")) {
      assert(!plan(q).contains("Join"), s"$q:\n${plan(q)}")
    }
    // the growth curve's single-partition window sits above the day-keyed
    // aggregate (metadata-sized), never above row-level data
    val growth = plan("q_user_growth")
    assert(growth.contains("SinglePartition"), growth)
    assert(count(growth, "HashAggregate") >= 4, growth) // two partial+final pairs below it
    // table diff full-outers two key-partitioned snapshots — fine to
    // shuffle, but never a nested-loop or cartesian
    val td = plan("q_table_diff")
    assert(!td.contains("BroadcastNestedLoopJoin") && !td.contains("CartesianProduct"), td)
    // lag features: six window functions share the entityDay sort — the
    // plan pays ONE window-partition exchange over the bars
    val lf = plan("q_lag_features")
    assert(count(lf, "Exchange") === 1, lf) // one window exchange over the bars frame
  }

  test("round-9 operators keep their scale shapes") {
    // rolling corr: the five decimal frame sums + count share ONE window
    // exchange; the day-keyed market frame comes back by broadcast only
    val rc = plan("q_rolling_corr")
    assert(rc.contains("BroadcastHashJoin"), rc)
    assert(!rc.contains("SortMergeJoin"), rc)
    // three windows: the five frame sums + count SHARE one (the point of
    // the invariant), and the return-lag window appears twice because the
    // market branch recomputes it — a bars-sized subtree whose identical
    // exchanges AQE's ReuseExchange collapses at runtime (q_beta ships
    // the same shape); a FOURTH window would mean the frame sums split
    assert(count(rc, "Window \\[") === 3, rc)
    assert(count(rc, "Window \\[sum") === 1, rc) // frame sums stay fused
    // fuzzy linkage: Levenshtein runs above the distinct-VALUE aggregate —
    // the record table is scanned once, aggregated, and everything
    // downstream is vocabulary-sized; no nested-loop pair generator
    val fm = plan("q_fuzzy_match")
    assert(!fm.contains("BroadcastNestedLoopJoin") && !fm.contains("CartesianProduct"), fm)
    assert(fm.contains("levenshtein"), fm)
    // canonicalize maps records through a BROADCAST rewrite table — the
    // record-sized side never shuffles for the final join
    val fd = plan("q_fuzzy_dedup")
    assert(fd.contains("BroadcastHashJoin"), fd)
    // containment: candidates come from the rare-gram equi-join — hash
    // joins only, never a cross/nested-loop pair step
    val cp = plan("q_containment")
    assert(!cp.contains("BroadcastNestedLoopJoin") && !cp.contains("CartesianProduct"), cp)
  }

  test("round-9 audit keys keep their scale shapes") {
    // hopping window: the window() generator expands map-side below ONE
    // aggregate exchange — no join, no slide-multiplied second shuffle
    val sw = plan("q_sliding_window")
    assert(!sw.contains("Join"), sw)
    assert(count(sw, "Exchange") === 1, sw)
    // key skew: totals come back by broadcast over the reduced counts;
    // the top-10 goes through GroupTopK, never a window sort
    val ks = plan("q_key_skew")
    assert(ks.contains("BroadcastHashJoin"), ks)
    assert(ks.contains("GroupTopK"), ks)
    assert(!ks.contains("Window"), ks)
    // robust scale: quantile bounds broadcast; the event rows never shuffle
    val rs = plan("q_robust_scale")
    assert(rs.contains("BroadcastHashJoin"), rs)
    assert(!rs.contains("SortMergeJoin") && !rs.contains("Window"), rs)
    // PCA projection: after the driver-side fit, the projection plan is a
    // pure scan-speed map — zero exchanges, zero joins
    val pp = plan("q_pca_project")
    assert(!pp.contains("Exchange") && !pp.contains("Join"), pp)
    // chi-square: the only window operators run over the contingency
    // aggregate (metadata-sized), never over event rows — exactly one
    // data-sized exchange (the contingency groupBy; the window
    // repartitions above it move <= |types|*7 rows)
    val cs = plan("q_chi_square")
    assert(cs.contains("Window"), cs)
    assert(!cs.contains("Join"), cs)
    // mann-whitney: one per-type sort carries both rank windows
    val mw = plan("q_mannwhitney")
    assert(!mw.contains("Join"), mw)
    // fk integrity: the only non-broadcast join is lineitem->orders (both
    // sides data-sized); every other edge probes a broadcast parent
    val fk = plan("q_fk_integrity")
    assert(!fk.contains("CartesianProduct"), fk)
    assert(count(fk, "BroadcastHashJoin") >= 5, fk)
  }
}
