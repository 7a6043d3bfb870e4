package graftbench

import java.io.File
import graft.SparkEntry
import graft.sources.Sinks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A closed-loop workload: seeded inputs and warmup in `setup`, one unit
  * of work per `op`, and end-of-run invariants in `finish`.
  */
trait Workload {
  def name: String
  /** Ops per round; a run always finishes the round it started. */
  def round: Int = 1
  /** A fixed amount of work caps the loop whatever `--seconds` says. */
  def maxOps: Int = Int.MaxValue
  def setup(ctx: Ctx): Gen.Written
  /** Memo and index builds, timed apart inside setup. */
  def memoBuild(ctx: Ctx): Unit = ()
  /** Warmup after the memo builds: every op's code paths run once. */
  def warm(ctx: Ctx): Unit = ()
  def label(i: Int): String
  /** Run op `i`; returns the first checksum mismatch, if any. */
  def op(ctx: Ctx, i: Int): Option[String]
  /** Invariants over the whole run, checked after the timed loop. */
  def finish(ctx: Ctx, ops: Int): Seq[String] = Nil
  /** Directories the workload writes while it runs (besides spark.local.dir). */
  def storeRoots(ctx: Ctx): Seq[File] = Nil
}

object Workloads {
  /** Data seed for inputs that do not vary with `--seed`. */
  val DataSeed = 42L

  def apply(name: String, seed: Long): Workload = name match {
    case "market_daily" => new MarketDaily(seed)
    case "analyst_mix" => new AnalystMix(seed)
    case "curation_10x" => new Curation10x(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (market_daily, analyst_mix, curation_10x)")
  }

  def firstError(checks: Seq[Option[String]]): Option[String] = checks.flatten.headOption
}

/** The reference pipeline replayed as daily re-pulls over a store laid out
  * as `<store>/events.parquet`. Each op is one day: append the day's pull
  * (with a seeded overlap window) newer than the store, run the reference
  * keys over the store, and restate the touched days of the derived
  * tables. The events do not depend on the seed; the schedule does.
  * Every run replays the same two days (one round), so how much work a run
  * measures does not depend on how fast the program is.
  */
final class MarketDaily(seed: Long) extends Workload {
  val name = "market_daily"
  val sf = 0.1
  val preloaded = 14
  val replayed = 2
  override def maxOps: Int = replayed
  override def round: Int = replayed

  val keys = Seq("q_ohlc_daily", "q_sma", "q_gap_off_peak", "q_gap_on_peak",
    "q_pct_change_ndays", "q_sector_price", "q_pivot_wide", "q_latest_date")
  /** Keys with a day column `d`, kept as day-partitioned derived tables:
    * a plain aggregate, a window and an as-of join.
    */
  val derived = Seq("q_ohlc_daily", "q_sma", "q_sector_price")

  /** Seeded schedule: per replayed day, the overlap (0-2 earlier days
    * re-pulled with it) and the earlier day restated as a late correction
    * alongside the new day. Every day restates two day partitions, so the
    * seed moves which days are touched, not how much is written.
    */
  val schedule: IndexedSeq[(Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    (preloaded until preloaded + replayed).map(d => (rnd.nextInt(3), rnd.nextInt(d)))
  }

  private def dayLit(d: Int) = lit(java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString)
    .cast("timestamp_ntz")
  private def dateOf(d: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d))

  private def source(ctx: Ctx) = ctx.spark.read.parquet(ctx.dir("market/source/events.parquet"))
  private def storeDir(ctx: Ctx) = ctx.dir("market/store")
  private def derivedPath(ctx: Ctx, k: String) = ctx.dir(s"market/store/derived/$k")
  private def upTo(ctx: Ctx, d: Int): DataFrame = source(ctx).where(col("ts") < dayLit(d))

  override def storeRoots(ctx: Ctx): Seq[File] = Seq(new File(storeDir(ctx)))

  def setup(ctx: Ctx): Gen.Written = {
    val w = Gen.write(Map("events" -> Gen.events(ctx.spark, sf, Workloads.DataSeed)), ctx.dir("market/source"))
    upTo(ctx, preloaded).write.mode("overwrite").parquet(s"${storeDir(ctx)}/events.parquet")
    Par.run(derived.map(k => () =>
      Sinks.restateDays(SparkEntry.queries(k)(ctx.spark, storeDir(ctx)), derivedPath(ctx, k), "d")))
    w
  }

  /** Every step of a day runs once, in order: a re-pull of the last
    * preloaded day (which appends nothing new), the keys over the store,
    * and restating that day.
    */
  override def warm(ctx: Ctx): Unit = {
    val last = preloaded - 1
    Sinks.appendNewerThan(ctx.spark, upTo(ctx, preloaded).where(col("ts") >= dayLit(last)),
      s"${storeDir(ctx)}/events.parquet", "user_id", "ts")
    keys.foreach(k => Checksum.of(SparkEntry.queries(k)(ctx.spark, storeDir(ctx))))
    derived.foreach(k => Sinks.restateDays(SparkEntry.queries(k)(ctx.spark, storeDir(ctx))
      .where(col("d") === dateOf(last)), derivedPath(ctx, k), "d"))
  }

  def label(i: Int): String = s"day${preloaded + i}"

  def op(ctx: Ctx, i: Int): Option[String] = {
    val d = preloaded + i
    val (overlap, late) = schedule(i)
    val pull = source(ctx).where(col("ts") >= dayLit(d - overlap) && col("ts") < dayLit(d + 1))
    ctx.tracer.span("sinks.appendNewerThan") {
      Sinks.appendNewerThan(ctx.spark, pull, s"${storeDir(ctx)}/events.parquet", "user_id", "ts")
    }
    val checks = keys.map(k => ctx.check(name, s"${label(i)}/$k", ctx.runKey(k, storeDir(ctx))))
    val touched = Seq(dateOf(late), dateOf(d))
    derived.foreach { k =>
      val df = ctx.build(k, storeDir(ctx)).where(col("d").isin(touched: _*))
      ctx.tracer.span("sinks.restateDays")(Sinks.restateDays(df, derivedPath(ctx, k), "d"))
    }
    Workloads.firstError(checks)
  }

  /** Any seed: the store holds exactly the source events up to the last
    * replayed day, and each derived table equals its key over that source.
    */
  override def finish(ctx: Ctx, ops: Int): Seq[String] = {
    val end = preloaded + ops
    val src = upTo(ctx, end)
    val errs = Seq.newBuilder[String]
    val store = Checksum.of(ctx.spark.read.parquet(s"${storeDir(ctx)}/events.parquet"))
    val want = Checksum.of(src)
    if (store != want) errs += s"store: checksum $store, expected source $want"
    val checkDir = ctx.dir("market/check")
    src.write.mode("overwrite").parquet(s"$checkDir/events.parquet")
    errs ++= Par.run(derived.map(k => () => {
      val got = Checksum.of(ctx.spark.read.parquet(derivedPath(ctx, k)).drop("day"))
      val exp = Checksum.of(SparkEntry.queries(k)(ctx.spark, checkDir))
      if (got != exp) Some(s"derived $k: checksum $got, expected $exp") else None
    })).flatten
    errs.result()
  }
}

/** Read-only analyst mix: a fixed list of oracle-covered registry keys,
  * run in two passes, each in its own seeded order. An op is one query.
  * The data does not depend on the seed, so one reference checksum per key
  * covers all seeds.
  */
final class AnalystMix(seed: Long) extends Workload {
  val name = "analyst_mix"
  val sf = 0.02
  val keys: IndexedSeq[String] = IndexedSeq(
    "q_ohlc_daily", "q_sector_price", "q_pivot_wide", "q_latest_date", // reference surface
    "q_sma", "q_drawdown", // windows
    "q_asof_join", // as-of join
    "q1_pricing_summary", // TPC-H shape
    "q_quantiles", "q_quantile_disc", // quantiles
    "q_pagerank", "q_components", // graph
    "q_degree_hist") // memo-backed probe of a persisted edge table
  val memoKeys = Seq("q_degree_hist")
  /** Every run makes the same number of passes over the list, whatever
    * `--seconds` says, so a faster program measures the same queries. One
    * pass sees each key once, and a key's latency varies by ~15% from one
    * run of it to the next, so the median of a single pass moved with the
    * order the seed picked; the median over two passes is steadier.
    */
  val passes = 2
  override def round: Int = passes * keys.size
  override def maxOps: Int = round

  /** One seeded permutation of the list per pass. */
  private def order(p: Int): IndexedSeq[String] = new scala.util.Random(seed * 1000003L + p).shuffle(keys)
  private var orders = Map.empty[Int, IndexedSeq[String]]
  private def keyAt(i: Int): String = {
    val p = i / keys.size
    orders.getOrElse(p, { val o = order(p); orders += p -> o; o })(i % keys.size)
  }

  /** The keys read events, orders and lineitem. */
  def setup(ctx: Ctx): Gen.Written =
    Gen.write(Gen.tpch(ctx.spark, sf, Workloads.DataSeed) +
      ("events" -> Gen.events(ctx.spark, sf, Workloads.DataSeed)), ctx.dir("mix/data"))

  /** Builds the memo-backed key's shared artifacts; the warmup then runs
    * one pass in list order, so JIT warm-up does not leak into the loop.
    */
  override def memoBuild(ctx: Ctx): Unit = ctx.warm(memoKeys, ctx.dir("mix/data"))
  override def warm(ctx: Ctx): Unit =
    keys.foreach(k => Checksum.of(SparkEntry.queries(k)(ctx.spark, ctx.dir("mix/data"))))

  def label(i: Int): String = keyAt(i)

  def op(ctx: Ctx, i: Int): Option[String] =
    ctx.check(name, keyAt(i), ctx.runKey(keyAt(i), ctx.dir("mix/data")))
}

/** One curation pass over a 10× documents-and-embeddings corpus built from
  * salted token copies (the seed sets the salts): quality gate, exact
  * dedup, MinHash near-dup keep, SimHash, decontamination, ANN top-k and
  * packing. An op is one full pass.
  */
final class Curation10x(seed: Long) extends Workload {
  val name = "curation_10x"
  val baseSf = 0.01
  val mult = 10
  val stages = Seq("q_quality_gate", "q_dedup_exact", "q_dedup_near_keep", "q_dedup_simhash",
    "q_decontaminate", "q_ann_batch", "q_pack_sequences")

  def setup(ctx: Ctx): Gen.Written = {
    val docs = Gen.documents(ctx.spark, baseSf, Workloads.DataSeed)
    val emb = Gen.embeddings(ctx.spark, baseSf, Workloads.DataSeed)
    val w = Gen.write(Gen.curationCorpus(docs, emb, mult, seed), ctx.dir("cur/data"))
    Gen.write(Map("documents" -> docs, "embeddings" -> emb), ctx.dir("cur/warm"))
    w
  }

  /** One pass over the unsalted 1× base corpus. */
  override def warm(ctx: Ctx): Unit = ctx.warm(stages, ctx.dir("cur/warm"))

  def label(i: Int): String = s"pass$i"

  def op(ctx: Ctx, i: Int): Option[String] =
    Workloads.firstError(stages.map(k => ctx.check(name, k, ctx.runKey(k, ctx.dir("cur/data")))))
}
