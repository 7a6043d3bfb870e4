package graftbench

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency the sample can support: the highest whole percentile
    * p whose nearest-rank value still has at least `beyond` samples above
    * it. None when that percentile is below `minPercentile` (a p50 is no
    * tail), i.e. with fewer than 40 samples at the defaults.
    */
  final case class Tail(percentile: Int, value: Double, n: Int, beyond: Int)

  def tail(xs: Seq[Double], beyond: Int = 10, minPercentile: Int = 75): Option[Tail] = {
    val s = xs.sorted
    val n = s.size
    (99 to minPercentile by -1).iterator.map { p =>
      val rank = math.ceil(p / 100.0 * n).toInt.max(1) // 1-based nearest rank
      (p, rank, n - rank)
    }.find(_._3 >= beyond).map { case (p, rank, b) => Tail(p, s(rank - 1), n, b) }
  }
}

/** One op's outcome in the closed loop. */
final case class OpResult(label: String, seconds: Double, error: Option[String])

/** Closed loop with one client: start the next op as soon as the last one
  * (and the reaper after it) returned, until `seconds` have passed or
  * `maxOps` ops ran. Ops come in rounds of `round`; a started round is
  * always finished, so every run covers whole rounds. An op fails if it
  * throws or if it reports a checksum or invariant mismatch.
  */
object ClosedLoop {
  final case class Run(results: Seq[OpResult], wallSeconds: Double) {
    def attempted: Int = results.size
    def failed: Int = results.count(_.error.isDefined)
    def okSeconds: Seq[Double] = results.filter(_.error.isEmpty).map(_.seconds)
  }

  /** `between` runs after each op and counts toward the run's wall time
    * (the reaper).
    */
  def run(seconds: Double, maxOps: Int, round: Int = 1)(label: Int => String)
         (op: Int => Option[String])(between: Int => Unit): Run = {
    val out = Seq.newBuilder[OpResult]
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i < maxOps && (i == 0 || i % round != 0 || elapsed < seconds)) {
      val s = System.nanoTime()
      val err = try op(i) catch { case e: Throwable => Some(Errors.brief(e)) }
      out += OpResult(label(i), (System.nanoTime() - s) / 1e9, err)
      between(i)
      i += 1
    }
    Run(out.result(), elapsed)
  }
}

object Errors {
  def brief(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("").takeWhile(_ != '\n')).take(300)
}

/** Runs independent set-up tasks (table writes, warmups, memo builds) on
  * one thread per core: they are latency-bound small Spark jobs, so
  * running them side by side keeps set-up short.
  */
object Par {
  def run[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, Runtime.getRuntime.availableProcessors())))
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      fs.map { f =>
        try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }
}
