package graftbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private val noTrace = new Tracing(new Tracer(false, null), null)

  test("a thrown error and a checksum mismatch each count as a failed op") {
    val refs = new Refs(Map("w" -> Map("*" -> Map("k2" -> "1:5"))))
    val ctx = new Ctx(null, new java.io.File("."), noTrace, 1, 7L, refs)
    val run = ClosedLoop.run(seconds = 0, maxOps = 4)(i => s"k$i") {
      case 1 => throw new IllegalStateException("boom")
      case 2 => ctx.check("w", "k2", Checksum(1, new java.math.BigDecimal(6)))
      case i => ctx.check("w", s"k$i", Checksum(1, new java.math.BigDecimal(i)))
    }(_ => ())
    assert(run.attempted == 1) // zero seconds: one op, then stop
    val all = ClosedLoop.run(seconds = 1e9, maxOps = 4)(i => s"k$i") {
      case 1 => throw new IllegalStateException("boom")
      case 2 => ctx.check("w", "k2", Checksum(1, new java.math.BigDecimal(6)))
      case i => ctx.check("w", s"k$i", Checksum(1, new java.math.BigDecimal(i)))
    }(_ => ())
    assert(all.attempted == 4)
    assert(all.failed == 2)
    assert(all.results(1).error.exists(_.contains("boom")))
    assert(all.results(2).error.exists(_.contains("expected 1:5")))
    assert(all.okSeconds.size == 2)
  }

  test("without a stored reference, a repeated check must match its first value") {
    val ctx = new Ctx(null, new java.io.File("."), noTrace, 1, 7L, Refs.empty)
    assert(ctx.check("w", "k", Checksum(3, new java.math.BigDecimal(9))).isEmpty)
    assert(ctx.check("w", "k", Checksum(3, new java.math.BigDecimal(9))).isEmpty)
    assert(ctx.check("w", "k", Checksum(3, new java.math.BigDecimal(8))).nonEmpty)
  }

  test("a seed-specific reference wins over the any-seed one") {
    val refs = new Refs(Map("w" -> Map("*" -> Map("k" -> "1:1"), "7" -> Map("k" -> "1:2"))))
    assert(refs.lookup("w", 7, "k").contains("1:2"))
    assert(refs.lookup("w", 8, "k").contains("1:1"))
    assert(refs.lookup("w", 8, "other").isEmpty)
  }

  test("a started round is always finished") {
    val run = ClosedLoop.run(seconds = 0, maxOps = 100, round = 5)(_.toString)(_ => None)(_ => ())
    assert(run.attempted == 5)
  }

  test("the tail percentile keeps at least 10 samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    (11 to 300 by 7).foreach { n =>
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val t = Stats.tail(xs, minPercentile = 1).get
      assert(xs.count(_ > t.value) >= 10, s"n=$n p=${t.percentile}")
      // the next percentile up would leave fewer than 10 beyond it
      if (t.percentile < 99) {
        val rank = math.ceil((t.percentile + 1) / 100.0 * n).toInt
        assert(n - rank < 10, s"n=$n p=${t.percentile}")
      }
    }
    val t = Stats.tail((1 to 1000).map(_.toDouble)).get
    assert(t.percentile == 99 && t.value == 990.0 && t.beyond == 10)
  }

  test("a tail below the minimum percentile is omitted") {
    assert(Stats.tail((1 to 20).map(_.toDouble)).isEmpty) // p50 is no tail
    assert(Stats.tail((1 to 40).map(_.toDouble)).exists(_.percentile == 75))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("span self time subtracts the union of its children, clipped to the span") {
    val spans = Seq(
      Span(1, "op", -1, 0, 0, 100),
      Span(2, "action", 1, 0, 10, 60),
      Span(3, "job", 2, 0, 20, 40),
      Span(4, "job", 2, 0, 30, 50), // overlaps job 3
      Span(5, "stage", 3, 0, 20, 30),
      Span(6, "stage", 3, 0, 25, 45), // runs past its job's end
      Span(7, "plan", 1, 0, 55, 70)) // overlaps the action
    val self = Spans.selfTimes(spans)
    assert(self(1) == 100 - 60) // children cover [10, 70)
    assert(self(2) == 50 - 30) // jobs cover [20, 50)
    assert(self(3) == 0) // stages cover all of [20, 40)
    assert(self(4) == 20)
    assert(self(5) == 10 && self(6) == 20)
    val byName = Spans.selfByName(spans)
    assert(byName("job") == 20 / 1e9)
    assert(byName("stage") == 30 / 1e9)
  }

  test("union length merges overlapping and touching intervals") {
    assert(Spans.unionLength(Seq((0L, 10L), (10L, 20L), (5L, 8L), (30L, 35L)), 0, 100) == 25)
    assert(Spans.unionLength(Seq((0L, 10L)), 5, 7) == 2)
    assert(Spans.unionLength(Nil, 0, 10) == 0)
  }
}
