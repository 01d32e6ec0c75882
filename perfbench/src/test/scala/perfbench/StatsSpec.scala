package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.{Pct, Span}

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between ranks and reports its sample count") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0.5).contains(Pct(2.5, 4)))
    assert(Stats.percentile(xs, 0.0).contains(Pct(1.0, 4)))
    assert(Stats.percentile(xs, 1.0).contains(Pct(4.0, 4)))
    assert(math.abs(Stats.percentile(xs, 0.9).get.value - 3.7) < 1e-12)
    assert(Stats.percentile((1 to 101).map(_.toDouble), 0.9).contains(Pct(91.0, 101)))
  }

  test("percentile of one sample is that sample; of none, absent") {
    assert(Stats.percentile(Seq(7.5), 0.9).contains(Pct(7.5, 1)))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 1.5))
  }

  test("median agrees with Python's statistics.median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)).map(_.value).contains(2.0))
    assert(Stats.median(Seq(5.0, 1.0, 2.0, 10.0)).map(_.value).contains(3.5))
  }

  test("union of job intervals counts overlaps once and skips gaps") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (10L, 12L))) == 12L)
    assert(Stats.unionLength(Seq((5L, 5L), (9L, 4L))) == 0L)
  }

  test("coverage within an operation clips jobs to its interval") {
    // an op from 10 to 20 with jobs 5-12 and 18-25: covered 2 + 2
    assert(Stats.coveredWithin(10L, 20L, Seq((5L, 12L), (18L, 25L))) == 4L)
    assert(Stats.coveredWithin(10L, 20L, Seq((0L, 5L))) == 0L)
    assert(Stats.coveredWithin(10L, 20L, Seq((0L, 50L))) == 10L)
  }

  test("self time subtracts the part nested spans cover, overlaps once") {
    val spans = Seq(
      Span(1, 0, "op", 1, 0L, 100L),
      Span(2, 1, "construct", 1, 10L, 40L),
      Span(3, 1, "collect", 1, 30L, 70L), // overlaps construct by 10
      Span(4, 3, "inner", 1, 50L, 60L),
      Span(5, 0, "setup", 0, 200L, 230L))
    val self = Stats.selfTimes(spans)
    assert(self(1) == 100L - 60L)
    assert(self(2) == 30L)
    assert(self(3) == 40L - 10L)
    assert(self(4) == 10L)
    assert(self(5) == 30L)
  }

  test("a child that outlives its parent only counts inside the parent") {
    val self = Stats.selfTimes(Seq(Span(1, 0, "p", 1, 0L, 10L), Span(2, 1, "c", 1, 5L, 30L)))
    assert(self(1) == 5L)
  }
}
