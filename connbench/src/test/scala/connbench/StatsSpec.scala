package connbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("p90 interpolates between ranks and reports how many samples lie above it") {
    val xs = (1 to 101).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == ((91.0, 10)))
    assert(Stats.percentile(xs, 50) == ((51.0, 50)))
    assert(Stats.percentile(xs, 100) == ((101.0, 0)))
    assert(Stats.percentile(xs, 0) == ((1.0, 100)))
    // between two ranks: 90% of the way from the 9th to the 10th of ten
    val (v, above) = Stats.percentile((1 to 10).map(_.toDouble), 90)
    assert(math.abs(v - 9.1) < 1e-9 && above == 1)
    // order of the samples does not matter
    assert(Stats.percentile(xs.reverse, 90) == ((91.0, 10)))
    assert(Stats.percentile(Seq(7.0), 90) == ((7.0, 0)))
  }

  test("median averages the two middle samples of an even count") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("percentile and median reject an empty sample") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 90))
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("covered counts overlapping intervals once and ignores empty ones") {
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 25L))) == 25L)
    assert(Stats.covered(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20L)
    assert(Stats.covered(Nil) == 0L)
  }

  test("the layer spans plus unattributed time sum to the op's wall time") {
    val spans = Seq(
      Span(1, 1, 0, "planner.analysis", 100, 110),
      Span(1, 2, 0, "planner.optimization", 110, 125),
      Span(1, 3, 0, "exec.sql", 130, 190),
      Span(1, 4, 3, "exec.job", 140, 180), // nested in exec.sql: not counted twice
      Span(1, 5, 0, "planner.physical", 90, 101), // starts before the op: clipped
      Span(1, 6, 0, "embedded.plan_query", 200, 260, replay = true)) // after the op
    val t = OpTrace(1, "scan_orders", 100, 200, spans, Map.empty)
    assert(t.wall == 100)
    assert(t.covered == 85) // [100,125) and [130,190)
    assert(Stats.unattributed(t.start, t.end, spans.filterNot(_.replay).map(s => (s.start, s.end))) == 15)
    assert(t.covered + (t.wall - t.covered) == t.wall)
  }

  test("replay spans never count toward coverage") {
    val t = OpTrace(2, "adhoc", 0, 50,
      Seq(Span(2, 1, 0, "translator.translate", 0, 50, replay = true)), Map.empty)
    assert(t.covered == 0)
  }
}
