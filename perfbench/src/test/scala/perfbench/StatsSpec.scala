package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("a tail percentile keeps at least ten samples beyond it") {
    assert(tailPercentile(100).contains(90.0))
    assert(tailPercentile(40).contains(75.0))
    assert(tailPercentile(200).contains(95.0))
    assert(tailPercentile(1000).contains(99.0))
    assert(tailPercentile(20).contains(50.0))
    assert(tailPercentile(19).isEmpty)
    for (n <- 1 to 3000; p <- tailPercentile(n))
      assert(n - math.ceil(p / 100 * n - 1e-9).toInt >= 10, s"n=$n p=$p")
  }

  test("nearest-rank percentiles and the tail of a sample") {
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 90) == 90.0)
    assert(percentile(xs, 50) == 50.0)
    // the percentile is fixed by the guaranteed count, not the count taken
    assert(tail(xs, 100) == 90.0)
    assert(tail(xs, 40) == 75.0)
    assert(tail(xs.take(60), 40) == 45.0)
    assert(intercept[IllegalArgumentException](tail(xs.take(30), 40)).getMessage.contains("fewer"))
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("open-loop latency runs from the due time, lateness from dispatch") {
    val t = Timed(dueNs = 1000000000L, dispatchedNs = 1003000000L,
      sentNs = 1010000000L, doneNs = 1050000000L)
    assert(t.latencyMs == 50.0)
    assert(t.generatorLateMs == 3.0)
    assert(dueTimes(0L, 4.0, 3) == Seq(0L, 250000000L, 500000000L))
  }

  private def served(rate: Double, serviceMs: Double, n: Int, conns: Int): Seq[Timed] = {
    // a single server thread behind `conns` connections, FIFO
    val dues = dueTimes(0L, rate, n)
    var free = 0L
    dues.map { d =>
      val start = math.max(d, free)
      free = start + (serviceMs * 1e6).toLong
      Timed(d, d, d, free)
    }
  }

  test("backlog growth is detected only when arrivals outrun service") {
    assert(!backlogGrows(served(rate = 10, serviceMs = 50, n = 200, conns = 4), 4))
    assert(backlogGrows(served(rate = 40, serviceMs = 50, n = 200, conns = 4), 4))
    assert(!backlogGrows(Nil, 4))
  }

  test("the max rate is the highest rung under the limit with no backlog") {
    val rungs = Seq(10.0, 15.0, 25.0, 40.0).map(r => Rung(r, served(r, 50, 100, 4), 0))
    assert(maxRate(rungs, p90LimitMs = 200, connections = 4) == 15.0)
    assert(maxRate(rungs.map(_.copy(failed = 1)), 200, 4) == 0.0)
    assert(maxRate(rungs, p90LimitMs = 40, connections = 4) == 0.0)
  }

  test("self time subtracts the union of child spans") {
    val spans = Seq(
      Span(1, 0, "root", 0, 100, 7),
      Span(2, 1, "a", 10, 40, 7),
      Span(3, 1, "b", 30, 60, 7), // overlaps a: 10..60 covered once
      Span(4, 2, "leaf", 20, 25, 7),
      Span(5, 1, "c", 90, 120, 7)) // clipped to the parent's end
    val self = selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 5)
    assert(selfTimeByName(spans)("root") == 40)
    assert(coveredNs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25)
  }
}
