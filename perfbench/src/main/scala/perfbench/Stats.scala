package perfbench

/** Summary arithmetic shared by the workloads: percentiles, the tail
  * rule, open-loop timing, backlog detection and span self time. Pure
  * functions, so StatsSpec checks each rule on synthetic inputs. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** The highest percentile that leaves at least `beyond` of `n`
    * samples above its rank, so a tail is never read off a handful of
    * samples: 100 (n - beyond) / n, as in p90 of 100 or p99 of 1000.
    * None below 2 * `beyond` samples, where even the median has fewer
    * beyond it. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    if (n < 2 * beyond) None else Some(100.0 * (n - beyond) / n)

  /** The tail of `xs` at the percentile [[tailPercentile]] fixes for
    * `minN` samples, the fewest the workload always takes. Fixing it by
    * the guaranteed count, not the count a run reached, keeps a slow run
    * from being read at a lower percentile than a fast one. */
  def tail(xs: Seq[Double], minN: Int): Double = {
    require(xs.size >= minN, s"${xs.size} samples, fewer than the $minN guaranteed")
    percentile(xs, tailPercentile(minN).getOrElse(sys.error(s"no tail for $minN samples")))
  }

  /** One open-loop request: when it was due, when the generator handed
    * it to a connection, when it was sent and when its reply was read. */
  final case class Timed(dueNs: Long, dispatchedNs: Long, sentNs: Long, doneNs: Long) {
    /** Latency from the due time, so a stall also charges the requests
      * queued behind it. */
    def latencyMs: Double = (doneNs - dueNs) / 1e6
    /** How late the generator itself ran. */
    def generatorLateMs: Double = (dispatchedNs - dueNs) / 1e6
  }

  /** Due times of a fixed-interval open loop at `rate` per second. */
  def dueTimes(startNs: Long, rate: Double, count: Int): IndexedSeq[Long] =
    (0 until count).map(i => startNs + math.round(i * 1e9 / rate))

  /** Requests due by `t` whose replies had not arrived at `t`. */
  def outstandingAt(xs: Seq[Timed], t: Long): Int =
    xs.count(x => x.dueNs <= t && x.doneNs > t)

  /** A rung's backlog grows when the requests outstanding at its last
    * due time exceed those outstanding at its middle by more than the
    * number of connections: arrivals outran completions. */
  def backlogGrows(xs: Seq[Timed], connections: Int): Boolean = xs.nonEmpty && {
    val dues = xs.map(_.dueNs).sorted
    val mid = outstandingAt(xs, dues(dues.size / 2))
    val end = outstandingAt(xs, dues.last)
    end - mid > connections
  }

  /** One rung of a rate ladder: the offered rate and its requests. */
  final case class Rung(rate: Double, timed: Seq[Timed], failed: Int)

  /** The highest rate whose requests all succeeded, whose p90 latency is
    * within `p90LimitMs` and whose backlog does not grow; 0 when none. */
  def maxRate(rungs: Seq[Rung], p90LimitMs: Double, connections: Int): Double =
    rungs.filter(r => r.timed.nonEmpty && r.failed == 0 &&
      percentile(r.timed.map(_.latencyMs), 90) <= p90LimitMs &&
      !backlogGrows(r.timed, connections))
      .map(_.rate).foldLeft(0.0)(math.max)

  /** A traced interval. `parent` is 0 for a root span. */
  final case class Span(id: Long, parent: Long, name: String, startNs: Long,
      endNs: Long, request: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - coveredNs(ch, s.startNs, s.endNs))
    }.toMap
  }

  /** Self time summed per span name. */
  def selfTimeByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}
