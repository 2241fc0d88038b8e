package graft.perfbench

/** Summary arithmetic the benchmark reports with: percentiles under the
  * tail rule, layer self time, and the driver-only share of a wall
  * interval. Pure functions, so the specs pin them without Spark. */
object Stats {

  /** Nearest-rank percentile of an ascending-sorted sample, `q` in (0, 100]. */
  def percentile(sorted: IndexedSeq[Double], q: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    sorted(rankIndex(sorted.length, q))
  }

  def median(xs: Iterable[Double]): Double = percentile(xs.toIndexedSeq.sorted, 50.0)

  private def rankIndex(n: Int, q: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(q * n / 100.0 - 1e-9).toInt - 1))

  /** Percentiles a tail is reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** A tail reading: which percentile, its value, and the sample count. */
  final case class Tail(percentile: Double, value: Double, samples: Int)

  /** The highest percentile of `ladder` that still has at least
    * `beyond` samples above its rank, so a tail figure never rests on a
    * handful of observations. None when no rung qualifies. */
  def tail(xs: Iterable[Double], ladder: Seq[Double] = TailLadder, beyond: Int = 10): Option[Tail] = {
    val sorted = xs.toIndexedSeq.sorted
    val n = sorted.length
    ladder.find(q => n > 0 && n - 1 - rankIndex(n, q) >= beyond)
      .map(q => Tail(q, percentile(sorted, q), n))
  }

  /** The reported tail: the rule's percentile, at most `cap`, or the
    * maximum when the sample is too small for any rung (flagged by the
    * percentile reading 100). The cap keeps one percentile across runs
    * whose sample counts differ, so commits with different throughput
    * compare like with like. */
  def tailOrMax(xs: Iterable[Double], cap: Double = 100.0): Tail =
    tail(xs, TailLadder.filter(_ <= cap)).getOrElse(Tail(100.0, xs.max, xs.size))

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Iterable[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Driver-only time of a wall interval: the part no Spark job covers. */
  def driverOnly(start: Long, end: Long, jobs: Iterable[(Long, Long)]): Long =
    (end - start) - unionLength(jobs.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })

  /** Self time of each span, by span id: its duration minus the
    * durations of its direct children. The benchmark replays a request at
    * each entry point from outermost to innermost, so a child is a
    * separate, sequential call of the layer one further in, and its whole
    * duration is subtracted; the innermost entry point keeps its whole
    * duration. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durationNs).sum }
    spans.map(s => s.id -> (s.durationNs - childNs.getOrElse(s.id, 0L))).toMap
  }
}
