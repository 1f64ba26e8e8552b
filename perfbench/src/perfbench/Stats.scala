package perfbench

/** The benchmark's metric math, kept pure so [[SelfTest]] can pin it. */
object Stats {

  /** Samples that must lie strictly above a reported tail percentile. */
  val TailSamples = 10

  /** Median (mean of the two middle samples on even counts). */
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val n = s.length
      Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
    }

  /** Nearest-rank `q`-quantile (0.5 < q < 1), reported only when at least
    * [[TailSamples]] samples lie above its rank: p90 needs 100 samples,
    * p99 needs 1000. None when there are too few.
    */
  def tail(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0.5 && q < 1.0, s"tail quantile must be in (0.5, 1): $q")
    val n = xs.length
    val rank = math.ceil(q * n - 1e-9).toInt // 1-based
    if (n == 0 || n - rank < TailSamples) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Fewest samples for which [[tail]] answers at `q`. */
  def samplesNeeded(q: Double): Int =
    Iterator.from(1).find(n => n - math.ceil(q * n - 1e-9).toInt >=
      TailSamples).get

  /** Failed ÷ attempted; an empty attempt set is a benchmark bug. */
  def share(failed: Long, attempted: Long): Double = {
    require(attempted >= 1, "a share needs at least one attempt")
    require(failed >= 0 && failed <= attempted,
      s"failed $failed outside [0, $attempted]")
    failed.toDouble / attempted
  }

  /** Total length of the union of half-open intervals, each clipped to
    * [lo, hi].
    */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Driver residual: wall time of [lo, hi] not covered by any running
    * job.
    */
  def residual(lo: Long, hi: Long, jobs: Seq[(Long, Long)]): Long =
    (hi - lo) - unionLength(jobs, lo, hi)

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> ((s.end - s.start) - unionLength(kids, s.start, s.end))
    }.toMap
  }
}
