package perfbench

/** Pure numeric helpers behind every reported figure. No Spark here, so
  * the unit tests exercise them directly. */
object Stats {

  /** A percentile together with the number of samples it was taken over:
    * a p90 of 12 samples and a p90 of 400 are different claims. */
  final case class Pct(value: Double, n: Int)

  /** Linear-interpolated percentile (the "type 7" rule NumPy and
    * Python's `statistics.quantiles(method="inclusive")` use) at
    * `p` in [0, 1]. Empty input has no percentile. */
  def percentile(xs: Seq[Double], p: Double): Option[Pct] = {
    require(p >= 0.0 && p <= 1.0, s"percentile rank out of range: $p")
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      Some(Pct(s(lo) + (h - lo) * (s(hi) - s(lo)), s.size))
    }
  }

  def median(xs: Seq[Double]): Option[Pct] = percentile(xs, 0.5)

  /** Total length covered by a set of half-open intervals [start, end),
    * counting overlaps once. Intervals with end <= start cover nothing. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** The part of [start, end) that the given intervals cover, each first
    * clipped to [start, end). */
  def coveredWithin(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long =
    unionLength(intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) })

  /** One recorded call into a layer. `parent` is 0 for a root span. */
  final case class Span(id: Int, parent: Int, name: String, op: Int,
      start: Long, end: Long) {
    def duration: Long = end - start
  }

  /** Self time of every span: its duration minus the part of it that its
    * direct children cover (children that overlap are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.duration - coveredWithin(s.start, s.end, kids))
    }.toMap
  }
}
