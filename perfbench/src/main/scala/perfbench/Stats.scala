package perfbench

/** The arithmetic behind every reported number, kept free of Spark so the
  * spec can pin it: interval coverage (self time, driver-only time),
  * percentiles, and the roll-up of per-span counters to ancestor spans.
  * Intervals are half-open [start, end) in one clock's units.
  */
object Stats {

  /** Merge overlapping or touching intervals; output sorted, disjoint. */
  def union(iv: Seq[(Long, Long)]): List[(Long, Long)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((ls, le) :: rest, (s, e)) if s <= le =>
          (ls, math.max(le, e)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  /** Length of the part of [lo, hi) that the union of `iv` covers. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    union(iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
      .map { case (s, e) => e - s }.sum

  /** A span's duration minus the part its children's intervals cover. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - covered(children, span._1, span._2)

  /** A span's duration minus the part during which any job was active:
    * the time the driver worked (or waited) with no cluster work in
    * flight. */
  def driverOnly(span: (Long, Long), jobs: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - covered(jobs, span._1, span._2)

  /** Linear-interpolation percentile (the R-7 / numpy default) of a
    * non-empty sample, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"percentile rank $p")
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The span itself and every ancestor of it, given a parent map
    * (roots map to -1). A job attributed to a span counts toward all of
    * these: counters are inclusive of child spans. */
  def ancestry(span: Int, parent: Int => Int): List[Int] =
    if (span < 0) Nil else span :: ancestry(parent(span), parent)

  /** Inclusive roll-up: per span id, the sum of `value` over the items
    * attributed to it or to any of its descendants. Items whose span is
    * unknown (-1) belong to no span. */
  def rollUp[T](items: Seq[T], spanOf: T => Int, value: T => Double,
      parent: Int => Int): Map[Int, Double] =
    items.flatMap(t => ancestry(spanOf(t), parent).map(_ -> value(t)))
      .groupMapReduce(_._1)(_._2)(_ + _)
}
