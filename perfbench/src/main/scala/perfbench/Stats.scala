package perfbench

/** The benchmark's own arithmetic: order statistics, the tail-percentile
  * rule, F1 from confusion counts, write amplification and span self time.
  * Pure functions, so `StatsSpec` can pin each rule without Spark.
  */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile that still has at least `beyond` samples above
    * it: with n samples that is the (n - beyond)-th smallest, i.e. the
    * percentile 100 * (n - beyond) / n. `None` when n <= beyond, because no
    * percentile then has enough samples past it to be trusted.
    * Returns (percentile, value).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.length <= beyond) None
    else {
      val s = xs.sorted
      val k = s.length - beyond // 1-based rank: `beyond` samples lie above it
      Some((100.0 * k / s.length, s(k - 1)))
    }

  final case class Confusion(tp: Long, fp: Long, fn: Long)

  /** F1 by the fixture rule: an empty predicted or empty true set counts as
    * precision or recall 1 (nothing to find, nothing found wrongly).
    */
  def f1(c: Confusion): Double = {
    val p = if (c.tp + c.fp == 0) 1.0 else c.tp.toDouble / (c.tp + c.fp)
    val r = if (c.tp + c.fn == 0) 1.0 else c.tp.toDouble / (c.tp + c.fn)
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)
  }

  /** Bytes the job wrote (committed table files, shuffle files and spill)
    * per byte of input parquet.
    */
  def writeAmp(outputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
               inputBytes: Long): Double = {
    require(inputBytes > 0, "write amplification needs a non-empty input")
    (outputBytes + shuffleWriteBytes + spillBytes).toDouble / inputBytes
  }

  /** Total length of the union of half-open intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * covered by its direct children (overlapping children count once, and a
    * child running past its parent counts only inside the parent).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val inside = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> ((s.end - s.start) - covered(inside))
    }.toMap
  }
}

/** One traced interval, in nanoseconds of `System.nanoTime`. `parent` is -1
  * for a root span.
  */
final case class Span(id: Int, parent: Int, name: String, workload: String,
                      start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
}
