package perfbench

/** Order statistics for the benchmark's samples. */
object Stats {
  /** The `p`-quantile (0 ≤ p ≤ 1) with linear interpolation between closest
    * ranks (numpy's default); NaN for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** One timed interval of the traced run.
  *
  * @param parent the id of the span that caused it, or -1 at the root
  * @param batch  the micro-batch it belongs to, or -1 outside any batch
  * @param layer  the module it times: stream, transport, bql, engine or spark */
final case class Span(
    id: Int,
    parent: Int,
    name: String,
    layer: String,
    batch: Long,
    startNs: Long,
    endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {
  /** Nanoseconds of `[start, end)` covered by the union of `intervals`,
    * each clipped to that range first. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Each span's self time: its duration minus the part of its interval
    * that its children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Seq.empty).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(s.startNs, s.endNs, kids))
    }.toMap
  }

  /** Total self time per layer, in nanoseconds. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum }
  }
}
