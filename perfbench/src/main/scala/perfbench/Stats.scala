package perfbench

/** The harness's arithmetic, kept free of Spark so it can be tested alone. */
object Stats {

  /** Linear-interpolation quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples that lie beyond percentile `q` of `n` samples. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n - 1e-9).toInt

  /** Percentile `q` of `xs`, reported only when at least ten samples lie
    * beyond it; a percentile resting on fewer is a guess, not a figure. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] =
    if (beyond(xs.size, q) >= 10) Some(quantile(xs, q)) else None

  /** A trigger as the stream reports it: its completion instant (epoch
    * ms) and how many input records it consumed. */
  final case class Trigger(endMs: Double, rows: Long)

  /** Freshness of each landed segment: the time from its landing to the
    * completion of the trigger that committed its last record. Segments
    * and triggers are both consumed in order, so segment `i` is
    * committed by the first trigger whose cumulative input reaches the
    * cumulative size of segments `0..i`. A segment no trigger covers
    * yields None. */
  def freshness(segments: Seq[(Double, Long)], triggers: Seq[Trigger]): Seq[Option[Double]] = {
    val ends = triggers.filter(_.rows > 0).scanLeft((0.0, 0L)) {
      case ((_, acc), t) => (t.endMs, acc + t.rows)
    }.tail
    var need = 0L
    var j = 0
    segments.map { case (landMs, rows) =>
      need += rows
      while (j < ends.size && ends(j)._2 < need) j += 1
      if (j < ends.size) Some(ends(j)._1 - landMs) else None
    }
  }

  /** A recorded span: times in ms on one clock; `parent` is -1 at the root. */
  final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
    def durMs: Double = endMs - startMs
  }

  /** Total length of the union of intervals, each clipped to `[lo, hi]`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover (overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - covered(kids, s.startMs, s.endMs))
    }.toMap
  }
}
