package perfbench

/** The arithmetic the harness reports, kept free of Spark so the self-test
  * can pin it. */
object Stats {

  /** Linear interpolation between order statistics (the R-7 / numpy
    * default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The typical latency of a stream that mixes op classes: the geometric
    * mean of the op latencies, every class weighted the same. The median
    * over all ops of such a stream sits in the class ranked in the middle,
    * and jumps to the next class when a few ops of the middle one run slow;
    * the median of a class, read from the three or four ops it has in a
    * run, moves with any one of them. */
  def typicalLatency(samples: Seq[(String, Double)]): Double = {
    val logs = samples.groupBy(_._1).values.map(s => mean(s.map(x => math.log(x._2)))).toSeq
    math.exp(mean(logs))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Samples that lie beyond the q-th percentile of n samples by rank. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n - 1e-9).toInt

  /** The q-th percentile, or None when fewer than `minBeyond` samples lie
    * beyond it: a tail read from fewer samples is one or two slow requests,
    * not a percentile. */
  def tailPercentile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && beyond(xs.length, q) >= minBeyond) Some(quantile(xs, q)) else None

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
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

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (children clipped to the span, overlaps counted
    * once). */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    (e - s) - unionLength(clipped)
  }

  sealed trait Outcome
  case object Ok extends Outcome
  final case class Threw(message: String) extends Outcome
  final case class Wrong(reason: String) extends Outcome

  /** Requests that threw or answered wrongly, over requests attempted. */
  def failedFrac(outcomes: Seq[Outcome]): Double =
    if (outcomes.isEmpty) 0.0 else outcomes.count(_ != Ok).toDouble / outcomes.length

  /** Relative comparison with an absolute floor for values near zero. */
  def close(got: Double, want: Double, rel: Double, abs: Double = 1e-9): Boolean =
    !got.isNaN && !want.isNaN && math.abs(got - want) <= math.max(abs, rel * math.abs(want))
}
