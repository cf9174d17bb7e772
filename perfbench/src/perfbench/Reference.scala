package perfbench

import scala.collection.mutable

/** Closed-form reference answers computed on the driver from the generated
  * rows, independently of the library: sample moments, least squares and
  * rank sums. */
final class Moments(k: Int) {
  var n = 0L
  val mean = new Array[Double](k)
  private val co = Array.ofDim[Double](k, k)
  private val dx = new Array[Double](k)

  /** Welford's update of the means and co-moments. */
  def add(x: Double*): scala.Unit = {
    n += 1
    var i = 0
    while (i < k) { dx(i) = x(i) - mean(i); mean(i) += dx(i) / n; i += 1 }
    i = 0
    while (i < k) {
      var j = 0
      while (j < k) { co(i)(j) += dx(i) * (x(j) - mean(j)); j += 1 }
      i += 1
    }
  }

  /** Sample covariance (n − 1 denominator). */
  def cov(i: Int, j: Int): Double = co(i)(j) / (n - 1)
  def variance(i: Int): Double = cov(i, i)
}

object Reference {

  /** Least squares of column 0 on columns 1..k−1 plus an intercept (last),
    * from centred co-moments. Returns (coefficients, r²). */
  def ols(m: Moments, k: Int): (Array[Double], Double) = {
    val p = k - 1
    val a = Array.tabulate(p, p)((i, j) => m.cov(i + 1, j + 1))
    val b = Array.tabulate(p)(i => m.cov(i + 1, 0))
    val slopes = solve(a, b)
    val intercept = m.mean(0) - slopes.indices.map(i => slopes(i) * m.mean(i + 1)).sum
    val explained = slopes.indices.map(i => slopes(i) * b(i)).sum
    (slopes :+ intercept, explained / m.variance(0))
  }

  /** Gaussian elimination with partial pivoting. */
  def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone)
    val b = b0.clone
    for (c <- 0 until n) {
      val piv = (c until n).maxBy(r => math.abs(a(r)(c)))
      val tr = a(c); a(c) = a(piv); a(piv) = tr
      val tb = b(c); b(c) = b(piv); b(piv) = tb
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        for (j <- c until n) a(r)(j) -= f * a(c)(j)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1)
      x(r) = (b(r) - (r + 1 until n).map(j => a(r)(j) * x(j)).sum) / a(r)(r)
    x
  }

  /** Delta-method variance of mean(x0)/mean(x1). */
  def ratioVariance(m: Moments): Double = {
    val (a, b) = (m.mean(0), m.mean(1))
    (m.variance(0) / (b * b) - 2 * a * m.cov(0, 1) / (b * b * b) +
      a * a * m.variance(1) / (b * b * b * b)) / m.n
  }

  /** Mann–Whitney U of group 0: its rank sum (ties at average rank) minus
    * n0(n0+1)/2. */
  def mannWhitneyU0(group0: Array[Double], group1: Array[Double]): Double = {
    val a = group0.sorted
    val b = group1.sorted
    var i = 0; var j = 0
    var before = 0L
    var rankSum0 = 0.0
    while (i < a.length || j < b.length) {
      val v = if (j >= b.length || (i < a.length && a(i) <= b(j))) a(i) else b(j)
      var c0 = 0L; var c1 = 0L
      while (i < a.length && a(i) == v) { c0 += 1; i += 1 }
      while (j < b.length && b(j) == v) { c1 += 1; j += 1 }
      rankSum0 += c0 * (before + (c0 + c1 + 1) / 2.0)
      before += c0 + c1
    }
    rankSum0 - a.length * (a.length + 1.0) / 2.0
  }

  /** Collects mismatches between result fields and their references. */
  final class Diff {
    private val bad = mutable.ArrayBuffer.empty[String]
    def rel(name: String, got: Double, want: Double, tol: Double = 1e-6): scala.Unit =
      if (!Stats.close(got, want, tol)) bad += f"$name=$got%.10g want $want%.10g"
    def within(name: String, got: Double, want: Double, tol: Double): scala.Unit =
      if (got.isNaN || math.abs(got - want) > tol) bad += f"$name=$got%.6g want $want%.6g ± $tol%.3g"
    def require(name: String, ok: Boolean): scala.Unit = if (!ok) bad += name
    def result: Option[String] = if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  def diff(body: Diff => scala.Unit): Option[String] = {
    val d = new Diff
    body(d)
    d.result
  }
}
