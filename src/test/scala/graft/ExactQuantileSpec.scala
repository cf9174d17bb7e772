package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r18 histogram + prefix-sum exact quantile
  * ([[graft.ops.Robust.exactQuantilesOnCounts]]): must reproduce Spark's
  * exact `percentile` (== DuckDB quantile_cont) BIT-FOR-BIT, including
  * the (hi−pos)·v_lo + (pos−lo)·v_hi interpolation, on duplicated,
  * skewed, and all-distinct inputs — it replaces that aggregate in the
  * exact paths of mad_outliers / mood_median / quantile_bounds. */
class ExactQuantileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val ps = Seq(0.0, 0.03, 0.25, 0.5, 0.62, 0.75, 0.95, 1.0)

  private def check(values: Seq[Double]): Unit = {
    val df = values.toDF("x").repartition(7)
    val viaSpark = df.agg(percentile(col("x"),
      array(ps.map(lit): _*))).head().getSeq[Double](0)
    val viaHist = graft.ops.Robust.exactQuantiles(df, col("x"), ps)
    viaSpark.zip(viaHist).zip(ps).foreach { case ((a, b), p) =>
      assert(a == b, s"p=$p: spark percentile $a != histogram $b")
    }
  }

  test("all-distinct values (interpolated ranks)") {
    check((0 until 1013).map(i => (i * 37 % 1013) / 7.0 - 31.0))
  }

  test("heavy duplication and skew") {
    check(Seq.fill(500)(3.25) ++ (0 until 77).map(_ * 0.5) ++
      Seq.fill(200)(-1.0) ++ Seq(1e9, -1e9))
  }

  test("two values") { check(Seq(1.0, 2.0)) }

  test("single value") { check(Seq(42.0)) }

  test("fractional counts: driver collapse == distributed path") {
    // weights, not counts: the collapse must not truncate 0.5 to 0
    val byV = Seq((1.0, 0.5), (2.0, 2.5), (3.0, 1.0), (4.0, 3.25))
      .toDF("v", "c")
    assert(graft.ops.Robust.localHistOnCounts(byV, 100).isEmpty)
    val qs = Seq(0.1, 0.5, 0.9)
    val fast = graft.ops.Robust.exactQuantilesOnCounts(byV, qs)
    val dist = graft.ops.Robust.exactQuantilesOnCounts(byV, qs,
      maxLocalCells = 0)
    assert(fast.toSeq == dist.toSeq)
    // integral counts still collapse
    val whole = byV.select(col("v"), ceil(col("c")).as("c"))
    assert(graft.ops.Robust.localHistOnCounts(whole, 100).map(_._2.toSeq) ==
      Some(Seq(1L, 3L, 1L, 4L)))
  }

  test("empty input is a named error") {
    val df = Seq.empty[Double].toDF("x")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Robust.exactQuantiles(df, col("x"), Seq(0.5), "mad_outliers")
    }
    assert(e.getMessage.contains("mad_outliers: no non-null values"))
  }

  test("mad_outliers exact: histogram path equals the three-pass answer") {
    // the pre-r18 three-pass shape, replayed inline as the reference
    val vals = (0 until 2000).map(i => ((i * 131) % 997) / 3.0) ++
      Seq.fill(50)(5000.0) // planted outliers
    val df = vals.toDF("x")
    val out = graft.ops.Robust.madOutliers(df, col("x"), exact = true)
      .head()
    val med = df.agg(percentile(col("x"), lit(0.5))).head().getDouble(0)
    val mad = df.agg(percentile(abs(col("x") - lit(med)), lit(0.5)))
      .head().getDouble(0)
    assert(out.getAs[Double]("median") == med)
    assert(out.getAs[Double]("mad") == mad)
    val sigma = mad / graft.stats.Dist.normQuantile(0.75)
    val lo = med - 3.0 * sigma; val hi = med + 3.0 * sigma
    assert(out.getAs[Long]("n") == vals.length.toLong)
    assert(out.getAs[Long]("n_outliers") ==
      vals.count(v => v < lo || v > hi).toLong)
    assert(out.getAs[Double]("min_kept") == vals.filter(v => v >= lo && v <= hi).min)
    assert(out.getAs[Double]("max_kept") == vals.filter(v => v >= lo && v <= hi).max)
  }
}
