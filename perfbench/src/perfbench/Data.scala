package perfbench

import java.util.SplittableRandom

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}

/** A/B exposure log: one row per unit, in-experiment metrics and their
  * pre-period values (the CUPED covariates). `u` feeds the per-experiment
  * treatment hash. */
final case class Exposure(unit_id: Long, u: Int, platform: String, country: Int, is_new: Int,
                          revenue: Double, pre_revenue: Double, clicks: Double,
                          pre_clicks: Double, sessions: Double, pre_sessions: Double,
                          dwell: Double, pre_dwell: Double)

/** Observational study with a planted heterogeneous effect
  * τ = 2 + 8·h, h = 1{x1 > 25}, treated with known propensity
  * e = 0.3 + 0.4·h; plus surrogate periods s0..s2 and an exponential
  * survival time with planted log-hazard coefficients, recorded in tenths
  * of a day. */
final case class Study(id: Long, x1: Double, x2: Double, h: Double, e: Double, treat: Int,
                       y: Double, mu1: Double, mu0: Double, seg: Int, x1b: Int, score: Double,
                       s0: Double, s1: Double, s2: Double, x1s: Double, time: Double, event: Int)

/** Seeded row generators. Rows are generated per partition from a stream
  * keyed by (seed, partition), so Spark's tasks and the driver-side
  * reference produce identical rows. */
object Data {
  val Partitions = 8

  private def rng(seed: Long, part: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + part * 7919L + 17L)

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller, one draw per call (deterministic and cheap)
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  def range(n: Long, part: Int): (Long, Long) =
    (n * part / Partitions, n * (part + 1) / Partitions)

  def exposures(seed: Long, n: Long, part: Int): Iterator[Exposure] = {
    val r = rng(seed, part)
    val (lo, hi) = range(n, part)
    Iterator.range(lo.toInt, hi.toInt).map { i =>
      val p = r.nextDouble()
      val platform = if (p < 0.5) "ios" else if (p < 0.85) "android" else "web"
      val sessions = 1.0 + math.floor(-math.log(1.0 - r.nextDouble()) * 3.0)
      val clicks = math.floor(sessions * r.nextDouble() * 4.0)
      val dwell = sessions * math.exp(3.0 + 0.8 * gauss(r))
      val revenue = if (r.nextDouble() < 0.3) math.exp(2.0 + gauss(r)) else 0.0
      Exposure(i.toLong, r.nextInt(Int.MaxValue), platform, r.nextInt(10),
        if (r.nextDouble() < 0.5) 1 else 0,
        revenue, 0.7 * revenue + math.abs(2.0 * gauss(r)),
        clicks, math.floor(0.6 * clicks + 2.0 * r.nextDouble()),
        sessions, math.floor(0.5 * sessions + 3.0 * r.nextDouble()),
        dwell, 0.6 * dwell + math.exp(2.0 + gauss(r)))
    }
  }

  /** Planted log-hazard coefficients on (x1s, treat). */
  val CoxBeta: (Double, Double) = (0.5, -0.7)

  def study(seed: Long, n: Long, part: Int): Iterator[Study] = {
    val r = rng(seed, part)
    val (lo, hi) = range(n, part)
    Iterator.range(lo.toInt, hi.toInt).map { i =>
      val x1 = (1 + r.nextInt(50)).toDouble
      val x2 = r.nextInt(11) / 100.0
      val h = if (x1 > 25.0) 1.0 else 0.0
      val e = 0.3 + 0.4 * h
      val treat = if (r.nextDouble() < e) 1 else 0
      val mu0 = 10.0 + 5.0 * h
      val mu1 = mu0 + 2.0 + 8.0 * h
      val y = (if (treat == 1) mu1 else mu0) + (r.nextDouble() - 0.5) * 0.999
      val s1 = 0.8 * y + gauss(r)
      val s2 = 0.8 * s1 + gauss(r)
      val x1s = x1 / 50.0
      val hazard = 0.1 * math.exp(CoxBeta._1 * x1s + CoxBeta._2 * treat)
      val t = -math.log(1.0 - r.nextDouble()) / hazard
      val c = -math.log(1.0 - r.nextDouble()) / 0.05
      val score = math.min(0.999, math.max(0.0, e + (r.nextDouble() - 0.5) * 0.1))
      Study(i.toLong, x1, x2, h, e, treat, y, mu1, mu0, i % 3, (x1 / 10).toInt, score,
        y, s1, s2, x1s, math.ceil(math.min(t, c) * 10.0) / 10.0, if (t <= c) 1 else 0)
    }
  }

  /** Generate with Spark (one task per partition), write parquet to `path`
    * and register it as temp view `view`. */
  def write[T <: Product : TypeTag](spark: SparkSession, path: String, view: String)
                                   (gen: Int => Iterator[T]): Unit = {
    implicit val rows: Encoder[T] = Encoders.product[T]
    spark.range(0, Partitions, 1, Partitions).as(Encoders.scalaLong)
      .flatMap(p => gen(p.toInt))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(view)
  }

  /** The same rows, generated on the driver for the reference answers. */
  def local[T](gen: Int => Iterator[T]): Iterator[T] =
    Iterator.range(0, Partitions).flatMap(gen)
}
