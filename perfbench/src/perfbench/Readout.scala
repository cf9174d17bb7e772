package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.GraftGateway
import org.apache.spark.sql.{Row, SparkSession}

/** A/B readout traffic from an experiment platform: SQL text through
  * `GraftGateway.sql` over an exposure log half the size of the sf0.1
  * lineitem table. Each request carries an experiment config — metric column,
  * treatment-hash salt, row filter — drawn from the seed. A statement
  * re-sends its previous config three times out of four, as a dashboard
  * refreshing the same readout does, so about 0.75 of the timed requests
  * repeat an earlier plan (and its generated code). Every filter keeps
  * about half of the rows, and the rank test always ranks the continuous
  * dwell time, so the seed moves the answers and not the amount of work. */
final class Readout(seed: Long, spark: SparkSession) extends Workload {
  import Readout._

  def prepare(dir: String): scala.Unit = {
    val s = seed
    Data.write(spark, s"$dir/exposures", "exposures")(p => Data.exposures(s, Rows, p))
  }

  private lazy val rows: Array[Exposure] = Data.local(p => Data.exposures(seed, Rows, p)).toArray

  private def fresh(r: SplittableRandom): Config = Config(
    Metrics(r.nextInt(Metrics.length)), Ratios(r.nextInt(Ratios.length)),
    1L + 2L * r.nextInt(1 << 19), r.nextInt(Modulus).toLong, r.nextInt(Filters.length))

  /** Each statement's previous config, and how many requests it has sent. */
  private val last = mutable.HashMap.empty[String, Config]
  private val sent = mutable.HashMap.empty[String, Int]

  /** One request per statement, each with its first config, so the timed
    * stream can repeat plans from its first round. */
  def warmUp: Seq[Request] = {
    val r = new SplittableRandom(seed)
    Classes.map { c => last(c) = fresh(r); sent(c) = 1; request(c, last(c)) }
  }

  def warmRounds: Int = 5

  /** Each round sends every statement once, in a seeded order. Statement
    * i's k-th request draws a fresh config when (k + i) % FreshEvery == 0
    * and otherwise re-sends its previous one, so every round holds one or
    * two new plans. */
  def rounds: Iterator[Seq[Request]] = {
    val r = new SplittableRandom(seed + 1)
    Iterator.continually {
      shuffle(Classes, r).map { c =>
        val k = sent(c)
        sent(c) = k + 1
        if ((k + Classes.indexOf(c)) % FreshEvery == 0) last(c) = fresh(r)
        request(c, last(c))
      }
    }
  }

  def describe(warm: Seq[Done], timed: Seq[Done]): Seq[String] = {
    val seen = mutable.HashSet.empty[String] ++ warm.map(_.req.plan)
    val repeats = timed.count(d => !seen.add(d.req.plan))
    Seq(s"input: exposures $Rows rows x 13 columns (parquet, read from the page cache)",
      f"stream: ${timed.length} requests, ${repeats.toDouble / math.max(1, timed.length)}%.3f " +
        "of them repeat an earlier plan")
  }

  private def request(cls: String, c: Config): Request = {
    val src = s"(SELECT *, ${c.treatSql} AS treat FROM exposures WHERE ${Filters(c.filter)._1}) e"
    val m = c.metric
    val sql = cls match {
      case "ttest" =>
        s"SELECT r.mean0, r.mean1, r.estimate, r.stderr FROM " +
          s"(SELECT ttest_2samp('x1', 'two-sided', treat, $m) AS r FROM $src)"
      case "cuped" =>
        s"SELECT r.mean0, r.mean1, r.estimate, r.stderr FROM " +
          s"(SELECT ttest_2samp_cuped('x1', 'two-sided', 'x2', treat, $m, pre_$m) AS r FROM $src)"
      case "delta" =>
        s"SELECT treat, delta_method('x1/x2', false, ${c.ratio._1}, ${c.ratio._2}) AS v " +
          s"FROM $src GROUP BY treat"
      case "srm" =>
        s"SELECT r.observed, r.chisq FROM (SELECT srm(sessions, treat, array(1.0, 1.0)) AS r FROM $src)"
      case "ols" =>
        s"SELECT m.coefficients, m.r2 FROM (SELECT ols($m, pre_$m, treat) AS m FROM $src)"
      case "mann_whitney" =>
        s"SELECT mann_whitney_utest(dwell, treat) FROM $src"
      case "smd" =>
        s"SELECT smd(treat, pre_$m, sessions) FROM $src"
    }
    Request(cls, sql, "gateway", Rows, () => GraftGateway.sql(spark, sql), res => check(cls, c, res))
  }

  /** (treatment, row) pairs of the rows a config selects. */
  private def selected(c: Config): Iterator[(Int, Exposure)] = {
    val keep = Filters(c.filter)._2
    rows.iterator.filter(keep).map(e => (c.treat(e.u), e))
  }

  private def armMoments(c: Config, cols: Exposure => Seq[Double], k: Int): (Moments, Moments, Moments) = {
    val arms = Array(new Moments(k), new Moments(k))
    val all = new Moments(k)
    selected(c).foreach { case (t, e) => val x = cols(e); arms(t).add(x: _*); all.add(x: _*) }
    (arms(0), arms(1), all)
  }

  private def check(cls: String, c: Config, res: Array[Row]): Option[String] = {
    val m = c.metric
    Reference.diff { d =>
      cls match {
        case "ttest" =>
          val (a0, a1, _) = armMoments(c, e => Seq(metric(e, m)), 1)
          val r = res.head
          d.rel("mean0", r.getDouble(0), a0.mean(0))
          d.rel("mean1", r.getDouble(1), a1.mean(0))
          d.rel("estimate", r.getDouble(2), a1.mean(0) - a0.mean(0))
          d.rel("stderr", r.getDouble(3), math.sqrt(a0.variance(0) / a0.n + a1.variance(0) / a1.n))
        case "cuped" =>
          val (a0, a1, all) = armMoments(c, e => Seq(metric(e, m), metric(e, s"pre_$m")), 2)
          val theta = all.cov(0, 1) / all.variance(1)
          def adj(a: Moments) = (a.mean(0) - theta * (a.mean(1) - all.mean(1)),
            (a.variance(0) + theta * theta * a.variance(1) - 2 * theta * a.cov(0, 1)) / a.n)
          val ((m0, v0), (m1, v1)) = (adj(a0), adj(a1))
          val r = res.head
          d.rel("mean0", r.getDouble(0), m0)
          d.rel("mean1", r.getDouble(1), m1)
          d.rel("estimate", r.getDouble(2), m1 - m0)
          d.rel("stderr", r.getDouble(3), math.sqrt(v0 + v1))
        case "delta" =>
          val (a0, a1, _) = armMoments(c, e => Seq(metric(e, c.ratio._1), metric(e, c.ratio._2)), 2)
          val got = res.map(r => r.getInt(0) -> r.getDouble(1)).toMap
          d.require(s"arms ${got.keys.toSeq.sorted}", got.keySet == Set(0, 1))
          Seq(0 -> a0, 1 -> a1).foreach { case (t, a) =>
            d.rel(s"var[$t]", got.getOrElse(t, Double.NaN), Reference.ratioVariance(a)) }
        case "srm" =>
          val obs = Array(0.0, 0.0)
          selected(c).foreach { case (t, e) => obs(t) += e.sessions }
          val exp = obs.sum / 2
          val r = res.head
          val got = r.getSeq[Double](0)
          d.rel("observed0", got.head, obs(0))
          d.rel("observed1", got(1), obs(1))
          d.rel("chisq", r.getDouble(1), obs.map(o => (o - exp) * (o - exp) / exp).sum)
        case "ols" =>
          val all = new Moments(3)
          selected(c).foreach { case (t, e) => all.add(metric(e, m), metric(e, s"pre_$m"), t) }
          val (coef, r2) = Reference.ols(all, 3)
          val got = res.head.getSeq[Double](0)
          coef.indices.foreach(i => d.rel(s"coef$i", got(i), coef(i)))
          d.rel("r2", res.head.getDouble(1), r2)
        case "mann_whitney" =>
          val (g0, g1) = selected(c).toArray.partition(_._1 == 0)
          d.rel("u", res.head.getDouble(0),
            Reference.mannWhitneyU0(g0.map(_._2.dwell), g1.map(_._2.dwell)), 1e-9)
        case "smd" =>
          val got = res.map(r => r.getString(0) -> r.getDouble(1)).toMap
          Seq(s"pre_$m", "sessions").foreach { col =>
            val (a0, a1, _) = armMoments(c, e => Seq(metric(e, col)), 1)
            d.rel(s"smd[$col]", got.getOrElse(col, Double.NaN),
              (a1.mean(0) - a0.mean(0)) / math.sqrt((a1.variance(0) + a0.variance(0)) / 2))
          }
      }
    }
  }
}

object Readout {
  val Rows = 300000L
  val Modulus = 1000003
  val FreshEvery = 4
  val Classes = Seq("ttest", "cuped", "delta", "srm", "ols", "mann_whitney", "smd")
  val Metrics = Seq("revenue", "clicks", "sessions", "dwell")
  val Ratios = Seq(("clicks", "sessions"), ("revenue", "sessions"), ("dwell", "sessions"))
  val Filters: Seq[(String, Exposure => Boolean)] = Seq(
    ("platform = 'ios'", _.platform == "ios"),
    ("platform <> 'ios'", _.platform != "ios"),
    ("country < 5", _.country < 5),
    ("country >= 5", _.country >= 5),
    ("is_new = 1", _.is_new == 1),
    ("is_new = 0", _.is_new == 0))

  /** One experiment config: the treatment of a unit is a salted hash of its
    * `u`, the same arithmetic in SQL and on the driver. */
  final case class Config(metric: String, ratio: (String, String), a: Long, b: Long, filter: Int) {
    def treatSql: String = s"CAST(pmod(CAST(u AS BIGINT) * $a + $b, $Modulus) % 2 AS INT)"
    def treat(u: Int): Int = (((u.toLong * a + b) % Modulus) % 2).toInt
  }

  def metric(e: Exposure, col: String): Double = col match {
    case "revenue" => e.revenue
    case "pre_revenue" => e.pre_revenue
    case "clicks" => e.clicks
    case "pre_clicks" => e.pre_clicks
    case "sessions" => e.sessions
    case "pre_sessions" => e.pre_sessions
    case "dwell" => e.dwell
    case "pre_dwell" => e.pre_dwell
  }

  /** Fisher–Yates with the stream's own generator. */
  def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
