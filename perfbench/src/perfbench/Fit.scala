package perfbench

import java.util.SplittableRandom

import graft.ops.{Bootstrap, CausalForest, Dml, Longterm, Matching, Survival}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Model-fitting verbs called through `graft.ops`, in a fixed order per
  * round, over an observational study with a planted effect. These
  * verbs run almost all their jobs inside the call, and the matching verbs
  * write checkpoints. The seed draws the rows and each call's random seed. */
final class Fit(seed: Long, spark: SparkSession) extends Workload {
  import Fit._

  def prepare(dir: String): scala.Unit = {
    val s = seed
    Data.write(spark, s"$dir/study", "study")(p => Data.study(s, Rows, p))
  }

  private def df: DataFrame = spark.table("study")
  private val id = Seq(col("id"))

  /** One request of every verb, each with a random seed drawn from `r`. */
  private def verbs(r: SplittableRandom): Seq[Request] = {
    def req(cls: String)(call: Long => Any)(check: Array[Row] => Option[String]): Request = {
      val s = r.nextLong()
      Request(cls, s"$cls#$s", "ops", Rows, () => call(s), check)
    }
    Seq(
      req("bootstrap") { s =>
        Bootstrap.bootstrapAgg(df, b = 50, seed = s, idCols = id) { w =>
          Seq("stat" -> (sum(col("y") * w) / sum(w)))
        }.agg(count(lit(1)), avg(col("stat")), stddev_samp(col("stat")))
      } { res => Reference.diff { d =>
        val r = res.head
        val se = math.sqrt(ref.y.variance(0) / ref.y.n)
        d.require(s"replicates ${r.getLong(0)}", r.getLong(0) == 50)
        d.within("bootstrap mean", r.getDouble(1), ref.y.mean(0), 5 * se)
        d.within("bootstrap sd", r.getDouble(2), se, 0.5 * se)
      } },
      req("permutation") { s =>
        val (obs, p, _) = Bootstrap.permutationTest(df, col("y"), col("treat"), b = 100,
          seed = s, idCols = id)
        Array(Row(obs, p))
      } { res => Reference.diff { d =>
        d.rel("observed", res.head.getDouble(0), ref.arms(1).mean(0) - ref.arms(0).mean(0))
        d.require(s"p=${res.head.getDouble(1)} for the planted effect", res.head.getDouble(1) <= 0.05)
      } },
      req("longterm") { s =>
        val lt = Longterm.recursiveForecast(df, Seq(Seq(col("s0")), Seq(col("s1")), Seq(col("s2"))),
          col("treat"), horizon = 2, bootstrapB = 20, seed = s, idCols = id)
        lt.effects.map(e => Row(e.estimate)).toArray
      } { res => Reference.diff { d =>
        val b = ref.pairs.cov(0, 1) / ref.pairs.variance(0)
        val dm = ref.s2(1).mean(0) - ref.s2(0).mean(0)
        Seq(1, 2).foreach(h => d.rel(s"effect[h=$h]", res(h - 1).getDouble(0), math.pow(b, h) * dm))
      } },
      req("causal_forest") { s =>
        val fs = Seq("x1" -> col("x1"), "x2" -> col("x2"))
        CausalForest.fit(df, col("y"), col("treat"), fs, numTrees = 4, maxDepth = 3,
          minNodeSize = 100, bins = 50, seed = s)
          .score(df, Seq(col("x1"), col("x2")), "eff", "se")
          .groupBy(col("h").cast("int")).agg(avg(col("eff")))
      } { res => Reference.diff { d =>
        val got = res.map(r => r.getInt(0) -> r.getDouble(1)).toMap
        Seq(0 -> 2.0, 1 -> 10.0).foreach { case (h, tau) =>
          d.within(s"effect[h=$h]", got.getOrElse(h, Double.NaN), tau, 0.5) }
      } },
      req("ipw") { s =>
        val e = Bootstrap.ipwEstimator(df, col("y"), col("treat"), col("e"), b = 50, seed = s,
          idCols = id)
        Array(Row(e.estimate, e.stderr))
      } { res => Reference.diff(_.rel("ipw", res.head.getDouble(0), ref.ipw)) },
      req("aipw") { s =>
        val e = Bootstrap.aipwEstimator(df, col("y"), col("treat"), col("e"), col("mu1"),
          col("mu0"), b = 50, seed = s, idCols = id)
        Array(Row(e.estimate, e.stderr))
      } { res => Reference.diff(_.rel("aipw", res.head.getDouble(0), ref.aipw)) },
      req("dml") { _ =>
        val m = Dml.linearDml(df, col("y"), col("treat"), Seq(col("h"), col("x2")), cv = 2,
          foldKey = col("id"))
        Array(Row(m.ate, m.ateStderr))
      } { res => Reference.diff(_.within("ate", res.head.getDouble(0), ref.ate, 0.25)) },
      req("caliper_matching") { s =>
        Matching.caliperMatching(df, col("treat"), col("score"), caliper = Caliper,
          exactCols = Seq(col("seg")), k = 1, seed = s)
          .groupBy(floor(col("score") / Caliper).cast("long"), col("seg").cast("long"))
          .agg(matched(1), matched(0))
      } { res => matchedCounts(res, ref.caliperCells) },
      req("exact_matching") { s =>
        Matching.exactMatching(df, col("treat"), Seq(col("seg"), col("x1b")), k = 1, seed = s)
          .groupBy(col("seg").cast("long"), col("x1b").cast("long"))
          .agg(matched(1), matched(0))
      } { res => matchedCounts(res, ref.exactCells) },
      req("cox") { _ =>
        val c = Survival.coxPh(df, col("time"), col("event"), Seq(col("x1s"), col("treat")))
        Array(Row(c.coefficients(0), c.coefficients(1), c.stderr(0), c.stderr(1), c.n, c.nEvents))
      } { res => Reference.diff { d =>
        val r = res.head
        d.require(s"n=${r.getLong(4)}", r.getLong(4) == Rows)
        d.require(s"events=${r.getLong(5)} want ${ref.events}", r.getLong(5) == ref.events)
        d.within("beta_x1", r.getDouble(0), Data.CoxBeta._1, 6 * r.getDouble(2))
        d.within("beta_treat", r.getDouble(1), Data.CoxBeta._2, 6 * r.getDouble(3))
      } })
  }

  private def matched(arm: Int) =
    sum(when(col("treat") === arm && col("matching_index") > 0, 1L).otherwise(0L))

  /** 1:1 matching pairs min(treated, control) rows of each cell. */
  private def matchedCounts(res: Array[Row], cells: Map[(Long, Long), Array[Long]]): Option[String] =
    Reference.diff { d =>
      val got = res.map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
      cells.foreach { case (cell, c) =>
        val want = math.min(c(0), c(1))
        val (t, k) = got.getOrElse(cell, (-1L, -1L))
        d.require(s"cell $cell matched ($t, $k) want $want", t == want && k == want)
      }
    }

  def warmUp: Seq[Request] = verbs(new SplittableRandom(~seed))

  def warmRounds: Int = 1

  def rounds: Iterator[Seq[Request]] = {
    val r = new SplittableRandom(seed)
    Iterator.continually(verbs(r))
  }

  def describe(warm: Seq[Done], timed: Seq[Done]): Seq[String] = Seq(
    s"input: study $Rows rows x 18 columns (parquet, read from the page cache)",
    s"round: ${Classes.mkString(", ")}")

  private lazy val ref = {
    val y = new Moments(1)
    val arms = Array(new Moments(1), new Moments(1))
    val s2 = Array(new Moments(1), new Moments(1))
    val pairs = new Moments(2)
    var ipw, aipw, ate = 0.0
    var events = 0L
    val caliper = scala.collection.mutable.HashMap.empty[(Long, Long), Array[Long]]
    val exact = scala.collection.mutable.HashMap.empty[(Long, Long), Array[Long]]
    Data.local(p => Data.study(seed, Rows, p)).foreach { u =>
      y.add(u.y)
      arms(u.treat).add(u.y)
      s2(u.treat).add(u.s2)
      pairs.add(u.s0, u.s1)
      pairs.add(u.s1, u.s2)
      ipw += u.treat * u.y / u.e - (1 - u.treat) * u.y / (1 - u.e)
      aipw += u.mu1 - u.mu0 + u.treat * (u.y - u.mu1) / u.e -
        (1 - u.treat) * (u.y - u.mu0) / (1 - u.e)
      ate += u.mu1 - u.mu0
      events += u.event
      caliper.getOrElseUpdate((math.floor(u.score / Caliper).toLong, u.seg.toLong),
        Array(0L, 0L))(u.treat) += 1
      exact.getOrElseUpdate((u.seg.toLong, u.x1b.toLong), Array(0L, 0L))(u.treat) += 1
    }
    Ref(y, arms, s2, pairs, ipw / Rows, aipw / Rows, ate / Rows, events,
      caliper.toMap, exact.toMap)
  }
}

object Fit {
  val Rows = 30000L
  val Caliper = 0.1
  val Classes = Seq("bootstrap", "permutation", "longterm", "causal_forest", "ipw",
    "aipw", "dml", "caliper_matching", "exact_matching", "cox")

  private final case class Ref(y: Moments, arms: Array[Moments], s2: Array[Moments],
                               pairs: Moments, ipw: Double, aipw: Double, ate: Double,
                               events: Long, caliperCells: Map[(Long, Long), Array[Long]],
                               exactCells: Map[(Long, Long), Array[Long]])
}
