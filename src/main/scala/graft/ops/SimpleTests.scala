package graft.ops

import graft.stats.{Cells, Dist}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classic two-sample tests re-exported by the reference from engine
  * built-ins (registerAggregateFunctions.cpp:49-51, statistics.py:710-847):
  * closed forms over one count/avg/var aggregate pass. */
object SimpleTests {
  case class TestResult(statistic: Double, p_value: Double)

  private def groupStats(df: DataFrame, value: Column, treatment: Column)
      : (Long, Double, Double, Long, Double, Double) = {
    val r = df.agg(
      sum(when(treatment === 0, 1L).otherwise(0L)).as("n0"),
      avg(when(treatment === 0, value)).as("m0"),
      var_samp(when(treatment === 0, value)).as("v0"),
      sum(when(treatment =!= 0, 1L).otherwise(0L)).as("n1"),
      avg(when(treatment =!= 0, value)).as("m1"),
      var_samp(when(treatment =!= 0, value)).as("v1")).head()
    (r.getAs[Long]("n0"), r.getAs[Double]("m0"), r.getAs[Double]("v0"),
      r.getAs[Long]("n1"), r.getAs[Double]("m1"), r.getAs[Double]("v1"))
  }

  /** Student's t (pooled variance, df = n0+n1−2). */
  def studentTtest(df: DataFrame, value: Column, treatment: Column): TestResult = {
    val (n0, m0, v0, n1, m1, v1) = groupStats(df, value, treatment)
    val dfree = (n0 + n1 - 2).toDouble
    val sp2 = ((n0 - 1) * v0 + (n1 - 1) * v1) / dfree
    val t = (m1 - m0) / math.sqrt(sp2 * (1.0 / n0 + 1.0 / n1))
    TestResult(t, Dist.tTwoSidedP(t, dfree))
  }

  /** Welch's t (unequal variances, Welch–Satterthwaite df). */
  def welchTtest(df: DataFrame, value: Column, treatment: Column): TestResult = {
    val (n0, m0, v0, n1, m1, v1) = groupStats(df, value, treatment)
    val a = v0 / n0; val b = v1 / n1
    val t = (m1 - m0) / math.sqrt(a + b)
    val dfree = (a + b) * (a + b) / (a * a / (n0 - 1) + b * b / (n1 - 1))
    TestResult(t, Dist.tTwoSidedP(t, dfree))
  }

  /** Mean z-test with known variances and confidence level
    * (CH meanZTest: pop variances supplied). */
  def meanZTest(df: DataFrame, value: Column, treatment: Column,
                var0: Double, var1: Double): TestResult = {
    val (n0, m0, _, n1, m1, _) = groupStats(df, value, treatment)
    val z = (m1 - m0) / math.sqrt(var0 / n0 + var1 / n1)
    val p = if (z.isNaN) Double.NaN else 2.0 * (1.0 - Dist.normCdf(math.abs(z)))
    TestResult(z, p)
  }

  /** One-way ANOVA across k arms — the multi-variant generalization the
    * reference lacks (its tests stop at two samples): F = (SSB/(k−1)) /
    * (SSW/(n−k)) with SSB = Σ n_g(ȳ_g − ȳ)², SSW = Σ (n_g−1)s²_g.
    * ONE aggregate pass to ≤ k per-arm moment cells (groupBy on the arm —
    * arm cardinality is experiment-sized by definition, and the guard
    * fails fast above maxArms); the F statistic and p finish on the
    * driver. Null y rows drop listwise; null arms are excluded. Returns
    * one row: (k, n, f_statistic, p_value) — per-arm means come from
    * [[graft.api]]'s describe/groupBy, not duplicated here. */
  def anovaF(df: DataFrame, value: Column, arm: Column,
             maxArms: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = value.cast("double")
    val cells = df.filter(yd.isNotNull && arm.isNotNull)
      .groupBy(arm.cast("string").as("__arm"))
      .agg(count(lit(1)).as("n"), avg(yd).as("m"), var_samp(yd).as("v"))
      .orderBy(col("__arm")) // deterministic driver summation order
      .limit(maxArms + 1)
      .collect()
    require(cells.length <= maxArms,
      s"anova: more than $maxArms arms — that is not an experiment " +
        "assignment column; raise maxArms if it really is")
    require(cells.length >= 2, s"anova: need at least 2 arms, got ${cells.length}")
    val k = cells.length
    val n = cells.map(_.getAs[Long]("n")).sum
    require(n > k, s"anova: need n > k, got n=$n k=$k")
    val grand = cells.map(r => r.getAs[Long]("n") * r.getAs[Double]("m")).sum / n
    val ssb = cells.map { r =>
      val d = r.getAs[Double]("m") - grand
      r.getAs[Long]("n") * d * d
    }.sum
    val ssw = cells.map { r =>
      // index by NAME: cells are (__arm, n, m, v) — a positional isNullAt
      // would silently test the wrong column if the agg order ever changed
      val v = if (r.isNullAt(r.fieldIndex("v"))) 0.0 else r.getAs[Double]("v")
      (r.getAs[Long]("n") - 1) * v
    }.sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    val p = 1.0 - Dist.fCdf(f, (k - 1).toDouble, (n - k).toDouble)
    Seq((k.toLong, n, f, p)).toDF("k", "n", "f_statistic", "p_value")
  }

  /** Chi-square test of independence between two categorical columns — the
    * contingency companion to [[graft.agg]]'s SRM goodness-of-fit (the
    * reference has only the latter): χ² = Σ (obs − exp)²/exp over the
    * r×c table, dof = (r−1)(c−1). ONE aggregate pass to ≤ maxCells
    * contingency cells (take-ordered guard BEFORE collection — two
    * genuinely-categorical columns are cell-bounded by definition);
    * expected counts and the statistic finish on the driver. Null in
    * either column drops the row. Returns one row:
    * (n, n_rows, n_cols, dof, chisq, p_value). */
  def chisqIndependence(df: DataFrame, a: Column, b: Column,
                        maxCells: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = Cells.rowsOrFail(df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.cast("string").as("__a"), b.cast("string").as("__b"))
      .agg(count(lit(1)).as("c")), maxCells,
      s"chisq_independence: more than $maxCells contingency cells — these " +
        "are not categorical columns; raise maxCells if they really are")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rowT = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val colT = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val n = cells.map(_._3).sum
    require(rowT.size >= 2 && colT.size >= 2,
      s"chisq_independence: need at least a 2x2 table, got ${rowT.size}x${colT.size}")
    // O(1) observed-count lookups: a linear cells.find inside the r x c
    // loop is O(r*c*cells) — a legitimately sparse 1000x1000 table within
    // maxCells would cost 10^10+ comparisons on the driver
    val obsMap = cells.iterator.map(c => (c._1, c._2) -> c._3).toMap
    // sum over the FULL r x c grid (absent cells are observed 0, expected > 0)
    val chisq = rowT.toSeq.sortBy(_._1).map { case (ra, rt) =>
      colT.toSeq.sortBy(_._1).map { case (cb, ct) =>
        val exp = rt.toDouble * ct / n
        val obs = obsMap.getOrElse((ra, cb), 0L)
        (obs - exp) * (obs - exp) / exp
      }.sum
    }.sum
    val dof = (rowT.size - 1) * (colT.size - 1)
    val p = 1.0 - Dist.chiSqCdf(chisq, dof.toDouble)
    // Cramér's V: the [0,1] effect size the raw statistic hides (χ² grows
    // with n, V doesn't)
    val v = math.sqrt(chisq / (n.toDouble * math.min(rowT.size - 1,
      colT.size - 1)))
    Seq((n, rowT.size.toLong, colT.size.toLong, dof.toLong, chisq, p, v))
      .toDF("n", "n_rows", "n_cols", "dof", "chisq", "p_value", "cramers_v")
  }

  /** G-test of independence (Dunning 1993's log-likelihood ratio — the
    * collocation/keyness standard for text: for sparse cells Pearson's
    * [[chisqIndependence]] over-rejects while G² stays calibrated, which
    * is why corpus-linguistics tooling ranks bigrams and keywords by G²):
    *
    *   G² = 2 Σ O ln(O/E)   over the full r×c grid (O = 0 terms are 0),
    *   ~ χ²((r−1)(c−1))
    *
    * Same cell shape and guards as chisqIndependence — ONE groupBy to
    * contingency cells, maxCells BEFORE collection, O(r·c) driver close.
    * Returns one row: (n, n_rows, n_cols, dof, g2, p_value). */
  def gTest(df: DataFrame, a: Column, b: Column,
            maxCells: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = Cells.rowsOrFail(df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.cast("string").as("__a"), b.cast("string").as("__b"))
      .agg(count(lit(1)).as("c")), maxCells,
      s"g_test: more than $maxCells contingency cells — these are not " +
        "categorical columns; raise maxCells if they really are")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rowT = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val colT = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val n = cells.map(_._3).sum
    require(rowT.size >= 2 && colT.size >= 2,
      s"g_test: need at least a 2x2 table, got ${rowT.size}x${colT.size}")
    val g2 = 2.0 * cells.iterator.map { case (ra, cb, obs) =>
      val exp = rowT(ra).toDouble * colT(cb) / n
      obs * math.log(obs / exp) // only observed cells contribute (O ln O/E)
    }.sum
    val dof = (rowT.size - 1) * (colT.size - 1)
    val p = 1.0 - Dist.chiSqCdf(g2, dof.toDouble)
    Seq((n, rowT.size.toLong, colT.size.toLong, dof.toLong, g2, p))
      .toDF("n", "n_rows", "n_cols", "dof", "g2", "p_value")
  }

  /** Mutual information between two categorical columns (feature/label
    * dependence screen; Cover & Thomas ch. 2) — the model-free "does this
    * attribute predict that label at all" number a pipeline runs before
    * spending a training job:
    *
    *   MI = Σ_ab p_ab·ln(p_ab/(p_a·p_b))   (nats; absent cells contribute 0),
    *   NMI = MI/√(H_a·H_b)
    *
    * 100 TB shape: unlike [[chisqIndependence]] (which must walk the full
    * r×c grid and therefore collects under a guard), every MI term lives
    * on an OBSERVED cell — so this stays fully distributed: ONE row-scale
    * aggregate to (a,b) cells, margins joined back at cell scale,
    * category cardinality unbounded, nothing collected but the single
    * output row. Everything replays in two-level SQL. Returns one row:
    * (n, cells, h_a, h_b, mi, nmi). */
  def mutualInfo(df: DataFrame, a: Column, b: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.cast("string").as("__a"), b.cast("string").as("__b"))
      .agg(count(lit(1)).as("c"))
    cells.persist()
    try {
      val ra = cells.groupBy(col("__a")).agg(sum(col("c")).as("ca"))
      val rb = cells.groupBy(col("__b")).agg(sum(col("c")).as("cb"))
      val tot = cells.agg(sum(col("c"))).head()
      require(!tot.isNullAt(0) && tot.getLong(0) > 0,
        "mutual_info: no complete pairs")
      val n = tot.getLong(0).toDouble
      val r = cells.join(ra, "__a").join(rb, "__b").agg(
        count(lit(1)).as("cells"),
        sum(col("c") / n * log(col("c") * n /
          (col("ca").cast("double") * col("cb")))).as("mi")).head()
      val ha = ra.agg(sum(-col("ca") / n * log(col("ca") / n))).head()
        .getDouble(0)
      val hb = rb.agg(sum(-col("cb") / n * log(col("cb") / n))).head()
        .getDouble(0)
      val mi = math.max(0.0, r.getAs[Double]("mi"))
      val nmi =
        if (ha > 0 && hb > 0) mi / math.sqrt(ha * hb)
        else 0.0 // a constant column carries no information to normalize
      Seq((n.toLong, r.getAs[Long]("cells"), ha, hb, mi, nmi))
        .toDF("n", "cells", "h_a", "h_b", "mi", "nmi")
    } finally {
      cells.unpersist()
      ()
    }
  }

  // ------------------------------------------------------- power analysis

  /** Standalone two-sample power math (the reference exposes these only
    * inside xexpt_ttest_2samp's output, XexptAgg power/recommend_samples;
    * here as the pre-experiment planning calls): normal-approximation
    * per-arm sample size n = 2·((z_{1−α/2}+z_{pow})·σ/δ)² for a two-sided
    * equal-allocation test. Pure driver math. */
  def sampleSizePerArm(sigma: Double, delta: Double, alpha: Double = 0.05,
                       power: Double = 0.8): Double = {
    require(sigma > 0 && delta != 0 && alpha > 0 && alpha < 1 &&
      power > 0 && power < 1, "bad power-analysis inputs")
    val z = Dist.normQuantile(1 - alpha / 2) + Dist.normQuantile(power)
    2.0 * math.pow(z * sigma / delta, 2)
  }

  /** Minimum detectable effect at the given per-arm n (the inverse of
    * [[sampleSizePerArm]]). */
  def mde(sigma: Double, nPerArm: Double, alpha: Double = 0.05,
          power: Double = 0.8): Double = {
    require(sigma > 0 && nPerArm > 0, "bad power-analysis inputs")
    val z = Dist.normQuantile(1 - alpha / 2) + Dist.normQuantile(power)
    z * sigma * math.sqrt(2.0 / nPerArm)
  }

  /** Power analysis for a RATIO metric r = Σnum/Σden (CTR, revenue per
    * session, ...): the per-unit "linearized" residual num − r·den has,
    * by the delta method, stddev σ_Δ with var(r̂) = σ_Δ²/(n·d̄²) — the
    * same variance [[graft.agg]]'s delta_method/xexpt aggregates use for
    * INFERENCE, here turned around for PLANNING: the absolute MDE of a
    * two-sided equal-allocation test at the observed n is
    * (z_{1−α/2}+z_pow)·(σ_Δ/d̄)·sqrt(2/n), and the per-arm n needed for a
    * target relative lift δ_rel follows by inversion. ONE moment
    * aggregate (n, Σx, Σy, Σx², Σy², Σxy) + driver closed forms — every
    * output replays in plain SQL. Null num/den rows drop listwise.
    * Returns one row: (n, ratio, sd_delta, mde_abs, mde_rel,
    * n_per_arm_target). */
  def ratioMde(df: DataFrame, num: Column, den: Column,
               targetRelLift: Double = 0.01, alpha: Double = 0.05,
               power: Double = 0.8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(targetRelLift != 0 && alpha > 0 && alpha < 1 &&
      power > 0 && power < 1, "bad power-analysis inputs")
    val x = num.cast("double"); val y = den.cast("double")
    val r = df.filter(x.isNotNull && y.isNotNull)
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .head()
    val n = r.getAs[Long]("n")
    require(n >= 2, s"ratio_mde: need at least 2 rows, got $n")
    val (sx, sy) = (r.getAs[Double]("sx"), r.getAs[Double]("sy"))
    require(sy != 0.0, "ratio_mde: denominator sums to zero")
    val ratio = sx / sy
    val dbar = sy / n
    // sample variance of the linearized residual x - ratio*y
    val varD = (r.getAs[Double]("sxx") - 2.0 * ratio * r.getAs[Double]("sxy") +
      ratio * ratio * r.getAs[Double]("syy") -
      n * (sx / n - ratio * dbar) * (sx / n - ratio * dbar)) / (n - 1)
    require(varD >= 0, s"ratio_mde: negative linearized variance $varD")
    val sdD = math.sqrt(varD)
    val z = Dist.normQuantile(1 - alpha / 2) + Dist.normQuantile(power)
    val mdeAbs = z * (sdD / math.abs(dbar)) * math.sqrt(2.0 / n)
    val mdeRel = mdeAbs / math.abs(ratio)
    val nTarget = 2.0 * math.pow(
      z * (sdD / math.abs(dbar)) / (targetRelLift * math.abs(ratio)), 2)
    Seq((n, ratio, sdD, mdeAbs, mdeRel, nTarget))
      .toDF("n", "ratio", "sd_delta", "mde_abs", "mde_rel", "n_per_arm_target")
  }

  /** Equivalence test (TOST — two one-sided tests, Schuirmann 1987): the
    * readout for "the change is NOT worse/different by more than δ",
    * which a nonsignificant t-test does NOT establish. Both one-sided
    * Welch z statistics against the ±margin bounds must clear the
    * one-sided critical value for equivalence:
    *
    *   z_lower = (diff + δ)/se,  z_upper = (δ − diff)/se,
    *   equivalent ⇔ min(z_lower, z_upper) > z_{1−α}
    *
    * ONE moment aggregate + driver closed forms — everything through the
    * z statistics (and the boolean, at the default α) replays in plain
    * SQL. p_equiv is the TOST p = Φ̄(min z). Returns one row:
    * (n0, n1, mean0, mean1, diff, se, z_lower, z_upper, p_equiv,
    * equivalent). */
  def equivalenceTest(df: DataFrame, y: Column, t: Column, margin: Double,
                      alpha: Double = 0.05): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(margin > 0, "equivalence_test: margin must be positive")
    require(alpha > 0 && alpha < 1, "equivalence_test: alpha in (0,1)")
    val yd = y.cast("double")
    val ti = t.cast("int")
    val r = df.filter(yd.isNotNull && ti.isNotNull).agg(
      sum(when(ti === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(ti === 1, 1L).otherwise(0L)).as("n1"),
      avg(when(ti === 0, yd)).as("m0"), avg(when(ti === 1, yd)).as("m1"),
      var_samp(when(ti === 0, yd)).as("v0"),
      var_samp(when(ti === 1, yd)).as("v1"),
      sum(when(ti =!= 0 && ti =!= 1, 1L).otherwise(0L)).as("bad")).head()
    require(r.getAs[Long]("bad") == 0,
      s"equivalence_test: ${r.getAs[Long]("bad")} rows have treatment outside {0, 1}")
    val (n0, n1) = (r.getAs[Long]("n0"), r.getAs[Long]("n1"))
    require(n0 >= 2 && n1 >= 2, "equivalence_test: both arms need >= 2 rows")
    val diff = r.getAs[Double]("m1") - r.getAs[Double]("m0")
    val se = math.sqrt(r.getAs[Double]("v1") / n1 + r.getAs[Double]("v0") / n0)
    require(se > 0, "equivalence_test: zero variance in both arms")
    val zLower = (diff + margin) / se
    val zUpper = (margin - diff) / se
    val zMin = math.min(zLower, zUpper)
    val pEquiv = 1.0 - Dist.normCdf(zMin)
    val equivalent = zMin > Dist.normQuantile(1.0 - alpha)
    Seq((n0, n1, r.getAs[Double]("m0"), r.getAs[Double]("m1"), diff, se,
        zLower, zUpper, pEquiv, equivalent))
      .toDF("n0", "n1", "mean0", "mean1", "diff", "se", "z_lower",
        "z_upper", "p_equiv", "equivalent")
  }

  /** Poisson rate-ratio test for count metrics (crashes, incidents,
    * orders) with unequal exposure: rate_k = Σevents_k / Σexposure_k,
    * the ratio's log-scale standard error is sqrt(1/Σe₁ + 1/Σe₀) (the
    * standard Poisson delta interval), z = ln(ratio)/se. ONE aggregate +
    * driver closed forms — EVERYTHING including the CI replays in plain
    * SQL (only exp/ln). Negative counts or nonpositive exposures fail
    * fast in the same pass. Returns one row: (events0, events1,
    * exposure0, exposure1, rate0, rate1, ratio, lower, upper, z). */
  def rateRatioTest(df: DataFrame, events: Column, t: Column,
                    exposure: Column = lit(1.0),
                    alpha: Double = 0.05): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(alpha > 0 && alpha < 1, "rate_ratio: alpha in (0,1)")
    val ev = events.cast("double")
    val ex = exposure.cast("double")
    val ti = t.cast("int")
    val r = df.filter(ev.isNotNull && ex.isNotNull && ti.isNotNull).agg(
      sum(when(ti === 0, ev).otherwise(lit(0.0))).as("e0"),
      sum(when(ti === 1, ev).otherwise(lit(0.0))).as("e1"),
      sum(when(ti === 0, ex).otherwise(lit(0.0))).as("x0"),
      sum(when(ti === 1, ex).otherwise(lit(0.0))).as("x1"),
      // Σe²/x per arm: the only extra moment the quasi-Poisson Pearson
      // X² needs — at the MLE rate, X²_a = Σ(e−r̂x)²/(r̂x) collapses to
      // (1/r̂)Σe²/x − Σe, so dispersion rides this SAME pass
      sum(when(ti === 0, ev * ev / ex).otherwise(lit(0.0))).as("s0"),
      sum(when(ti === 1, ev * ev / ex).otherwise(lit(0.0))).as("s1"),
      sum(when(ti === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(ti === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(ev < 0 || ex <= 0 || (ti =!= 0 && ti =!= 1), 1L)
        .otherwise(0L)).as("bad")).head()
    require(r.getAs[Long]("bad") == 0,
      s"rate_ratio: ${r.getAs[Long]("bad")} rows have negative events, " +
        "nonpositive exposure, or treatment outside {0, 1}")
    val (e0, e1) = (r.getAs[Double]("e0"), r.getAs[Double]("e1"))
    val (x0, x1) = (r.getAs[Double]("x0"), r.getAs[Double]("x1"))
    require(x0 > 0 && x1 > 0, "rate_ratio: both arms need exposure")
    require(e0 > 0 && e1 > 0,
      "rate_ratio: both arms need events (zero cells need a continuity fix upstream)")
    val (rate0, rate1) = (e0 / x0, e1 / x1)
    val ratio = rate1 / rate0
    val se = math.sqrt(1.0 / e1 + 1.0 / e0)
    val z = math.log(ratio) / se
    val q = Dist.normQuantile(1.0 - alpha / 2)
    // quasi-Poisson dispersion (McCullagh & Nelder §4.5): real count
    // metrics (crashes per user, orders per session) are routinely
    // overdispersed and the pure-Poisson interval is then too tight;
    // φ < 1 is floored at 1 so the robust readout never CLAIMS
    // sub-Poisson precision
    val nTot = r.getAs[Long]("n0") + r.getAs[Long]("n1")
    val phi =
      if (nTot <= 2) 1.0
      else math.max(1.0,
        ((r.getAs[Double]("s0") / rate0 - e0) +
          (r.getAs[Double]("s1") / rate1 - e1)) / (nTot - 2))
    val seOd = se * math.sqrt(phi)
    Seq((e0, e1, x0, x1, rate0, rate1, ratio,
        math.exp(math.log(ratio) - q * se), math.exp(math.log(ratio) + q * se),
        z, phi,
        math.exp(math.log(ratio) - q * seOd),
        math.exp(math.log(ratio) + q * seOd),
        math.log(ratio) / seOd))
      .toDF("events0", "events1", "exposure0", "exposure1", "rate0",
        "rate1", "ratio", "lower", "upper", "z", "dispersion",
        "lower_od", "upper_od", "z_od")
  }

  /** Post-stratification ATE (Imbens & Rubin ch. 9 blocked
    * difference-in-means): within each stratum the arms are compared
    * directly, then stratum effects combine with population weights
    * w_s = n_s/n — the design-based alternative to #3's CUPED and the
    * estimator behind "stratified randomization" analyses:
    *
    *   ATE = Σ_s w_s (ȳ₁s − ȳ₀s),  se² = Σ_s w_s² (v₁s/n₁s + v₀s/n₀s)
    *
    * 100 TB shape: ONE row-scale aggregate to stratum cells, ONE
    * cell-scale aggregate to the report row — strata cardinality is
    * unbounded (nothing is collected but the single output row), and the
    * per-arm-per-stratum floor is validated in the SAME cell pass
    * (min over cells), so a stratum too thin to estimate is a named
    * error, not a null that poisons the sum. Treatment values outside
    * {0, 1} fail fast in the same pass. Everything replays in plain SQL.
    * Returns one row: (n, n_strata, ate, se, z, p_value). */
  def stratifiedAte(df: DataFrame, y: Column, t: Column, stratum: Column,
                    minPerArm: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(minPerArm >= 2,
      "stratified_ate: minPerArm must be >= 2 (variance needs 2 rows)")
    val yd = y.cast("double")
    val ti = t.cast("int")
    val cells = df.filter(yd.isNotNull && ti.isNotNull && stratum.isNotNull)
      .groupBy(stratum.as("__s"))
      .agg(
        sum(when(ti === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(ti === 1, 1L).otherwise(0L)).as("n1"),
        avg(when(ti === 0, yd)).as("m0"),
        avg(when(ti === 1, yd)).as("m1"),
        var_samp(when(ti === 0, yd)).as("v0"),
        var_samp(when(ti === 1, yd)).as("v1"),
        sum(when(ti =!= 0 && ti =!= 1, 1L).otherwise(0L)).as("bad"))
    val ns = col("n0") + col("n1")
    val r = cells.agg(
      count(lit(1)).as("n_strata"),
      sum(ns).as("n"),
      min(col("n0")).as("mn0"), min(col("n1")).as("mn1"),
      sum(ns.cast("double") * (col("m1") - col("m0"))).as("sd"),
      sum(ns.cast("double") * ns.cast("double") *
        (col("v1") / col("n1") + col("v0") / col("n0"))).as("sv"),
      sum(col("bad")).as("bad")).head()
    require(r.getAs[Long]("bad") == 0,
      s"stratified_ate: ${r.getAs[Long]("bad")} rows have treatment outside {0, 1}")
    val nStrata = r.getAs[Long]("n_strata")
    require(nStrata > 0, "stratified_ate: no strata")
    require(r.getAs[Long]("mn0") >= minPerArm && r.getAs[Long]("mn1") >= minPerArm,
      s"stratified_ate: a stratum has fewer than $minPerArm rows in an " +
        "arm — coarsen the strata (every stratum needs both arms)")
    val n = r.getAs[Long]("n")
    val ate = r.getAs[Double]("sd") / n
    val se = math.sqrt(r.getAs[Double]("sv")) / n
    val z = if (se > 0) ate / se else 0.0
    val p = 2.0 * (1.0 - Dist.normCdf(math.abs(z)))
    Seq((n, nStrata, ate, se, z, p))
      .toDF("n", "n_strata", "ate", "se", "z", "p_value")
  }

  /** E-value sensitivity analysis (VanderWeele & Ding 2017) for a binary
    * outcome under a binary exposure — the robustness number every
    * OBSERVATIONAL estimate should ship with: the minimum strength of
    * association (risk-ratio scale) an unmeasured confounder would need
    * with BOTH exposure and outcome to explain the estimate away.
    * E = RR + sqrt(RR·(RR−1)) on the away-from-null direction (RR < 1
    * inverts first); the CI E-value applies the same map to the CI limit
    * CLOSER to the null (1.0 exactly if the CI crosses 1). The RR CI is
    * the standard log-RR delta interval. ONE aggregate pass (per-arm
    * event counts) + driver closed forms — everything SQL-replayable.
    * Returns one row: (n1, n0, p1, p0, rr, rr_lower, rr_upper, e_value,
    * e_value_ci). */
  def eValue(df: DataFrame, y: Column, t: Column,
             alpha: Double = 0.05): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yi = y.cast("int")
    val r = df.filter(yi.isNotNull && t.isNotNull).agg(
      sum(when(t =!= 0, 1L).otherwise(0L)).as("n1"),
      sum(when(t =!= 0, yi.cast("long")).otherwise(0L)).as("e1"),
      sum(when(t === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(t === 0, yi.cast("long")).otherwise(0L)).as("e0")).head()
    val (n1, e1) = (r.getAs[Long]("n1"), r.getAs[Long]("e1"))
    val (n0, e0) = (r.getAs[Long]("n0"), r.getAs[Long]("e0"))
    require(n1 > 0 && n0 > 0, "e_value: both arms need rows")
    require(e1 > 0 && e0 > 0,
      "e_value: both arms need events (zero cells need a continuity fix upstream)")
    val p1 = e1.toDouble / n1
    val p0 = e0.toDouble / n0
    val rr = p1 / p0
    val z = Dist.normQuantile(1 - alpha / 2)
    val seLog = math.sqrt((1.0 - p1) / e1 + (1.0 - p0) / e0)
    val lo = math.exp(math.log(rr) - z * seLog)
    val hi = math.exp(math.log(rr) + z * seLog)
    def e(x: Double): Double = {
      val a = if (x < 1.0) 1.0 / x else x
      a + math.sqrt(a * (a - 1.0))
    }
    // CI limit closer to the null; crossing the null pins the CI E-value
    // at exactly 1 (no confounding needed to reach it)
    val eCi =
      if (lo <= 1.0 && hi >= 1.0) 1.0
      else if (rr >= 1.0) e(lo)
      else e(hi)
    Seq((n1, n0, p1, p0, rr, lo, hi, e(rr), eCi))
      .toDF("n1", "n0", "p1", "p0", "rr", "rr_lower", "rr_upper",
        "e_value", "e_value_ci")
  }

  /** Two-proportion test with Wilson and Newcombe intervals (Newcombe
    * 1998 method 10; Agresti–Coull coverage rationale): conversion-rate
    * readout whose intervals behave at extreme rates and small cells,
    * where the Wald ±z√(p(1−p)/n) interval under-covers badly:
    *
    *   Wilson_k = (p + z²/2n ± z√(p(1−p)/n + z²/4n²)) / (1 + z²/n),
    *   diff CI  = Newcombe square-and-add of the per-arm Wilson bounds,
    *   z        = (p₁−p₀)/√(p̄(1−p̄)(1/n₀+1/n₁))   (pooled score test)
    *
    * ONE conditional-count aggregate (success/treatment domains checked
    * in the same pass) + driver closed forms — EVERYTHING incl. both CIs
    * replays in plain SQL. Returns one row: (n0, n1, s0, s1, p0, p1,
    * p0_lower, p0_upper, p1_lower, p1_upper, diff, diff_lower,
    * diff_upper, z). */
  def propTest(df: DataFrame, success: Column, t: Column,
               alpha: Double = 0.05): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(alpha > 0 && alpha < 1, "prop_test: alpha in (0,1)")
    val si = success.cast("int")
    val ti = t.cast("int")
    val r = df.filter(si.isNotNull && ti.isNotNull).agg(
      sum(when(ti === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(ti === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(ti === 0, si.cast("long")).otherwise(0L)).as("s0"),
      sum(when(ti === 1, si.cast("long")).otherwise(0L)).as("s1"),
      sum(when((si =!= 0 && si =!= 1) || (ti =!= 0 && ti =!= 1), 1L)
        .otherwise(0L)).as("bad")).head()
    require(r.getAs[Long]("bad") == 0,
      s"prop_test: ${r.getAs[Long]("bad")} rows have success or treatment " +
        "outside {0, 1}")
    val (n0, n1) = (r.getAs[Long]("n0"), r.getAs[Long]("n1"))
    val (s0, s1) = (r.getAs[Long]("s0"), r.getAs[Long]("s1"))
    require(n0 > 0 && n1 > 0, "prop_test: both arms need rows")
    val z = Dist.normQuantile(1.0 - alpha / 2)
    def wilson(s: Long, n: Long): (Double, Double, Double) = {
      val p = s.toDouble / n
      val z2n = z * z / n
      val center = p + z2n / 2
      val half = z * math.sqrt(p * (1 - p) / n + z2n / (4 * n))
      val denom = 1 + z2n
      (p, (center - half) / denom, (center + half) / denom)
    }
    val (p0, l0, u0) = wilson(s0, n0)
    val (p1, l1, u1) = wilson(s1, n1)
    val diff = p1 - p0
    val dl = diff - math.sqrt((p1 - l1) * (p1 - l1) + (u0 - p0) * (u0 - p0))
    val du = diff + math.sqrt((u1 - p1) * (u1 - p1) + (p0 - l0) * (p0 - l0))
    val pBar = (s0 + s1).toDouble / (n0 + n1)
    val seP = math.sqrt(pBar * (1 - pBar) * (1.0 / n0 + 1.0 / n1))
    val zStat = if (seP > 0) diff / seP else 0.0
    Seq((n0, n1, s0, s1, p0, p1, l0, u0, l1, u1, diff, dl, du, zStat))
      .toDF("n0", "n1", "s0", "s1", "p0", "p1", "p0_lower", "p0_upper",
        "p1_lower", "p1_upper", "diff", "diff_lower", "diff_upper", "z")
  }

  /** Levene/Brown–Forsythe test for equal variances (Brown & Forsythe
    * 1974 — the median-centered variant, robust to non-normality; what
    * scipy's levene(center='median') runs): the pre-check before
    * pooled-variance tests, and a direct "did the treatment change the
    * SPREAD, not just the mean" readout:
    *
    *   z_i = |y_i − median_{arm(i)}|,  F = one-way ANOVA F on the z's
    *
    * TWO row-scale passes — one (arm × median) cell aggregate
    * ([[Robust.pctile]]: `exact = false` default rides the
    * percentile_approx sketch, the 100 TB path; `exact = true` is the
    * gate-parity exact `percentile` == DuckDB quantile_cont), one moment
    * pass on |y − med| with the medians joined back at cell scale — +
    * driver closed forms. Arm cardinality unbounded. Everything through
    * F and the dofs replays in plain SQL. Returns one row: (n, k, f_stat,
    * df1, df2, p_value). */
  def leveneTest(df: DataFrame, y: Column, arm: Column,
                 exact: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val base = df.filter(yd.isNotNull && arm.isNotNull)
      .select(arm.cast("string").as("__a"), yd.as("__y"))
    val meds = base.groupBy(col("__a"))
      .agg(Robust.pctile(col("__y"), lit(0.5), exact).as("__med"))
    val cells = base.join(meds, "__a")
      .select(col("__a"), abs(col("__y") - col("__med")).as("__z"))
      .groupBy(col("__a"))
      .agg(count(lit(1)).as("nk"), sum(col("__z")).as("s"),
        sum(col("__z") * col("__z")).as("ss"))
    val r = cells.agg(sum(col("nk")).as("n"), count(lit(1)).as("k"),
      sum(col("s")).as("st"), sum(col("ss")).as("sst"),
      sum(col("s") * col("s") / col("nk")).as("sb"),
      min(col("nk")).as("minN")).head()
    val n = r.getAs[Long]("n")
    val k = r.getAs[Long]("k")
    require(k >= 2, s"levene: need at least 2 arms, got $k")
    require(r.getAs[Long]("minN") >= 2, "levene: every arm needs >= 2 rows")
    val nd = n.toDouble
    val ssb = r.getAs[Double]("sb") -
      r.getAs[Double]("st") * r.getAs[Double]("st") / nd
    val ssw = r.getAs[Double]("sst") - r.getAs[Double]("sb")
    require(ssw > 0,
      "levene: zero within-arm deviation spread — the statistic is " +
        "degenerate (constant |y − median| within every arm)")
    val f = (ssb / (k - 1)) / (ssw / (nd - k))
    val df1 = (k - 1).toDouble
    val df2 = nd - k
    val p = 1.0 - Dist.fCdf(f, df1, df2)
    Seq((n, k, f, df1, df2, p))
      .toDF("n", "k", "f_stat", "df1", "df2", "p_value")
  }

  /** Bartlett's test for homogeneity of variances (Bartlett 1937) — the
    * parametric companion to [[leveneTest]]: more powerful under
    * normality, famously sensitive to heavy tails (which is exactly why
    * both belong in the toolbox — disagreement between them IS the
    * normality diagnostic):
    *
    *   T = [(N−k)·ln s_p² − Σ(n_i−1)·ln s_i²] / C ~ χ²_{k−1},
    *   C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1))
    *
    * 100 TB shape: ONE row-scale aggregate to per-arm cells, ONE cell
    * aggregate (the ln s_i² terms are cell-level codegen columns — no
    * collect at any arm count). Returns one row:
    * (n, k, statistic, df, p_value). */
  def bartlettTest(df: DataFrame, y: Column, arm: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val base = df.filter(yd.isNotNull && arm.isNotNull)
      .select(arm.cast("string").as("__a"), yd.as("__y"))
    val cells = base.groupBy(col("__a"))
      .agg(count(lit(1)).as("nk"), sum(col("__y")).as("s"),
        sum(col("__y") * col("__y")).as("ss"))
      .select(col("nk"),
        ((col("ss") - col("s") * col("s") / col("nk")) / (col("nk") - 1))
          .as("v"))
    val r = cells.agg(sum(col("nk")).as("n"), count(lit(1)).as("k"),
      sum((col("nk") - 1) * col("v")).as("sw"),
      sum(when(col("v") > 0, (col("nk") - 1) * log(col("v")))
        .otherwise(lit(0.0))).as("slog"),
      sum(lit(1.0) / (col("nk") - 1)).as("sinv"),
      min(col("nk")).as("minN"), min(col("v")).as("minV")).head()
    val n = r.getAs[Long]("n")
    val k = r.getAs[Long]("k")
    require(k >= 2, s"bartlett: need at least 2 arms, got $k")
    require(r.getAs[Long]("minN") >= 2, "bartlett: every arm needs >= 2 rows")
    require(r.getAs[Double]("minV") > 0,
      "bartlett: an arm has zero variance — ln s² is undefined " +
        "(drop constant arms or use levene)")
    val nd = n.toDouble
    val sp2 = r.getAs[Double]("sw") / (nd - k)
    val c = 1.0 + (r.getAs[Double]("sinv") - 1.0 / (nd - k)) /
      (3.0 * (k - 1))
    val t = ((nd - k) * math.log(sp2) - r.getAs[Double]("slog")) / c
    val p = 1.0 - Dist.chiSqCdf(t, (k - 1).toDouble)
    Seq((n, k, t, (k - 1).toDouble, p))
      .toDF("n", "k", "statistic", "df", "p_value")
  }

  /** Cochran–Armitage trend test (Armitage 1955): is a binary rate
    * MONOTONE in an ordered exposure (dose bucket, ramp percentage,
    * price tier)? The k-arm χ² (#60/#62) ignores the ordering and wastes
    * power against exactly the alternative a ramp analysis cares about:
    *
    *   T = Σ_k c_k(s_k − n_k·p̄),
    *   Var(T) = p̄(1−p̄)·(Σc_k²n_k − (Σc_k n_k)²/N),   z = T/√Var
    *
    * with c_k the caller's arm score (the arm value itself — encode
    * custom spacings upstream). ONE (arm) cell aggregate — arm
    * cardinality unbounded, success-domain check rides the same pass —
    * + ONE cell-scale aggregate; everything replays in two-level SQL.
    * Returns one row: (n, n_arms, p_bar, t_stat, var_t, z, p_value). */
  def trendTest(df: DataFrame, success: Column, score: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val si = success.cast("int")
    val sc = score.cast("double")
    val cells = df.filter(si.isNotNull && sc.isNotNull)
      .groupBy(sc.as("c")).agg(count(lit(1)).as("nk"),
        sum(si.cast("long")).as("sk"),
        sum(when(si =!= 0 && si =!= 1, 1L).otherwise(0L)).as("bad"))
    val r = cells.agg(sum(col("nk")).as("n"), count(lit(1)).as("k"),
      sum(col("sk")).as("s"), sum(col("bad")).as("bad"),
      sum(col("c") * col("sk")).as("cs"),
      sum(col("c") * col("nk")).as("cn"),
      sum(col("c") * col("c") * col("nk")).as("ccn")).head()
    require(r.getAs[Long]("bad") == 0,
      s"trend_test: ${r.getAs[Long]("bad")} rows have success outside {0, 1}")
    val n = r.getAs[Long]("n")
    val k = r.getAs[Long]("k")
    require(k >= 2, s"trend_test: need at least 2 distinct scores, got $k")
    val pBar = r.getAs[Long]("s").toDouble / n
    require(pBar > 0 && pBar < 1,
      "trend_test: the pooled rate is degenerate (all 0 or all 1)")
    val t = r.getAs[Double]("cs") - pBar * r.getAs[Double]("cn")
    val varT = pBar * (1 - pBar) *
      (r.getAs[Double]("ccn") - r.getAs[Double]("cn") * r.getAs[Double]("cn") / n)
    require(varT > 0, "trend_test: zero score variance across rows")
    val z = t / math.sqrt(varT)
    val p = 2.0 * (1.0 - Dist.normCdf(math.abs(z)))
    Seq((n, k, pBar, t, varT, z, p))
      .toDF("n", "n_arms", "p_bar", "t_stat", "var_t", "z", "p_value")
  }

  /** Weighted two-sample test (Hájek ratio means + with-replacement
    * linearization variance; Särndal–Swensson–Wretman ch. 5): the arm
    * comparison when rows carry DESIGN or IPW weights — survey samples,
    * propensity-weighted cohorts, importance-sampled logs — where the
    * unweighted t-test estimates the wrong population:
    *
    *   μ̂_k = Σwy/Σw,   V(μ̂_k) = Σw²(y−μ̂_k)² / (Σw)²,
    *   z = (μ̂₁−μ̂₀)/√(V₁+V₀),   ESS_k = (Σw)²/Σw²
    *
    * (V expands into the moments Σw, Σwy, Σw², Σw²y, Σw²y² — no residual
    * pass). The ESS columns tell the user how much weight dispersion has
    * cost them before they trust the CI. ONE row-scale aggregate (weight
    * domain and treatment domain validated in the same pass) + driver
    * closed forms; everything through z replays in plain SQL. Returns
    * one row: (n0, n1, ess0, ess1, mean0, mean1, diff, se, z,
    * p_value). */
  /** Kish design effect and effective sample size for a weighting
    * scheme (Kish 1965) — the line to read BEFORE [[weightedTtest]] or
    * any IPW estimate: deff = n·Σw²/(Σw)² says how much variance the
    * weights cost (1 = self-weighting; 4 = the weighted n buys a
    * quarter of its nominal precision), ess = n/deff is the honest
    * sample size. Optional group column → one row per group ascending.
    *
    * 100 TB shape: ONE aggregate (two weight moments), per group when
    * grouped. Returns (group_value?, n, sum_w, deff, ess). */
  def designEffect(df: DataFrame, w: Column,
                   group: Option[Column] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wd = w.cast("double")
    val base0 = df.filter(wd.isNotNull)
    val aggs = Seq(count(lit(1)).as("n"), sum(wd).as("sw"),
      sum(wd * wd).as("sww"),
      sum(when(wd < 0, 1L).otherwise(0L)).as("bad"))
    val rows = group match {
      case Some(g) =>
        val collected = base0.filter(g.isNotNull)
          .groupBy(g.cast("string").as("g"))
          .agg(aggs.head, aggs.tail: _*).orderBy(col("g"))
          .limit(10001).collect() // take-ordered: bounded BEFORE collect
        require(collected.length <= 10000,
          "design_effect: more than 10000 groups — this is a per-cell " +
            "metric at that cardinality; aggregate upstream instead")
        collected.map(r => (Some(r.getString(0)), r)).toSeq
      case None => Seq((None, base0.agg(aggs.head, aggs.tail: _*).head()))
    }
    require(rows.nonEmpty, "design_effect: no rows with a non-null weight")
    val out = rows.map { case (g, r) =>
      require(r.getAs[Long]("bad") == 0,
        s"design_effect: ${r.getAs[Long]("bad")} rows have a negative " +
          s"weight${g.map(gg => s" in group '$gg'").getOrElse("")}")
      val n = r.getAs[Long]("n")
      val sw = r.getAs[Double]("sw")
      val sww = r.getAs[Double]("sww")
      require(sw > 0,
        s"design_effect: zero total weight" +
          s"${g.map(gg => s" in group '$gg'").getOrElse("")}")
      val deff = n.toDouble * sww / (sw * sw)
      (g.getOrElse("__all__"), n, sw, deff, sw * sw / sww)
    }
    out.toDF("group_value", "n", "sum_w", "deff", "ess")
  }

  def weightedTtest(df: DataFrame, y: Column, t: Column,
                    weight: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val wd = weight.cast("double")
    val ti = t.cast("int")
    def arm(k: Int, c: Column, name: String): Column =
      sum(when(ti === k, c).otherwise(lit(0.0))).as(s"${name}$k")
    val sums = (0 to 1).flatMap { k =>
      Seq(arm(k, lit(1.0), "n"), arm(k, wd, "w"), arm(k, wd * yd, "wy"),
        arm(k, wd * wd, "w2"), arm(k, wd * wd * yd, "w2y"),
        arm(k, wd * wd * yd * yd, "w2yy"))
    } ++ Seq(
      sum(when(wd < 0 || (ti =!= 0 && ti =!= 1), 1L).otherwise(0L)).as("bad"))
    val r = df.filter(yd.isNotNull && wd.isNotNull && ti.isNotNull)
      .agg(sums.head, sums.tail: _*).head()
    require(r.getAs[Long]("bad") == 0,
      s"weighted_ttest: ${r.getAs[Long]("bad")} rows have negative weight " +
        "or treatment outside {0, 1}")
    def g(n: String, k: Int): Double = r.getAs[Double](s"$n$k")
    def armStats(k: Int): (Long, Double, Double, Double) = {
      val (n, sw, swy) = (g("n", k).round, g("w", k), g("wy", k))
      require(n >= 2 && sw > 0,
        s"weighted_ttest: arm $k needs >= 2 rows with positive total weight")
      val mu = swy / sw
      // Σw²(y−μ)² in moments
      val v = math.max(0.0,
        g("w2yy", k) - 2 * mu * g("w2y", k) + mu * mu * g("w2", k)) / (sw * sw)
      val ess = sw * sw / g("w2", k)
      (n, mu, v, ess)
    }
    val (n0, m0, v0, ess0) = armStats(0)
    val (n1, m1, v1, ess1) = armStats(1)
    val diff = m1 - m0
    val se = math.sqrt(v0 + v1)
    require(se > 0, "weighted_ttest: zero weighted variance in both arms")
    val z = diff / se
    val p = 2.0 * (1.0 - Dist.normCdf(math.abs(z)))
    Seq((n0, n1, ess0, ess1, m0, m1, diff, se, z, p))
      .toDF("n0", "n1", "ess0", "ess1", "mean0", "mean1", "diff", "se",
        "z", "p_value")
  }

  /** Intraclass correlation + cluster-randomization design effect
    * (Donner & Klar 2000 ch. 1; the one-way random-effects ANOVA
    * estimator, unequal cluster sizes):
    *
    *   ρ = (MSB − MSW) / (MSB + (m₀ − 1)·MSW),
    *   m₀ = (N − Σmᵢ²/N)/(k − 1)   (the ANOVA effective cluster size),
    *   DEFF = 1 + (m̄ − 1)ρ,  m̄ = N/k,  N_eff = N/DEFF
    *
    * — what an experimenter must check BEFORE trusting row-level SEs
    * when randomization is by cluster (store, city, account): with
    * user-day rows and user-level assignment, DEFF of 2-5× is routine
    * and the naive t-test's false-positive rate explodes.
    *
    * 100 TB shape: ONE row-scale aggregate to (mᵢ, Σy, Σy²) cluster
    * cells + ONE cell-scale aggregate to the report row — cluster
    * cardinality unbounded, nothing collected, everything replays in
    * two-level SQL. ρ < 0 (MSB < MSW) is reported as computed — the
    * ANOVA estimator is slightly negative under within-cluster negative
    * correlation; clamp downstream if a variance model needs ρ ≥ 0.
    * Returns one row: (n, n_clusters, m_bar, m0, msb, msw, icc, deff,
    * n_effective). */
  def icc(df: DataFrame, y: Column, cluster: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val cells = df.filter(yd.isNotNull && cluster.isNotNull)
      .groupBy(cluster.as("__c"))
      .agg(count(lit(1)).as("m"), sum(yd).as("s"),
        sum(yd * yd).as("ss"))
    val r = cells.agg(
      sum(col("m")).as("n"), count(lit(1)).as("k"),
      sum(col("m") * col("m")).as("m2"),
      sum(col("s")).as("s"), sum(col("ss")).as("ss"),
      sum(col("s") * col("s") / col("m")).as("sb")).head()
    val n = r.getAs[Long]("n")
    val k = r.getAs[Long]("k")
    require(k >= 2, s"icc: need at least 2 clusters, got $k")
    require(n > k, "icc: every cluster has a single row — within-cluster " +
      "variance is undefined")
    val nd = n.toDouble
    val sb = r.getAs[Double]("sb")
    val ssb = sb - r.getAs[Double]("s") * r.getAs[Double]("s") / nd
    val ssw = r.getAs[Double]("ss") - sb
    val msb = ssb / (k - 1)
    val msw = ssw / (nd - k)
    val m0 = (nd - r.getAs[Long]("m2") / nd) / (k - 1)
    require(msw > 0 || msb > 0, "icc: outcome has zero variance")
    val rho = (msb - msw) / (msb + (m0 - 1.0) * msw)
    val mBar = nd / k
    val deff = 1.0 + (mBar - 1.0) * math.max(0.0, rho)
    Seq((n, k, mBar, m0, msb, msw, rho, deff, nd / deff))
      .toDF("n", "n_clusters", "m_bar", "m0", "msb", "msw", "icc",
        "deff", "n_effective")
  }

  /** Exact one-sample binomial test — "is this success rate p₀", exactly,
    * where the normal-approximation [[propTest]] under-covers at small n
    * or extreme p₀: two-sided p by the minimum-likelihood rule (sum the
    * outcomes at-most-as-likely as the observed one — R's binom.test,
    * with its 1+1e-7 tie tolerance).
    *
    * ONE conditional-count aggregate; the enumeration is n+1 driver
    * lgamma terms, so n is guarded with prop_test named as the at-scale
    * alternative (an exact test at millions of trials is numerically the
    * normal approximation anyway). Replays in SQL via generate_series +
    * lgamma. Returns one row: (n, successes, rate, p0, p_two_sided,
    * p_greater). */
  def binomialTest(df: DataFrame, y: Column, p0: Double,
                   maxN: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.commons.math3.special.Gamma.logGamma
    require(p0 > 0 && p0 < 1, s"binomial_test: p0 in (0, 1), got $p0")
    val yi = y.cast("int")
    val r = df.filter(yi.isNotNull).agg(count(lit(1)).as("n"),
      sum(when(yi === 1, 1L).otherwise(0L)).as("s"),
      sum(when(yi =!= 0 && yi =!= 1, 1L).otherwise(0L)).as("bad")).head()
    require(r.getAs[Long]("bad") == 0,
      s"binomial_test: ${r.getAs[Long]("bad")} rows have y outside {0, 1}")
    val n = r.getAs[Long]("n")
    require(n > 0, "binomial_test: no rows")
    require(n <= maxN,
      s"binomial_test: n = $n exceeds maxN=$maxN — at this scale the " +
        "exact enumeration equals the normal approximation; use prop_test")
    val s = r.getAs[Long]("s")
    val (lp, l1p) = (math.log(p0), math.log1p(-p0))
    def logP(k: Long): Double =
      logGamma(n + 1.0) - logGamma(k + 1.0) - logGamma(n - k + 1.0) +
        k * lp + (n - k) * l1p
    val lpObs = logP(s)
    var pTwo = 0.0
    var pGe = 0.0
    var k = 0L
    while (k <= n) {
      val pk = math.exp(logP(k))
      if (logP(k) <= lpObs + math.log1p(1e-7)) pTwo += pk
      if (k >= s) pGe += pk
      k += 1
    }
    Seq((n, s, s.toDouble / n, p0, math.min(1.0, pTwo), math.min(1.0, pGe)))
      .toDF("n", "successes", "rate", "p0", "p_two_sided", "p_greater")
  }

  /** Cluster-randomized power planning (Donner & Klar ch. 5) — "can THIS
    * clustered cohort see a lift of δ when whole clusters are randomized":
    * the [[icc]] design effect applied to the two-sample normal power
    * forms, so intra-cluster correlation stops being a silent power leak:
    *
    *   se_diff = 2σ√(deff/n),   z_power = |δ|/se_diff − z_{1−α/2},
    *   clusters/arm(β) = ⌈(z_{1−α/2}+z_{1−β})²·2σ²·deff / (δ²·m̄)⌉
    *
    * Rides ONE extra moment aggregate beside the [[icc]] cell pass; the
    * Φ that turns z_power into power is the only non-SQL step (oracle
    * rows check through z_power — the q124 idiom). Returns one row:
    * (n, n_clusters, sigma, icc, deff, se_diff, z_power, power,
    * clusters_per_arm_80, clusters_per_arm_90). */
  def clusterPower(df: DataFrame, y: Column, cluster: Column,
                   delta: Double, alpha: Double = 0.05): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(delta != 0, "cluster_power: delta must be nonzero")
    val i = icc(df, y, cluster).head()
    val yd = y.cast("double")
    val sd = df.filter(yd.isNotNull && cluster.isNotNull)
      .agg(stddev_samp(yd)).head().getDouble(0)
    require(sd > 0, "cluster_power: outcome has zero variance")
    val n = i.getAs[Long]("n").toDouble
    val deff = i.getAs[Double]("deff")
    val mBar = i.getAs[Double]("m_bar")
    val za = graft.stats.Dist.normQuantile(1 - alpha / 2)
    val seDiff = 2.0 * sd * math.sqrt(deff / n)
    val zPower = math.abs(delta) / seDiff - za
    def req(zb: Double): Long = math.ceil(
      (za + zb) * (za + zb) * 2.0 * sd * sd * deff /
        (delta * delta * mBar)).toLong
    Seq((i.getAs[Long]("n"), i.getAs[Long]("n_clusters"), sd,
        i.getAs[Double]("icc"), deff, seDiff, zPower,
        graft.stats.Dist.normCdf(zPower),
        req(graft.stats.Dist.normQuantile(0.8)),
        req(graft.stats.Dist.normQuantile(0.9))))
      .toDF("n", "n_clusters", "sigma", "icc", "deff", "se_diff",
        "z_power", "power", "clusters_per_arm_80", "clusters_per_arm_90")
  }

  /** Welch's heteroskedastic one-way ANOVA (Welch 1951) — the k-group
    * mean test that stays honest when arm variances differ (where
    * [[anovaF]]'s pooled variance over-rejects; the k-group analogue of
    * the Welch t-test, and the mean-based companion to the
    * rank-based [[RankTests.kruskalWallis]]):
    *
    *   w_k = n_k/s²_k,  x̄_w = Σw x̄/Σw,
    *   F* = [Σw_k(x̄_k − x̄_w)²/(k−1)] / [1 + 2(k−2)/(k²−1)·Λ],
    *   Λ = Σ(1 − w_k/Σw)²/(n_k − 1),  df₂ = (k²−1)/(3Λ)
    *
    * ONE (arm) moment-cell aggregate — arm cardinality unbounded — + ONE
    * cell-scale aggregate + driver closed forms; everything through F*
    * and the dofs replays in two-level SQL. Returns one row:
    * (n, k, f_stat, df1, df2, p_value). */
  def welchAnova(df: DataFrame, y: Column, arm: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val cells = df.filter(yd.isNotNull && !isnan(yd) && arm.isNotNull)
      .groupBy(arm.cast("string").as("__a"))
      .agg(count(lit(1)).as("nk"), avg(yd).as("mk"),
        var_samp(yd).as("vk"))
    cells.persist()
    try {
      val chk = cells.agg(count(lit(1)).as("k"), min(col("nk")).as("mn"),
        min(col("vk")).as("mv"), sum(col("nk")).as("n")).head()
      val k = chk.getAs[Long]("k")
      require(k >= 2, s"welch_anova: need at least 2 arms, got $k")
      require(chk.getAs[Long]("mn") >= 2,
        "welch_anova: every arm needs >= 2 rows for a variance")
      require(chk.getAs[Double]("mv") > 0,
        "welch_anova: an arm has zero variance — its weight n/s² is " +
          "infinite (use anovaF, or jitter-check the constant arm)")
      val w = cells.select(col("nk"), col("mk"),
        (col("nk") / col("vk")).as("wk"))
      val sw = w.agg(sum(col("wk")).as("sw"),
        sum(col("wk") * col("mk")).as("swm")).head()
      val sumW = sw.getAs[Double]("sw")
      val xw = sw.getAs[Double]("swm") / sumW
      val fin = w.agg(
        sum(col("wk") * (col("mk") - xw) * (col("mk") - xw)).as("num"),
        sum((lit(1.0) - col("wk") / sumW) * (lit(1.0) - col("wk") / sumW)
          / (col("nk") - 1.0)).as("lam")).head()
      val kd = k.toDouble
      val lam = fin.getAs[Double]("lam")
      val f = (fin.getAs[Double]("num") / (kd - 1)) /
        (1.0 + 2.0 * (kd - 2) / (kd * kd - 1) * lam)
      val df2 = (kd * kd - 1) / (3.0 * lam)
      val p = 1.0 - Dist.fCdf(f, kd - 1, df2)
      Seq((chk.getAs[Long]("n"), k, f, kd - 1, df2, p))
        .toDF("n", "k", "f_stat", "df1", "df2", "p_value")
    } finally { cells.unpersist(); () }
  }

  /** Jarque-Bera normality test (1980) — the sample-moment normality
    * check run BEFORE trusting a t/F-based readout on a suspicious
    * metric (heavy tails inflate type-I on small arms; for heavy-tail
    * HANDLING see [[Robust.robustMeans]] / [[Robust.yuenTest]]):
    *
    *   skew = m₃/m₂^{3/2},  ex_kurt = m₄/m₂² − 3,
    *   JB = n/6·(skew² + ex_kurt²/4) ~ χ²₂  (asymptotic)
    *
    * ONE raw-moment pass (Σx..Σx⁴) with the central moments expanded on
    * the driver in a FIXED algebraic order the SQL oracle replicates
    * term-for-term (raw-moment expansion cancels catastrophically for
    * |mean| ≫ sd — document and center upstream if the metric lives at a
    * huge offset). Returns one row:
    * (n, mean, sd, skewness, ex_kurtosis, jb, p_value). */
  def jarqueBera(df: DataFrame, x: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val xd = x.cast("double")
    val r = df.filter(xd.isNotNull && !isnan(xd)).agg(
      count(lit(1)).as("n"), sum(xd).as("s1"),
      sum(xd * xd).as("s2"), sum(xd * xd * xd).as("s3"),
      sum(xd * xd * xd * xd).as("s4")).head()
    val n = r.getAs[Long]("n")
    require(n >= 8, s"jarque_bera: need at least 8 rows, got $n")
    val nd = n.toDouble
    val m = r.getAs[Double]("s1") / nd
    val m2 = r.getAs[Double]("s2") / nd - m * m
    require(m2 > 0, "jarque_bera: the column is constant")
    val m3 = r.getAs[Double]("s3") / nd - 3.0 * m * r.getAs[Double]("s2") / nd +
      2.0 * m * m * m
    val m4 = r.getAs[Double]("s4") / nd - 4.0 * m * r.getAs[Double]("s3") / nd +
      6.0 * m * m * r.getAs[Double]("s2") / nd - 3.0 * m * m * m * m
    val skew = m3 / math.pow(m2, 1.5)
    val exKurt = m4 / (m2 * m2) - 3.0
    val jb = nd / 6.0 * (skew * skew + exKurt * exKurt / 4.0)
    val p = 1.0 - Dist.chiSqCdf(jb, 2.0)
    Seq((n, m, math.sqrt(m2 * nd / (nd - 1)), skew, exKurt, jb, p))
      .toDF("n", "mean", "sd", "skewness", "ex_kurtosis", "jb", "p_value")
  }

  /** D'Agostino's K² omnibus normality test — the finite-sample-calibrated
    * companion to [[jarqueBera]] (whose χ² reference is asymptotic and
    * anti-conservative below n ≈ 2000): the sample skewness and kurtosis
    * are each transformed to an approximately standard-normal z
    * (D'Agostino 1970's Johnson-SU fit for skewness; Anscombe & Glynn
    * 1983's Wilson-Hilferty cube root for kurtosis) and
    *
    *   K² = z₁² + z₂²  ~  χ²(2)
    *
    * with every constant the published closed form in n — the oracle
    * replays the chain term-identically from raw moments, and the spec
    * pins z₁ = 0 exactly on a symmetric fixture. ONE moment aggregate,
    * O(1) driver math. Returns one row:
    * (n, skewness, ex_kurtosis, z_skew, z_kurt, k2, p_value). */
  def dagostinoK2(df: DataFrame, x: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val xd = x.cast("double")
    val r = df.filter(xd.isNotNull && !isnan(xd)).agg(
      count(lit(1)).as("n"), sum(xd).as("s1"),
      sum(xd * xd).as("s2"), sum(xd * xd * xd).as("s3"),
      sum(xd * xd * xd * xd).as("s4")).head()
    val n = r.getAs[Long]("n")
    require(n >= 20, s"dagostino_k2: need at least 20 rows " +
      s"(Anscombe-Glynn's kurtosis approximation breaks below), got $n")
    val nd = n.toDouble
    val m = r.getAs[Double]("s1") / nd
    val m2 = r.getAs[Double]("s2") / nd - m * m
    require(m2 > 0, "dagostino_k2: the column is constant")
    val m3 = r.getAs[Double]("s3") / nd - 3.0 * m * r.getAs[Double]("s2") / nd +
      2.0 * m * m * m
    val m4 = r.getAs[Double]("s4") / nd - 4.0 * m * r.getAs[Double]("s3") / nd +
      6.0 * m * m * r.getAs[Double]("s2") / nd - 3.0 * m * m * m * m
    val g1 = m3 / math.pow(m2, 1.5)
    val b2 = m4 / (m2 * m2)
    // --- skewness z (D'Agostino 1970) ---
    val y = g1 * math.sqrt((nd + 1) * (nd + 3) / (6.0 * (nd - 2)))
    val beta2 = 3.0 * (nd * nd + 27 * nd - 70) * (nd + 1) * (nd + 3) /
      ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
    val w2 = -1.0 + math.sqrt(2.0 * (beta2 - 1.0))
    val delta = 1.0 / math.sqrt(0.5 * math.log(w2))
    val alpha = math.sqrt(2.0 / (w2 - 1.0))
    val z1 =
      if (y == 0.0) 0.0 // asinh(0) exactly; avoids -0.0 noise
      else delta * math.log(y / alpha + math.sqrt(y * y / (alpha * alpha) + 1.0))
    // --- kurtosis z (Anscombe & Glynn 1983) ---
    val eb2 = 3.0 * (nd - 1) / (nd + 1)
    val vb2 = 24.0 * nd * (nd - 2) * (nd - 3) / ((nd + 1) * (nd + 1) * (nd + 3) * (nd + 5))
    val xStd = (b2 - eb2) / math.sqrt(vb2)
    val sqrtB1 = 6.0 * (nd * nd - 5 * nd + 2) / ((nd + 7) * (nd + 9)) *
      math.sqrt(6.0 * (nd + 3) * (nd + 5) / (nd * (nd - 2) * (nd - 3)))
    val a = 6.0 + 8.0 / sqrtB1 *
      (2.0 / sqrtB1 + math.sqrt(1.0 + 4.0 / (sqrtB1 * sqrtB1)))
    val z2 = ((1.0 - 2.0 / (9.0 * a)) -
      math.cbrt((1.0 - 2.0 / a) / (1.0 + xStd * math.sqrt(2.0 / (a - 4.0))))) /
      math.sqrt(2.0 / (9.0 * a))
    val k2 = z1 * z1 + z2 * z2
    val p = math.exp(-k2 / 2.0) // χ²(2) survival, exact
    Seq((n, g1, b2 - 3.0, z1, z2, k2, p))
      .toDF("n", "skewness", "ex_kurtosis", "z_skew", "z_kurt", "k2",
        "p_value")
  }

  /** Win ratio for hierarchical composite endpoints (Pocock et al. 2012)
    * — every treated×control pair is compared on the FIRST outcome;
    * ties fall through to the next outcome, and so on (the clinical
    * "death before hospitalization before symptom score" cascade, or a
    * product's "retention before engagement before revenue"):
    *
    *   WR = wins / losses,   z = (wins − losses)/√(wins + losses)
    *
    * (the z is Pocock's sign-test approximation on decided pairs; exact
    * inference composes with the permutation verb). `higherWins` flips
    * the direction for all outcomes; outcomes must already be oriented
    * consistently.
    *
    * 100 TB shape: the pair product is guarded by `maxPairs` with a
    * cheap count BEFORE the expansion is built (the house blocked-join
    * contract — the error names the knob and the fix: compare within
    * matched strata); the compare cascade is ONE codegen'd CASE over a
    * broadcast-eligible cross join, aggregated to 3 counters. Returns
    * one row: (n_treat, n_ctrl, pairs, wins, losses, ties, win_ratio,
    * z, p_value). */
  def winRatio(df: DataFrame, treatment: Column, outcomes: Seq[Column],
               higherWins: Boolean = true,
               maxPairs: Long = 25000000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(outcomes.nonEmpty, "win_ratio: need at least one outcome")
    val k = outcomes.length
    val base = df.filter(treatment.isNotNull &&
        outcomes.map(_.isNotNull).reduce(_ && _))
      .select((treatment.cast("int").as("t") +:
        outcomes.zipWithIndex.map { case (o, i) => o.cast("double").as(s"o$i") }): _*)
    // ONE scalar aggregate for both arm sizes AND the treatment-domain
    // check (house named-error contract: a t of 2 must not be silently
    // dropped from both arms) — O(1) driver even for a pathological
    // many-valued treatment column, unlike a groupBy(t).collect()
    val cr = base.agg(
      coalesce(sum(when(col("t") === 1, 1L).otherwise(0L)), lit(0L)).as("n1"),
      coalesce(sum(when(col("t") === 0, 1L).otherwise(0L)), lit(0L)).as("n0"),
      coalesce(sum(when(col("t") =!= 0 && col("t") =!= 1, 1L)
        .otherwise(0L)), lit(0L)).as("bad"))
      .head()
    val badT = cr.getAs[Long]("bad")
    require(badT == 0,
      s"win_ratio: $badT rows have treatment outside {0, 1}")
    val n1 = cr.getAs[Long]("n1"); val n0 = cr.getAs[Long]("n0")
    require(n1 > 0 && n0 > 0, s"win_ratio: need both arms, got t=1: $n1, t=0: $n0")
    require(n1 * n0 <= maxPairs,
      s"win_ratio: ${n1}x$n0 pairs exceed maxPairs=$maxPairs — compare " +
        "within matched strata (exact_matching + win_ratio per stratum) " +
        "or raise maxPairs knowingly")
    val treat = base.filter(col("t") === 1)
      .select((0 until k).map(i => col(s"o$i").as(s"a$i")): _*)
    val ctrl = base.filter(col("t") === 0)
      .select((0 until k).map(i => col(s"o$i").as(s"b$i")): _*)
    val pairs = if (n0 <= n1) treat.crossJoin(broadcast(ctrl))
      else broadcast(treat).crossJoin(ctrl)
    // lexicographic cascade, innermost outcome first so the fold nests
    val verdict = (k - 1 to 0 by -1).foldLeft(lit(0)) { (tieCase, i) =>
      val (a, b) = (col(s"a$i"), col(s"b$i"))
      val (hi, lo) = if (higherWins) (a > b, a < b) else (a < b, a > b)
      when(hi, lit(1)).when(lo, lit(-1)).otherwise(tieCase)
    }
    val r = pairs.agg(
      sum(when(verdict === 1, 1L).otherwise(0L)).as("w"),
      sum(when(verdict === -1, 1L).otherwise(0L)).as("l"),
      count(lit(1)).as("p")).head()
    val w = r.getAs[Long]("w"); val l = r.getAs[Long]("l")
    val p = r.getAs[Long]("p")
    require(w + l > 0, "win_ratio: every pair ties on every outcome")
    require(l > 0, "win_ratio: treated wins every decided pair — WR is infinite; report wins/pairs instead")
    val z = (w - l) / math.sqrt((w + l).toDouble)
    val pv = 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z)))
    Seq((n1, n0, p, w, l, p - w - l, w.toDouble / l, z, pv))
      .toDF("n_treat", "n_ctrl", "pairs", "wins", "losses", "ties",
        "win_ratio", "z", "p_value")
  }
}
