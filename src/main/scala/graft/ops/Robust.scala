package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Robust metric estimators — winsorized and trimmed means, the standard
  * defense against heavy-tailed experiment metrics (a handful of whale
  * users moving a t-test). Not in the reference (its metric layer stops at
  * raw means); included because every large experimentation platform
  * clips or trims before testing.
  *
  * Two passes, both constant driver state: a quantile pass for the clip
  * bounds, then ONE aggregate scan computing raw/winsorized/trimmed means
  * and clip counts together. `exact = false` (default) uses the
  * percentile_approx sketch — the 100 TB path, constant-memory per
  * partition; `exact = true` uses Spark's sort-buffer `percentile`
  * (per-group value buffer — gate-SF parity with DuckDB's quantile_cont,
  * not for full-scale runs).
  */
object Robust {

  /** Clip a column into [lo, hi] (pure codegen expression). Null passes
    * through as null — least/greatest SKIP nulls (they don't propagate),
    * so an unguarded clip would silently turn null into `hi`. */
  def winsorize(c: Column, lo: Double, hi: Double): Column =
    when(c.isNotNull, greatest(lit(lo), least(lit(hi), c)))

  // ------------------------------------------------------------------
  // Bounded DRIVER collapse for the exact order-statistic verbs (the
  // Cells idiom applied to value histograms; guide §1.2 step 1).
  // The exact-quantile family already avoids Spark `percentile`'s
  // all-values buffer via histogram + RangeCumSum — but the prefix-sum
  // machinery still costs a range-partition sort plus several small jobs
  // per quantile call. When the CELL table (distinct values × counts) is
  // bounded, collecting it once and running every order statistic in
  // plain Scala is strictly cheaper at any data scale: ONE distributed
  // pass per verb, identical interpolation math, deterministic
  // driver-side summation. Past the bound — or when the Cells gate's
  // sketch says a large input is far past it — the existing distributed
  // paths run UNTOUCHED (spec-pinned via maxLocalCells = 0).
  // ------------------------------------------------------------------

  /** Default distinct-cell bound for the driver collapse: 2^21 cells of
    * a few doubles ≈ tens of MB collected — bounded driver state. */
  val MaxLocalCells: Int = 1 << 21

  /** Bounded driver histogram: Some((values ascending, counts)) when the
    * (v, c) frame holds at most `maxCells` rows. Null or NaN values bail
    * (the distributed paths' null/NaN ordering stays authoritative), and
    * so does a fractional count: the distributed twin sums counts as
    * doubles, so truncating them here would change the answer. */
  def localHistOnCounts(byV: DataFrame, maxCells: Int)
      : Option[(Array[Double], Array[Long])] = localHist(byV, byV, maxCells)

  /** [[localHistOnCounts]] of `byV`, a (v, c) histogram of `input`'s
    * column v: the Cells gate sketches `input` when it is large, which
    * costs a scan, not the histogram's aggregate. */
  private def localHist(input: DataFrame, byV: DataFrame, maxCells: Int)
      : Option[(Array[Double], Array[Long])] =
    graft.stats.Cells.rows(input, Seq("v"), byV.select(
      col("v").cast("double").as("v"), col("c").cast("double").as("c")),
      maxCells).flatMap { rows =>
      val cs = rows.map(r => if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
      if (cs.exists(c => c != math.rint(c))) None // NaN fails too
      else Some((rows.map(_.getDouble(0)), cs.map(_.toLong)))
    }

  /** Value frame `v` and its (v, c) histogram for the non-null values
    * of `x`. */
  private def valueHist(df: DataFrame, x: Column): (DataFrame, DataFrame) = {
    val xd = x.cast("double")
    val vals = df.filter(xd.isNotNull).select(xd.as("v"))
    (vals, vals.groupBy(col("v")).agg(count(lit(1)).as("c")))
  }

  /** [[quantilesOnLocalHist]] over (value, count) pairs in any order. */
  private[ops] def quantilesOnPairs(vs: Array[Double], cs: Array[Long],
                                    ps: Seq[Double], verb: String): Array[Double] = {
    val ord = graft.stats.Cells.sortPerm(vs)
    quantilesOnLocalHist(ord.map(vs), ord.map(cs), ps, verb)
  }

  /** Exact quantile_cont over a sorted (values, counts) histogram held on
    * the driver — the same interpolation as Spark `percentile` / DuckDB
    * `quantile_cont`, bit-for-bit (pos = p·(n−1);
    * (hi−pos)·v_lo + (pos−lo)·v_hi). A value may repeat: each rank
    * still reads the value it falls on. */
  private[ops] def quantilesOnLocalHist(vs: Array[Double], cs: Array[Long],
                                        ps: Seq[Double], verb: String): Array[Double] = {
    val m = vs.length
    val cum = new Array[Long](m)
    var acc = 0L
    var i = 0
    while (i < m) { acc += cs(i); cum(i) = acc; i += 1 }
    val n = acc
    require(n > 0, s"$verb: no non-null values " +
      "(empty input would otherwise read as 0.0)")
    // 0-based rank i lives in the first histogram row with cum > i
    def at(rank: Long): Double = {
      var lo = 0; var hi = m - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) > rank) hi = mid else lo = mid + 1
      }
      vs(lo)
    }
    ps.map { p =>
      val pos = p * (n - 1)
      val l = math.floor(pos).toLong
      val h = math.ceil(pos).toLong
      if (h == l) at(l)
      else (h - pos) * at(l) + (pos - l) * at(h)
    }.toArray
  }

  /** The house quantile column: `exact = true` uses Spark's sort-buffer
    * `percentile` (== DuckDB `quantile_cont`, the oracle bridge — but a
    * per-group VALUE BUFFER, an executor OOM on an all-distinct double
    * column at full scale); `exact = false` (the 100 TB default) uses the
    * constant-memory `percentile_approx` sketch at accuracy 100000.
    * `ps` may be a scalar or an array of percentiles. */
  def pctile(c: Column, ps: Column, exact: Boolean): Column =
    if (exact) percentile(c, ps) else percentile_approx(c, ps, lit(100000))

  /** Exact quantile_cont over a (value, count) HISTOGRAM frame — the
    * 100 TB-safe exact quantile (guide §2.3/§5): Spark's exact
    * `percentile` buffers EVERY value in one aggregation buffer, which
    * on an all-distinct double column is an executor OOM at scale and a
    * single-threaded merge+sort at any scale. Here the row-scale work
    * is an ordinary map-side-combined groupBy; the order statistics
    * come from a [[RangeCumSum]] prefix sum over the distinct values
    * (fully parallel, constant memory) and only the two rows straddling
    * each target rank are collected. Interpolation matches Spark
    * `percentile` / DuckDB `quantile_cont` exactly (spec-pinned):
    * pos = p·(n−1); (hi−pos)·v_lo + (pos−lo)·v_hi.
    *
    * `byV` must have a double `v` column and a count `c` column; NaN
    * values sort last, matching Spark's double ordering. Returns one
    * value per requested percentile; `n == 0` is a named error. */
  def exactQuantilesOnCounts(byV: DataFrame, ps: Seq[Double],
                             verb: String = "exact_quantiles",
                             maxLocalCells: Int = MaxLocalCells): Array[Double] =
    quantilesOnCounts(byV, byV, ps, verb, maxLocalCells)

  /** [[exactQuantilesOnCounts]] of `byV`, a histogram of `input` (the
    * frame the collapse gate sketches, see [[localHist]]). */
  private def quantilesOnCounts(input: DataFrame, byV: DataFrame,
                                ps: Seq[Double], verb: String,
                                maxLocalCells: Int): Array[Double] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"$verb: percentiles must be in [0, 1], got ${ps.mkString(",")}")
    // bounded driver collapse: collect the histogram once and interpolate
    // in plain Scala — removes the RangeCumSum sort + per-rank jobs; the
    // distributed prefix sum below stays authoritative past the bound
    localHist(input, byV, maxLocalCells) match {
      case Some((vs, cs)) => return quantilesOnLocalHist(vs, cs, ps, verb)
      case None => ()
    }
    RangeCumSum.withCumSums(byV.select(col("v").cast("double").as("v"),
      col("c").cast("double").as("c")), Seq(col("v")), Seq("c")) {
      (cum, totals) =>
        val n = totals("c").toLong
        require(n > 0, s"$verb: no non-null values " +
          "(empty input would otherwise read as 0.0)")
        val idx = ps.flatMap { p =>
          val pos = p * (n - 1)
          Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
        }.distinct
        // 0-based rank i lives in the row with cum_c − c <= i < cum_c
        val cond = idx.map(i =>
          (col("cum_c") - col("c") <= lit(i.toDouble)) &&
            (lit(i.toDouble) < col("cum_c"))).reduce(_ || _)
        val hit = cum.filter(cond)
          .select(col("v"), col("c"), col("cum_c")).collect()
        def at(i: Long): Double = hit.find { r =>
          r.getDouble(2) - r.getDouble(1) <= i && i < r.getDouble(2)
        }.map(_.getDouble(0)).getOrElse(
          throw new IllegalStateException(s"$verb: rank $i not covered"))
        ps.map { p =>
          val pos = p * (n - 1)
          val lo = math.floor(pos).toLong
          val hi = math.ceil(pos).toLong
          if (hi == lo) at(lo)
          else (hi - pos) * at(lo) + (pos - lo) * at(hi)
        }.toArray
    }
  }

  /** [[exactQuantilesOnCounts]] over a column: builds the value
    * histogram (one map-side-combined pass over non-null rows) and
    * reads the quantiles off it. */
  def exactQuantiles(df: DataFrame, x: Column, ps: Seq[Double],
                     verb: String = "exact_quantiles",
                     maxLocalCells: Int = MaxLocalCells): Array[Double] = {
    val (vals, byV) = valueHist(df, x)
    quantilesOnCounts(vals, byV, ps, verb, maxLocalCells)
  }

  /** (lower, upper) percentile bounds of `x`. */
  def quantileBounds(df: DataFrame, x: Column, pLo: Double, pHi: Double,
                     exact: Boolean = false): (Double, Double) = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad percentiles [$pLo, $pHi]")
    if (exact) {
      // histogram + prefix-sum order statistics: same values as Spark
      // `percentile`, without its per-group all-values buffer
      val r = exactQuantiles(df, x, Seq(pLo, pHi), "quantile_bounds")
      (r(0), r(1))
    } else {
      val q = df.select(percentile_approx(x, array(lit(pLo), lit(pHi)),
        lit(100000)).as("q"))
      val row = q.head()
      require(!row.isNullAt(0),
        "quantile_bounds: no non-null values (empty input would otherwise read as 0.0)")
      val r = row.getSeq[Double](0)
      (r(0), r(1))
    }
  }

  /** Weighted mean with design-effect diagnostics: one row
    * (n, sum_w, weighted_mean, ess, design_effect) where
    * ess = (Σw)²/Σw² is Kish's effective sample size and
    * design_effect = n/ess — how much the weighting (IPW, survey,
    * importance sampling) inflates variance. ONE scan, constant state.
    * Rows with a null x or w, or w ≤ 0, are dropped. */
  def weightedMeanEss(df: DataFrame, x: Column, w: Column): DataFrame = {
    val xd = x.cast("double"); val wd = w.cast("double")
    df.filter(xd.isNotNull && wd.isNotNull && wd > 0.0)
      .agg(count(lit(1)).as("n"), sum(wd).as("sum_w"),
        (sum(xd * wd) / sum(wd)).as("weighted_mean"),
        (sum(wd) * sum(wd) / sum(wd * wd)).as("ess"))
      .withColumn("design_effect", col("n") / col("ess"))
  }

  /** One row: n, lo, hi, mean, winsorized_mean, trimmed_mean,
    * n_clipped_lo, n_clipped_hi. Null xs are ignored throughout. */
  def robustMeans(df: DataFrame, x: Column, pLo: Double = 0.05,
                  pHi: Double = 0.95, exact: Boolean = false,
                  maxLocalCells: Int = MaxLocalCells): DataFrame = {
    if (exact) {
      // bounded driver collapse: every output — the clip bounds AND the
      // raw/winsorized/trimmed means and clip counts — is a pure function
      // of the (value, count) histogram, so under the bound the verb
      // costs ONE distributed pass (was: quantile machinery + a second
      // row-scale moment pass). NaN values or an empty trim window bail
      // to the distributed twin below (its null semantics stay
      // authoritative).
      val spark = df.sparkSession
      import spark.implicits._
      val (vals, byV) = valueHist(df, x)
      localHist(vals, byV, maxLocalCells) match {
        case Some((vs, cs)) =>
          require(pLo >= 0 && pHi <= 1 && pLo < pHi,
            s"bad percentiles [$pLo, $pHi]")
          val q = quantilesOnLocalHist(vs, cs, Seq(pLo, pHi), "quantile_bounds")
          val (lo, hi) = (q(0), q(1))
          var n = 0L; var s = 0.0; var ws = 0.0
          var hCnt = 0L; var hSum = 0.0; var nLo = 0L; var nHi = 0L
          var i = 0
          while (i < vs.length) {
            val v = vs(i); val c = cs(i)
            n += c
            s += v * c
            ws += math.max(lo, math.min(hi, v)) * c
            if (v < lo) nLo += c
            else if (v > hi) nHi += c
            else { hCnt += c; hSum += v * c }
            i += 1
          }
          if (hCnt > 0)
            return Seq((n, lo, hi, s / n, ws / n, hSum / hCnt, nLo, nHi))
              .toDF("n", "lo", "hi", "mean", "winsorized_mean",
                "trimmed_mean", "n_clipped_lo", "n_clipped_hi")
        case None => ()
      }
    }
    val (lo, hi) = quantileBounds(df, x, pLo, pHi, exact)
    df.agg(
      count(x).as("n"),
      lit(lo).as("lo"), lit(hi).as("hi"),
      avg(x).as("mean"),
      avg(winsorize(x, lo, hi)).as("winsorized_mean"),
      avg(when(x.between(lo, hi), x)).as("trimmed_mean"),
      sum(when(x < lo, 1L).otherwise(0L)).as("n_clipped_lo"),
      sum(when(x > hi, 1L).otherwise(0L)).as("n_clipped_hi"))
  }

  /** Yuen's trimmed-means two-sample test (Yuen 1974; Wilcox's
    * recommended default for heavy-tailed metrics): compare γ-trimmed
    * means with the winsorized-variance standard error — keeps honest
    * type-I error where the plain t-test's mean is dragged by outliers,
    * while still estimating a location effect (unlike #7's rank test,
    * which changes the estimand):
    *
    *   t = (x̄_t1 − x̄_t0) / √(d₀ + d₁),   d_k = s²_wk(n_k−1)/(h_k(h_k−1)),
    *   df by Welch–Satterthwaite on the d's
    *
    * Trim points are the per-arm γ / 1−γ percentiles via [[pctile]]
    * (`exact = false` default: the percentile_approx sketch, the 100 TB
    * path; `exact = true`: Spark exact `percentile` == DuckDB
    * `quantile_cont`, the house oracle bridge);
    * the trimmed mean averages rows inside [lo, hi] (tie-inclusive, so
    * deterministic under ties) and the winsorized variance clamps all
    * rows to the same bounds — the operational definition is documented
    * rather than the order-statistic k = ⌊γn⌋ textbook variant.
    *
    * 100 TB shape: TWO row-scale passes — one (arm × percentile) cell
    * aggregate for the trim points (treatment domain validated on the
    * collected 2-row cells), one moment aggregate with the bounds as
    * literals — plus driver closed forms. Everything through t and df
    * replays in plain SQL. Returns one row: (n0, n1, h0, h1, tmean0,
    * tmean1, diff, se, t_stat, df, p_value). */
  /** MAD-based outlier screen (Hampel identifier; Leys et al. 2013's
    * recommended default over mean±k·sd, whose own outliers inflate the
    * fence) — the data-quality verb before a metric enters a mean-based
    * test:
    *
    *   MAD = median(|x − median(x)|),  robust z = (x − med)/(1.4826·MAD),
    *   outlier when |robust z| > k
    *
    * TWO quantile passes (median, then the deviation median) + ONE
    * counting pass; `exact = false` (default) rides the
    * [[pctile]] sketch — the 100 TB path — while `exact = true` is the
    * gate-parity option (Spark exact `percentile` == DuckDB
    * quantile_cont). Returns one row: (n, median, mad, sigma_robust,
    * n_outliers, outlier_share, min_kept, max_kept). */
  def madOutliers(df: DataFrame, x: Column, k: Double = 3.0,
                  exact: Boolean = false,
                  maxLocalCells: Int = MaxLocalCells): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(k > 0, s"mad_outliers: k must be > 0, got $k")
    val xd = x.cast("double")
    val base = df.filter(xd.isNotNull && !isnan(xd)).select(xd.as("__x"))
    if (exact) {
      // ONE row-scale pass (was three): collapse to the (value, count)
      // histogram once; the median, the deviation median (|v − med| is
      // a pure function of the distinct values, so its histogram derives
      // from this one), and every fence statistic then run on the tiny
      // distinct-value frame. Also removes Spark `percentile`'s
      // all-values aggregation buffer — the documented executor-OOM
      // hazard of the exact path on an all-distinct column at scale.
      val (vals, byV) = valueHist(base, col("__x"))
      // bounded driver collapse (see MaxLocalCells): the whole fence —
      // median, deviation histogram, MAD, clip counts — is a pure
      // function of the (value, count) cells, so under the bound ONE
      // distributed pass plus plain Scala replaces the RangeCumSum
      // machinery (2 prefix sums + a fence aggregate). Fallback below
      // is byte-identical past the bound.
      localHist(vals, byV, maxLocalCells) match {
        case Some((vs, cs)) =>
          val med = quantilesOnLocalHist(vs, cs, Seq(0.5), "mad_outliers")(0)
          // the |v − med| histogram: same counts, derived values
          val mad = quantilesOnPairs(vs.map(v => math.abs(v - med)), cs,
            Seq(0.5), "mad_outliers")(0)
          require(mad > 0,
            "mad_outliers: MAD is 0 — more than half the values are identical; " +
              "a deviation fence is undefined (use a frequency screen instead)")
          val sigma = mad / graft.stats.Dist.normQuantile(0.75)
          val lo = med - k * sigma
          val hi = med + k * sigma
          var n = 0L; var out = 0L
          var mnk = Double.NaN; var mxk = Double.NaN
          var anyKept = false
          var i = 0
          while (i < vs.length) {
            n += cs(i)
            if (vs(i) < lo || vs(i) > hi) out += cs(i)
            else {
              if (!anyKept) { mnk = vs(i); anyKept = true }
              mxk = vs(i) // vs ascending: last in-window value is the max
            }
            i += 1
          }
          // distributed twin: min/max over an empty window is null, which
          // getAs[Double] unboxes to 0.0 — mirror that exactly
          if (!anyKept) { mnk = 0.0; mxk = 0.0 }
          return Seq((n, med, mad, sigma, out, out.toDouble / n, mnk, mxk))
            .toDF("n", "median", "mad", "sigma_robust", "n_outliers",
              "outlier_share", "min_kept", "max_kept")
        case None => ()
      }
      byV.persist()
      try {
        // the histogram just failed the collapse, and the deviation
        // histogram has at least half its cells: no second probe
        val med = exactQuantilesOnCounts(byV, Seq(0.5), "mad_outliers", 0)(0)
        val devV = byV.select(abs(col("v") - lit(med)).as("v"), col("c"))
          .groupBy(col("v")).agg(sum(col("c")).as("c"))
        val mad = exactQuantilesOnCounts(devV, Seq(0.5), "mad_outliers", 0)(0)
        require(mad > 0,
          "mad_outliers: MAD is 0 — more than half the values are identical; " +
            "a deviation fence is undefined (use a frequency screen instead)")
        val sigma = mad / graft.stats.Dist.normQuantile(0.75)
        val lo = med - k * sigma
        val hi = med + k * sigma
        val r = byV.agg(sum(col("c")).as("n"),
          sum(when(col("v") < lo || col("v") > hi, col("c"))
            .otherwise(0L)).as("out"),
          min(when(col("v").between(lo, hi), col("v"))).as("mnk"),
          max(when(col("v").between(lo, hi), col("v"))).as("mxk")).head()
        val n = r.getAs[Long]("n")
        Seq((n, med, mad, sigma, r.getAs[Long]("out"),
            r.getAs[Long]("out").toDouble / n,
            r.getAs[Double]("mnk"), r.getAs[Double]("mxk")))
          .toDF("n", "median", "mad", "sigma_robust", "n_outliers",
            "outlier_share", "min_kept", "max_kept")
      } finally { byV.unpersist(); () }
    } else {
    base.persist()
    try {
      val med = base.agg(pctile(col("__x"), lit(0.5), exact))
        .head().getDouble(0)
      val mad = base.agg(pctile(abs(col("__x") - lit(med)), lit(0.5), exact))
        .head().getDouble(0)
      require(mad > 0,
        "mad_outliers: MAD is 0 — more than half the values are identical; " +
          "a deviation fence is undefined (use a frequency screen instead)")
      // consistency constant 1/Phi^-1(0.75) from the SAME quantile code
      // the rest of the library uses (never a recalled literal)
      val sigma = mad / graft.stats.Dist.normQuantile(0.75)
      val lo = med - k * sigma
      val hi = med + k * sigma
      val r = base.agg(count(lit(1)).as("n"),
        sum(when(col("__x") < lo || col("__x") > hi, 1L).otherwise(0L))
          .as("out"),
        min(when(col("__x").between(lo, hi), col("__x"))).as("mnk"),
        max(when(col("__x").between(lo, hi), col("__x"))).as("mxk")).head()
      val n = r.getAs[Long]("n")
      Seq((n, med, mad, sigma, r.getAs[Long]("out"),
          r.getAs[Long]("out").toDouble / n,
          r.getAs[Double]("mnk"), r.getAs[Double]("mxk")))
        .toDF("n", "median", "mad", "sigma_robust", "n_outliers",
          "outlier_share", "min_kept", "max_kept")
    } finally { base.unpersist(); () }
    }
  }

  /** Grubbs' single-outlier test (Grubbs 1950) — "is the most extreme
    * value a statistical outlier or just the tail": G = max|x − x̄|/s,
    * with the t-based p (one extreme value tested against the normal
    * cohort; for SHARES of outliers use [[madOutliers]] — Grubbs answers
    * about exactly one suspect).
    *
    * ONE moments + argmax aggregate; the two-sided p inverts the Grubbs
    * critical-value identity G_crit = ((n−1)/√n)·√(t²/(n−2+t²)) at
    * significance α/(2n): p = min(1, 2n·P(t_{n−2} > t*)) with
    * t* = √(n(n−2)G²/((n−1)² − nG²)). Oracle rows check through G and
    * the suspect value (the q138 CDF idiom). Returns one row:
    * (n, mean, sd, suspect, g, p_value). */
  def grubbsTest(df: DataFrame, x: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val xd = x.cast("double")
    val r = df.filter(xd.isNotNull && !isnan(xd)).agg(
      count(lit(1)).as("n"), avg(xd).as("m"), stddev_samp(xd).as("sd"),
      max(xd).as("mx"), min(xd).as("mn")).head()
    val n = r.getAs[Long]("n")
    require(n >= 4, s"grubbs_test: need at least 4 rows, got $n")
    val sd = r.getAs[Double]("sd")
    require(sd > 0, "grubbs_test: the column is constant")
    val m = r.getAs[Double]("m")
    val (mx, mn) = (r.getAs[Double]("mx"), r.getAs[Double]("mn"))
    val suspect = if (mx - m >= m - mn) mx else mn
    val g = math.abs(suspect - m) / sd
    val nd = n.toDouble
    // invert G to the t scale; G at its algebraic max makes the radicand
    // blow up -> p = 0 exactly
    val rad = nd * (nd - 2) * g * g / ((nd - 1) * (nd - 1) - nd * g * g)
    val p =
      if (rad <= 0 || rad.isInfinite) 0.0
      else math.min(1.0,
        2.0 * nd * (1.0 - graft.stats.Dist.tCdf(math.sqrt(rad), nd - 2)))
    Seq((n, m, sd, suspect, g, p))
      .toDF("n", "mean", "sd", "suspect", "g", "p_value")
  }

  def yuenTest(df: DataFrame, y: Column, t: Column,
               trim: Double = 0.2, exact: Boolean = false,
               maxLocalCells: Int = MaxLocalCells): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(trim > 0 && trim < 0.5, s"yuen_test: trim in (0, 0.5), got $trim")
    val yd = y.cast("double")
    val ti = t.cast("int")
    val base = df.filter(yd.isNotNull && ti.isNotNull)
    if (exact) {
      // bounded driver collapse: the per-arm trim points AND the
      // trimmed/winsorized moments are pure functions of the per-arm
      // (value, count) histogram — ONE distributed pass (was two: an
      // all-values exact-percentile cell pass + a moment pass). A NaN
      // value, a treatment outside {0, 1}, or a missing arm bails to the
      // distributed twin (its error/ordering semantics stay
      // authoritative); forced via maxLocalCells = 0 in the spec.
      val ta = col("t")
      graft.stats.Cells.grouped(base.select(yd.as("v"), ti.as("t")), Seq("v"),
          Seq(sum(when(ta === 0, 1L).otherwise(0L)),
            sum(when(ta === 1, 1L).otherwise(0L)),
            sum(when(ta =!= 0 && ta =!= 1, 1L).otherwise(0L))),
          maxLocalCells) match {
        case Some(rows) =>
          val m = rows.length
          val vs = rows.map(_.getDouble(0))
          val c0 = rows.map(_.getLong(1)); val c1 = rows.map(_.getLong(2))
          val bad = rows.map(_.getLong(3)).sum
          val n0 = c0.sum; val n1 = c1.sum
          if (bad == 0L && n0 > 0L && n1 > 0L) {
            (0 to 1).foreach { k =>
              require((if (k == 0) n0 else n1) >= 8,
                s"yuen_test: arm $k needs >= 8 rows for a stable trimmed estimate")
            }
            def armStats(k: Int): (Long, Long, Double, Double) = {
              val cc = if (k == 0) c0 else c1
              val n = if (k == 0) n0 else n1
              val q = quantilesOnLocalHist(vs, cc,
                Seq(trim, 1.0 - trim), "yuen_test")
              val (lo, hi) = (q(0), q(1))
              var h = 0L; var ts = 0.0; var ws = 0.0; var wss = 0.0
              var j = 0
              while (j < m) {
                val v = vs(j); val c = cc(j)
                if (c > 0) {
                  val w = math.max(lo, math.min(hi, v))
                  ws += w * c; wss += w * w * c
                  if (v >= lo && v <= hi) { h += c; ts += v * c }
                }
                j += 1
              }
              require(h >= 2, s"yuen_test: arm $k has fewer than 2 in-window rows")
              val tm = ts / h
              val s2w = math.max(0.0, wss - ws * ws / n) / (n - 1)
              val d = s2w * (n - 1) / (h.toDouble * (h - 1))
              (n, h, tm, d)
            }
            val (an0, h0, tm0, d0) = armStats(0)
            val (an1, h1, tm1, d1) = armStats(1)
            val diff = tm1 - tm0
            val se = math.sqrt(d0 + d1)
            require(se > 0, "yuen_test: zero winsorized variance in both arms")
            val tStat = diff / se
            val dfW = (d0 + d1) * (d0 + d1) /
              (d0 * d0 / (h0 - 1) + d1 * d1 / (h1 - 1))
            val p = graft.stats.Dist.tTwoSidedP(tStat, dfW)
            return Seq((an0, an1, h0, h1, tm0, tm1, diff, se, tStat, dfW, p))
              .toDF("n0", "n1", "h0", "h1", "tmean0", "tmean1", "diff", "se",
                "t_stat", "df", "p_value")
          }
        case _ => ()
      }
    }
    val cells = base.groupBy(ti.as("t")).agg(
        count(lit(1)).as("n"),
        pctile(yd, array(lit(trim), lit(1.0 - trim)), exact).as("q"))
      .collect()
    require(cells.map(_.getInt(0)).sorted.toSeq == Seq(0, 1),
      s"yuen_test: treatment must take exactly the values {0, 1}, got " +
        cells.map(_.getInt(0)).sorted.mkString("{", ", ", "}"))
    val byArm = cells.map(r => r.getInt(0) ->
      (r.getLong(r.fieldIndex("n")), r.getSeq[Double](r.fieldIndex("q")))).toMap
    (0 to 1).foreach { k =>
      require(byArm(k)._1 >= 8,
        s"yuen_test: arm $k needs >= 8 rows for a stable trimmed estimate")
    }
    val (lo0, hi0) = (byArm(0)._2(0), byArm(0)._2(1))
    val (lo1, hi1) = (byArm(1)._2(0), byArm(1)._2(1))
    def arm(k: Int, lo: Double, hi: Double): Seq[Column] = {
      val in = ti === k
      val w = winsorize(yd, lo, hi)
      Seq(
        sum(when(in && yd.between(lo, hi), 1L).otherwise(0L)).as(s"h$k"),
        sum(when(in && yd.between(lo, hi), yd).otherwise(lit(0.0)))
          .as(s"ts$k"),
        sum(when(in, w).otherwise(lit(0.0))).as(s"ws$k"),
        sum(when(in, w * w).otherwise(lit(0.0))).as(s"wss$k"))
    }
    val sums = arm(0, lo0, hi0) ++ arm(1, lo1, hi1)
    val r = base.agg(sums.head, sums.tail: _*).head()
    def armStats(k: Int): (Long, Long, Double, Double) = {
      val n = byArm(k)._1
      val h = r.getAs[Long](s"h$k")
      require(h >= 2, s"yuen_test: arm $k has fewer than 2 in-window rows")
      val tm = r.getAs[Double](s"ts$k") / h
      val ws = r.getAs[Double](s"ws$k")
      val s2w = math.max(0.0,
        r.getAs[Double](s"wss$k") - ws * ws / n) / (n - 1)
      val d = s2w * (n - 1) / (h.toDouble * (h - 1))
      (n, h, tm, d)
    }
    val (n0, h0, tm0, d0) = armStats(0)
    val (n1, h1, tm1, d1) = armStats(1)
    val diff = tm1 - tm0
    val se = math.sqrt(d0 + d1)
    require(se > 0, "yuen_test: zero winsorized variance in both arms")
    val tStat = diff / se
    val dfW = (d0 + d1) * (d0 + d1) /
      (d0 * d0 / (h0 - 1) + d1 * d1 / (h1 - 1))
    val p = graft.stats.Dist.tTwoSidedP(tStat, dfW)
    Seq((n0, n1, h0, h1, tm0, tm1, diff, se, tStat, dfW, p))
      .toDF("n0", "n1", "h0", "h1", "tmean0", "tmean1", "diff", "se",
        "t_stat", "df", "p_value")
  }
}
