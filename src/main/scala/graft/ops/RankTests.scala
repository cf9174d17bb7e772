package graft.ops

import graft.agg.{KsResult, MannWhitneyResult}
import graft.stats.{Dist, TtestCommon}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed rank-based tests — the scale path for SURVEY §2b #7/#8.
  *
  * Unlike the reference's collect-all-samples aggregate states
  * (mann_whitney.h:60-68), these compute ranks with a shuffle-by-value
  * aggregation: group rows by distinct value (combining both samples), then
  * a two-phase range-partitioned cumulative sum ([[RangeCumSum]]) yields
  * global cumulative counts with full parallelism — O(distinct values)
  * state, no driver collection, no single-partition sort. The final
  * statistic reduces a handful of scalars. Identical math to
  * [[graft.agg.MannWhitneyAgg]] / [[graft.agg.KsAgg]] (verified in tests).
  */
object RankTests {

  /** Mann-Whitney U with average ranks + tie correction + normal approx. */
  def mannWhitneyU(df: DataFrame, value: Column, treatment: Column,
                   alternative: String = "two-sided",
                   continuityCorrection: Boolean = true): MannWhitneyResult = {
    val alt = TtestCommon.alternative(alternative)
    val byValue = df
      .filter(!isnan(value) && value.isNotNull && treatment.isNotNull)
      .select(value.cast("double").as("v"), treatment.cast("int").as("t"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("cnt0"))
    // avg rank of a tie-group = (left + right + 1)/2 with left = rows before,
    // right = rows through this group (1-based)
    val agg = RangeCumSum.withCumSums(byValue, Seq(col("v")), Seq("cnt")) { (cum, _) =>
      cum.withColumn("avgRank", (col("cum_cnt") - col("cnt") + col("cum_cnt") + 1) / 2.0)
        .agg(
          sum(col("cnt0") * col("avgRank")).as("r1"),
          sum(col("cnt")).as("n"),
          sum(col("cnt0")).as("n1"),
          // double before cubing: a >2.1M-row tie group overflows Long
          sum(col("cnt").cast("double") * col("cnt") * col("cnt") -
            col("cnt")).as("tieNum"),
          max(col("cnt")).as("maxTie")).head()
    }
    val r1 = agg.getAs[Double]("r1")
    val n = agg.getAs[Long]("n").toDouble
    val n1 = agg.getAs[Long]("n1").toDouble
    val n2 = n - n1
    if (n1 == 0 || n2 == 0 || agg.getAs[Long]("maxTie") == agg.getAs[Long]("n"))
      return MannWhitneyResult(Double.NaN, Double.NaN)
    val tieCorrection = 1.0 - agg.getAs[Double]("tieNum") / (n * n * n - n)
    val u1 = n1 * n2 + n1 * (n1 + 1.0) / 2.0 - r1
    val u2 = n1 * n2 - u1
    val meanrank = n1 * n2 / 2.0 + (if (continuityCorrection) 0.5 else 0.0)
    val sd = math.sqrt(tieCorrection * n1 * n2 * (n1 + n2 + 1) / 12.0)
    if (sd.isNaN || sd.isInfinite || math.abs(sd) < 1e-7) return MannWhitneyResult(u2, Double.NaN)
    val u = alt match {
      case TtestCommon.TwoSided => math.max(u1, u2)
      case TtestCommon.Less => u1
      case TtestCommon.Greater => u2
    }
    var z = (u - meanrank) / sd
    if (alt == TtestCommon.TwoSided) z = math.abs(z)
    val cdf = Dist.normCdf(z)
    val p = if (alt == TtestCommon.TwoSided) 2.0 - 2.0 * cdf else 1.0 - cdf
    MannWhitneyResult(u2, p)
  }

  /** Spearman rank correlation (with average-rank tie handling — the
    * same tie-group construction [[mannWhitneyU]] uses): the monotone-
    * association readout that survives outliers and nonlinearity where
    * Pearson's r (#33) does not. ρ = Pearson correlation of the
    * average ranks; inference via the Fieller-corrected Fisher
    * transform, z = atanh(ρ)·√((n−3)/1.06).
    *
    * 100 TB shape: per column, ONE groupBy to value tie-groups + the
    * RangeCumSum running count turns into average ranks (cell scale =
    * distinct values); the rank tables join back to the row frame on
    * the value key (ordinary shuffle joins — rank assignment is
    * inherently a shuffle), then ONE corr aggregate. Nothing ever sits
    * in a single partition. Returns one row: (n, rho, z, p_value). */
  def spearman(df: DataFrame, x: Column, y: Column,
               maxLocalCells: Int = Robust.MaxLocalCells): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .filter(x.isNotNull && y.isNotNull && !isnan(x.cast("double")) &&
        !isnan(y.cast("double")))
      .select(x.cast("double").as("__x"), y.cast("double").as("__y"))
    // bounded driver collapse (Robust.MaxLocalCells idiom): average ranks
    // and every moment are pure functions of the (x, y, count) PAIR cells,
    // so ONE map-side-combined groupBy pass + plain Scala replaces the two
    // RangeCumSum rank tables, their checkpoints, and the two row-scale
    // rank-attach joins. Past the bound the join path below is untouched.
    graft.stats.Cells.collect(base, maxLocalCells) match {
      case Some((cells, cs)) =>
        val m = cells.length
        val xs = cells.map(_(0)); val ys = cells.map(_(1))
        val n = cs.sum
        require(n >= 4, s"spearman: need at least 4 complete rows, got $n")
        // (value -> average rank) per column: tie-group cumulative counts,
        // rank = (cum - cnt + cum + 1) / 2 — the RangeCumSum formula
        def avgRanks(vals: Array[Double]): Array[Double] = {
          val ord = graft.stats.Cells.sortPerm(vals)
          val rk = new Array[Double](m)
          var j = 0
          var cum = 0L
          while (j < m) {
            // tie group [j, e): identical values (may span several cells)
            var e = j
            var cnt = 0L
            while (e < m && vals(ord(e)) == vals(ord(j))) { cnt += cs(ord(e)); e += 1 }
            val r = ((cum.toDouble + cnt) - cnt + (cum.toDouble + cnt) + 1) / 2.0
            while (j < e) { rk(ord(j)) = r; j += 1 }
            cum += cnt
          }
          rk
        }
        val rx = avgRanks(xs)
        val ry = avgRanks(ys)
        var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0; var syy = 0.0
        var i = 0
        while (i < m) {
          val c = cs(i).toDouble
          sx += rx(i) * c; sy += ry(i) * c
          sxy += rx(i) * ry(i) * c
          sxx += rx(i) * rx(i) * c; syy += ry(i) * ry(i) * c
          i += 1
        }
        val nd = n.toDouble
        val vx = sxx - sx * sx / nd
        val vy = syy - sy * sy / nd
        require(vx > 0 && vy > 0,
          "spearman: a column is constant — rank correlation is undefined")
        val rho = (sxy - sx * sy / nd) / math.sqrt(vx * vy)
        val z =
          if (math.abs(rho) >= 1.0) Double.PositiveInfinity * math.signum(rho)
          else 0.5 * math.log((1 + rho) / (1 - rho)) *
            math.sqrt((n - 3) / 1.06)
        val p =
          if (z.isInfinite) 0.0
          else 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z)))
        return Seq((n, rho, z, p)).toDF("n", "rho", "z", "p_value")
      case None => ()
    }
    base.persist()
    try {
      // (value -> average rank) table for one column; checkpointed so it
      // survives the RangeCumSum scope (the KM idiom — cell-scale next
      // to the input)
      def ranks(c: String): DataFrame = {
        val byV = base.groupBy(col(c).as("__v"))
          .agg(count(lit(1)).as("cnt"))
        RangeCumSum.withCumSums(byV, Seq(col("__v")), Seq("cnt")) {
          (cum, _) =>
            cum.select(col("__v"),
                ((col("cum_cnt") - col("cnt") + col("cum_cnt") + 1) / 2.0)
                  .as(s"__r$c"))
              .transform(d => graft.Ckpt.register(d.localCheckpoint()))
        }
      }
      val rx = ranks("__x")
      val ry = ranks("__y")
      // moments instead of corr(): ANSI-mode corr raises DIVIDE_BY_ZERO
      // on a constant column before we can name the real problem
      val (cx, cy) = (col("__r__x"), col("__r__y"))
      val r = try base
        .join(rx, base("__x") === rx("__v")).drop("__v")
        .join(ry, base("__y") === ry("__v")).drop("__v")
        .agg(count(lit(1)).as("n"), sum(cx).as("sx"), sum(cy).as("sy"),
          sum(cx * cy).as("sxy"), sum(cx * cx).as("sxx"),
          sum(cy * cy).as("syy")).head()
      finally {
        // the rank tables are cell-scale but cells ≈ rows for a continuous
        // column; the output below is driver-built, so nothing downstream
        // can re-read them — release now instead of at the boundary sweep
        graft.Ckpt.release(rx); graft.Ckpt.release(ry)
      }
      val n = r.getAs[Long]("n")
      require(n >= 4, s"spearman: need at least 4 complete rows, got $n")
      val nd = n.toDouble
      def g(c: String): Double = r.getAs[Double](c)
      val vx = g("sxx") - g("sx") * g("sx") / nd
      val vy = g("syy") - g("sy") * g("sy") / nd
      require(vx > 0 && vy > 0,
        "spearman: a column is constant — rank correlation is undefined")
      val rho = (g("sxy") - g("sx") * g("sy") / nd) / math.sqrt(vx * vy)
      val z =
        if (math.abs(rho) >= 1.0) Double.PositiveInfinity * math.signum(rho)
        else 0.5 * math.log((1 + rho) / (1 - rho)) *
          math.sqrt((n - 3) / 1.06)
      val p =
        if (z.isInfinite) 0.0
        else 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z)))
      Seq((n, rho, z, p)).toDF("n", "rho", "z", "p_value")
    } finally {
      base.unpersist()
      ()
    }
  }

  /** Two-sample KS: D from windowed CDF difference; p-value via the same
    * method choice as the histogram aggregate (exact Schröer-Trenkler at
    * small n, asymptotic beyond), so the two paths agree at every n. */
  def ksTest(df: DataFrame, value: Column, treatment: Column,
             alternative: String = "two-sided",
             method: String = "auto"): KsResult = {
    val alt = TtestCommon.alternative(alternative)
    val byValue = df
      .filter(!isnan(value) && value.isNotNull && treatment.isNotNull)
      .select(value.cast("double").as("v"), treatment.cast("int").as("t"))
      .groupBy(col("v"))
      .agg(sum(when(col("t") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("t") =!= 0, 1L).otherwise(0L)).as("c1"))
    val (n1, n2, maxS, minS) =
      RangeCumSum.withCumSums(byValue, Seq(col("v")), Seq("c0", "c1")) { (cum, totals) =>
        val tn1 = totals("c0").toLong
        val tn2 = totals("c1").toLong
        if (tn1 == 0 || tn2 == 0) (tn1, tn2, Double.NaN, Double.NaN)
        else {
          val mm = cum
            .withColumn("s", col("cum_c0") / lit(tn1.toDouble) -
              col("cum_c1") / lit(tn2.toDouble))
            .agg(max(col("s")).as("maxS"), min(col("s")).as("minS")).head()
          (tn1, tn2, mm.getAs[Double]("maxS"), mm.getAs[Double]("minS"))
        }
      }
    if (n1 == 0 || n2 == 0) return KsResult(Double.NaN, Double.NaN)
    val d = alt match {
      case TtestCommon.TwoSided => math.max(math.abs(maxS), math.abs(minS))
      case TtestCommon.Greater => maxS
      case TtestCommon.Less => -minS
    }
    // shared method-choice with the histogram aggregate: exact recursion at
    // small n, asymptotic beyond — the two paths report identical p-values
    KsResult(d, graft.agg.KsMath.pValue(d, n1, n2, alt, method))
  }

  /** Two-sample 1-Wasserstein (earth-mover's) distance:
    * W₁ = ∫ |F₀(v) − F₁(v)| dv — the magnitude of distribution shift in
    * the metric's own units (KS gives the worst-case gap, W₁ the total
    * transport). The monitoring statistic for data drift between corpus
    * snapshots or experiment arms.
    *
    * Same ECDF machinery as [[ksTest]] (value-keyed groupBy +
    * [[RangeCumSum]]), plus the step widths: each distinct value needs the
    * NEXT distinct value, which a partition-local `lead` supplies
    * everywhere except each range partition's last row — those few rows
    * get their successor from the collected per-partition first values
    * (P scalars on the driver, not data). No global-order window. */
  def wasserstein1(df: DataFrame, value: Column, treatment: Column,
                   maxLocalCells: Int = Robust.MaxLocalCells): Double = {
    val vt = df
      .filter(!isnan(value) && value.isNotNull && treatment.isNotNull)
      .select(value.cast("double").as("v"), treatment.cast("int").as("t"))
    val byValue = vt.groupBy(col("v"))
      .agg(sum(when(col("t") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("t") =!= 0, 1L).otherwise(0L)).as("c1"))
    // bounded driver collapse (Robust.MaxLocalCells idiom): the ECDF gap
    // sum is a pure function of the (value, c0, c1) cells in value order —
    // ONE distributed pass + a driver scan replaces the RangeCumSum
    // prefix sums, the per-partition boundary collect, and the lead
    // window. Past the bound the distributed path below runs untouched.
    graft.stats.Cells.rows(vt, Seq("v"), byValue, maxLocalCells).foreach { rows =>
      val m = rows.length
      var tn0 = 0L; var tn1 = 0L
      var i = 0
      while (i < m) {
        val r = rows(i); tn0 += r.getLong(1); tn1 += r.getLong(2)
        i += 1
      }
      if (tn0 == 0L || tn1 == 0L) return Double.NaN
      var cum0 = 0L; var cum1 = 0L; var w1 = 0.0
      i = 0
      while (i < m) {
        val r = rows(i)
        cum0 += r.getLong(1); cum1 += r.getLong(2)
        if (i + 1 < m) {
          val gap = math.abs(cum0.toDouble / tn0 - cum1.toDouble / tn1)
          w1 += gap * (rows(i + 1).getDouble(0) - r.getDouble(0))
        }
        i += 1
      }
      return w1
    }
    RangeCumSum.withCumSums(byValue, Seq(col("v")), Seq("c0", "c1")) { (cum, totals) =>
      val tn0 = totals("c0"); val tn1 = totals("c1")
      if (tn0 == 0 || tn1 == 0) Double.NaN
      else {
        val firstV = cum.groupBy(col("__pid")).agg(min(col("v")).as("fv"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
        // successor of partition p's last row = first v of the next
        // non-empty partition (the global last row has none -> dv null -> 0)
        val boundary: Map[Int, Double] =
          firstV.zip(firstV.drop(1)).map { case ((p, _), (_, nv)) => p -> nv }.toMap
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__pid")).orderBy(col("v"))
        val nextV =
          if (boundary.isEmpty) lead(col("v"), 1).over(w)
          else coalesce(lead(col("v"), 1).over(w),
            element_at(typedlit(boundary), col("__pid")))
        val gap = abs(col("cum_c0") / lit(tn0) - col("cum_c1") / lit(tn1))
        val r = cum.withColumn("__nv", nextV)
          .select(sum(gap * (col("__nv") - col("v"))).as("w1")).head()
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
    }
  }

  /** (value → average rank) cell table over the pooled sample — the
    * [[mannWhitneyU]] tie-group construction factored out for the k-group
    * tests below. Returns (v, cnt, avg_rank), checkpointed (cell-scale —
    * one row per distinct value); callers release via [[graft.Ckpt]]. */
  private def avgRankCells(byValue: DataFrame): DataFrame =
    RangeCumSum.withCumSums(byValue, Seq(col("v")), Seq("cnt")) { (cum, _) =>
      cum.select(col("v"), col("cnt"),
          ((col("cum_cnt") - col("cnt") + col("cum_cnt") + 1) / 2.0)
            .as("avg_rank"))
        .transform(d => graft.Ckpt.register(d.localCheckpoint()))
    }

  /** Kruskal-Wallis H test (Kruskal & Wallis 1952, tie-corrected) — the
    * k-group generalization of [[mannWhitneyU]]: "do ANY of the k arms
    * differ in location", on ranks, so outliers and monotone rescalings
    * don't move it (the rank companion to ANOVA).
    *
    *   H = 12/(N(N+1)) Σ_g R_g²/n_g − 3(N+1),   H_c = H / C,
    *   C = 1 − Σ(t³−t)/(N³−N),   df = k−1
    *
    * 100 TB shape: ONE groupBy to (value, group) cells + ONE to value
    * cells; average ranks ride [[RangeCumSum]] (no global-order window),
    * the rank table joins back at CELL scale, and one cell aggregate per
    * group yields the rank sums — group and value cardinality unbounded,
    * nothing collected but the output row. The p-value needs the χ² CDF,
    * so oracle rows check through H. Returns one row:
    * (n, k, h, h_corrected, df, p_value). */
  def kruskalWallis(df: DataFrame, y: Column, group: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val byVG = df.filter(yd.isNotNull && !isnan(yd) && group.isNotNull)
      .groupBy(yd.as("v"), group.cast("string").as("g"))
      .agg(count(lit(1)).as("cg"))
    byVG.persist()
    val (ties, tot, dev) = try {
      val byV = byVG.groupBy(col("v")).agg(sum(col("cg")).as("cnt"))
      val ranks = avgRankCells(byV)
      try {
        val perG = byVG.join(ranks, "v")
          .groupBy(col("g"))
          .agg(sum(col("cg")).as("ng"),
            sum(col("cg") * col("avg_rank")).as("rg"))
        perG.persist()
        try {
          // cnt cast to double BEFORE cubing: a tie group above ~2.1M rows
          // overflows Long silently in non-ANSI mode; the correction is a
          // ratio, so double precision is sufficient
          val t = ranks.agg(
            sum(col("cnt").cast("double") * col("cnt") * col("cnt") -
              col("cnt")).as("tieNum"),
            max(col("cnt")).as("maxTie")).head()
          val tt = perG.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"))
            .head()
          // CENTERED form 12/(N(N+1))·Σ n_g(r̄_g − (N+1)/2)²: the textbook
          // ΣR_g²/n_g − 3(N+1) subtracts two ~N²-scale terms and loses the
          // answer to roundoff at row counts where ranks reach 10⁸
          val mid = (tt.getAs[Long]("n") + 1.0) / 2.0
          val dv = perG.agg(sum(col("ng") *
            (col("rg") / col("ng") - mid) * (col("rg") / col("ng") - mid)))
            .head().getDouble(0)
          (t, tt, dv)
        } finally { perG.unpersist(); () }
      } finally graft.Ckpt.release(ranks)
    } finally { byVG.unpersist(); () }
    val k = tot.getAs[Long]("k")
    require(k >= 2, s"kruskal_wallis: need at least 2 groups, got $k")
    val n = tot.getAs[Long]("n").toDouble
    require(ties.getAs[Long]("maxTie") < tot.getAs[Long]("n"),
      "kruskal_wallis: every value is identical — ranks are degenerate")
    val h = 12.0 / (n * (n + 1)) * dev
    val c = 1.0 - ties.getAs[Double]("tieNum") / (n * n * n - n)
    val hc = h / c
    val p = 1.0 - Dist.chiSqCdf(hc, (k - 1).toDouble)
    Seq((tot.getAs[Long]("n"), k, h, hc, k - 1, p))
      .toDF("n", "k", "h", "h_corrected", "df", "p_value")
  }

  /** Brunner-Munzel test (Brunner & Munzel 2000) — the two-sample
    * stochastic-superiority test that, unlike [[mannWhitneyU]], stays
    * valid when the two arms have DIFFERENT shapes/variances (the rank
    * analogue of Welch vs Student). Estimand: p̂ = P(X₀ < X₁) + ½P(=).
    *
    *   p̂ = (R̄₁ − (n₁+1)/2)/n₀,
    *   W = n₀n₁(R̄₁ − R̄₀) / (N·√(n₀S₀² + n₁S₁²)),
    *   S_g² = Var_i(R_gi − r_gi)   (overall minus within-group ranks),
    *   df via Satterthwaite; p from the t distribution.
    *
    * 100 TB shape: every rank construction is the tie-group cell idiom —
    * overall ranks from the pooled value cells, within-group ranks from
    * each arm's own cells (2 more [[RangeCumSum]] passes); the variance
    * contributions collapse per (value, arm) CELL because tied rows share
    * both ranks. Nothing row-scale is windowed, sorted or collected.
    * Returns one row: (n0, n1, p_hat, stat, df, p_value). */
  def brunnerMunzel(df: DataFrame, y: Column, treatment: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val ti = treatment.cast("int")
    val byVG = df.filter(yd.isNotNull && !isnan(yd) && ti.isNotNull)
      .select(yd.as("v"), ti.as("t"))
      .groupBy(col("v"), col("t")).agg(count(lit(1)).as("cg"))
    byVG.persist()
    try {
      val bad = byVG.filter(col("t") =!= 0 && col("t") =!= 1)
        .agg(coalesce(sum(col("cg")), lit(0L))).head().getLong(0)
      require(bad == 0, s"brunner_munzel: $bad rows have treatment outside {0, 1}")
      val byV = byVG.groupBy(col("v")).agg(sum(col("cg")).as("cnt"))
      val overall = avgRankCells(byV)
      def within(t: Int): DataFrame = avgRankCells(
        byVG.filter(col("t") === t).select(col("v"), col("cg").as("cnt")))
      val w0 = within(0)
      val w1 = within(1)
      val m = try {
        // per (value, arm) cell: overall rank R(v), within rank r_g(v);
        // all rows in the cell share both, so moments collapse to cells
        byVG
          .join(overall.select(col("v"), col("avg_rank").as("ovr")), "v")
          .join(w0.select(col("v"), col("avg_rank").as("wr0")), Seq("v"), "left")
          .join(w1.select(col("v"), col("avg_rank").as("wr1")), Seq("v"), "left")
          .withColumn("wr", when(col("t") === 0, col("wr0")).otherwise(col("wr1")))
          .withColumn("dd", col("ovr") - col("wr"))
          .groupBy(col("t")).agg(
            sum(col("cg")).as("ng"),
            sum(col("cg") * col("ovr")).as("sr"),
            sum(col("cg") * col("dd")).as("sd1"),
            sum(col("cg") * col("dd") * col("dd")).as("sd2")).collect()
      } finally { graft.Ckpt.release(overall); graft.Ckpt.release(w0); graft.Ckpt.release(w1) }
    require(m.length == 2,
      "brunner_munzel: both arms need at least one row")
    val by = m.map(r => r.getAs[Int]("t") -> r).toMap
    val n0 = by(0).getAs[Long]("ng").toDouble
    val n1 = by(1).getAs[Long]("ng").toDouble
    require(n0 >= 2 && n1 >= 2, "brunner_munzel: each arm needs >= 2 rows")
    val nTot = n0 + n1
    val m0 = by(0).getAs[Double]("sr") / n0
    val m1 = by(1).getAs[Double]("sr") / n1
    // S_g² = sample variance of (R_gi − r_gi) within arm g
    def s2(t: Int, ng: Double): Double = {
      val s1 = by(t).getAs[Double]("sd1")
      val s2 = by(t).getAs[Double]("sd2")
      (s2 - s1 * s1 / ng) / (ng - 1)
    }
    val v0 = s2(0, n0)
    val v1 = s2(1, n1)
    val pHat = (m1 - (n1 + 1) / 2.0) / n0
    val sigma = n0 * v0 + n1 * v1
    require(sigma > 0,
      "brunner_munzel: zero rank variance (complete separation or all " +
        s"ties) — p_hat = $pHat exactly; the t approximation is undefined")
    val stat = n0 * n1 * (m1 - m0) / (nTot * math.sqrt(sigma))
    val dfT = sigma * sigma /
      (v0 * v0 * n0 * n0 / (n0 - 1) + v1 * v1 * n1 * n1 / (n1 - 1))
    val p = 2.0 * (1.0 - Dist.tCdf(math.abs(stat), dfT))
    Seq((n0.toLong, n1.toLong, pHat, stat, dfT, p))
      .toDF("n0", "n1", "p_hat", "stat", "df", "p_value")
    } finally {
      byVG.unpersist()
      ()
    }
  }

  /** Dunn's post-hoc test (Dunn 1964) — WHICH groups differ after
    * [[kruskalWallis]] rejects: pairwise z tests on the SAME pooled
    * average ranks (not pairwise Mann-Whitneys, whose rank bases change
    * per pair), with the shared tie correction and BH adjustment across
    * the k(k−1)/2 comparisons:
    *
    *   z_ij = (r̄_i − r̄_j) / √((N(N+1)/12 − ΣT/(12(N−1)))(1/n_i + 1/n_j))
    *
    * 100 TB shape: ONE tie-group rank pass (the [[kruskalWallis]]
    * machinery) collapsing to k group cells; the pair table is k²
    * driver arithmetic. Group count is guarded (pairs are quadratic in
    * k — that is what post-hoc means). Returns one row per pair:
    * (g1, g2, mean_rank_1, mean_rank_2, z, p_value, p_adjusted). */
  def dunnTest(df: DataFrame, y: Column, group: Column,
               maxGroups: Int = 200): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val byVG = df.filter(yd.isNotNull && !isnan(yd) && group.isNotNull)
      .groupBy(yd.as("v"), group.cast("string").as("g"))
      .agg(count(lit(1)).as("cg"))
    byVG.persist()
    val (cells, tieNum) = try {
      val byV = byVG.groupBy(col("v")).agg(sum(col("cg")).as("cnt"))
      val ranks = avgRankCells(byV)
      try {
        val perG = byVG.join(ranks, "v")
          .groupBy(col("g"))
          .agg(sum(col("cg")).as("ng"),
            sum(col("cg") * col("avg_rank")).as("rg"))
          .orderBy(col("g"))
          .limit(maxGroups + 1)
          .collect()
        // double before cubing — same Long-overflow guard as kruskalWallis
        val tn = ranks
          .agg(sum(col("cnt").cast("double") * col("cnt") * col("cnt") -
            col("cnt")))
          .head().getDouble(0)
        (perG, tn)
      } finally graft.Ckpt.release(ranks)
    } finally { byVG.unpersist(); () }
    require(cells.length >= 2, "dunn_test: need at least 2 groups")
    require(cells.length <= maxGroups,
      s"dunn_test: more than $maxGroups groups — k² pairwise comparisons " +
        "is not a post-hoc anymore; raise maxGroups if really intended")
    val n = cells.map(_.getAs[Long]("ng")).sum.toDouble
    val varBase = n * (n + 1) / 12.0 - tieNum / (12.0 * (n - 1))
    require(varBase > 0, "dunn_test: all values identical")
    val pairs = for {
      i <- cells.indices; j <- (i + 1) until cells.length
    } yield {
      val (gi, gj) = (cells(i), cells(j))
      val (ni, nj) = (gi.getAs[Long]("ng").toDouble, gj.getAs[Long]("ng").toDouble)
      val mi = gi.getAs[Double]("rg") / ni
      val mj = gj.getAs[Double]("rg") / nj
      val z = (mi - mj) / math.sqrt(varBase * (1 / ni + 1 / nj))
      val p = 2.0 * (1.0 - Dist.normCdf(math.abs(z)))
      (gi.getAs[String]("g"), gj.getAs[String]("g"), mi, mj, z, p)
    }
    // BH across the pair family (driver arithmetic — the family is k²)
    val m = pairs.length
    val byP = pairs.sortBy(_._6).zipWithIndex
    val adj = new Array[Double](m)
    var run = 1.0
    byP.reverseIterator.foreach { case ((_, _, _, _, _, p), idx) =>
      run = math.min(run, p * m / (idx + 1))
      adj(idx) = run
    }
    val out = byP.map { case (t, idx) =>
      (t._1, t._2, t._3, t._4, t._5, t._6, adj(idx))
    }.sortBy(t => (t._1, t._2))
    out.toDF("g1", "g2", "mean_rank_1", "mean_rank_2", "z", "p_value",
      "p_adjusted")
  }

  /** Friedman test (1937, Conover's tie-corrected form) — k matched
    * treatments measured on the SAME blocks (users, days, prompts): the
    * repeated-measures alternative to [[kruskalWallis]] (which assumes
    * independent groups) and the CONTINUOUS sibling of
    * [[Agreement.cochranQ]] (binary outcomes on blocks). Ranks are
    * within-block (average ranks on ties), so between-block level shifts
    * cancel by construction:
    *
    *   A = Σ r²_ij,   χ² = (k−1)(Σ_j R_j² − k·n²(k+1)²/4)
    *                       / (A − n·k(k+1)²/4),   df = k−1
    *
    * (reduces to the classic 12/(nk(k+1))ΣR²−3n(k+1) when untied).
    * Incomplete or duplicated (block, treatment) cells are a named error
    * — Friedman needs a complete balanced panel.
    *
    * 100 TB shape: ONE exchange keyed by block; the rank window
    * partitions BY BLOCK and a block holds exactly k rows, so the sort is
    * O(k log k) per block with block cardinality unbounded; ONE treatment
    * cell aggregate (k cells) + ONE scalar pass close it. Replays in SQL
    * with the same rank()/count() window construction. Returns one row:
    * (n_blocks, k, chisq, df, p_value). */
  def friedmanTest(df: DataFrame, block: Column, treatment: Column,
                   y: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val yd = y.cast("double")
    val base = df.filter(yd.isNotNull && !isnan(yd) && block.isNotNull &&
        treatment.isNotNull)
      .select(block.cast("string").as("__b"),
        treatment.cast("string").as("__t"), yd.as("__y"))
    // average rank within block: rank() gives 1 + #strictly-less; the
    // tie group of size c spans ranks [rank, rank+c-1] -> avg = rank +
    // (c-1)/2. Both windows partition by block (and value), never global.
    val r = rank().over(Window.partitionBy(col("__b")).orderBy(col("__y")))
    val tie = count(lit(1)).over(
      Window.partitionBy(col("__b"), col("__y")))
    val ranked = base.withColumn("__r",
      r.cast("double") + (tie.cast("double") - 1.0) / 2.0)
    val perT = ranked.groupBy(col("__t"))
      .agg(count(lit(1)).as("nb"), sum(col("__r")).as("rj"),
        sum(col("__r") * col("__r")).as("r2j"),
        countDistinct(col("__b")).as("db"))
    val tot = perT.agg(count(lit(1)).as("k"),
      min(col("nb")).as("mn"), max(col("nb")).as("mx"),
      min(col("db")).as("mndb"),
      sum(col("rj") * col("rj")).as("sumRj2"),
      sum(col("r2j")).as("a"),
      sum(col("nb")).as("total")).head()
    val k = tot.getAs[Long]("k")
    require(k >= 2, s"friedman: need at least 2 treatments, got $k")
    val n = tot.getAs[Long]("mx")
    require(tot.getAs[Long]("mn") == n && tot.getAs[Long]("mndb") == n &&
        tot.getAs[Long]("total") == n * k,
      "friedman: incomplete or duplicated (block, treatment) panel — " +
        "every block needs exactly one row per treatment (aggregate " +
        "replicates upstream, or drop incomplete blocks explicitly)")
    require(n >= 2, s"friedman: need at least 2 blocks, got $n")
    val nd = n.toDouble; val kd = k.toDouble
    val a = tot.getAs[Double]("a")
    val denom = a - nd * kd * (kd + 1) * (kd + 1) / 4.0
    require(denom > 0,
      "friedman: all treatments tie within every block — ranks are constant")
    val chisq = (kd - 1) *
      (tot.getAs[Double]("sumRj2") - kd * nd * nd * (kd + 1) * (kd + 1) / 4.0) /
      denom
    val p = 1.0 - Dist.chiSqCdf(chisq, kd - 1)
    Seq((n, k, chisq, k - 1, p))
      .toDF("n_blocks", "k", "chisq", "df", "p_value")
  }

  /** One-sample KS test of a p-value (or any [0,1] score) column against
    * Uniform(0,1) — the calibration audit for a p-value table (a healthy
    * A/A or null family is uniform; clumping near 0 flags selection or
    * dependence, near 0.5 flags over-conservative tests):
    *
    *   D = max(D⁺, D⁻),  D⁺ = max_i(i/n − p_(i)),  D⁻ = max_i(p_(i) − (i−1)/n)
    *
    * with the asymptotic Kolmogorov tail p = 2Σ(−1)^{k+1}e^{−2k²nD²}
    * summed to 5000 terms (the series needs ~4.2/λ terms to converge for
    * small λ = √n·D — the well-calibrated regime; see the inline note
    * below) with an exact p = 1 clamp below λ = 0.001; asymptotic only —
    * documented, exact small-n is not the use case for a table of
    * thousands of tests.
    *
    * 100 TB shape: the distributed two-phase row number over sorted
    * values ([[RangeCumSum.withRowNumber]]) + ONE closing aggregate —
    * nothing single-partition, nothing collected. Returns one row:
    * (n, d_plus, d_minus, d, p_value). */
  def ksUniform(df: DataFrame, p: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pd = p.cast("double")
    val base = df.filter(pd.isNotNull && !isnan(pd))
      .select(pd.as("__p"))
    val bad = base.filter(col("__p") < 0.0 || col("__p") > 1.0)
      .limit(1).count()
    require(bad == 0, "ks_uniform: values outside [0, 1] — this test is " +
      "for p-values/scores on the unit interval")
    RangeCumSum.withRowNumber(base, Seq(col("__p").asc), "__i") {
      (ranked, n) =>
        require(n >= 5, s"ks_uniform: need at least 5 rows, got $n")
        val nd = n.toDouble
        val r = ranked.agg(
          max(col("__i") / nd - col("__p")).as("dp"),
          max(col("__p") - (col("__i") - 1) / nd).as("dm")).head()
        val dp = math.max(0.0, r.getAs[Double]("dp"))
        val dm = math.max(0.0, r.getAs[Double]("dm"))
        val d = math.max(dp, dm)
        // the alternating series needs k ≈ 4.2/λ terms (λ² = nD²) — 100
        // terms only cover λ ≥ 0.05, and a WELL-CALIBRATED table (the
        // whole point of this audit) sits below that. 5000 terms cover
        // λ ≥ 0.001; smaller λ is p = 1 to double precision, clamped
        // exactly so the SQL replay agrees bit-for-bit
        val lam2 = nd * d * d
        val pv =
          if (lam2 < 1e-6) 1.0
          else math.min(1.0, 2.0 * (1 to 5000).map(k =>
            (if (k % 2 == 1) 1.0 else -1.0) *
              math.exp(-2.0 * k * k * lam2)).sum)
        Seq((n, dp, dm, d, pv))
          .toDF("n", "d_plus", "d_minus", "d", "p_value")
    }
  }

  /** Anderson-Darling uniformity statistic (Anderson & Darling 1954) —
    * the TAIL-sensitive companion to [[ksUniform]]: KS weighs the center
    * of the ECDF, A² weighs the tails by 1/(F(1−F)), which is exactly
    * where a p-value table's miscalibration does damage. Substituting
    * j = n+1−i folds the classic form into one ranked pass:
    *
    *   A² = −n − (1/n) Σ_j [(2j−1) ln p₍ⱼ₎ + (2n+1−2j) ln(1−p₍ⱼ₎)]
    *
    * Statistic-only by design (compare A² against the published case-0
    * critical values for your alpha; shipping a p-value approximation
    * from memory is how tables go wrong). Values must be STRICTLY inside (0, 1) — 0/1 would put ln(0)
    * in the sum; clamp upstream if your scores saturate, and the error
    * says so. Same [[RangeCumSum]] shape as ksUniform (no global
    * window). Returns one row: (n, a2). */
  def adUniform(df: DataFrame, p: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pd = p.cast("double")
    val base = df.filter(pd.isNotNull && !isnan(pd))
      .select(pd.as("__p"))
    val bad = base.filter(col("__p") <= 0.0 || col("__p") >= 1.0)
      .limit(1).count()
    require(bad == 0, "ad_uniform: values must be STRICTLY inside (0, 1) " +
      "— ln(0) is in the statistic; clamp saturated scores upstream")
    RangeCumSum.withRowNumber(base, Seq(col("__p").asc), "__i") {
      (ranked, n) =>
        require(n >= 5, s"ad_uniform: need at least 5 rows, got $n")
        val nd = n.toDouble
        val r = ranked.agg(
          sum((lit(2.0) * col("__i") - 1.0) * log(col("__p")) +
            (lit(2.0 * nd + 1.0) - lit(2.0) * col("__i")) *
              log(lit(1.0) - col("__p"))).as("s")).head()
        val a2 = -nd - r.getAs[Double]("s") / nd
        Seq((n, a2)).toDF("n", "a2")
    }
  }

  /** Standardized two-sample effect sizes — the "how big, in units a
    * reader can compare across metrics" companion every test above
    * reports a p-value without: Cohen's d (pooled), Hedges' g (the
    * small-sample-corrected d), Glass's Δ (control-arm sd — for when
    * treatment changes the variance too), and Cliff's δ (the
    * distribution-free ordinal effect, = 2U/(n₀n₁) − 1 from the
    * [[mannWhitneyU]] rank machinery, ties counted ½).
    *
    * ONE moments aggregate + ONE tie-group rank pass ([[RangeCumSum]],
    * no global window); everything replays in SQL. Returns one row:
    * (n0, n1, mean_diff, cohens_d, hedges_g, glass_delta, cliffs_delta). */
  def effectSize(df: DataFrame, y: Column, treatment: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yd = y.cast("double")
    val ti = treatment.cast("int")
    val base = df.filter(yd.isNotNull && !isnan(yd) && ti.isNotNull)
      .select(yd.as("v"), ti.as("t"))
    val mrow = base.agg(
      sum(when(col("t") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("t") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when((col("t") =!= 0) && (col("t") =!= 1), 1L).otherwise(0L)).as("bad"),
      avg(when(col("t") === 0, col("v"))).as("m0"),
      avg(when(col("t") === 1, col("v"))).as("m1"),
      variance(when(col("t") === 0, col("v"))).as("v0"),
      variance(when(col("t") === 1, col("v"))).as("v1")).head()
    require(mrow.getAs[Long]("bad") == 0,
      s"effect_size: ${mrow.getAs[Long]("bad")} rows have treatment outside {0, 1}")
    val n0 = mrow.getAs[Long]("n0")
    val n1 = mrow.getAs[Long]("n1")
    require(n0 >= 2 && n1 >= 2, "effect_size: each arm needs >= 2 rows")
    val diff = mrow.getAs[Double]("m1") - mrow.getAs[Double]("m0")
    val (v0, v1) = (mrow.getAs[Double]("v0"), mrow.getAs[Double]("v1"))
    val sp = math.sqrt(((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2.0))
    require(sp > 0, "effect_size: zero pooled variance — both arms constant")
    val d = diff / sp
    val g = d * (1.0 - 3.0 / (4.0 * (n0 + n1) - 9.0))
    val glass = if (v0 > 0) diff / math.sqrt(v0) else Double.NaN
    // Cliff's δ from the rank sum of arm 1 (ties → ½ via average ranks)
    val byV = base.groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("cnt1"))
    val r1 = RangeCumSum.withCumSums(byV, Seq(col("v")), Seq("cnt")) { (cum, _) =>
      cum.withColumn("avgRank",
          (col("cum_cnt") - col("cnt") + col("cum_cnt") + 1) / 2.0)
        .agg(sum(col("cnt1") * col("avgRank"))).head().getDouble(0)
    }
    val u1 = r1 - n1 * (n1 + 1.0) / 2.0
    val cliff = 2.0 * u1 / (n0.toDouble * n1) - 1.0
    Seq((n0, n1, diff, d, g, glass, cliff))
      .toDF("n0", "n1", "mean_diff", "cohens_d", "hedges_g", "glass_delta",
        "cliffs_delta")
  }
}
