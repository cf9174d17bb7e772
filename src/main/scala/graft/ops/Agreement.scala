package graft.ops

import graft.stats.Cells
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Paired-rater / paired-model agreement tests for labeling and eval
  * pipelines — the statistics a training-data operation runs before
  * trusting labels (inter-annotator agreement) or shipping a model swap
  * (paired comparison on the SAME examples, where the two-proportion
  * test's independence assumption is wrong and wastes power).
  */
object Agreement {

  /** McNemar's paired test (McNemar 1947, continuity-corrected): two
    * binary readings per row (old model vs new model, rater vs gold) —
    * only the DISCORDANT cells carry information about a marginal shift:
    *
    *   z = (b₀₁ − b₁₀)/√(b₀₁ + b₁₀),
    *   χ²_cc = (|b₀₁ − b₁₀| − 1)²/(b₀₁ + b₁₀)
    *
    * ONE conditional-count aggregate (binary-domain validation rides
    * it) + driver closed forms; everything replays in plain SQL. Rows
    * where either reading is null drop (the pair is incomplete).
    * Returns one row: (n, both0, both1, only_a, only_b, z, chisq_cc). */
  def mcnemar(df: DataFrame, a: Column, b: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ai = a.cast("int")
    val bi = b.cast("int")
    val r = df.filter(ai.isNotNull && bi.isNotNull).agg(
      count(lit(1)).as("n"),
      sum(when(ai === 0 && bi === 0, 1L).otherwise(0L)).as("n00"),
      sum(when(ai === 1 && bi === 1, 1L).otherwise(0L)).as("n11"),
      sum(when(ai === 1 && bi === 0, 1L).otherwise(0L)).as("n10"),
      sum(when(ai === 0 && bi === 1, 1L).otherwise(0L)).as("n01"),
      sum(when((ai =!= 0 && ai =!= 1) || (bi =!= 0 && bi =!= 1), 1L)
        .otherwise(0L)).as("bad")).head()
    require(r.getAs[Long]("bad") == 0,
      s"mcnemar: ${r.getAs[Long]("bad")} rows have readings outside {0, 1}")
    val (n10, n01) = (r.getAs[Long]("n10"), r.getAs[Long]("n01"))
    val disc = (n10 + n01).toDouble
    require(disc > 0,
      "mcnemar: no discordant pairs — the readings are identical on every " +
        "row and no marginal shift is testable")
    val z = (n01 - n10) / math.sqrt(disc)
    val cc = math.max(0.0, math.abs(n01 - n10).toDouble - 1.0)
    Seq((r.getAs[Long]("n"), r.getAs[Long]("n00"), r.getAs[Long]("n11"),
        n10, n01, z, cc * cc / disc))
      .toDF("n", "both0", "both1", "only_a", "only_b", "z", "chisq_cc")
  }

  /** Cohen's kappa (Cohen 1960) — chance-corrected agreement between two
    * categorical raters over the same items, the standard
    * inter-annotator screen before labels enter a training set:
    *
    *   κ = (p_o − p_e)/(1 − p_e),   p_e = Σ_c rowshare_c · colshare_c,
    *   se ≈ √(p_o(1−p_o)) / ((1−p_e)√n)    (Cohen's large-sample form)
    *
    * 100 TB shape: ONE row-scale aggregate to (a, b) confusion cells,
    * cell-scale margins joined back — category cardinality unbounded,
    * nothing collected but the single output row. Null-on-either-side
    * rows drop. Everything replays in two-level SQL. Returns one row:
    * (n, categories, po, pe, kappa, se, z). */
  def cohensKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val as = a.cast("string")
    val bs = b.cast("string")
    val cells = df.filter(as.isNotNull && bs.isNotNull)
      .groupBy(as.as("a"), bs.as("b")).agg(count(lit(1)).as("c"))
    val ra = cells.groupBy(col("a")).agg(sum(col("c")).as("ca"))
    val rb = cells.groupBy(col("b")).agg(sum(col("c")).as("cb"))
    val r = cells.agg(sum(col("c")).as("n"),
        sum(when(col("a") === col("b"), col("c")).otherwise(0L)).as("agree"))
      .crossJoin(
        ra.join(rb, ra("a") === rb("b"), "full")
          .agg(sum(coalesce(col("ca"), lit(0L)).cast("double") *
            coalesce(col("cb"), lit(0L)).cast("double")).as("pesum"),
            count(lit(1)).as("k")))
      .head()
    val n = r.getAs[Long]("n")
    require(n > 0, "cohens_kappa: no complete pairs")
    val po = r.getAs[Long]("agree").toDouble / n
    val pe = r.getAs[Double]("pesum") / (n.toDouble * n)
    require(pe < 1.0,
      "cohens_kappa: both raters are constant — agreement is undefined")
    val kappa = (po - pe) / (1 - pe)
    val se = math.sqrt(po * (1 - po)) / ((1 - pe) * math.sqrt(n.toDouble))
    val z = if (se > 0) kappa / se else 0.0
    Seq((n, r.getAs[Long]("k"), po, pe, kappa, se, z))
      .toDF("n", "categories", "po", "pe", "kappa", "se", "z")
  }

  /** Weighted Cohen's kappa (Cohen 1968) — chance-corrected agreement for
    * ORDINAL paired labels, where [[cohensKappa]] treats a 1-vs-2
    * disagreement the same as 1-vs-5 (LLM-judge grades, severity tiers,
    * star ratings). With categories indexed 0..k−1 by their sorted
    * order, agreement weights
    *
    *   w_ij = 1 − ((i−j)/(k−1))²   (quadratic, the default — the form
    *                                that equals the ICC asymptotically)
    *   w_ij = 1 − |i−j|/(k−1)      (linear)
    *
    *   κ_w = (p_o − p_e)/(1 − p_e),  p_o = Σ w_ij p_ij,
    *   p_e = Σ w_ij p_i• p_•j
    *
    * with the Fleiss–Cohen–Everitt (1969) large-sample variance:
    *
    *   var = [Σ p_ij (w_ij(1−p_e) − (w̄_i• + w̄_•j)(1−p_o))²
    *          − (p_o p_e − 2p_e + p_o)²] / (n(1−p_e)⁴)
    *
    * where w̄_i• = Σ_j p_•j w_ij and w̄_•j = Σ_i p_i• w_ij. Category
    * indices come from the SORTED distinct union of both raters' values
    * (numeric order when both cast; else lexical — documented, matching
    * the common scikit convention).
    *
    * 100 TB shape: ONE (a, b) cell aggregate; the O(k²) close is
    * driver-side over cells, guarded by `maxCells` BEFORE collection
    * (the kendallTau idiom — the label space is bounded by construction;
    * bucket continuous scores first). Returns one row:
    * (n, categories, weighting, po_w, pe_w, kappa_w, se, z, p_value). */
  def weightedKappa(df: DataFrame, a: Column, b: Column,
                    weighting: String = "quadratic",
                    maxCells: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(weighting == "quadratic" || weighting == "linear",
      s"weighted_kappa: weighting must be quadratic|linear, got $weighting")
    val as = a.cast("string"); val bs = b.cast("string")
    val ad = a.cast("double"); val bd = b.cast("double")
    val cellsDf = df.filter(as.isNotNull && bs.isNotNull)
      .groupBy(coalesce(ad.cast("string"), as).as("a"),
        coalesce(bd.cast("string"), bs).as("b"))
      .agg(count(lit(1)).as("c"))
    val cells = Cells.rowsOrFail(cellsDf, maxCells,
      s"weighted_kappa: more than $maxCells distinct (a, b) cells — " +
        "κ_w is for bounded label spaces; bucket continuous scores first")
    require(cells.nonEmpty, "weighted_kappa: no complete pairs")
    def key(s: String): (Double, String) = {
      val d = try s.toDouble catch { case _: Throwable => Double.NaN }
      if (d.isNaN) (Double.MaxValue, s) else (d, "")
    }
    val cs = cells.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val labels = (cs.map(_._1) ++ cs.map(_._2)).distinct
      .sortBy(key)
    val idx = labels.zipWithIndex.toMap
    val k = labels.length
    require(k >= 2, "weighted_kappa: both raters are constant")
    val n = cs.map(_._3).sum.toDouble
    def w(i: Int, j: Int): Double = {
      val d = (i - j).toDouble / (k - 1)
      if (weighting == "quadratic") 1.0 - d * d else 1.0 - math.abs(d)
    }
    val p = Array.ofDim[Double](k, k)
    cs.foreach { case (la, lb, c) => p(idx(la))(idx(lb)) += c / n }
    val pa = Array.tabulate(k)(i => p(i).sum)
    val pb = Array.tabulate(k)(j => (0 until k).map(p(_)(j)).sum)
    var po = 0.0; var pe = 0.0
    for (i <- 0 until k; j <- 0 until k) {
      po += w(i, j) * p(i)(j); pe += w(i, j) * pa(i) * pb(j)
    }
    require(pe < 1.0,
      "weighted_kappa: expected agreement is 1 — κ_w is undefined")
    val kap = (po - pe) / (1 - pe)
    val wa = Array.tabulate(k)(i => (0 until k).map(j => pb(j) * w(i, j)).sum)
    val wb = Array.tabulate(k)(j => (0 until k).map(i => pa(i) * w(i, j)).sum)
    var s2 = 0.0
    for (i <- 0 until k; j <- 0 until k) {
      val t = w(i, j) * (1 - pe) - (wa(i) + wb(j)) * (1 - po)
      s2 += p(i)(j) * t * t
    }
    val c2 = po * pe - 2 * pe + po
    val varK = math.max(0.0, (s2 - c2 * c2) /
      (n * math.pow(1 - pe, 4)))
    val se = math.sqrt(varK)
    val z = if (se > 0) kap / se else 0.0
    val pv = 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z)))
    Seq((n.toLong, k.toLong, weighting, po, pe, kap, se, z, pv))
      .toDF("n", "categories", "weighting", "po_w", "pe_w", "kappa_w",
        "se", "z", "p_value")
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement for ANY
    * number of raters: the multi-annotator generalization of
    * [[cohensKappa]], for labeling pipelines where each item is rated by
    * n ≥ 2 annotators (input = one row per rating: item, category):
    *
    *   P_i = (Σ_c n_ic² − n)/(n(n−1)),   P̄ = mean_i P_i,
    *   p_c = Σ_i n_ic/(N·n),   P̄_e = Σ_c p_c²,
    *   κ = (P̄ − P̄_e)/(1 − P̄_e)
    *
    * The classic formula requires the SAME rating count per item —
    * unequal counts are a named error (fix the join upstream or drop
    * incomplete items), not a silently wrong statistic.
    *
    * 100 TB shape: ONE row-scale aggregate to (item × category) cells,
    * then item-level and category-level cell aggregates — item and
    * category cardinality unbounded, nothing collected but the output
    * row. Everything replays in two-level SQL. Returns one row:
    * (items, raters, categories, p_bar, p_e, kappa). */
  def fleissKappa(df: DataFrame, item: Column, category: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.filter(item.isNotNull && category.isNotNull)
      .groupBy(item.cast("string").as("i"), category.cast("string").as("c"))
      .agg(count(lit(1)).as("n"))
    cells.persist()
    try {
      val items = cells.groupBy(col("i"))
        .agg(sum(col("n")).as("ni"), sum(col("n") * col("n")).as("ni2"))
      val it = items.agg(count(lit(1)).as("items"),
        min(col("ni")).as("mn"), max(col("ni")).as("mx"),
        sum(col("ni2")).as("s2"), sum(col("ni")).as("tot")).head()
      val nItems = it.getAs[Long]("items")
      require(nItems >= 2, s"fleiss_kappa: need at least 2 items, got $nItems")
      val n = it.getAs[Long]("mn")
      require(n == it.getAs[Long]("mx"),
        s"fleiss_kappa: items have unequal rating counts (${it.getAs[Long]("mn")}" +
          s"..${it.getAs[Long]("mx")}) — the Fleiss formula needs a fixed " +
          "panel size; drop incomplete items upstream")
      require(n >= 2, "fleiss_kappa: each item needs at least 2 ratings")
      val nd = n.toDouble
      // P̄ = mean over items of (Σn_ic² − n)/(n(n−1)) — Σ over ALL items'
      // squared cells is already in s2
      val pBar = (it.getAs[Long]("s2").toDouble - nItems * nd) /
        (nItems * nd * (nd - 1))
      val total = it.getAs[Long]("tot").toDouble
      val catr = cells.groupBy(col("c")).agg(sum(col("n")).as("nc"))
        .agg(count(lit(1)).as("k"),
          sum(col("nc").cast("double") * col("nc") / (total * total)))
        .head()
      val pe = catr.getDouble(1)
      require(pe < 1.0,
        "fleiss_kappa: every rating is the same category — agreement is " +
          "undefined")
      val kappa = (pBar - pe) / (1 - pe)
      Seq((nItems, n, catr.getAs[Long]("k"), pBar, pe, kappa))
        .toDF("items", "raters", "categories", "p_bar", "p_e", "kappa")
    } finally {
      cells.unpersist()
      ()
    }
  }

  /** Bland–Altman agreement for two continuous measurements of the same
    * quantity (Bland & Altman 1986) — the method-swap calibration check
    * (new sensor vs old, cheap model score vs expensive one) that a
    * correlation coefficient does NOT answer:
    *
    *   bias = mean(b − a),   LoA = bias ± 1.96·sd(b − a),
    *
    * plus the observed share of rows inside the limits (≈95% when the
    * differences are normal — a much lower share flags heavy tails or
    * level-dependent bias). TWO row-scale aggregates (moments, then the
    * within-LoA share against the literal limits) + driver closed forms;
    * everything replays in plain SQL. Returns one row: (n, bias, sd,
    * loa_lower, loa_upper, pct_within). */
  def blandAltman(df: DataFrame, a: Column, b: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dd = b.cast("double") - a.cast("double")
    val r1 = df.filter(dd.isNotNull).agg(count(lit(1)).as("n"),
      avg(dd).as("bias"), stddev_samp(dd).as("sd")).head()
    val n = r1.getAs[Long]("n")
    require(n >= 3, s"bland_altman: need at least 3 complete pairs, got $n")
    val bias = r1.getAs[Double]("bias")
    val sd = r1.getAs[Double]("sd")
    require(sd > 0, "bland_altman: the two measurements differ by a " +
      "constant — agreement is exact up to that bias")
    val lo = bias - 1.959963984540054 * sd
    val hi = bias + 1.959963984540054 * sd
    val within = df.filter(dd.isNotNull)
      .agg(sum(when(dd.between(lo, hi), 1L).otherwise(0L))).head().getLong(0)
    Seq((n, bias, sd, lo, hi, within.toDouble / n))
      .toDF("n", "bias", "sd", "loa_lower", "loa_upper", "pct_within")
  }

  /** Cochran's Q test (Cochran 1950) — k matched binary treatments on the
    * same blocks: "do any of the k models/checkers/prompts differ in pass
    * rate on the SAME examples" — the k-way generalization of [[mcnemar]]
    * (k = 2 reduces to McNemar's χ² without continuity, pinned in the
    * spec):
    *
    *   Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²)  ~  χ²_{k−1}
    *
    * (C_j = per-treatment success totals, R_i = per-block totals,
    * N = ΣC = ΣR). Blocks must carry ALL k treatments — incomplete
    * blocks are a named error (fix the join), not a silent bias.
    *
    * 100 TB shape: ONE row-scale aggregate to (block) cells + ONE to
    * (treatment) cells — block cardinality unbounded, treatments are the
    * k-sized family. Returns one row: (blocks, k, n_success, q, df,
    * p_value). */
  def cochranQ(df: DataFrame, block: Column, treatment: Column,
               y: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val yi = y.cast("int")
    val base = df.filter(block.isNotNull && treatment.isNotNull &&
        yi.isNotNull)
      .select(block.cast("string").as("__b"),
        treatment.cast("string").as("__t"), yi.as("__y"))
    val rows = base.groupBy(col("__b"))
      .agg(count(lit(1)).as("kk"), sum(col("__y")).as("ri"),
        sum(when(col("__y") =!= 0 && col("__y") =!= 1, 1L).otherwise(0L))
          .as("bad"))
    val ragg = rows.agg(count(lit(1)).as("blocks"),
      min(col("kk")).as("kmin"), max(col("kk")).as("kmax"),
      sum(col("ri")).as("n"), sum(col("ri") * col("ri")).as("r2"),
      sum(col("bad")).as("bad")).head()
    require(ragg.getAs[Long]("bad") == 0,
      s"cochran_q: ${ragg.getAs[Long]("bad")} rows have y outside {0, 1}")
    val k = ragg.getAs[Long]("kmin")
    require(k == ragg.getAs[Long]("kmax"),
      s"cochran_q: blocks carry unequal treatment counts ($k.." +
        s"${ragg.getAs[Long]("kmax")}) — every block needs all k " +
        "treatments; drop incomplete blocks upstream")
    require(k >= 2, "cochran_q: need at least 2 treatments per block")
    val cagg = base.groupBy(col("__t")).agg(sum(col("__y")).as("cj"))
      .agg(count(lit(1)).as("kt"),
        sum(col("cj") * col("cj")).cast("double").as("c2")).head()
    require(cagg.getAs[Long]("kt") == k,
      "cochran_q: treatment count disagrees with the per-block panel size")
    val nTot = ragg.getAs[Long]("n").toDouble
    val denom = k * nTot - ragg.getAs[Long]("r2").toDouble
    require(denom > 0,
      "cochran_q: every block is all-0 or all-1 — no within-block " +
        "variation to test")
    val q = (k - 1) * (k * cagg.getAs[Double]("c2") - nTot * nTot) / denom
    val p = 1.0 - graft.stats.Dist.chiSqCdf(q, (k - 1).toDouble)
    Seq((ragg.getAs[Long]("blocks"), k, ragg.getAs[Long]("n"), q, k - 1, p))
      .toDF("blocks", "k", "n_success", "q", "df", "p_value")
  }

  /** Cronbach's alpha (Cronbach 1951) — internal-consistency reliability
    * of a k-item scale (k rubric scores, k quality heuristics meant to
    * measure one construct):
    *
    *   α = k/(k−1) · (1 − Σ_i Var(item_i) / Var(Σ_i item_i))
    *
    * α → 1 when the items co-vary (one construct); α ≈ 0 when they are
    * independent noise. Listwise-complete rows only. ONE moments
    * aggregate (each item's sum/sumsq + the row-total's), driver closed
    * form; everything replays in plain SQL. Returns one row:
    * (n, k, sum_item_var, total_var, alpha). */
  def cronbachAlpha(df: DataFrame, items: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = items.length
    require(k >= 2, s"cronbach_alpha: need at least 2 items, got $k")
    val its = items.map(_.cast("double"))
    val complete = its.map(_.isNotNull).reduce(_ && _)
    val total = its.reduce(_ + _)
    val aggs = its.zipWithIndex.flatMap { case (c, i) =>
      Seq(sum(c).as(s"s$i"), sum(c * c).as(s"q$i"))
    } ++ Seq(sum(total).as("st"), sum(total * total).as("qt"),
      count(lit(1)).as("n"))
    val r = df.filter(complete).agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Long]("n")
    require(n >= 3, s"cronbach_alpha: need at least 3 complete rows, got $n")
    val nd = n.toDouble
    def v(s: Double, q: Double): Double = (q - s * s / nd) / (nd - 1)
    val itemVar = (0 until k)
      .map(i => v(r.getAs[Double](s"s$i"), r.getAs[Double](s"q$i"))).sum
    val totalVar = v(r.getAs[Double]("st"), r.getAs[Double]("qt"))
    require(totalVar > 0,
      "cronbach_alpha: the item total is constant — reliability undefined")
    val alpha = k / (k - 1.0) * (1.0 - itemVar / totalVar)
    Seq((n, k.toLong, itemVar, totalVar, alpha))
      .toDF("n", "k", "sum_item_var", "total_var", "alpha")
  }

  /** Kendall's τ-b (Kendall 1945, the tie-corrected form) — ordinal
    * association for DISCRETE pairs (quality tier vs human grade, bucket
    * vs bucket), where [[RankTests.spearman]]'s moment form treats ranks
    * as interval. Over the (x, y) contingency cells:
    *
    *   C/D = Σ_{cell pairs} n_i n_j over concordant/discordant pairs,
    *   τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂)),
    *   n₀ = n(n−1)/2,  n₁ = Σ_x t_x(t_x−1)/2,  n₂ = Σ_y t_y(t_y−1)/2
    *
    * Inference: S = C − D under the null of independence conditional on
    * BOTH tie-marginal structures has the exact permutation variance
    * (Kendall, "Rank Correlation Methods" ch. 4 — the τ sibling of
    * [[graft.ops.Drift.mannKendall]]'s tie-corrected Var(S)):
    *
    *   Var(S) = [n(n−1)(2n+5) − Σt(t−1)(2t+5) − Σu(u−1)(2u+5)] / 18
    *          + [Σt(t−1)(t−2)][Σu(u−1)(u−2)] / (9n(n−1)(n−2))
    *          + [Σt(t−1)][Σu(u−1)] / (2n(n−1))
    *
    * (t over x-marginals, u over y-marginals; spec-validated against the
    * full permutation enumeration of S on a tied fixture). z = S/√Var(S)
    * with no continuity correction — at cell scale the ±1 correction is
    * noise and the uncorrected z replays exactly in SQL.
    *
    * 100 TB shape: ONE row-scale aggregate to (x, y) cells; the O(cells²)
    * concordance sweep is driver-side and guarded by `maxCells` BEFORE
    * collection (the ordinalAssoc idiom — τ-b is for DISCRETE columns;
    * bucket continuous ones first). Returns one row:
    * (n, cells, concordant, discordant, ties_x, ties_y, tau_b, var_s, z,
    * p_value). */
  def kendallTau(df: DataFrame, x: Column, y: Column,
                 maxCells: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val xs = x.cast("string"); val ys = y.cast("string")
    val xd = x.cast("double"); val yd = y.cast("double")
    // order cells by the NUMERIC value when castable, else lexically —
    // both sides of a pair use the same order so the choice only has to
    // be consistent
    val cells = Cells.rowsOrFail(df.filter(xs.isNotNull && ys.isNotNull)
      .groupBy(coalesce(xd.cast("string"), xs).as("x"),
        coalesce(yd.cast("string"), ys).as("y"))
      .agg(count(lit(1)).as("c")), maxCells,
      s"kendall_tau: more than $maxCells distinct (x, y) cells — τ-b is " +
        "for discrete columns; bucket continuous inputs first (or raise " +
        "maxCells knowingly)")
    require(cells.nonEmpty, "kendall_tau: no complete pairs")
    def key(s: String): (Double, String) = {
      val d = try s.toDouble catch { case _: Throwable => Double.NaN }
      if (d.isNaN) (Double.MaxValue, s) else (d, "")
    }
    val cs = cells.map(r => (key(r.getString(0)), key(r.getString(1)),
      r.getLong(2)))
    val n = cs.map(_._3).sum
    var conc = 0L; var disc = 0L
    var i = 0
    while (i < cs.length) {
      var j = i + 1
      while (j < cs.length) {
        val cmpX = Ordering[(Double, String)].compare(cs(i)._1, cs(j)._1)
        val cmpY = Ordering[(Double, String)].compare(cs(i)._2, cs(j)._2)
        if (cmpX != 0 && cmpY != 0) {
          if (cmpX == cmpY) conc += cs(i)._3 * cs(j)._3
          else disc += cs(i)._3 * cs(j)._3
        }
        j += 1
      }
      i += 1
    }
    def tiePairs(group: ((Double, String), (Double, String), Long) => (Double, String)): Long =
      cs.groupBy(c => group(c._1, c._2, c._3)).values
        .map(g => { val t = g.map(_._3).sum; t * (t - 1) / 2 }).sum
    val n1 = tiePairs((a, _, _) => a)
    val n2 = tiePairs((_, b, _) => b)
    val n0 = n * (n - 1) / 2
    require(n0 > n1 && n0 > n2,
      "kendall_tau: a column is constant — τ-b is undefined")
    val tau = (conc - disc).toDouble /
      math.sqrt((n0 - n1).toDouble * (n0 - n2).toDouble)
    // tie-corrected null Var(S): marginal moments in DOUBLE (t can be
    // ~n, and t(t-1)(2t+5) wraps Long past ~2e6 rows on one margin)
    def marginMoments(group: ((Double, String), (Double, String)) => (Double, String))
      : (Double, Double, Double) = {
      val ts = cs.groupBy(c => group(c._1, c._2)).values
        .map(_.map(_._3).sum.toDouble)
      (ts.map(t => t * (t - 1)).sum,
        ts.map(t => t * (t - 1) * (2 * t + 5)).sum,
        ts.map(t => t * (t - 1) * (t - 2)).sum)
    }
    val (t1, t2, t3) = marginMoments((a, _) => a)
    val (u1, u2, u3) = marginMoments((_, b) => b)
    val nd = n.toDouble
    var varS = (nd * (nd - 1) * (2 * nd + 5) - t2 - u2) / 18.0
    if (n > 2)
      varS += t3 * u3 / (9.0 * nd * (nd - 1) * (nd - 2))
    varS += t1 * u1 / (2.0 * nd * (nd - 1))
    require(varS > 0, "kendall_tau: the null variance is degenerate")
    val z = (conc - disc) / math.sqrt(varS)
    val p = 2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z)))
    Seq((n, cs.length.toLong, conc, disc, n1, n2, tau, varS, z, p))
      .toDF("n", "cells", "concordant", "discordant", "ties_x", "ties_y",
        "tau_b", "var_s", "z", "p_value")
  }

  /** Bowker's symmetry test (1948) — the k-category generalization of
    * [[SimpleTests]]' McNemar: for PAIRED categorical ratings (model A's
    * label vs model B's label on the same items), tests whether
    * disagreements are symmetric (A→x,B→y as often as A→y,B→x):
    *
    *   χ² = Σ_{i<j} (n_ij − n_ji)² / (n_ij + n_ji)  ~ χ²(df),
    *   df = #{i<j : n_ij + n_ji > 0}
    *
    * At k = 2 this is exactly McNemar's uncorrected statistic
    * (spec-pinned). 100 TB shape: ONE (a, b) cell aggregate, off-diagonal
    * pairing is a cell self-join — category cardinality bounded by the
    * label space, not the data. Returns one row:
    * (n, categories, chisq, df, p_value). */
  def bowkerTest(df: DataFrame, a: Column, b: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val as = a.cast("string"); val bs = b.cast("string")
    val cells = df.filter(as.isNotNull && bs.isNotNull)
      .groupBy(as.as("a"), bs.as("b")).agg(count(lit(1)).as("c"))
    val lo = cells.select(least(col("a"), col("b")).as("i"),
      greatest(col("a"), col("b")).as("j"),
      when(col("a") < col("b"), col("c")).otherwise(lit(0L)).as("up"),
      when(col("a") > col("b"), col("c")).otherwise(lit(0L)).as("dn"))
      .filter(col("i") =!= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("up")).as("nij"), sum(col("dn")).as("nji"))
      .filter(col("nij") + col("nji") > 0)
    val r = cells.agg(sum(col("c")).as("n")).head()
    val n = r.getAs[Long]("n")
    require(n > 0, "bowker_test: no complete pairs")
    val terms = lo.agg(
      sum(pow(col("nij") - col("nji"), 2) /
        (col("nij") + col("nji")).cast("double")).as("chisq"),
      count(lit(1)).as("df")).head()
    val dfree = terms.getAs[Long]("df")
    require(dfree > 0,
      "bowker_test: no off-diagonal disagreement — symmetry is trivially " +
        "satisfied and the test is undefined")
    val chisq =
      if (terms.isNullAt(0)) 0.0 else terms.getAs[Double]("chisq")
    val kAll = cells.select(col("a").as("v"))
      .union(cells.select(col("b").as("v"))).distinct().count()
    val p = 1.0 - graft.stats.Dist.chiSqCdf(chisq, dfree.toDouble)
    Seq((n, kAll, chisq, dfree, p))
      .toDF("n", "categories", "chisq", "df", "p_value")
  }

  /** Lin's concordance correlation coefficient (Lin 1989) — "does y not
    * just CORRELATE with x but actually EQUAL it": the agreement measure
    * for calibration-style comparisons (cheap scorer vs gold score,
    * student model vs teacher), where Pearson r is blind to scale and
    * location bias:
    *
    *   CCC = 2 s_xy / (s_x² + s_y² + (x̄ − ȳ)²),   C_b = CCC / r
    *
    * (population moments, Lin's original form). ONE moment aggregate.
    * Returns one row: (n, pearson_r, ccc, c_b, location_shift,
    * scale_shift). */
  def linCcc(df: DataFrame, x: Column, y: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val xd = x.cast("double"); val yd = y.cast("double")
    val r = df.filter(xd.isNotNull && yd.isNotNull)
      .agg(count(lit(1)).as("n"), avg(xd).as("mx"), avg(yd).as("my"),
        var_pop(xd).as("vx"), var_pop(yd).as("vy"),
        covar_pop(xd, yd).as("cxy")).head()
    val n = r.getAs[Long]("n")
    require(n >= 2, s"lin_ccc: need at least 2 complete pairs, got $n")
    val (mx, my) = (r.getAs[Double]("mx"), r.getAs[Double]("my"))
    val (vx, vy) = (r.getAs[Double]("vx"), r.getAs[Double]("vy"))
    val cxy = r.getAs[Double]("cxy")
    require(vx > 0 && vy > 0, "lin_ccc: a column is constant")
    val pr = cxy / math.sqrt(vx * vy)
    val ccc = 2.0 * cxy / (vx + vy + (mx - my) * (mx - my))
    // Lin's decomposition: v = scale shift, u = location shift (in the
    // geometric-mean sd unit); C_b = CCC / r is the bias-correction
    // factor — how far the best-fit line sits from the 45° identity
    val v = math.sqrt(vx / vy)
    val u = (mx - my) / math.pow(vx * vy, 0.25)
    val cb = if (pr != 0.0) ccc / pr else Double.NaN
    Seq((n, pr, ccc, cb, u, v))
      .toDF("n", "pearson_r", "ccc", "c_b", "location_shift", "scale_shift")
  }

  /** Krippendorff's alpha, nominal data (Krippendorff 2004 §11) — the
    * inter-annotator agreement coefficient that [[cohensKappa]] (exactly
    * 2 raters, no missing) and [[fleissKappa]] (fixed rater count per
    * item) cannot give a labeling operation with RAGGED coverage: any
    * number of raters, any subset rating each unit. In coincidence form,
    * over units with m_u ≥ 2 ratings:
    *
    *   n    = Σ_u m_u,      n_c = Σ_u c_c(u)   (value marginals)
    *   D_o  = 1 − Σ_u Σ_c c_c(u)(c_c(u)−1)/(m_u−1) / n
    *   D_e  = 1 − Σ_c n_c(n_c−1) / (n(n−1))
    *   α    = 1 − D_o / D_e
    *
    * (the spec validates this against a first-principles enumeration of
    * all within-unit rating pairs — formula checked, not recalled).
    * 100 TB shape: ONE groupBy(unit, value) + ONE groupBy(unit) join,
    * then a values-keyed aggregate; unit and value cardinality
    * unbounded, O(1) driver state. Single-rating units drop out, as the
    * method defines. Returns one row:
    * (units, n, n_values, d_o, d_e, alpha). */
  def krippendorffAlpha(df: DataFrame, unit: Column, value: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.filter(unit.isNotNull && value.isNotNull)
      .groupBy(unit.as("u"), value.cast("string").as("v"))
      .agg(count(lit(1)).as("c"))
    val withTot = cells
      .join(cells.groupBy(col("u")).agg(sum(col("c")).as("m")), "u")
      .filter(col("m") >= 2)
    // observed coincidences + value marginals in one cell-scale pass
    val perValue = withTot.groupBy(col("v"))
      .agg(sum(col("c") * (col("c") - 1) / (col("m") - 1)).as("occ"),
        sum(col("c")).as("nc"))
    // npairs in DOUBLE: nc*(nc-1) in Long wraps silently past ~3e9
    // ratings on one value (non-ANSI Spark), corrupting d_e at corpus
    // scale — float rounding degrades gracefully, wraparound does not
    val r = perValue.agg(sum(col("occ")).as("occ"),
      sum(col("nc")).as("n"),
      sum(col("nc").cast("double") * (col("nc") - 1)).as("npairs"),
      count(lit(1)).as("nv")).head()
    require(!r.isNullAt(1), "krippendorff: no unit has 2+ ratings")
    val n = r.getAs[Long]("n").toDouble
    val units = withTot.select(col("u")).distinct().count()
    require(n >= 2, s"krippendorff: need at least 2 ratings, got $n")
    val dO = 1.0 - r.getAs[Double]("occ") / n
    val dE = 1.0 - r.getAs[Double]("npairs") / (n * (n - 1))
    require(dE > 0,
      "krippendorff: every rating has the same value — agreement is undefined")
    val alpha = 1.0 - dO / dE
    Seq((units, n.toLong, r.getAs[Long]("nv"), dO, dE, alpha))
      .toDF("units", "n", "n_values", "d_o", "d_e", "alpha")
  }
}
