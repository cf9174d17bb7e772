package graft.ops

import graft.stats.Cells
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Classifier / feature diagnostics from the reference's ML-utility tier:
  * ROC curve + AUC (lib/ml_spark.py:20-74 `ROC_curve`) and the pairwise
  * Pearson correlation matrix (lib/tools.py:489-521
  * `find_correlation_matrix`; the heatmap draw is display-side and out of
  * scope).
  *
  * Scale shape — the reference's ROC SQL `ARRAY JOIN`s ~1000 thresholds
  * against every row (a 1000× row amplification into the aggregate).
  * Here each row folds the sorted threshold array ONCE inside codegen to
  * its coverage index (#thresholds ≤ score — K multiply-adds per row, no
  * amplification), a groupBy collapses to ≤ K+1 cells, and the confusion
  * counts per threshold are suffix sums over that cell table on the
  * driver. One scan; the shuffle carries cells, not rows.
  */
object MlEval {

  /** ROC curve: for each threshold t, the confusion quadrant of the rule
    * `predict positive iff score ≥ t` (ml_spark.py:39-46), with
    * tpr/fpr. Thresholds default to `nThresholds` score quantiles
    * (deduplicated, like the reference's `quantiles(0..1)(P)`); pass an
    * explicit list for reproducible curves. Rows with a null label or
    * score are dropped listwise. Returns (threshold, tp, fp, tn, fn,
    * tpr, fpr) ordered by threshold. */
  def rocCurve(df: DataFrame, label: Column, score: Column,
               thresholds: Seq[Double] = Nil,
               nThresholds: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(label.cast("int").as("mm_l"),
        score.cast("double").as("mm_s"))
      .filter(col("mm_l").isNotNull && col("mm_s").isNotNull)
    val ts: Array[Double] =
      if (thresholds.nonEmpty) thresholds.distinct.sorted.toArray
      else {
        val ps = (0 to nThresholds).map(_.toDouble / nThresholds)
        val r = base.agg(expr(s"approx_percentile(mm_s, array(${ps.mkString(",")}), 10000)"))
          .head()
        // empty input → no quantiles → empty curve, not an NPE
        if (r.isNullAt(0)) Array.empty[Double]
        else r.getSeq[Double](0).distinct.sorted.toArray
      }
    if (ts.isEmpty)
      return Seq.empty[(Double, Long, Long, Long, Long, Double, Double)]
        .toDF("threshold", "tp", "fp", "tn", "fn", "tpr", "fpr")
    // coverage index = #thresholds ≤ score, via the codegen'd binarySearch
    // kernel (see SearchExprs for why the fold and when-tree forms lose)
    val idx = graft.expr.SearchExprs.sortedCoverageCount(col("mm_s"), ts)
    val cells = base.withColumn("idx", idx)
      .groupBy(col("idx"))
      .agg(sum(when(col("mm_l") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("mm_l") === 0, 1L).otherwise(0L)).as("n0"))
      .collect()                       // ≤ K+1 cells, bounded by thresholds
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val p = cells.map(_._2).sum
    val n = cells.map(_._3).sum
    // row with coverage idx contributes to TP at threshold j (0-based)
    // iff idx ≥ j+1: suffix sums over the cell table
    val byIdx = cells.map(c => c._1 -> (c._2, c._3)).toMap
    var tp = 0L; var fp = 0L
    val suffix = new Array[(Long, Long)](ts.length + 1)
    for (i <- ts.length to 0 by -1) {
      val (a, b) = byIdx.getOrElse(i, (0L, 0L))
      tp += a; fp += b
      suffix(i) = (tp, fp)
    }
    val rows = ts.zipWithIndex.map { case (t, j) =>
      val (tpj, fpj) = suffix(j + 1)
      (t, tpj, fpj, n - fpj, p - tpj,
        if (p > 0) tpj.toDouble / p else Double.NaN,
        if (n > 0) fpj.toDouble / n else Double.NaN)
    }
    rows.toSeq.toDF("threshold", "tp", "fp", "tn", "fn", "tpr", "fpr")
  }

  /** Precision–recall curve + average precision (the class-imbalance
    * readout ROC hides: with 0.1% positives a 0.9 AUC can still mean
    * useless precision). Same bounded cell construction as [[rocCurve]];
    * precision at an empty prediction set is 1.0 (the sklearn
    * convention), and AP is the step integral Σ(R_i − R_{i−1})·P_i over
    * DESCENDING thresholds (R_0 = 0) — emitted as a constant column the
    * way [[rocCurve]]'s q100 oracle carries auc. Returns one row per
    * threshold: (threshold, tp, fp, fn, precision, recall, f1, ap). */
  def prCurve(df: DataFrame, label: Column, score: Column,
              thresholds: Seq[Double] = Nil,
              nThresholds: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val roc = rocCurve(df, label, score, thresholds, nThresholds)
      .select(col("threshold"), col("tp"), col("fp"), col("fn"))
      .collect() // bounded by the threshold count, like rocCurve's cells
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(-_._1)
    var ap = 0.0
    var prevR = 0.0
    val rows = roc.map { case (t, tp, fp, fn) =>
      val p = if (tp + fp > 0) tp.toDouble / (tp + fp) else 1.0
      val r = if (tp + fn > 0) tp.toDouble / (tp + fn) else Double.NaN
      if (!r.isNaN) { ap += (r - prevR) * p; prevR = r }
      val f1 = if (p + r > 0) 2 * p * r / (p + r) else 0.0
      (t, tp, fp, fn, p, r, f1)
    }
    rows.toSeq
      .toDF("threshold", "tp", "fp", "fn", "precision", "recall", "f1")
      .withColumn("ap", lit(ap))
  }

  /** Area under the ROC curve: trapezoid over (fpr, tpr) sorted ascending
    * with the (0,0) and (1,1) rail points appended (the reference plots
    * the same sorted pairs; AUC is their integral). */
  def rocAuc(roc: DataFrame): Double = {
    val pts = roc.select(col("fpr").cast("double"), col("tpr").cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val all = ((0.0, 0.0) +: pts :+ (1.0, 1.0)).distinct.sorted
    all.sliding(2).collect { case Array((x0, y0), (x1, y1)) =>
      (x1 - x0) * (y0 + y1) / 2.0
    }.sum
  }

  /** Pairwise Pearson correlation matrix in ONE scan (tools.py:489-521):
    * the (k+1)-wide Gram matrix [cols, 1]ᵀ[cols, 1] carries every Σxᵢxⱼ,
    * Σxᵢ and n, and each pair finishes closed-form on the driver. Returns
    * the full k×k long form (x_col, y_col, corr), diagonal = 1. */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = cols.size
    require(k >= 2, "corrMatrix needs at least 2 columns")
    val m = df.agg(graft.functions.matrix_multiplication(
        cols.map(_._2.cast("double")) :+ lit(1.0)).getField("matrix").as("m"))
      .head().getSeq[Seq[Double]](0)
    val nTot = m(k)(k)
    def cov(i: Int, j: Int): Double = m(i)(j) - m(i)(k) * m(j)(k) / nTot
    val rows = for (i <- 0 until k; j <- 0 until k) yield {
      val r =
        if (i == j) 1.0
        else cov(i, j) / math.sqrt(cov(i, i) * cov(j, j))
      (cols(i)._1, cols(j)._1, r)
    }
    rows.toDF("x_col", "y_col", "corr")
  }

  /** Partial correlation of (x, y) CONTROLLING for covariates — "is the
    * metric correlation real or is it all the confounder": the
    * correlation between the residuals of x and y after each is
    * regressed on the controls, computed WITHOUT fitting either
    * regression. From the precision matrix P = R⁻¹ of the full
    * correlation matrix over (x, y, controls):
    *
    *   r_xy·Z = −P₀₁ / √(P₀₀ P₁₁),   t = r√(df)/√(1−r²),  df = n−2−k
    *
    * (equivalent to the textbook recursive formula at any k — the spec
    * pins the k = 2 recursion against this closed form). ONE Gram-matrix
    * pass (the [[corrMatrix]] scan); the (k+2)² solve is driver-side.
    * Rows with any null among the inputs drop listwise. Returns one row:
    * (n, r_xy, partial_r, t_stat, df, p_value). */
  def partialCorr(df: DataFrame, x: Column, y: Column,
                  controls: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(controls.nonEmpty, "partial_corr: need at least one control")
    val all = (x +: y +: controls).map(_.cast("double"))
    val k = all.size
    val complete = all.map(_.isNotNull).reduce(_ && _)
    val m = df.filter(complete)
      .agg(graft.functions.matrix_multiplication(all :+ lit(1.0))
        .getField("matrix").as("m"))
      .head().getSeq[Seq[Double]](0)
    val nTot = m(k)(k)
    val n = math.round(nTot)
    require(n > 2 + controls.size,
      s"partial_corr: need n > ${2 + controls.size} complete rows, got $n")
    def cov(i: Int, j: Int): Double = m(i)(j) - m(i)(k) * m(j)(k) / nTot
    val sd = (0 until k).map(i => math.sqrt(cov(i, i)))
    require(sd.forall(_ > 0),
      "partial_corr: a column is constant (zero variance)")
    val r = Array.tabulate(k, k)((i, j) =>
      if (i == j) 1.0 else cov(i, j) / (sd(i) * sd(j)))
    val p = graft.stats.LinAlg.invert(r)
    val pr = -p(0)(1) / math.sqrt(p(0)(0) * p(1)(1))
    val dof = (n - 2 - controls.size).toDouble
    val t = pr * math.sqrt(dof) / math.sqrt(math.max(1e-300, 1.0 - pr * pr))
    val pv = graft.stats.Dist.tTwoSidedP(t, dof)
    Seq((n, r(0)(1), pr, t, dof, pv))
      .toDF("n", "r_xy", "partial_r", "t_stat", "df", "p_value")
  }

  /** Brier score with the Murphy (1973) decomposition — the proper-score
    * companion to [[calibration]]'s ECE: grouping by the DISTINCT
    * forecast values (exact, not binned — so the identity holds to
    * machine precision),
    *
    *   Brier = REL − RES + UNC,
    *   REL = Σ n_f (f − ō_f)²/n,  RES = Σ n_f (ō_f − ō)²/n,
    *   UNC = ō(1 − ō)
    *
    * REL is miscalibration (punished), RES is discrimination (rewarded),
    * UNC the irreducible base-rate term. Forecast cardinality is guarded
    * (a continuous score has ~n distinct values — bucket it first, the
    * error says so). ONE row-scale aggregate to forecast cells. Returns
    * one row: (n, brier, reliability, resolution, uncertainty,
    * base_rate). */
  def brierDecomposition(df: DataFrame, label: Column, forecast: Column,
                         maxForecasts: Long = 10000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val y = label.cast("double"); val f = forecast.cast("double")
    val cells = df.filter(y.isNotNull && f.isNotNull &&
        f >= 0.0 && f <= 1.0)
      .groupBy(f.as("f"))
      .agg(count(lit(1)).as("nf"), avg(y).as("of"))
    val kCells = cells.limit((maxForecasts + 1).toInt).count()
    require(kCells <= maxForecasts,
      s"brier_decomposition: more than $maxForecasts distinct forecast " +
        "values — the exact Murphy decomposition is for DISCRETE " +
        "forecasts; bucket a continuous score first (cut_bins)")
    require(kCells > 0, "brier_decomposition: no rows in [0, 1]")
    val tot = cells.agg(sum(col("nf")).as("n"),
      (sum(col("of") * col("nf")) / sum(col("nf"))).as("obar")).head()
    val n = tot.getAs[Long]("n")
    val obar = tot.getAs[Double]("obar")
    val terms = cells.agg(
      (sum(col("nf") * pow(col("f") - col("of"), 2)) / n.toDouble).as("rel"),
      (sum(col("nf") * pow(col("of") - obar, 2)) / n.toDouble).as("res"))
      .head()
    val rel = terms.getAs[Double]("rel")
    val res = terms.getAs[Double]("res")
    val unc = obar * (1.0 - obar)
    Seq((n, rel - res + unc, rel, res, unc, obar))
      .toDF("n", "brier", "reliability", "resolution", "uncertainty",
        "base_rate")
  }

  /** NDCG@k (Järvelin & Kekäläinen 2002) — graded ranking quality per
    * query, the retrieval-eval row beside [[rocAuc]]/[[prCurve]]'s
    * binary classification tier (RAG retrievers, dedup candidate
    * rankers, search):
    *
    *   DCG@k = Σ_{pos ≤ k} (2^rel − 1)/log₂(pos + 1),
    *   NDCG = DCG / IDCG  (IDCG = DCG of the relevance-sorted ideal;
    *   0 when the query has no relevant items)
    *
    * Ranking ties break by item id BOTH for the ranking (score desc, id
    * asc) and the ideal (rel desc, id asc) — deterministic, replayable.
    * 100 TB shape: two windows PARTITIONED BY QUERY (never global) + one
    * per-query aggregate; query cardinality unbounded. Returns one row
    * per query: (query, n_items, dcg, idcg, ndcg). */
  def ndcg(df: DataFrame, query: Column, item: Column, score: Column,
           rel: Column, k: Int = 10): DataFrame = {
    require(k >= 1, s"ndcg: k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
    val q = query.as("query"); val it = item.as("item")
    val base = df.filter(query.isNotNull && item.isNotNull &&
        score.isNotNull && rel.isNotNull)
      .select(q, it, score.cast("double").as("score"),
        rel.cast("double").as("rel"))
    val gain = (pow(lit(2.0), col("rel")) - 1.0) /
      log2(col("pos").cast("double") + 1.0)
    val ranked = base
      .withColumn("pos", row_number().over(w.partitionBy(col("query"))
        .orderBy(col("score").desc, col("item").asc)))
      .withColumn("ipos", row_number().over(w.partitionBy(col("query"))
        .orderBy(col("rel").desc, col("item").asc)))
    val dcg = ranked.filter(col("pos") <= k)
      .groupBy(col("query"))
      .agg(sum(gain).as("dcg"))
    val igain = (pow(lit(2.0), col("rel")) - 1.0) /
      log2(col("ipos").cast("double") + 1.0)
    val idcg = ranked.filter(col("ipos") <= k)
      .groupBy(col("query"))
      .agg(count(lit(1)).as("n_items_topk"), sum(igain).as("idcg"))
    val counts = base.groupBy(col("query")).agg(count(lit(1)).as("n_items"))
    counts.join(dcg, Seq("query"), "left").join(idcg, Seq("query"), "left")
      .select(col("query"), col("n_items"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        coalesce(col("idcg"), lit(0.0)).as("idcg"))
      .withColumn("ndcg", when(col("idcg") > 0.0, col("dcg") / col("idcg"))
        .otherwise(lit(0.0)))
      .orderBy(col("query"))
  }

  /** Binary-relevance retrieval eval — MRR, recall@k, precision@k and
    * hit-rate@k in one pass: the metrics a RAG retriever / dedup
    * candidate ranker reports beside [[ndcg]]'s graded tier. Per query,
    * items rank by (score desc, item asc) — the ndcg tie convention —
    * and queries with NO relevant item are counted but excluded from
    * every mean (the standard IR convention; their reciprocal rank and
    * recall are undefined, not zero).
    *
    * 100 TB shape: ONE window PARTITIONED BY QUERY (never global) + one
    * per-query aggregate + one O(1) summary; query cardinality
    * unbounded. Returns one row: (n_queries, n_scored, mrr, recall_at_k,
    * precision_at_k, hit_rate_at_k). */
  def retrievalEval(df: DataFrame, query: Column, item: Column,
                    score: Column, rel: Column, k: Int = 10): DataFrame = {
    require(k >= 1, s"retrieval_eval: k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
    val base = df.filter(query.isNotNull && item.isNotNull &&
        score.isNotNull && rel.isNotNull)
      .select(query.as("query"), item.as("item"),
        score.cast("double").as("score"),
        (rel.cast("double") > 0.0).cast("int").as("rel"))
    val ranked = base.withColumn("pos",
      row_number().over(w.partitionBy(col("query"))
        .orderBy(col("score").desc, col("item").asc)))
    val perQuery = ranked.groupBy(col("query")).agg(
      sum(col("rel")).as("n_rel"),
      min(when(col("rel") === 1, col("pos"))).as("first_rel"),
      sum(when(col("pos") <= k, col("rel")).otherwise(0)).as("rel_topk"))
    perQuery.agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("n_rel") > 0, 1L).otherwise(0L)).as("n_scored"),
        avg(when(col("n_rel") > 0, lit(1.0) / col("first_rel"))).as("mrr"),
        avg(when(col("n_rel") > 0,
          col("rel_topk").cast("double") / col("n_rel"))).as("recall_at_k"),
        avg(when(col("n_rel") > 0,
          col("rel_topk").cast("double") / k)).as("precision_at_k"),
        avg(when(col("n_rel") > 0,
          (col("rel_topk") > 0).cast("double"))).as("hit_rate_at_k"))
  }

  /** AUC with a DeLong (1988) confidence interval — the inference tier
    * [[MlWrappers.auc]]'s point estimate lacks: with the per-positive
    * placement values V10ᵢ = P̂(Xᵢ > Y) and per-negative V01ⱼ = P̂(X > Yⱼ)
    * (ties half-weighted),
    *
    *   Var(AUC) = S10/n₁ + S01/n₀   (S = sample variances of V10/V01)
    *
    * and the z/p are against H₀: AUC = 0.5. 100 TB shape: rows collapse
    * to distinct-score cells in ONE groupBy; the placement values ride
    * [[RangeCumSum]]'s two-phase prefix sums (no global window); two
    * cell-scale aggregates close it. Returns one row:
    * (n_pos, n_neg, auc, se, ci_low, ci_high, z, p_value). */
  def aucCi(df: DataFrame, label: Column, score: Column,
            alpha: Double = 0.05): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(alpha > 0 && alpha < 1, s"auc_ci: alpha in (0,1), got $alpha")
    val s = score.cast("double")
    val y = label.cast("int")
    // label-domain count rides the same cell aggregate and surfaces via
    // withCumSums' totals (the cells frame is persisted there, so the
    // check costs nothing extra) — a label of 2 or -1 must raise the
    // house named error, not silently count as a negative
    val cells = df.filter(s.isNotNull && !isnan(s) && y.isNotNull)
      .groupBy(s.as("v"))
      .agg(sum(when(y === 1, 1L).otherwise(0L)).cast("double").as("np"),
        sum(when(y === 1, 0L).otherwise(1L)).cast("double").as("nn"),
        sum(when(y =!= 0 && y =!= 1, 1L).otherwise(0L)).as("bad"))
    RangeCumSum.withCumSums(cells, Seq(col("v")), Seq("np", "nn", "bad")) {
      (cum, totals) =>
        require(totals("bad") == 0.0,
          s"auc_ci: ${totals("bad").toLong} rows have label outside {0, 1}")
        val n1 = totals("np"); val n0 = totals("nn")
        require(n1 >= 2 && n0 >= 2,
          s"auc_ci: need at least 2 of each class, got pos=$n1 neg=$n0")
        val v10 = (col("cum_nn") - col("nn") + col("nn") * 0.5) / n0
        val v01 = ((lit(n1) - col("cum_np")) + col("np") * 0.5) / n1
        val first = cum.agg(
          (sum(col("np") * v10) / n1).as("auc")).head().getDouble(0)
        val r = cum.agg(
          (sum(col("np") * (v10 - first) * (v10 - first)) / (n1 - 1)).as("s10"),
          (sum(col("nn") * (v01 - first) * (v01 - first)) / (n0 - 1)).as("s01"))
          .head()
        val se = math.sqrt(r.getAs[Double]("s10") / n1 +
          r.getAs[Double]("s01") / n0)
        val zq = graft.stats.Dist.normQuantile(1.0 - alpha / 2.0)
        val z = if (se > 0) (first - 0.5) / se else Double.NaN
        val p = if (se > 0)
          2.0 * (1.0 - graft.stats.Dist.normCdf(math.abs(z))) else Double.NaN
        Seq((n1.toLong, n0.toLong, first, se,
            math.max(0.0, first - zq * se), math.min(1.0, first + zq * se),
            z, p))
          .toDF("n_pos", "n_neg", "auc", "se", "ci_low", "ci_high", "z",
            "p_value")
    }
  }

  /** Isotonic calibration (pool-adjacent-violators; Ayer et al. 1955,
    * Zadrozny & Elkan 2002) — the CALIBRATOR beside [[calibration]]'s
    * table and [[hosmerLemeshow]]'s test: the monotone non-decreasing
    * map from score to P(label=1) that minimizes squared error, the
    * standard post-hoc fix when a ranker's scores order well but read
    * as probabilities badly.
    *
    * 100 TB shape: ONE groupBy to (distinct score) cells — n and the
    * positive count per cell — then the weighted PAVA runs on the
    * DRIVER over cells, guarded by `maxCells` BEFORE collection (the
    * ordinalAssoc idiom: isotonic regression is over score LEVELS;
    * bucket a continuous score first, or raise maxCells knowingly).
    * PAVA itself is the textbook stack algorithm, O(cells). Label
    * domain outside {0, 1} is a named error riding the cell pass.
    * Returns the mapping, one row per distinct score ascending:
    * (score, n, raw_rate, calibrated) — join it back on score (or
    * range-join for unseen scores) to apply. */
  def isotonicCalibrate(df: DataFrame, score: Column, label: Column,
                        maxCells: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val s = score.cast("double")
    val y = label.cast("int")
    val cellsDf = df.filter(s.isNotNull && !isnan(s) && y.isNotNull)
      .groupBy(s.as("v"))
      .agg(count(lit(1)).as("n"),
        sum(when(y === 1, 1L).otherwise(0L)).as("pos"),
        sum(when(y =!= 0 && y =!= 1, 1L).otherwise(0L)).as("bad"))
    val cells = Cells.rowsOrFail(cellsDf, maxCells,
      s"isotonic_calibrate: more than $maxCells distinct scores — " +
        "bucket the score first (or raise maxCells knowingly)")
    require(cells.nonEmpty, "isotonic_calibrate: no complete rows")
    val bad = cells.map(_.getAs[Long]("bad")).sum
    require(bad == 0,
      s"isotonic_calibrate: $bad rows have label outside {0, 1}")
    val sorted = cells.map(r => (r.getAs[Double]("v"), r.getAs[Long]("n"),
      r.getAs[Long]("pos"))).sortBy(_._1)
    // weighted PAVA: blocks of (weight, sum, startIdx); merge backwards
    // while the previous block's mean exceeds the new one's
    case class Block(w: Double, s: Double, from: Int) { def m: Double = s / w }
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    sorted.zipWithIndex.foreach { case ((_, n, pos), i) =>
      var b = Block(n.toDouble, pos.toDouble, i)
      while (stack.nonEmpty && stack.last.m >= b.m) {
        val p = stack.remove(stack.length - 1)
        b = Block(p.w + b.w, p.s + b.s, p.from)
      }
      stack += b
    }
    val fitted = new Array[Double](sorted.length)
    for (bi <- stack.indices) {
      val b = stack(bi)
      val end = if (bi + 1 < stack.length) stack(bi + 1).from
        else sorted.length
      (b.from until end).foreach(i => fitted(i) = b.m)
    }
    sorted.zipWithIndex.map { case ((v, n, pos), i) =>
      (v, n, pos.toDouble / n, fitted(i))
    }.toSeq.toDF("score", "n", "raw_rate", "calibrated")
  }

  /** Isotonic calibrate-then-score — the APPLY verb for
    * [[isotonicCalibrate]] (which returns the mapping and tells the
    * caller to "join it back"): fit the monotone map on `train`, then
    * score `target` (a held-out frame, tomorrow's traffic) including
    * scores never seen in training. Application is the step function the
    * PAVA fit actually is — calibrated(s) = the fitted value of the
    * LARGEST training score ≤ s (right-continuous, last-value carried
    * forward), scores below the smallest training score clamp to the
    * first block's value. Interpolating between blocks is a different
    * modeling choice (sklearn's default) this verb deliberately does not
    * make silently: the PAVA solution is piecewise constant.
    *
    * 100 TB shape: the fit is isotonicCalibrate's one cell pass
    * (maxCells-guarded); the mapping then COMPRESSES to its PAVA blocks
    * (one (lower-bound, value) pair per block — ≤ distinct scores, and
    * typically far fewer) and ships as two referenced arrays inside the
    * codegen [[graft.expr.SortedStepLookup]] expression, so application
    * is a handful of generated bytecodes per row (O(log blocks) binary
    * search): no join, no shuffle, no window, and — since r18 — no
    * ScalaUDF boxing on the target side, which is the verb's whole
    * design target (scoring tomorrow's traffic). Returns `target` plus
    * the `out` column (null where the target score is null/NaN). */
  /** Platt scaling — the PARAMETRIC sibling of [[isotonicScore]]
    * (Platt 1999): fit the 1-covariate logistic σ(a + b·score) on the
    * train frame, apply it to the target frame. Where isotonic needs
    * enough mass per step cell, Platt's two parameters stay stable on
    * small calibration sets, at the price of the sigmoid shape
    * assumption — ship both and read the calibration plot. The
    * logistic intercept score equation makes mean(calibrated) over the
    * TRAIN slice equal mean(label) EXACTLY (spec-pinned) — Platt
    * calibration cannot be globally biased.
    *
    * 100 TB shape: the [[MlWrappers.logisticIrls]] scans run on the
    * train side only; the apply is one per-row codegen sigmoid — no
    * join, no shuffle, no state on the target side. */
  def plattScore(train: DataFrame, score: Column, label: Column,
                 target: DataFrame, targetScore: Column,
                 out: String = "calibrated"): DataFrame = {
    val fit = MlWrappers.logisticIrls(train, label, Seq(score))
    require(fit.converged,
      "platt_score: the logistic calibration did not converge — check " +
        "for a degenerate (constant-label or constant-score) train slice")
    val eta = lit(fit.intercept) +
      targetScore.cast("double") * lit(fit.coefficients(0))
    target.withColumn(out, lit(1.0) / (lit(1.0) + exp(lit(0.0) - eta)))
  }

  def isotonicScore(train: DataFrame, score: Column, label: Column,
                    target: DataFrame, targetScore: Column,
                    maxCells: Int = 100000,
                    out: String = "calibrated"): DataFrame = {
    // the mapping DF is built from a driver-local Seq (bounded by the
    // maxCells guard inside the fit), so this collect is driver-cheap
    val mapping = isotonicCalibrate(train, score, label, maxCells)
      .select(col("score"), col("calibrated")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    // compress to block lower bounds: consecutive equal fitted values
    // are one PAVA block
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val vals = scala.collection.mutable.ArrayBuffer.empty[Double]
    mapping.foreach { case (s, v) =>
      if (vals.isEmpty || vals.last != v) { bounds += s; vals += v }
    }
    target.withColumn(out, graft.expr.SearchExprs.sortedStepLookup(
      targetScore.cast("double"), bounds.toArray, vals.toArray))
  }

  /** Calibration table + expected calibration error for a probability
    * score: rows bin by score into `nBins` equal-width bins ([0,1] range),
    * each bin reports (n, avg score, avg label, |gap|); ECE is the
    * n-weighted mean absolute gap (Naeini et al.'s binned estimator).
    * ONE groupBy of ≤ nBins cells — the scale cost is the scan.
    * Returns (bin, n, avg_score, avg_label, abs_gap, ece) with the
    * scalar ece repeated per row (single-scan convenience). */
  def calibration(df: DataFrame, label: Column, score: Column,
                  nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "calibration needs at least 2 bins")
    val s = score.cast("double")
    val bin = least(floor(s * nBins).cast("int"), lit(nBins - 1))
    val cells = df
      .filter(label.isNotNull && s.isNotNull && s >= 0.0 && s <= 1.0)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"), avg(s).as("avg_score"),
        avg(label.cast("double")).as("avg_label"))
      .withColumn("abs_gap", abs(col("avg_score") - col("avg_label")))
    val tot = cells.agg(
      (sum(col("abs_gap") * col("n")) / sum(col("n"))).as("ece")).head()
    cells.withColumn("ece", lit(tot.getDouble(0))).orderBy(col("bin"))
  }

  /** Hosmer-Lemeshow goodness-of-fit test (Hosmer & Lemeshow 1980) for a
    * probability score — the TEST companion to [[calibration]] (which
    * reports the binned gaps but no significance): bin by score DECILES
    * (equal-count, the standard construction — equal-width bins put 90%
    * of a skewed score in one bin and the test loses all power),
    *
    *   χ² = Σ_bins (O − E)² / (E(1 − p̄)),   df = bins − 2
    *
    * TWO row-scale passes: score quantiles via [[Robust.pctile]]
    * (`exact = false` default = the percentile_approx sketch, the 100 TB
    * path; `exact = true` = the house exact `percentile`, so the
    * oracle's quantile_cont agrees bit-for-bit),
    * then ONE groupBy over ≤ `bins` cells. The χ² CDF gates the p-value,
    * so oracle rows check through the statistic. Returns one row:
    * (n, bins, chisq, df, p_value). */
  def hosmerLemeshow(df: DataFrame, label: Column, score: Column,
                     bins: Int = 10, exact: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(bins >= 3, s"hosmer_lemeshow: need at least 3 bins, got $bins")
    val s = score.cast("double")
    val li = label.cast("int")
    val base = df.filter(li.isNotNull && s.isNotNull && s >= 0.0 && s <= 1.0)
      .select(li.as("__y"), s.as("__s"))
    val ps = array((1 until bins).map(i => lit(i.toDouble / bins)): _*)
    val qs = base
      .agg(Robust.pctile(col("__s"), ps, exact))
      .head().getSeq[Double](0)
    // bin = number of interior quantiles strictly below the score — the
    // exact construction the oracle replays (ties land in the lower bin)
    val bin = qs.map(q => when(col("__s") > q, 1).otherwise(0))
      .reduce(_ + _)
    val cells = base.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("o"),
        sum(col("__s")).as("e"),
        sum(when(col("__y") =!= 0 && col("__y") =!= 1, 1L).otherwise(0L))
          .as("bad"))
    val r = cells.agg(count(lit(1)).as("b"), sum(col("n")).as("n"),
      sum(col("bad")).as("bad"),
      min(col("e")).as("emin"),
      max(col("e") / col("n")).as("pmax"),
      sum {
        val pbar = col("e") / col("n")
        val d = col("o") - col("e")
        d * d / (col("e") * (lit(1.0) - pbar))
      }.as("chisq")).head()
    require(r.getAs[Long]("bad") == 0,
      s"hosmer_lemeshow: ${r.getAs[Long]("bad")} rows have labels outside {0, 1}")
    val b = r.getAs[Long]("b")
    require(b >= 3,
      s"hosmer_lemeshow: only $b distinct score bins — the score is too " +
        "coarse for a deciles test; lower `bins`")
    require(r.getAs[Double]("emin") > 0 && r.getAs[Double]("pmax") < 1.0,
      "hosmer_lemeshow: a bin has expected count 0 or mean score 1 — the " +
        "statistic divides by E(1−p̄); clip the score away from {0, 1}")
    val chisq = r.getAs[Double]("chisq")
    val dfree = (b - 2).toDouble
    val p = 1.0 - graft.stats.Dist.chiSqCdf(chisq, dfree)
    Seq((r.getAs[Long]("n"), b, chisq, b - 2, p))
      .toDF("n", "bins", "chisq", "df", "p_value")
  }

  /** Threshold classification report — confusion counts and the derived
    * metrics (accuracy, precision, recall, F1, MCC) in ONE conditional
    * aggregate: the model-eval summary next to [[rocCurve]]/[[prCurve]]
    * (which sweep thresholds; this nails ONE deployed threshold). MCC
    * uses the standard product form with a 0 convention when any margin
    * is empty. Returns one row: (n, tp, fp, fn, tn, accuracy, precision,
    * recall, f1, mcc). */
  def classificationReport(df: DataFrame, label: Column,
                           predicted: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val li = label.cast("int")
    val pi = predicted.cast("int")
    val r = df.filter(li.isNotNull && pi.isNotNull).agg(
      count(lit(1)).as("n"),
      sum(when(li === 1 && pi === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(li === 0 && pi === 1, 1L).otherwise(0L)).as("fp"),
      sum(when(li === 1 && pi === 0, 1L).otherwise(0L)).as("fn"),
      sum(when(li === 0 && pi === 0, 1L).otherwise(0L)).as("tn"),
      sum(when((li =!= 0 && li =!= 1) || (pi =!= 0 && pi =!= 1), 1L)
        .otherwise(0L)).as("bad")).head()
    require(r.getAs[Long]("bad") == 0,
      s"classification_report: ${r.getAs[Long]("bad")} rows outside {0, 1}")
    val n = r.getAs[Long]("n")
    require(n > 0, "classification_report: no complete rows")
    val (tp, fp, fn, tn) = (r.getAs[Long]("tp").toDouble,
      r.getAs[Long]("fp").toDouble, r.getAs[Long]("fn").toDouble,
      r.getAs[Long]("tn").toDouble)
    val acc = (tp + tn) / n
    val prec = if (tp + fp > 0) tp / (tp + fp) else 0.0
    val rec = if (tp + fn > 0) tp / (tp + fn) else 0.0
    val f1 = if (prec + rec > 0) 2 * prec * rec / (prec + rec) else 0.0
    val den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    val mcc = if (den > 0) (tp * tn - fp * fn) / math.sqrt(den) else 0.0
    Seq((n, tp.toLong, fp.toLong, fn.toLong, tn.toLong, acc, prec, rec,
        f1, mcc))
      .toDF("n", "tp", "fp", "fn", "tn", "accuracy", "precision", "recall",
        "f1", "mcc")
  }
}
