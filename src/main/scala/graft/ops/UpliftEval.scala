package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Bootstrapped uplift-model evaluation: ATE / ROI / iROI / target-rate
  * estimates, per score-quantile bucket or population-level, with Poisson
  * bootstrap confidence intervals; Qini curves and AUUC on top.
  *
  * Mirrors the reference's PySpark evaluation module
  * (lib/spark_evaluation.py: `_estimate_metrics` 51-202, `_compute_ci`
  * 202-302, `_assign_bucket` 368-422, `estimate_ate` 422-487,
  * `estimate_roi`/`estimate_iroi` 487-611, `estimate_target_rate_per_bucket`
  * 611-719, `estimate_qini` 1581-1670, `compute_auuc` 1810-1838) with one
  * structural change for scale: the reference materializes a per-row Poisson
  * ARRAY and `posexplode`s it, amplifying the shuffle input ×(B+1) rows of
  * full width BEFORE the aggregation (`_generate_bootstrap_rows`, 19-51).
  * Here the replicate id is exploded from a `sequence` on a NARROWED frame
  * and the multiplicity is a deterministic codegen'd function of
  * (row id, rep, seed) (the [[Bootstrap]] idiom), so map-side partial
  * aggregation collapses each partition to buckets×(B+1) cells and the
  * shuffle carries cells, not rows. rep = -1 rides the same scan with
  * weight 1 and IS the point estimate — observed + B replicates in ONE
  * distributed job, reproducible on any partition layout (the reference's
  * `asNondeterministic` numpy draw is not).
  *
  * Everything downstream of the cell aggregation (population fractions,
  * cumulative curves, CI quantiles over replicate deltas) runs on the cell
  * frame — bounded by buckets×(B+1), independent of data size.
  */
object UpliftEval {

  /** Cap on collected evaluation cells (buckets × (B+1) × threshold
    * groups); tunable for legitimately huge grids. */
  var maxCells: Int = 1000000

  /** Quantile-bucket assignment (spark_evaluation.py:368-422, which wraps
    * `QuantileDiscretizer(relativeError=1e-5, handleInvalid="skip")`):
    * adds `bucketCol` (0-based, ascending in score) and `threshold` (the
    * bucket's left split edge; -inf for bucket 0, matching the
    * discretizer's open lower rail). Null scores are dropped ("skip").
    *
    * The splits are a single tiny aggregate (interior quantiles) collected
    * to the driver; assignment is then a pure codegen'd comparison sum —
    * no shuffle, no ML-pipeline fit. `exact=true` uses the exact
    * `percentile` aggregate (memory ~ distinct score values — for tests
    * and oracle replay); default is `approx_percentile` at the reference's
    * 1e-5 relative error, the 100 TB path.
    */
  def assignBuckets(df: DataFrame, score: Column, nBuckets: Int,
                    exact: Boolean = false, relativeError: Double = 1e-5,
                    bucketCol: String = "bucket",
                    withThreshold: Boolean = true): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    val base = df.filter(score.isNotNull).withColumn("__score", score.cast("double"))
    val ps = (1 until nBuckets).map(_.toDouble / nBuckets)
    val pArr = ps.mkString("array(", ",", ")")
    val splitAgg =
      if (exact) expr(s"percentile(__score, $pArr)")
      else expr(s"approx_percentile(__score, $pArr, ${math.max(1, (1 / relativeError).toInt)})")
    val splits = base.agg(splitAgg).head().getSeq[Double](0)
    val bucket = splits.map(s => when(col("__score") >= lit(s), 1).otherwise(0))
      .reduce(_ + _)
    val out = base.withColumn(bucketCol, bucket.cast("int")).drop("__score")
    if (!withThreshold) out
    else {
      // left edge per bucket: -inf, s(0), s(1), ... (discretizer splits[:-1])
      val edges = Double.NegativeInfinity +: splits
      val thr = coalesce(edges.zipWithIndex
        .map { case (e, i) => when(col(bucketCol) === i, lit(e)) }: _*)
      out.withColumn("threshold", thr)
    }
  }

  /** The fused evaluation scan (spark_evaluation.py:51-202). Returns the
    * per-(bucket, rep) cell frame with the raw weighted aggregates, the
    * population `fraction`, optional cumulative (highest bucket first)
    * sums, and the finished metric columns for `metricType`:
    *
    *  - "ate":         target_rate_treated, target_rate_control, ate
    *  - "roi":         roi (= Σbenefit / Σcost)
    *  - "iroi":        incremental_benefit, incremental_cost, iroi
    *  - "target_rate": target_rate
    *
    * `bootstrapB = 0` keeps only the point-estimate pass (rep = -1).
    * A `threshold` column on the input rides the group-by unchanged
    * (reference line 103-104). Null semantics follow the reference's
    * conditional sums: rows with a treatment value in neither group still
    * count in `count`; null metric values are skipped by `sum`.
    */
  def estimateMetrics(df: DataFrame, metricType: String,
                      target: Column = lit(null), benefit: Column = lit(null),
                      cost: Column = lit(null), treatment: Column = lit(null),
                      treatmentValue: Column = lit(1), controlValue: Column = lit(0),
                      bucketCol: Option[String] = None, cumulative: Boolean = false,
                      bootstrapB: Int = 0, frac: Double = 1.0, seed: Long = 42L,
                      idCols: Seq[Column] = Seq.empty): DataFrame = {
    require(Set("ate", "roi", "iroi", "target_rate")(metricType),
      s"metricType must be ate|roi|iroi|target_rate, got $metricType")
    val hasThreshold = df.columns.contains("threshold")
    val groupCols = bucketCol.toSeq ++ (if (hasThreshold) Seq("threshold") else Nil)

    val valueCols = metricType match {
      case "ate"         => Seq(target.cast("double").as("mm_y"), treatment.as("mm_t"))
      case "roi"         => Seq(benefit.cast("double").as("mm_b"), cost.cast("double").as("mm_c"))
      case "iroi"        => Seq(benefit.cast("double").as("mm_b"), cost.cast("double").as("mm_c"), treatment.as("mm_t"))
      case "target_rate" => Seq(target.cast("double").as("mm_y"))
    }
    val idNamed = idCols.zipWithIndex.map { case (c, i) => c.as(s"__id_$i") }
    val narrowed = df.select(groupCols.map(col) ++ valueCols ++ idNamed: _*)

    val withRep =
      if (bootstrapB <= 0)
        narrowed.withColumn("rep", lit(-1)).withColumn("weight", lit(1))
      else {
        val (base0, ids) =
          if (idCols.nonEmpty) (narrowed, idNamed.indices.map(i => col(s"__id_$i")))
          else Bootstrap.withStableIds(narrowed)
        Bootstrap.ensureParallel(base0, ids)
          .withColumn("rep", explode(sequence(lit(-1), lit(bootstrapB - 1))))
          .withColumn("weight", when(col("rep") === -1, 1)
            .otherwise(Bootstrap.poissonWeight(ids, col("rep"), seed, frac)))
          .filter(col("weight") > 0)
      }
    val w = col("weight").cast("double")
    def cntIf(cond: Column): Column = sum(when(cond, w).otherwise(0.0))
    def sumIf(cond: Column, v: Column): Column = sum(when(cond, v * w).otherwise(0.0))
    val isT = col("mm_t") === treatmentValue
    val isC = col("mm_t") === controlValue

    val aggs = sum(w).as("count") +: (metricType match {
      case "ate" => Seq(
        cntIf(isT).as("treatment_count"), cntIf(isC).as("control_count"),
        sumIf(isT, col("mm_y")).as("treatment_target"),
        sumIf(isC, col("mm_y")).as("control_target"))
      case "roi" => Seq(
        sum(col("mm_b") * w).as("tot_benefit"), sum(col("mm_c") * w).as("tot_cost"))
      case "iroi" => Seq(
        cntIf(isT).as("treatment_count"), cntIf(isC).as("control_count"),
        sumIf(isT, col("mm_b")).as("treatment_benefit"),
        sumIf(isC, col("mm_b")).as("control_benefit"),
        sumIf(isT, col("mm_c")).as("treatment_cost"),
        sumIf(isC, col("mm_c")).as("control_cost"))
      case "target_rate" => Seq(sum(col("mm_y") * w).as("tot_target"))
    })
    // ONE distributed scan ends here. The cell frame is bounded by
    // buckets×(B+1) — user parameters, not data size — so it is collected
    // and rebuilt as a local relation: every downstream branch (per-rep
    // totals, cumulative self-join, CI deltas) reuses the materialized
    // cells instead of re-running the full aggregation per branch (Spark
    // does not reuse the exchange across differently-projected subtrees).
    val cells0 = withRep.groupBy((groupCols :+ "rep").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    // runaway guard (caliper maxCells idiom): a user-supplied bucket column
    // with row-scale cardinality would make the "bounded" frame unbounded —
    // fail with the cause named before the cells reach the driver
    val cellRows = graft.stats.Cells.rowsOrFail(cells0, UpliftEval.maxCells,
      s"uplift evaluation produced more than ${UpliftEval.maxCells} cells " +
        s"(maxCells=${UpliftEval.maxCells}): the bucket column " +
        s"${bucketCol.getOrElse("")} looks row-scale; bucket scores with " +
        "assignBuckets (bounded nBuckets) instead, or raise UpliftEval.maxCells")
    var cells = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(cellRows: _*), cells0.schema)

    // fraction of population (reference 302-338): per-rep share of count.
    // Joins, not windows, on the CELL frame: a window partitioned by a
    // constant rep (bootstrap off) constant-folds to an EMPTY partition
    // spec — the single-partition WindowExec this codebase bans — while a
    // broadcast join of the per-rep totals is warning-free in every case
    // and parallel across replicates when rep varies.
    cells = bucketCol match {
      case None => cells.withColumn("fraction", lit(1.0))
      case Some(_) =>
        val totals = cells.groupBy(col("rep").as("__tr"))
          .agg(sum(col("count")).as("__total"))
        cells.join(broadcast(totals), col("rep") === col("__tr"))
          .withColumn("fraction", col("count") / col("__total"))
          .drop("__tr", "__total")
    }

    if (cumulative) {
      // highest-valued bucket first (reference 338-368): cum(b) = Σ over
      // buckets ≥ b, same replicate — a broadcast range join against the
      // cell frame itself (≤ buckets²×(B+1) joined cells), cumulating
      // every metric AND the fraction
      val bc = bucketCol.getOrElse("bucket")
      val metricCols = cells.columns.filterNot(c =>
        groupCols.contains(c) || c == "rep").toSeq
      val src = cells.select(col(bc).as("__sb") +: col("rep").as("__sr") +:
        metricCols.map(c => col(c).as(s"__s_$c")): _*)
      val sums = metricCols.map(c => sum(col(s"__s_$c")).as(c))
      cells = cells.select((groupCols :+ "rep").map(col): _*)
        .join(broadcast(src),
          col("__sr") === col("rep") && col("__sb") >= col(bc))
        .groupBy((groupCols :+ "rep").map(col): _*)
        .agg(sums.head, sums.tail: _*)
    }

    // null on a zero denominator (an armless bucket, zero cost), matching
    // the reference's non-ANSI PySpark division rather than ANSI's throw
    def div(n: Column, d: Column): Column = when(d =!= 0, n / d)
    metricType match {
      case "ate" =>
        val trt = div(col("treatment_target"), col("treatment_count"))
        val trc = div(col("control_target"), col("control_count"))
        cells.withColumn("target_rate_treated", trt)
          .withColumn("target_rate_control", trc)
          .withColumn("ate", trt - trc)
      case "roi" =>
        cells.withColumn("roi", div(col("tot_benefit"), col("tot_cost")))
      case "iroi" =>
        val sf = div(col("treatment_count"), col("control_count"))
        val ib = col("treatment_benefit") - col("control_benefit") * sf
        val ic = col("treatment_cost") - col("control_cost") * sf
        cells.withColumn("incremental_benefit", ib)
          .withColumn("incremental_cost", ic)
          .withColumn("iroi", div(ib, ic))
      case "target_rate" =>
        cells.withColumn("target_rate", div(col("tot_target"), col("count")))
    }
  }

  /** Percentile-of-deltas bootstrap CI (spark_evaluation.py:202-302): for
    * each metric in `relevantCols`, lower/upper from the (2.5%, 97.5%)
    * quantiles of replicate−point deltas (reflected: lower uses the UPPER
    * delta quantile) plus `<col>_std_error` = RMS delta. Runs entirely on
    * the cell frame; exact `percentile` replaces the reference's
    * `percentile_approx` (the frame is buckets×B rows — exactness is free).
    */
  def withCi(cells: DataFrame, bucketCols: Seq[String],
             relevantCols: Seq[String],
             ciQuantiles: (Double, Double) = (0.025, 0.975)): DataFrame = {
    val (lo, hi) = ciQuantiles
    val pe = cells.filter(col("rep") === -1)
    val peNarrow = pe.select(bucketCols.map(col) ++
      relevantCols.map(c => col(c).as(s"${c}_pe")): _*)
    val reps = cells.filter(col("rep") >= 0)
    val joined =
      if (bucketCols.isEmpty) reps.crossJoin(peNarrow)
      else reps.join(peNarrow, bucketCols)
    val withDeltas = relevantCols.foldLeft(joined)((d, c) =>
      d.withColumn(s"${c}_delta", col(c) - col(s"${c}_pe")))
    val aggs = relevantCols.flatMap(c => Seq(
      expr(s"percentile(${c}_delta, $hi)").as(s"${c}_dlo"),
      expr(s"percentile(${c}_delta, $lo)").as(s"${c}_dhi"),
      sqrt(avg(col(s"${c}_delta") * col(s"${c}_delta"))).as(s"${c}_std_error")))
    val ci0 =
      if (bucketCols.isEmpty) withDeltas.agg(aggs.head, aggs.tail: _*)
      else withDeltas.groupBy(bucketCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val ciCols = bucketCols.map(col) ++ relevantCols.flatMap(c => Seq(
      (col(s"${c}_pe") - col(s"${c}_dlo")).as(s"${c}_lower"),
      (col(s"${c}_pe") - col(s"${c}_dhi")).as(s"${c}_upper"),
      col(s"${c}_std_error")))
    val ci = (if (bucketCols.isEmpty) ci0.crossJoin(peNarrow)
              else ci0.join(peNarrow, bucketCols)).select(ciCols: _*)
    val out = if (bucketCols.isEmpty) pe.crossJoin(ci)
              else pe.join(ci, bucketCols)
    out.drop("rep")
  }

  /** Population ATE with optional bootstrap CI (spark_evaluation.py:422-487).
    * Returns a 1-row frame: count, group counts/targets, target_rate_control,
    * target_rate_treated, ate [+ _lower/_upper/_std_error each]. */
  def estimateAte(df: DataFrame, target: Column, treatment: Column,
                  treatmentValue: Column = lit(1), controlValue: Column = lit(0),
                  bootstrapB: Int = 0, ciQuantiles: (Double, Double) = (0.025, 0.975),
                  seed: Long = 42L, idCols: Seq[Column] = Seq.empty): DataFrame = {
    val cells = estimateMetrics(df, "ate", target = target, treatment = treatment,
      treatmentValue = treatmentValue, controlValue = controlValue,
      bootstrapB = bootstrapB, seed = seed, idCols = idCols)
    if (bootstrapB <= 0) cells.drop("rep")
    else withCi(cells, Nil,
      Seq("target_rate_control", "target_rate_treated", "ate"), ciQuantiles)
  }

  /** Population ROI = Σbenefit/Σcost with optional bootstrap CI
    * (spark_evaluation.py:487-543). */
  def estimateRoi(df: DataFrame, benefit: Column, cost: Column,
                  bootstrapB: Int = 0, ciQuantiles: (Double, Double) = (0.025, 0.975),
                  seed: Long = 42L, idCols: Seq[Column] = Seq.empty): DataFrame = {
    val cells = estimateMetrics(df, "roi", benefit = benefit, cost = cost,
      bootstrapB = bootstrapB, seed = seed, idCols = idCols)
    if (bootstrapB <= 0) cells.drop("rep")
    else withCi(cells, Nil, Seq("roi"), ciQuantiles)
  }

  /** Population incremental ROI (treated-minus-scaled-control benefit over
    * likewise incremental cost) with optional bootstrap CI
    * (spark_evaluation.py:543-611). */
  def estimateIroi(df: DataFrame, benefit: Column, cost: Column, treatment: Column,
                   treatmentValue: Column = lit(1), controlValue: Column = lit(0),
                   bootstrapB: Int = 0, ciQuantiles: (Double, Double) = (0.025, 0.975),
                   seed: Long = 42L, idCols: Seq[Column] = Seq.empty): DataFrame = {
    val cells = estimateMetrics(df, "iroi", benefit = benefit, cost = cost,
      treatment = treatment, treatmentValue = treatmentValue,
      controlValue = controlValue, bootstrapB = bootstrapB, seed = seed,
      idCols = idCols)
    if (bootstrapB <= 0) cells.drop("rep")
    else withCi(cells, Nil,
      Seq("incremental_benefit", "incremental_cost", "iroi"), ciQuantiles)
  }

  /** Target rate per pre-assigned bucket (spark_evaluation.py:611-719 minus
    * the quantile assignment — compose with [[assignBuckets]]). */
  def targetRatePerBucket(df: DataFrame, target: Column, bucketCol: String,
                          bootstrapB: Int = 0,
                          ciQuantiles: (Double, Double) = (0.025, 0.975),
                          seed: Long = 42L,
                          idCols: Seq[Column] = Seq.empty): DataFrame = {
    val hasThreshold = df.columns.contains("threshold")
    val cells = estimateMetrics(df, "target_rate", target = target,
      bucketCol = Some(bucketCol), bootstrapB = bootstrapB, seed = seed,
      idCols = idCols)
    if (bootstrapB <= 0) cells.drop("rep")
    else withCi(cells,
      bucketCol +: (if (hasThreshold) Seq("threshold") else Nil),
      Seq("target_rate"), ciQuantiles)
  }

  /** Target rate per score quantile — [[assignBuckets]] composed with
    * [[targetRatePerBucket]] (spark_evaluation.py:667-719). */
  def targetRatePerQuantile(df: DataFrame, target: Column, score: Column,
                            nBuckets: Int = 30, bootstrapB: Int = 0,
                            ciQuantiles: (Double, Double) = (0.025, 0.975),
                            exactSplits: Boolean = false, seed: Long = 42L,
                            idCols: Seq[Column] = Seq.empty): DataFrame =
    targetRatePerBucket(assignBuckets(df, score, nBuckets, exact = exactSplits),
      target, "bucket", bootstrapB, ciQuantiles, seed, idCols)

  /** CATE per score quantile — [[assignBuckets]] composed with
    * [[catePerBucket]] (spark_evaluation.py:940-1002). */
  def catePerQuantile(df: DataFrame, target: Column, treatment: Column,
                      score: Column, nBuckets: Int = 30,
                      treatmentValue: Column = lit(1), controlValue: Column = lit(0),
                      bootstrapB: Int = 0,
                      ciQuantiles: (Double, Double) = (0.025, 0.975),
                      exactSplits: Boolean = false, seed: Long = 42L,
                      idCols: Seq[Column] = Seq.empty): DataFrame =
    catePerBucket(assignBuckets(df, score, nBuckets, exact = exactSplits),
      target, treatment, "bucket", treatmentValue, controlValue,
      bootstrapB, ciQuantiles, seed, idCols)

  /** CATE per pre-assigned bucket: the ate cell scan grouped by bucket
    * (spark_evaluation.py:872-1002's estimate_cate_per_bucket/quantile,
    * minus plotting). */
  def catePerBucket(df: DataFrame, target: Column, treatment: Column,
                    bucketCol: String,
                    treatmentValue: Column = lit(1), controlValue: Column = lit(0),
                    bootstrapB: Int = 0,
                    ciQuantiles: (Double, Double) = (0.025, 0.975),
                    seed: Long = 42L, idCols: Seq[Column] = Seq.empty): DataFrame = {
    val hasThreshold = df.columns.contains("threshold")
    val cells = estimateMetrics(df, "ate", target = target, treatment = treatment,
      treatmentValue = treatmentValue, controlValue = controlValue,
      bucketCol = Some(bucketCol), bootstrapB = bootstrapB, seed = seed,
      idCols = idCols)
    if (bootstrapB <= 0) cells.drop("rep")
    else withCi(cells,
      bucketCol +: (if (hasThreshold) Seq("threshold") else Nil),
      Seq("ate"), ciQuantiles)
  }

  /** Qini curve (spark_evaluation.py:1581-1670): bucket by model-score
    * quantiles (or pass `nBuckets = 0` with a pre-assigned `bucket`
    * column), run the CUMULATIVE ate scan from the highest bucket down,
    * and report qini(x) = cumulative-ate × cumulative-fraction per bucket,
    * plus the curve's (0, 0) origin row (threshold +inf). Highest bucket
    * first. With `bootstrapB > 0`, ate_lower/ate_upper/ate_std_error
    * accompany the curve. */
  def estimateQini(df: DataFrame, score: Column, target: Column, treatment: Column,
                   nBuckets: Int = 30, treatmentValue: Column = lit(1),
                   controlValue: Column = lit(0), bootstrapB: Int = 0,
                   ciQuantiles: (Double, Double) = (0.025, 0.975),
                   exactSplits: Boolean = false, seed: Long = 42L,
                   idCols: Seq[Column] = Seq.empty): DataFrame = {
    val bucketed =
      if (nBuckets > 0) assignBuckets(df, score, nBuckets, exact = exactSplits)
      else { require(df.columns.contains("bucket"),
        "nBuckets = 0 needs a pre-assigned bucket column"); df }
    val cells0 = estimateMetrics(bucketed, "ate", target = target,
      treatment = treatment, treatmentValue = treatmentValue,
      controlValue = controlValue, bucketCol = Some("bucket"),
      cumulative = true, bootstrapB = bootstrapB, seed = seed, idCols = idCols)
    val cells = cells0.withColumn("ate", col("ate") * col("fraction"))
    val hasThreshold = bucketed.columns.contains("threshold")
    val curve =
      if (bootstrapB <= 0) cells.drop("rep")
      else withCi(cells,
        "bucket" +: (if (hasThreshold) Seq("threshold") else Nil),
        Seq("ate"), ciQuantiles)
    val keep = Seq("bucket", "count", "fraction") ++
      (if (hasThreshold) Seq("threshold") else Nil) ++
      curve.columns.filter(_.startsWith("ate")).toSeq
    val sel = curve.select(keep.map(col): _*)
    // (0, 0) origin: all-zero row, threshold = +inf, null bucket
    val zero = sel.sparkSession.range(1).select(sel.schema.fields.map { f =>
      (f.name match {
        case "threshold" => lit(Double.PositiveInfinity)
        case "bucket"    => lit(null)
        case _           => lit(0.0)
      }).cast(f.dataType).as(f.name)
    }: _*)
    zero.unionByName(sel.orderBy(col("bucket").desc))
  }

  /** Cumulative CATE lift (spark_evaluation.py:1388-1470): qini's cumulative
    * ate scan WITHOUT the ×fraction rescale — "the treatment effect among
    * the top-x% targeted", highest bucket first, ate columns renamed to
    * cum_cate. Same bucketing contract as [[estimateQini]]. */
  def cateLift(df: DataFrame, score: Column, target: Column, treatment: Column,
               nBuckets: Int = 30, treatmentValue: Column = lit(1),
               controlValue: Column = lit(0), bootstrapB: Int = 0,
               ciQuantiles: (Double, Double) = (0.025, 0.975),
               exactSplits: Boolean = false, seed: Long = 42L,
               idCols: Seq[Column] = Seq.empty): DataFrame = {
    val bucketed =
      if (nBuckets > 0) assignBuckets(df, score, nBuckets, exact = exactSplits)
      else { require(df.columns.contains("bucket"),
        "nBuckets = 0 needs a pre-assigned bucket column"); df }
    val cells = estimateMetrics(bucketed, "ate", target = target,
      treatment = treatment, treatmentValue = treatmentValue,
      controlValue = controlValue, bucketCol = Some("bucket"),
      cumulative = true, bootstrapB = bootstrapB, seed = seed, idCols = idCols)
    val hasThreshold = bucketed.columns.contains("threshold")
    val curve =
      if (bootstrapB <= 0) cells.drop("rep")
      else withCi(cells,
        "bucket" +: (if (hasThreshold) Seq("threshold") else Nil),
        Seq("ate"), ciQuantiles)
    val keep = Seq("bucket", "count", "fraction") ++
      curve.columns.filter(_.startsWith("ate")).toSeq
    curve.select(keep.map(c =>
      col(c).as(c.replace("ate", "cum_cate"))): _*)
      .orderBy(col("bucket").desc)
  }

  /** Cumulative incremental-ROI curve (spark_evaluation.py:1838-1930's
    * estimate_cum_iroi): iroi cell scan over score-quantile buckets,
    * cumulated from the top bucket down. Same bucketing contract as
    * [[estimateQini]]; CI on iroi when bootstrapped. */
  def cumIroiCurve(df: DataFrame, score: Column, benefit: Column, cost: Column,
                   treatment: Column, nBuckets: Int = 30,
                   treatmentValue: Column = lit(1), controlValue: Column = lit(0),
                   bootstrapB: Int = 0,
                   ciQuantiles: (Double, Double) = (0.025, 0.975),
                   exactSplits: Boolean = false, seed: Long = 42L,
                   idCols: Seq[Column] = Seq.empty): DataFrame = {
    val bucketed =
      if (nBuckets > 0) assignBuckets(df, score, nBuckets, exact = exactSplits)
      else { require(df.columns.contains("bucket"),
        "nBuckets = 0 needs a pre-assigned bucket column"); df }
    val cells = estimateMetrics(bucketed, "iroi", benefit = benefit,
      cost = cost, treatment = treatment, treatmentValue = treatmentValue,
      controlValue = controlValue, bucketCol = Some("bucket"),
      cumulative = true, bootstrapB = bootstrapB, seed = seed, idCols = idCols)
    val hasThreshold = bucketed.columns.contains("threshold")
    val curve =
      if (bootstrapB <= 0) cells.drop("rep")
      else withCi(cells,
        "bucket" +: (if (hasThreshold) Seq("threshold") else Nil),
        Seq("iroi"), ciQuantiles)
    val keep = Seq("bucket", "count", "fraction") ++
      (if (hasThreshold) Seq("threshold") else Nil) ++
      Seq("incremental_benefit", "incremental_cost") ++
      curve.columns.filter(_.startsWith("iroi")).toSeq
    curve.select(keep.map(col): _*).orderBy(col("bucket").desc)
  }

  /** Area under the qini curve: trapezoid over (fraction, ate) — sklearn's
    * `auc` on the reference's pandas frame (spark_evaluation.py:1810-1824).
    * The curve frame is bounded by nBuckets+1 rows; collected. */
  def auuc(qini: DataFrame, x: String = "fraction", y: String = "ate"): Double = {
    val pts = qini.select(col(x).cast("double"), col(y).cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    pts.sliding(2).collect { case Array((x0, y0), (x1, y1)) =>
      (x1 - x0) * (y0 + y1) / 2.0
    }.sum
  }

  /** Qini coefficient = AUUC minus the random-targeting chord's area
    * (spark_evaluation.py:1824-1838). */
  def qiniCoefficient(qini: DataFrame, x: String = "fraction", y: String = "ate"): Double = {
    val pts = qini.select(col(x).cast("double"), col(y).cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    val area = pts.sliding(2).collect { case Array((x0, y0), (x1, y1)) =>
      (x1 - x0) * (y0 + y1) / 2.0
    }.sum
    val chord = (pts.last._1 - pts.head._1) * (pts.head._2 + pts.last._2) / 2.0
    area - chord
  }
}
