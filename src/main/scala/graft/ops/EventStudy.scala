package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Staggered-adoption event study: Callaway & Sant'Anna (2021) group-time
  * average treatment effects with a never-treated comparison, in the
  * unconditional (no-covariate) form. Units first treated at period g form
  * cohort g; for any period t,
  *
  *   ATT(g, t) = [ȳ(g, t) − ȳ(g, g−1)] − [ȳ(C, t) − ȳ(C, g−1)]
  *
  * — each term a cohort-level mean, so every output replays as plain SQL
  * over the (cohort × period) cell means (no pinning, no iteration). Rows
  * with t < g are PRE-period placebo estimates: under parallel trends
  * they should sit near 0, which is exactly the diagnostic an event-study
  * plot shows. This avoids the negative-weighting bias of a two-way
  * fixed-effects regression under staggered adoption — the reference's
  * [[Regression.did]] covers only the single-adoption 2×2.
  *
  * Two modes:
  *  - WITHOUT a unit column (legacy): row-weighted cell means, point
  *    estimates only (se/lower/upper are null) — the right grain when the
  *    input is already aggregated or units are not identified.
  *  - WITH a unit column: the estimator is the mean of UNIT-LEVEL base
  *    deltas d_i = y_{i,t} − y_{i,g−1} over units observed at BOTH t and
  *    g−1 (CS's (g−1,t)-balanced subsample), for the treated cohort and
  *    the never-treated comparison. ATT(g,t) = mean_g(d) − mean_C(d) and,
  *    because base-period differencing happens WITHIN unit, the two delta
  *    samples are independent across units, giving the exact two-sample
  *    standard error se² = var_g(d)/n_g + var_C(d)/n_C — the CS influence-
  *    function variance for this unconditional design. On a balanced
  *    panel the point estimate coincides with the cell-mean double
  *    difference.
  *
  * 100 TB shape: ONE row-scale aggregate collapses everything to cohort ×
  * period cells for grid validation; the unit mode adds one join keyed on
  * the unit id against the (tiny) base-period slice — control rows fan out
  * only by the number of treated cohorts. The final ATT table (≤ maxCells
  * rows, guarded) is collected and returned as a local relation, and the
  * one materialized intermediate is released before returning — the op
  * leaves ZERO executor storage behind.
  *
  * Semantics expect one row per (unit, period) — aggregate an event log
  * to that grain first. Every treated cohort needs its base period g−1
  * and the never-treated cohort observed at g−1 and t (missing cells fail
  * fast by inner-join disappearance being PREVENTED: validated up front).
  */
object EventStudy {

  private val outSchema = StructType(Seq(
    StructField("cohort", LongType, nullable = false),
    StructField("period", LongType, nullable = false),
    StructField("event_time", LongType, nullable = false),
    StructField("is_pre", BooleanType, nullable = false),
    StructField("att", DoubleType, nullable = false),
    StructField("se", DoubleType, nullable = true),
    StructField("lower", DoubleType, nullable = true),
    StructField("upper", DoubleType, nullable = true),
    StructField("n_rows", LongType, nullable = false)))

  /** @param firstTreat cohort column: the unit's first treated period;
    *                   null or <= 0 marks never-treated (the comparison).
    * @param unit       optional unit id; when given, ATT and its standard
    *                   error come from unit-level base deltas (see class
    *                   doc) and n_rows = treated units in the delta mean.
    * Returns (cohort, period, event_time, is_pre, att, se, lower, upper,
    * n_rows) for every treated cohort × period except the cohort's own
    * base period. */
  def groupTimeAtt(df: DataFrame, firstTreat: Column, period: Column,
                   y: Column, maxCells: Int = 100000,
                   unit: Option[Column] = None,
                   alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, "event_study: alpha must be in (0, 1)")
    val spark = df.sparkSession
    val yd = y.cast("double")
    val unitCols = unit.toSeq.map(_.cast("long").as("u"))
    val base0 = df.filter(period.isNotNull && yd.isNotNull &&
        unit.map(_.isNotNull).getOrElse(lit(true)))
      .select(unitCols ++ Seq(
        coalesce(firstTreat.cast("long"), lit(0L)).as("__g0"),
        period.cast("long").as("period"), yd.as("__y")): _*)
      .withColumn("cohort", when(col("__g0") > 0, col("__g0")).otherwise(0L))
    // localCheckpoint: the cell validation plus the delta/self joins below
    // each consume this slim projection — materialize the row-scale scan
    // once, and RELEASE it before returning (the output is collected)
    val base = graft.Ckpt.checkpoint(base0)
    try {
      val cells = base.groupBy(col("cohort"), col("period"))
        .agg(avg(col("__y")).as("m"), count(lit(1)).as("n_rows"))
      // validate the grid on the collected cells (tiny, guarded) so a
      // missing base/comparison cell is a named error, not silently-
      // dropped rows
      val cellRows = graft.stats.Cells.rowsOrFail(cells, maxCells,
        s"event_study produced more than $maxCells (cohort x period) cells — " +
          "these are not panel cohorts/periods; raise maxCells if they are")
      val byCohort = cellRows.groupBy(_.getLong(0))
        .map { case (g, rs) => g -> rs.map(_.getLong(1)).toSet }
      require(byCohort.contains(0L),
        "event_study: no never-treated cohort (firstTreat null or <= 0) to compare against")
      val treated = byCohort.keys.filter(_ > 0L).toSeq.sorted
      require(treated.nonEmpty, "event_study: no treated cohort")
      val ctrl = byCohort(0L)
      treated.foreach { g =>
        require(byCohort(g).contains(g - 1),
          s"event_study: cohort $g is missing its base period ${g - 1}")
        require(ctrl.contains(g - 1),
          s"event_study: never-treated cohort missing period ${g - 1} " +
            s"(cohort $g's base)")
        byCohort(g).foreach(t => require(ctrl.contains(t),
          s"event_study: never-treated cohort missing period $t"))
      }
      val expected = treated.flatMap(g =>
        byCohort(g).filter(_ != g - 1).toSeq.sorted.map(t => (g, t)))
      val out: Seq[Row] =
        if (unit.isEmpty) cellMeanAtt(cellRows)
        else deltaAtt(spark, base, treated, expected, alpha)
      // LocalRelation output: replays freely, broadcasts for free, and
      // holds no executor storage
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava, outSchema)
    } finally {
      graft.Ckpt.release(base)
    }
  }

  /** Legacy cell-mean double difference, computed on the driver from the
    * already-collected cell frame (it holds everything the four self-joins
    * of the previous implementation derived). */
  private def cellMeanAtt(cellRows: Array[Row]): Seq[Row] = {
    val m = cellRows.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getDouble(2), r.getLong(3))).toMap
    val treated = cellRows.map(_.getLong(0)).filter(_ > 0).distinct.sorted
    for {
      g <- treated.toSeq
      (period, (mg, n)) <- m.collect { case ((c, t), v) if c == g => t -> v }
        .toSeq.sortBy(_._1)
      if period != g - 1
    } yield {
      val mgb = m((g, g - 1))._1
      val mc = m((0L, period))._1
      val mcb = m((0L, g - 1))._1
      Row(g, period, period - g, period < g,
        (mg - mgb) - (mc - mcb), null, null, null, n)
    }
  }

  /** Unit-delta estimator with exact two-sample standard errors. */
  private def deltaAtt(spark: org.apache.spark.sql.SparkSession,
                       base: DataFrame, treated: Seq[Long],
                       expected: Seq[(Long, Long)],
                       alpha: Double): Seq[Row] = {
    import spark.implicits._
    val z = graft.stats.Dist.normQuantile(1.0 - alpha / 2)
    // treated deltas: each unit differenced against its own cohort's base
    val tBase = base.filter(col("cohort") > 0 &&
        col("period") === col("cohort") - 1)
      .select(col("u"), col("cohort"), col("__y").as("__yb"))
    val tStats = base.filter(col("cohort") > 0 &&
        col("period") =!= col("cohort") - 1)
      .join(tBase, Seq("u", "cohort"))
      .groupBy(col("cohort"), col("period"))
      .agg(avg(col("__y") - col("__yb")).as("mg"),
        var_samp(col("__y") - col("__yb")).as("vg"),
        count(lit(1)).as("ng"))
    // control deltas: never-treated units differenced against EVERY
    // treated cohort's base period (fan-out = |cohorts|, a small constant)
    val basesDf = broadcast(treated.map(g => (g, g - 1))
      .toDF("cohort", "__bp"))
    val cBase = base.filter(col("cohort") === 0)
      .join(basesDf, col("period") === col("__bp"))
      .select(col("u"), basesDf("cohort"), col("__y").as("__yb"))
    val cStats = base.filter(col("cohort") === 0)
      .select(col("u"), col("period"), col("__y"))
      .join(cBase, Seq("u"))
      .filter(col("period") =!= col("cohort") - 1)
      .groupBy(col("cohort"), col("period"))
      .agg(avg(col("__y") - col("__yb")).as("mc"),
        var_samp(col("__y") - col("__yb")).as("vc"),
        count(lit(1)).as("nc"))
    val stats = tStats.join(cStats, Seq("cohort", "period")).collect()
    // a cell can exist while NO unit spans (g−1, t): that silently empties
    // the inner join above — name it instead
    val have = stats.map(r => (r.getLong(0), r.getLong(1))).toSet
    expected.find(p => !have.contains(p)).foreach { case (g, t) =>
      throw new IllegalArgumentException(
        s"event_study: no unit (treated cohort $g or never-treated) is " +
          s"observed at both periods ${g - 1} and $t — the delta " +
          "estimator needs units spanning the base and the target period")
    }
    stats.toSeq.sortBy(r => (r.getLong(0), r.getLong(1))).map { r =>
      val (g, t) = (r.getLong(0), r.getLong(1))
      val (ng, nc) = (r.getLong(4), r.getLong(7))
      // read counts BEFORE variances: var_samp of a 1-unit sample is null
      require(ng >= 2 && nc >= 2,
        s"event_study: fewer than 2 units span periods (${g - 1}, $t) in " +
          s"cohort ${if (ng < 2) g else 0} — no variance is estimable")
      val (mg, vg) = (r.getDouble(2), r.getDouble(3))
      val (mc, vc) = (r.getDouble(5), r.getDouble(6))
      val att = mg - mc
      val se = math.sqrt(vg / ng + vc / nc)
      Row(g, t, t - g, t < g, att, se, att - z * se, att + z * se, ng)
    }
  }

  /** Event-time aggregation of [[groupTimeAtt]]: the classic event-study
    * curve — at each event time e, the size-weighted mean of ATT(g, g+e)
    * over cohorts observed at e. Returns
    * (event_time, is_pre, att, n_cohorts, n_rows). */
  def eventTimeCurve(df: DataFrame, firstTreat: Column, period: Column,
                     y: Column, maxCells: Int = 100000,
                     unit: Option[Column] = None): DataFrame =
    groupTimeAtt(df, firstTreat, period, y, maxCells, unit)
      .groupBy(col("event_time"), col("is_pre"))
      .agg((sum(col("att") * col("n_rows")) / sum(col("n_rows"))).as("att"),
        count(lit(1)).as("n_cohorts"), sum(col("n_rows")).as("n_rows"))
}
