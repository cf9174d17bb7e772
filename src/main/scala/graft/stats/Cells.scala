package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}
import org.apache.spark.unsafe.Platform

import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.concurrent.duration.Duration

/** Bounded driver-side cell collapse (optimization guide §1.2 step 1:
  * fix the distributed algorithm before the per-task work) — the one
  * home of "collect the distinct cells when they fit, else run the
  * distributed path".
  *
  * Every iterative MLE in the library (IRLS GLMs, the damped-Newton
  * AFT/ordinal/multinomial family, the Cox tier) runs ONE distributed
  * aggregate per iteration, and the exact order-statistic family runs a
  * range-partition sort plus several small jobs per quantile. When the
  * design or value histogram is low-cardinality (bucketed covariates,
  * binary indicators, integer outcomes: the normal case for
  * experiment-analysis fits), every such pass re-reads n rows to
  * recompute sums over at most a few hundred thousand DISTINCT cells.
  * At 100 TB that is billions of rows re-read ~10-25 times; at bench
  * scale it is ~10-25 fixed job/planning overheads per verb.
  *
  * [[grouped]] replaces that with ONE groupBy pass: if the input has at
  * most `maxCells` distinct cells, they are collected (values plus
  * per-cell aggregates such as the multiplicity) and the verb finishes
  * in plain Scala — identical math, each cell contributing its row
  * formula times its count. Otherwise the caller keeps its distributed
  * path. Three pieces, each in one place:
  *  - [[mayFit]], the gate: estimated size, then a sketch;
  *  - [[take]], the bounded collect: one Spark job, no session conf;
  *  - [[sorted]], the decode loop: null/NaN bail, lexicographic order.
  * The hard-fail guards with no fallback ([[rowsOrFail]]) share [[take]].
  *
  * `maxCells <= 0` always answers None: that is how specs force the
  * distributed path.
  */
object Cells {

  /** The exact probe's groupBy is cheap when the cells collapse, but on
    * a NON-collapsing input that is large it hash-aggregates (and
    * partially shuffles) up to one cell per row — measured 2–3×
    * whole-fit regressions at the 100M-row probe (cox_ph_strat 21 →
    * 68 s, fine_gray 19 → 36 s before the gate). So past
    * `bigInputBytes` of estimated input, a constant-memory
    * `approx_count_distinct` pass over the input's cell keys decides
    * first: far past the bound (2× slack swamps the sketch's 5% rsd, so
    * a truly-collapsing input is never misrouted) the caller's
    * distributed path proceeds with no expensive probe. Under the size
    * threshold the exact probe runs directly — worst case a few million
    * distinct cells, bounded-cheap — so bench-scale verbs pay NO extra
    * pass. Unknown statistics read as big (safe side). */
  private val bigInputBytes = BigInt(1L << 30)

  private def mayFit(input: DataFrame, keys: Seq[String],
                     maxCells: Int): Boolean =
    maxCells > 0 && {
      val small =
        try input.queryExecution.optimizedPlan.stats.sizeInBytes <= bigInputBytes
        catch { case _: Throwable => false }
      small || input.agg(approx_count_distinct(struct(keys.map(col): _*)))
        .head().getLong(0) <= 2L * maxCells
    }

  /** The one bounded collect: Some(rows of `df`) when it has at most
    * `maxCells` rows, else None. ONE Spark job over the plan's
    * partitions, run under its own SQL execution id as `collect` is.
    * Each partition stops after `maxCells + 1` rows and ships them as
    * one buffer of UnsafeRow bytes; a partition past the bound on its
    * own ships only its count, and once the rows received pass the
    * bound the job is cancelled and nothing more is decoded, so a
    * non-collapsing frame costs the driver little more than the bound.
    * Rows stay INTERNAL rows: an external-Row collect converts every
    * row to a GenericRow on the driver, measured ~1 s of
    * single-threaded gap per ~600 k cells. `limit(n).collect()` /
    * `head(n)` instead run `executeTake`'s partition ramp (1 → 4× …
    * partitions), several SEQUENTIAL jobs when the take is not
    * satisfied early — measured ~1 s of pure wait on a 32-partition
    * cell frame. Session conf is never touched, so the collect is safe
    * on a session shared by concurrent queries. */
  def take(df: DataFrame, maxCells: Int): Option[Array[InternalRow]] = {
    val qe = df.queryExecution
    val limit = math.min(maxCells.toLong + 1, Int.MaxValue).toInt
    SQLExecution.withNewExecutionId(qe, Some("cells")) {
      val rdd = qe.executedPlan.execute()
      val parts = new Array[Array[Byte]](rdd.getNumPartitions)
      var seen = 0L // result handlers run one at a time on the scheduler thread
      val over = Promise[Unit]()
      val job = df.sparkSession.sparkContext.submitJob(rdd, encode(limit) _,
        parts.indices, (i: Int, part: (Int, Array[Byte])) => {
          seen += part._1
          if (seen > maxCells) over.trySuccess(()) else parts(i) = part._2
        }, ())
      over.future.foreach(_ => job.cancel())(ExecutionContext.parasitic)
      Await.ready(job, Duration.Inf)
      if (over.isCompleted) None
      else {
        job.value.get.get // rethrows a failed job
        Some(parts.flatMap(decode(_, df.schema.length)))
      }
    }
  }

  /** Task side of [[take]]: (row count, length-prefixed UnsafeRow
    * bytes) of the first `limit` rows; no bytes when the partition alone
    * reaches `limit`. */
  private def encode(limit: Int)(it: Iterator[InternalRow]): (Int, Array[Byte]) = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    val scratch = new Array[Byte](4096)
    var n = 0
    it.take(limit).foreach { r =>
      val u = r.asInstanceOf[UnsafeRow]
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, scratch)
      n += 1
    }
    (n, if (n == limit) null else bytes.toByteArray)
  }

  /** Driver side of [[take]]: rows pointing into the shipped buffer (no
    * per-row copy). */
  private def decode(bytes: Array[Byte], width: Int): Array[InternalRow] = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val rows = Array.newBuilder[InternalRow]
    while (in.hasRemaining) {
      val size = in.getInt()
      val r = new UnsafeRow(width)
      r.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
      in.position(in.position() + size)
      rows += r
    }
    rows.result()
  }

  /** [[take]] for the hard-fail guards, which have no distributed path:
    * the rows as external Rows, or an IllegalArgumentException carrying
    * the caller's named `tooMany` message past `maxCells` rows. */
  def rowsOrFail(df: DataFrame, maxCells: Int, tooMany: => String): Array[Row] = {
    val rows = take(df, maxCells)
    require(rows.isDefined, tooMany)
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    rows.get.map(toRow(_).asInstanceOf[Row])
  }

  /** Gate on `input`, then one bounded collect of its cell frame
    * `cells`, whose leading columns are the cell keys `keys` (column
    * names of both frames) and whose remaining columns are per-cell
    * aggregates. Keys are read as doubles, except a leading STRING key
    * when `keyed`. Some(rows in lexicographic key order) when the input
    * has at most `maxCells` cells, all keys non-null and non-NaN; else
    * None (wrong key types included) and the caller's path applies. */
  def rows(input: DataFrame, keys: Seq[String], cells: DataFrame,
           maxCells: Int, keyed: Boolean = false): Option[Array[InternalRow]] = {
    val typed = keys.zipWithIndex.forall { case (c, j) =>
      val t = cells.schema(c).dataType
      if (keyed && j == 0) t == StringType else t.isInstanceOf[NumericType]
    }
    if (!typed || !mayFit(input, keys, maxCells)) return None
    val vals = keys.zipWithIndex.map { case (c, j) =>
      if (keyed && j == 0) col(c) else col(c).cast("double").as(c) }
    val aggs = cells.columns.filterNot(keys.contains).map(col)
    take(cells.select(vals ++ aggs: _*), maxCells)
      .flatMap(sorted(_, keys.length - (if (keyed) 1 else 0), keyed))
  }

  /** [[rows]] over `input` grouped by `keys`, aggregating `aggs` (read
    * back by position after the keys). */
  def grouped(input: DataFrame, keys: Seq[String], aggs: Seq[Column],
              maxCells: Int, keyed: Boolean = false): Option[Array[InternalRow]] = {
    // positional names: a generated name such as "sum(... <= 0.0 ...)"
    // would not resolve through col()
    val named = aggs.zipWithIndex.map { case (a, i) => a.as(s"__agg$i") }
    rows(input, keys, input.groupBy(keys.map(col): _*).agg(named.head, named.tail: _*),
      maxCells, keyed)
  }

  /** The one decode loop over collected cells: columns [off, off + k)
    * are double cell values, after a string key at column 0 when `keyed`
    * (off = 1). None on a null key or a null/NaN value, so the caller's
    * null/NaN semantics stay authoritative; else the rows in
    * lexicographic (key, values) order, so driver-side summation order
    * is deterministic across runs and partitionings. */
  private def sorted(rows: Array[InternalRow], k: Int,
                     keyed: Boolean): Option[Array[InternalRow]] = {
    val m = rows.length
    val off = if (keyed) 1 else 0
    val cols = Array.fill(off + k)(new Array[Double](m))
    if (keyed) {
      if (rows.exists(_.isNullAt(0))) return None
      val keys = rows.map(_.getString(0))
      val rank = keys.distinct.sorted.zipWithIndex.toMap
      var i = 0
      while (i < m) { cols(0)(i) = rank(keys(i)).toDouble; i += 1 }
    }
    var i = 0
    while (i < m) {
      val r = rows(i)
      var j = off
      while (j < off + k) {
        if (r.isNullAt(j)) return None
        val d = r.getDouble(j)
        if (d.isNaN) return None
        cols(j)(i) = d
        j += 1
      }
      i += 1
    }
    // no key columns (an intercept-only design): one global cell
    Some(if (cols.isEmpty) rows else sortPerm(cols: _*).map(rows))
  }

  /** Permutation that sorts the rows of the column-major `cols`
    * lexicographically (total order via Double.compare per column — NaN
    * last, −0.0 < 0.0): a primitive-index quicksort; the boxed
    * `Array.range(0, m).sortBy(keys(_))` equivalent measured 0.3-0.7 s
    * per 600 k cells of pure driver gap. */
  def sortPerm(cols: Array[Double]*): Array[Int] = {
    val cs = cols.toArray
    val n = if (cs.isEmpty) 0 else cs(0).length
    val ix = Array.range(0, n)
    def cmpRow(a: Int, b: Int): Int = {
      var c = 0
      var j = 0
      while (c == 0 && j < cs.length) {
        c = java.lang.Double.compare(cs(j)(a), cs(j)(b)); j += 1
      }
      c
    }
    def swap(a: Int, b: Int): Unit = { val t = ix(a); ix(a) = ix(b); ix(b) = t }
    def insertion(lo: Int, hi: Int): Unit = {
      var j = lo + 1
      while (j <= hi) {
        val v = ix(j)
        var k = j - 1
        while (k >= lo && cmpRow(ix(k), v) > 0) { ix(k + 1) = ix(k); k -= 1 }
        ix(k + 1) = v
        j += 1
      }
    }
    // explicit stack: cell counts reach 2^21 and a degenerate pivot run
    // must not overflow the JVM stack
    val stack = new java.util.ArrayDeque[Int]()
    stack.push(0); stack.push(n - 1)
    while (!stack.isEmpty) {
      val hi = stack.pop(); val lo = stack.pop()
      if (hi - lo < 32) { if (lo < hi) insertion(lo, hi) }
      else {
        // median-of-three pivot
        val mid = (lo + hi) >>> 1
        if (cmpRow(ix(mid), ix(lo)) < 0) swap(mid, lo)
        if (cmpRow(ix(hi), ix(lo)) < 0) swap(hi, lo)
        if (cmpRow(ix(hi), ix(mid)) < 0) swap(hi, mid)
        val pivot = ix(mid) // a row id: stays valid while its slot moves
        // 3-way partition (many ties in histograms of discrete columns)
        var lt = lo; var gt = hi; var p = lo
        while (p <= gt) {
          val c = cmpRow(ix(p), pivot)
          if (c < 0) { swap(lt, p); lt += 1; p += 1 }
          else if (c > 0) { swap(p, gt); gt -= 1 }
          else p += 1
        }
        if (lt - 1 > lo) { stack.push(lo); stack.push(lt - 1) }
        if (hi > gt + 1) { stack.push(gt + 1); stack.push(hi) }
      }
    }
    ix
  }

  /** Design collapse for iterative fits: Some(cells, counts) when `slim`
    * (all columns numeric) has <= maxCells distinct rows, else None.
    * `cells(i)` holds the column values of distinct row i in `slim`
    * column order; `counts(i)` its multiplicity. */
  def collect(slim: DataFrame, maxCells: Int): Option[(Array[Array[Double]], Array[Long])] = {
    val k = slim.columns.length
    grouped(slim, slim.columns.toSeq, Seq(count(lit(1))), maxCells).map { rs =>
      (rs.map(r => Array.tabulate(k)(r.getDouble)), rs.map(_.getLong(k)))
    }
  }

  /** [[collect]] with a leading STRING key column (stratum idiom): groups
    * by ALL columns, reads column 0 as the string key and the rest as
    * doubles; cells sort by (key, values). */
  def collectWithKey(slim: DataFrame, maxCells: Int)
      : Option[(Array[String], Array[Array[Double]], Array[Long])] = {
    val k = slim.columns.length - 1
    grouped(slim, slim.columns.toSeq, Seq(count(lit(1))), maxCells,
        keyed = true).map { rs =>
      (rs.map(_.getString(0)), rs.map(r => Array.tabulate(k)(j => r.getDouble(j + 1))),
        rs.map(_.getLong(k + 1)))
    }
  }

  /** A covariate cell of [[collectByX]]: the x values plus the y moments
    * every GLM working response needs (z linear in y per x-cell): count,
    * Σy, Σy², and the count of nonpositive y (domain checks). */
  final case class XCell(xs: Array[Double], n: Long, sumY: Double,
                         sumY2: Double, nNonPos: Long)

  /** Collapse by the COVARIATE columns only, carrying y moments — for
    * fits whose per-iteration math is linear/quadratic in y given x
    * (log-link GLM IRLS: gamma, poisson, logistic working responses),
    * so a continuous outcome does not defeat the collapse. `yName` is
    * the outcome column; every other column of `slim` is a key. Returns
    * None past `maxCells` distinct x rows or on null/NaN key or moment
    * values (the caller's row-path semantics then apply). */
  def collectByX(slim: DataFrame, yName: String,
                 maxCells: Int): Option[Array[XCell]] = {
    val keys = slim.columns.toSeq.filterNot(_ == yName)
    val k = keys.length
    val yd = col(yName).cast("double")
    grouped(slim, keys, Seq(count(lit(1)), sum(yd), sum(yd * yd),
      sum(when(yd <= 0.0, 1L).otherwise(0L)),
      sum(when(yd.isNull, 1L).otherwise(0L))), maxCells).flatMap { rs =>
      if (rs.exists(r => r.getLong(k + 4) != 0L || r.isNullAt(k + 1) ||
          r.getDouble(k + 1).isNaN || r.getDouble(k + 2).isNaN)) None
      else Some(rs.map(r => XCell(Array.tabulate(k)(r.getDouble), r.getLong(k),
        r.getDouble(k + 1), r.getDouble(k + 2), r.getLong(k + 3))))
    }
  }
}
