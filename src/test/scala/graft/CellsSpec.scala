package graft.stats

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The one bounded driver collect ([[Cells]]): one Spark job per
  * collect, no session-conf writes, None past the bound, the
  * size-then-sketch gate, and the null/NaN bail of the decode loop. */
class CellsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Low-cardinality design: 12 distinct (a, b) cells over 600 rows. */
  private lazy val design = (0 until 600)
    .map(i => ((i % 4).toDouble, (i % 3).toDouble)).toDF("a", "b").repartition(5)

  /** Runs `f` and returns, in order, the names of the SQL executions it
    * finished and the number of Spark jobs it started (counted by job
    * group). Both listeners read the async listener bus, so a marker
    * query run afterwards flushes it: the bus is FIFO, and once the
    * marker's own execution is seen every earlier event has been
    * delivered. */
  private def observe(f: => Unit): (Seq[String], Int) = {
    val sc = spark.sparkContext
    val group = s"cells-spec-${System.nanoTime()}"
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var jobs = 0
    val jobL = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) jobs += 1
    }
    val marker = "cells_spec_marker"
    @volatile var markerSeen = false
    val qeL = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(marker)) markerSeen = true
        else names.add(name)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobL)
    spark.listenerManager.register(qeL)
    try {
      sc.setJobGroup(group, "CellsSpec")
      try f finally sc.clearJobGroup()
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "listener bus not flushed")
      import scala.jdk.CollectionConverters._
      (names.asScala.toSeq, jobs)
    } finally {
      spark.listenerManager.unregister(qeL)
      sc.removeSparkListener(jobL)
    }
  }

  private def conf: Map[String, String] = spark.conf.getAll

  test("a bounded collect is one Spark job over every partition") {
    // 8 partitions, all needed: executeTake's ramp would run 1, then 4,
    // then the rest as sequential jobs
    val df = spark.range(0, 1000, 1, 8).toDF("id")
    var rows: Option[Array[org.apache.spark.sql.catalyst.InternalRow]] = None
    val (names, jobs) = observe { rows = Cells.take(df, 5000) }
    assert(rows.map(_.map(_.getLong(0)).sorted.toSeq) == Some(0L until 1000L))
    assert(jobs == 1, s"$jobs jobs")
    assert(names == Seq("cells"))
  }

  test("None at maxCells + 1 rows and cells, Some at maxCells") {
    val df = spark.range(0, 40, 1, 4).toDF("id")
    assert(Cells.take(df, 40).map(_.length) == Some(40))
    assert(Cells.take(df, 39).isEmpty)
    assert(Cells.collect(design, 12).map(_._1.length) == Some(12))
    assert(Cells.collect(design, 11).isEmpty)
    assert(Cells.collect(design, 0).isEmpty)
    // far past the bound over many partitions: the job is cancelled once
    // the bound is passed, the answer is None, and the session still runs
    val many = spark.range(0, 200000, 1, 64).toDF("id")
    var cut: Option[Array[org.apache.spark.sql.catalyst.InternalRow]] = Some(null)
    val (_, jobs) = observe { cut = Cells.take(many, 10) }
    assert(cut.isEmpty)
    assert(jobs == 1, s"$jobs jobs")
    assert(many.count() == 200000L)
    // the hard-fail guards keep their named error
    val e = intercept[IllegalArgumentException] {
      Cells.rowsOrFail(df, 39, "guard: too many ids")
    }
    assert(e.getMessage.contains("guard: too many ids"))
    assert(Cells.rowsOrFail(df, 40, "unused").map(_.getLong(0)).sorted.toSeq ==
      (0L until 40L))
  }

  test("cells come back sorted with their multiplicities") {
    val (cells, counts) = Cells.collect(design, 100).get
    assert(cells.map(_.toSeq).toSeq ==
      (for (a <- 0 until 4; b <- 0 until 3) yield Seq(a.toDouble, b.toDouble)))
    assert(counts.toSeq == Seq.fill(12)(50L))
    val keyed = design.select(col("a").cast("int").cast("string").as("k"), col("b"))
    val (keys, kc, kn) = Cells.collectWithKey(keyed, 100).get
    assert(keys.toSeq == Seq("0", "0", "0", "1", "1", "1", "2", "2", "2", "3", "3", "3"))
    assert(kc.map(_(0)).toSeq == Seq.tabulate(12)(i => (i % 3).toDouble))
    assert(kn.sum == 600L)
    // no key columns at all (intercept-only fits): one global cell
    val global = Cells.collectByX(design.select(col("b")), "b", 10).get
    assert(global.length == 1 && global.head.n == 600L && global.head.sumY == 600.0)
  }

  test("the sketch gates inputs that read as big (unknown statistics)") {
    // an RDD-built frame has no size estimate, so it reads as big and
    // the approx_count_distinct sketch (a head() execution) runs first
    val big = spark.createDataFrame(design.rdd, design.schema)
    var fit: Option[(Array[Array[Double]], Array[Long])] = None
    val (collapsing, _) = observe { fit = Cells.collect(big, 100) }
    assert(collapsing == Seq("head", "cells"))
    assert(fit.map(_._2.sum) == Some(600L))
    // an intercept-only design sketches zero key columns: one cell
    assert(Cells.collectByX(big.select(col("b")), "b", 10).map(_.length) == Some(1))
    // far past the bound: the sketch bails and the exact collect never runs
    val wide = spark.createDataFrame(
      spark.range(0, 5000, 1, 4).toDF("x").rdd, spark.range(1).toDF("x").schema)
    var none: Option[(Array[Array[Double]], Array[Long])] = Some(null)
    val (bailed, _) = observe { none = Cells.collect(wide, 100) }
    assert(none.isEmpty)
    assert(bailed == Seq("head"))
    // a small input skips the sketch
    val (small, _) = observe { Cells.collect(design, 100) }
    assert(small == Seq("cells"))
  }

  test("the decode loop bails on null and NaN") {
    val withNull = Seq(Some(1.0), None, Some(2.0)).toDF("v")
    assert(Cells.collect(withNull, 100).isEmpty)
    val withNan = Seq(1.0, Double.NaN, 2.0).toDF("v")
    assert(Cells.collect(withNan, 100).isEmpty)
    val nullKey = Seq((Some("a"), 1.0), (None, 2.0)).toDF("k", "v")
    assert(Cells.collectWithKey(nullKey, 100).isEmpty)
    val nullY = Seq((1.0, Some(1.0)), (1.0, None)).toDF("x", "y")
    assert(Cells.collectByX(nullY, "y", 100).isEmpty)
    assert(Cells.collectByX(nullY.na.drop(), "y", 100).map(_.length) == Some(1))
    // a non-numeric cell column is not a design: no collect at all
    assert(Cells.collect(Seq("a", "b").toDF("s"), 100).isEmpty)
  }

  test("collects and fast paths leave the session conf untouched") {
    val before = conf
    Cells.take(design, 1000)
    Cells.collect(design, 1000)
    Cells.collectByX(design, "b", 1000)
    assert(conf == before)
    val xy = design.select(col("a").as("x"), (col("a") * 2 + col("b")).as("y"))
    graft.ops.RankTests.spearman(xy, col("x"), col("y")).collect()
    assert(conf == before)
    graft.ops.Robust.exactQuantiles(design, col("a"), Seq(0.25, 0.5))
    assert(conf == before)
    val surv = design.select((col("b") + 1.0).as("t"),
      (col("a") > 0).cast("int").as("d"), col("a").as("x"))
    graft.ops.Survival.coxPh(surv, col("t"), col("d"), Seq(col("x")))
    assert(conf == before)
    val forest = design.select((col("a") + col("b")).as("y"),
      (col("a") % 2).cast("int").as("t"), col("b").as("f"))
    graft.ops.CausalForest.fit(forest, col("y"), col("t"), Seq("f" -> col("f")),
      numTrees = 2, maxDepth = 2, minNodeSize = 20, bins = 4)
    assert(conf == before)
  }
}
