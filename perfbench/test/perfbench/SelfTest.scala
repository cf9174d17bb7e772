package perfbench

import org.apache.spark.sql.Row

/** Self-tests of the harness arithmetic and bookkeeping; no Spark session.
  * Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): scala.Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def main(args: Array[String]): scala.Unit = {
    val ms = (1 to 100).map(_.toDouble)

    check("a percentile is reported only when at least 10 samples lie beyond it") {
      Stats.beyond(100, 0.9) == 10 && Stats.tailPercentile(ms, 0.9).isDefined &&
        Stats.beyond(99, 0.9) == 9 && Stats.tailPercentile(ms.take(99), 0.9).isEmpty &&
        Stats.tailPercentile(ms.take(20), 0.5).isDefined &&
        Stats.tailPercentile(ms.take(19), 0.5).isEmpty
    }
    check("quantiles interpolate between order statistics") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5 &&
        math.abs(Stats.quantile(ms, 0.9) - 90.1) < 1e-9
    }
    check("the typical latency is the geometric mean of the ops, each class weighted the same") {
      // class a: geometric mean 200; class b: 50. Unweighted over the three
      // ops it would be (100 * 400 * 50)^(1/3), about 126.
      val xs = Seq("a" -> 100.0, "a" -> 400.0, "b" -> 50.0)
      math.abs(Stats.typicalLatency(xs) - 100.0) < 1e-9 &&
        math.abs(Stats.typicalLatency(Seq("a" -> 7.0)) - 7.0) < 1e-12
    }
    check("the granted share is the CPU time run over the CPU time wanted") {
      val from = Host.Ticks(busy = 40L, steal = 5L)
      math.abs(Host.Ticks(100L, 25L).grantedSince(from) - 0.75) < 1e-12 &&
        from.grantedSince(from) == 1.0
    }
    check("self time is the span minus the union of its child intervals") {
      Stats.unionLength(Seq((10L, 30L), (20L, 40L), (50L, 60L))) == 40L &&
        Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L &&
        Stats.selfTime((0L, 100L), Nil) == 100L &&
        Stats.selfTime((0L, 100L), Seq((0L, 100L), (5L, 10L))) == 0L
    }

    check("a job is attributed to its op and to the span open when it was submitted") {
      val props = new java.util.Properties
      val t = new Tracer((k, v) => if (v == null) props.remove(k) else props.setProperty(k, v))
      // Spark copies the submitting thread's local properties into the job
      def submit() = props.clone().asInstanceOf[java.util.Properties]
      val op = t.open("op", 7)
      val call = t.open("gateway.call", 7)
      val inCall = submit()
      t.close(call)
      val collect = t.open("action.collect", 7)
      val inCollect = submit()
      t.close(collect)
      val inOp = submit()
      t.close(op)
      val outside = submit()
      t.attribute(inCall).contains((7, call)) && t.attribute(inCollect).contains((7, collect)) &&
        t.attribute(inOp).contains((7, op)) && t.attribute(outside).isEmpty &&
        t.spans.map(s => (s.name, s.parent)).toSet ==
          Set(("gateway.call", op), ("action.collect", op), ("op", 0))
    }

    check("failed_frac counts both exceptions and wrong answers") {
      val req = Request("ttest", "plan", "gateway", 1L, () => null,
        rows => if (rows.head.getDouble(0) == 1.0) None else Some("estimate differs"))
      val done = Seq(
        Done(req, 1, 1L, Some(Array(Row(1.0))), None),
        Done(req, 2, 1L, Some(Array(Row(2.0))), None),
        Done(req, 3, 1L, None, Some(new IllegalStateException("boom"))),
        Done(req, 4, 1L, Some(Array(Row("not a number"))), None))
      val out = done.map(_.outcome)
      out.head == Stats.Ok && out(1) == Stats.Wrong("estimate differs") &&
        out(2) == Stats.Threw("boom") && out(3).isInstanceOf[Stats.Wrong] &&
        Stats.failedFrac(out) == 0.75
    }

    check("reference Mann-Whitney U counts ties at their average rank") {
      // group0 = {1, 2}, group1 = {2, 3}: ranks 1, 2.5 | 2.5, 4 → R0 = 3.5, U0 = 0.5
      Reference.mannWhitneyU0(Array(2.0, 1.0), Array(3.0, 2.0)) == 0.5
    }
    check("reference least squares recovers an exact linear model") {
      val m = new Moments(3)
      for (i <- 0 until 50) { val a = i % 7; val b = i % 5; m.add(1.0 + 2.0 * a - 3.0 * b, a, b) }
      val (coef, r2) = Reference.ols(m, 3)
      Seq(2.0, -3.0, 1.0).zip(coef).forall { case (w, g) => math.abs(w - g) < 1e-9 } &&
        math.abs(r2 - 1.0) < 1e-12
    }

    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
