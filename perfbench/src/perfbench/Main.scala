package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark run: one JVM, one Spark session on `local[<cores>]`, one
  * closed-loop client thread.
  *
  * {{{
  * perfbench.Main --workload readout|fit --seed N --seconds S --trace 0|1 --dir D
  * }}}
  *
  * Untraced (`--trace 0`): set up, warm up (one cold round of every class,
  * then the workload's first `warmRounds` rounds, untimed), run whole
  * rounds of the seeded request stream for S seconds, check every answer,
  * print the end-to-end metrics, with every time net of steal (see
  * [[Host]]). Traced (`--trace 1`): the same set-up, then S seconds of rounds
  * alternating untraced / traced; prints the per-layer metrics and the
  * tracing overhead, and writes the spans to `D/spans.jsonl`. The last line
  * of stdout is the JSON result. */
object Main {
  val TasksPerCore = 4

  def main(args: Array[String]): scala.Unit = {
    val ticks0 = Host.ticks()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dir = opt("dir")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      // several small tasks per task thread, handed out as threads free up:
      // with one task per thread a stage waits for its slowest thread, so a
      // core the shared host takes away for a moment stalls the whole stage
      .config("spark.sql.shuffle.partitions", TasksPerCore * cores.toLong)
      .config("spark.sql.files.minPartitionNum", TasksPerCore * cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.log.level", "WARN")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSql.register(spark)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val w: Workload = workload match {
      case "readout" => new Readout(seed, spark)
      case "fit" => new Fit(seed, spark)
    }
    val prepT = System.nanoTime()
    w.prepare(s"$dir/data")
    val prepS = (System.nanoTime() - prepT) / 1e9
    val client = new Client(spark)
    val stream = w.rounds
    val warmT = System.nanoTime()
    val warm = (w.warmUp ++ (1 to w.warmRounds).flatMap(_ => stream.next())).map(r => client.op(r, None))
    val warmS = (System.nanoTime() - warmT) / 1e9
    // set-up ends where the first timed op starts
    val setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupS = setupWallS * Host.ticks().grantedSince(ticks0)

    val out = new Report(workload)
    out.line(f"setup: JVM start to first timed op $setupWallS%.2f s wall, $setupS%.2f s net of " +
      f"steal (session $sessionS%.2f s, inputs $prepS%.2f s, warm-up $warmS%.2f s)")
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val (p, _) = client.loop(stream, seconds, None)
        val rss = Jvm.rssPeakMb
        out.checkAndDescribe(w, warm, p.done)
        val lat = p.done.map(_.latencyMs)
        val p90 = Stats.tailPercentile(lat, 0.9).fold(
          s"not reported (${Stats.beyond(lat.length, 0.9)} samples beyond it, fewer than 10)")(
          v => f"$v%.1f ms")
        out.line(f"ops: ${lat.length} in ${p.wallS}%.2f s; median over all ops " +
          f"${Stats.median(lat)}%.1f ms; 90th percentile latency $p90")
        out.line(f"wall clock: ${p.opsPerS}%.4f ops/s, typical latency " +
          f"${Stats.typicalLatency(p.done.map(d => d.req.cls -> d.latencyMs))}%.1f ms; the host " +
          f"granted ${p.netNs / p.wallNs}%.3f of the CPU time wanted")
        out.line("class medians (net of steal): " + p.done.groupBy(_.req.cls).toSeq.sortBy(_._1).map {
          case (c, ds) => f"$c ${Stats.median(ds.map(_.netMs))}%.0f ms" }.mkString(", "))
        out.line("round walls: " + p.roundsNs.map(ns => f"${ns / 1e9}%.2f").mkString(" ") + " s")
        Seq(("setup_s", setupS, "s"),
          ("latency_p50_ms", Stats.typicalLatency(p.done.map(d => d.req.cls -> d.netMs)), "ms"),
          ("ops_per_s", p.netOpsPerS, "1/s"),
          ("rss_peak_mb", rss, "MB"))
      } else {
        val trace = new TraceSession(spark)
        val (plain, t) = client.loop(stream, seconds, Some(trace))
        out.checkAndDescribe(w, warm, plain.done ++ t.done)
        val layers = new Layers(trace, cores)
        val spans = layers.allSpans.sortBy(_.start)
        val pw = new java.io.PrintWriter(s"$dir/spans.jsonl")
        try spans.foreach(s => pw.println(Layers.json(s, spans.head.start))) finally pw.close()
        val classes = plain.done.groupBy(_.req.cls).map { case (c, ds) =>
          c -> Stats.median(ds.map(_.netMs)) }
        out.line(f"ops: ${plain.done.length} untraced in ${plain.wallS}%.2f s, " +
          f"${t.done.length} traced in ${t.wallS}%.2f s; ${spans.length} spans")
        out.line(layers.breakdown(t.done))
        layers.metrics(t.done).toSeq.sortBy(_._1).map { case (k, v) => (k, v, Report.unitOf(k)) } ++
          Report.AllClasses.map(c => (s"class.$c.p50_ms", classes.getOrElse(c, 0.0), "ms")) :+
          (("trace.overhead_frac", plain.netOpsPerS / t.netOpsPerS - 1.0, "ratio"))
      }
    out.finish(metrics)
    spark.stop()
  }
}

/** The human-readable summary and the final JSON line. */
final class Report(workload: String) {
  private var attempted = 0
  private var failed = 0

  def line(s: String): scala.Unit = println(s"[$workload] $s")

  /** Checks every answer (warm-up included) outside the timed region. */
  def checkAndDescribe(w: Workload, warm: Seq[Done], timed: Seq[Done]): scala.Unit = {
    val all = warm ++ timed
    val outcomes = all.map(_.outcome)
    attempted = all.length
    failed = outcomes.count(_ != Stats.Ok)
    all.zip(outcomes).filter(_._2 != Stats.Ok).take(5).foreach { case (d, o) =>
      System.err.println(s"[$workload] FAILED ${d.req.cls}: $o\n  ${d.req.plan}") }
    w.describe(warm, timed).foreach(line)
    line(f"check: $attempted answers compared with independent references, $failed wrong or " +
      f"thrown, failed_frac ${Stats.failedFrac(outcomes)}%.4f")
  }

  def finish(metrics: Seq[(String, Double, String)]): scala.Unit = {
    metrics.foreach { case (k, v, u) => line(f"$k%-28s $v%14.4f $u") }
    val body = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k":{"value":$x,"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
  }
}

object Report {
  val AllClasses: Seq[String] = (Readout.Classes ++ Fit.Classes).distinct

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case "exec.core_util" | "exec.rows_amplification" => "ratio"
    case _ => "count"
  }
}
