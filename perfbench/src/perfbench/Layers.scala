package perfbench

import scala.jdk.CollectionConverters._

/** Turns a traced phase — the client's spans plus what Spark's listeners
  * saw — into per-op layer readings, the spans written out, and the
  * per-layer metrics. */
final class Layers(t: TraceSession, cores: Int) {
  import t.{clock, codegen, exec, phases, tracer}

  private val harness = tracer.spans
  private val opSpan = harness.filter(_.name == "op").map(s => s.op -> s).toMap

  /** Spark jobs and their stages as spans under the client span that was
    * open when the job was submitted. */
  val jobSpans: Seq[SpanRec] = exec.jobs.values.asScala.toSeq.filter(_.end >= 0).flatMap { j =>
    tracer.attribute(j.props).map { case (op, parent) =>
      SpanRec(-1 - j.jobId, parent, op, s"job", clock.fromEpochMs(j.start), clock.fromEpochMs(j.end))
    }
  }.sortBy(_.start)
  private val jobOp = jobSpans.map(s => (-1 - s.id) -> s).toMap

  val stageSpans: Seq[SpanRec] = exec.stages.asScala.toSeq.flatMap { st =>
    Option(exec.jobOfStage.get(st.stageId)).flatMap(j => jobOp.get(j.intValue)).map { job =>
      SpanRec(-1000000 - st.stageId * 10 - st.attempt, job.id, job.op, "stage",
        clock.fromEpochMs(st.start), clock.fromEpochMs(st.end))
    }
  }

  /** Catalyst phases as spans under the client span they overlap most. */
  val phaseSpans: Seq[SpanRec] = {
    val leaves = harness.filter(s => s.name != "op")
    phases.phases.asScala.toSeq.flatMap { p =>
      val (s, e) = (clock.fromEpochMs(p.startMs), clock.fromEpochMs(p.endMs))
      val best = leaves.map(l => l -> (math.min(e, l.end) - math.max(s, l.start)))
        .filter(_._2 >= 0).sortBy(-_._2).headOption
      best.map { case (l, _) => SpanRec(tracer.freshId(), l.id, l.op, s"catalyst.${p.phase}", s, e) }
    }
  }

  def allSpans: Seq[SpanRec] = harness ++ jobSpans ++ stageSpans ++ phaseSpans

  private def opOf(t: Long): Option[Int] =
    opSpan.values.find(s => t >= s.start - 1000000L && t <= s.end + 1000000L).map(_.op)

  private val compilesByOp: Map[Int, Seq[Double]] =
    codegen.compiles.asScala.toSeq.flatMap(c => opOf(clock.fromEpochMs(c.epochMs)).map(_ -> c.ms))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Layer readings of one op. */
  def op(d: Done): Map[String, Double] = {
    val root = opSpan(d.op)
    val children = harness.filter(_.op == d.op)
    val call = children.find(_.name.endsWith(".call"))
    val jobs = jobSpans.filter(_.op == d.op)
    val jobIds = jobs.map(j => -1 - j.id).toSet
    val stageIds = exec.jobOfStage.asScala.collect { case (s, j) if jobIds(j) => s.intValue }.toSet
    val tasks = stageIds.toSeq.flatMap(s => Option(exec.tasksByStage.get(s)))
    val ph = phaseSpans.filter(_.op == d.op)
    def phaseMs(n: String) = ph.filter(_.name == s"catalyst.$n").map(_.ms).sum
    val jobWallMs = Stats.unionLength(jobs.map(j =>
      (math.max(j.start, root.start), math.min(j.end, root.end)))) / 1e6
    val runS = tasks.map(_.runMs).sum / 1e3
    val shuffleRecords = tasks.map(_.shuffleRecords).sum.toDouble
    val driverSelf = parts(d)._4
    val compiles = compilesByOp.getOrElse(d.op, Nil)
    val prefix = if (d.req.entry == "gateway") "gateway" else "ops"
    val other = if (prefix == "gateway") "ops" else "gateway"
    Map(
      s"$prefix.call_ms" -> call.fold(0.0)(_.ms),
      s"$prefix.call_jobs" -> call.fold(0.0)(c => jobs.count(_.parent == c.id).toDouble),
      s"$other.call_ms" -> 0.0,
      s"$other.call_jobs" -> 0.0,
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "codegen.compiles" -> compiles.length.toDouble,
      "codegen.compile_ms" -> compiles.sum,
      "exec.jobs" -> jobs.length.toDouble,
      "exec.stages" -> stageSpans.count(_.op == d.op).toDouble,
      "exec.tasks" -> tasks.map(_.tasks).sum.toDouble,
      "exec.job_wall_ms" -> jobWallMs,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> runS,
      "exec.core_util" -> (if (jobWallMs > 0) runS / (jobWallMs / 1e3 * cores) else 0.0),
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleBytes).sum / 1048576.0,
      "exec.shuffle_records" -> shuffleRecords,
      "exec.spill_mb" -> tasks.map(_.spillBytes).sum / 1048576.0,
      "exec.rows_amplification" ->
        (tasks.map(_.inputRecords).sum + shuffleRecords) / d.req.inputRows,
      "driver.self_ms" -> driverSelf,
      "ckpt.storage_mb" -> d.storageMb,
      "ckpt.blocks_written" -> d.blocks.toDouble,
      "jvm.gc_ms" -> d.gcMs.toDouble,
      "jvm.heap_after_gc_mb" -> d.heapAfterGcMb)
  }

  /** An op's wall time and its parts, in ms: (wall, Spark jobs and Catalyst
    * phases, ckpt.release, driver self time). The op, call and collect
    * spans' self times are the driver's; the parts add up to the wall. */
  private def parts(d: Done): (Double, Double, Double, Double) = {
    val spans = harness.filter(_.op == d.op)
    val below = (jobSpans ++ phaseSpans).filter(_.op == d.op).groupBy(_.parent)
    val driver = spans.filter(_.name != "ckpt.release")
    val self = driver.map { s =>
      val kids = spans.filter(_.parent == s.id) ++ below.getOrElse(s.id, Nil)
      Stats.selfTime(s.interval, kids.map(_.interval)) / 1e6
    }.sum
    val work = driver.filter(_.name != "op").map { s =>
      s.ms - Stats.selfTime(s.interval, below.getOrElse(s.id, Nil).map(_.interval)) / 1e6
    }.sum
    (opSpan(d.op).ms, work, spans.filter(_.name == "ckpt.release").map(_.ms).sum, self)
  }

  /** Where the traced ops' time went, as shares of their summed wall time. */
  def breakdown(done: Seq[Done]): String = {
    val p = done.map(parts)
    val wall = p.map(_._1).sum
    f"op wall ${wall / done.length}%.1f ms per op = Spark jobs and Catalyst phases " +
      f"${p.map(_._2).sum / wall}%.3f + ckpt.release ${p.map(_._3).sum / wall}%.3f + " +
      f"driver.self ${p.map(_._4).sum / wall}%.3f"
  }

  /** Per-layer metrics over the traced ops: the median per op, except the
    * readings most ops leave at zero (compiles, checkpoints, spill, GC),
    * which are means per op so a rare event still shows. */
  def metrics(done: Seq[Done]): Map[String, Double] = {
    val per = done.map(op)
    per.head.keys.map { k =>
      val xs = per.map(_(k))
      k -> (if (Layers.MeanPerOp(k)) Stats.mean(xs) else Stats.median(xs))
    }.toMap
  }
}

object Layers {
  val MeanPerOp = Set("codegen.compiles", "codegen.compile_ms", "ckpt.storage_mb",
    "ckpt.blocks_written", "exec.spill_mb", "jvm.gc_ms")

  /** Spans as JSON lines. */
  def json(s: SpanRec, t0: Long): String =
    f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      f""""start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f}"""
}
