package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span. Times are `System.nanoTime` values; spans observed
  * through Spark's listeners carry epoch-millisecond times mapped onto the
  * same clock, so they are accurate to about a millisecond. */
final case class SpanRec(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
  def interval: (Long, Long) = (start, end)
  def ms: Double = (end - start) / 1e6
}

/** Spans opened and closed by the client thread around its calls into the
  * library. Every open span is published as a Spark local property, so a
  * job submitted while it is open carries that span's id in its
  * properties — that is how a job is attributed to its op and span.
  * `setProp` is `SparkContext.setLocalProperty` in a run. */
final class Tracer(setProp: (String, String) => Unit) {
  import Tracer._
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[(Int, Int, String, Long)] = Nil // (id, op, name, start)
  private var nextId = 1
  private val opOfSpan = mutable.HashMap.empty[Int, Int]
  private val parentOf = mutable.HashMap.empty[Int, Int]

  def open(name: String, op: Int): Int = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.fold(0)(_._1)
    stack = (id, op, name, System.nanoTime()) :: stack
    opOfSpan(id) = op
    parentOf(id) = parent
    setProp(SpanProp, id.toString)
    id
  }

  def close(id: Int): Unit = {
    val (sid, op, name, start) = stack.head
    require(sid == id, s"span $id closed while span $sid is open")
    stack = stack.tail
    recs += SpanRec(id, parentOf(id), op, name, start, System.nanoTime())
    setProp(SpanProp, stack.headOption.fold(null: String)(_._1.toString))
  }

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = open(name, op)
    try body finally close(id)
  }

  /** The (op, span) a job belongs to, from the properties it was submitted
    * with; None for a job submitted outside any span. */
  def attribute(props: java.util.Properties): Option[(Int, Int)] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
      .flatMap(s => opOfSpan.get(s).map(op => (op, s)))

  def spans: Seq[SpanRec] = recs.toSeq
  def freshId(): Int = { val id = nextId; nextId += 1; id }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Everything tracing switches on; attached for traced rounds only. */
final class TraceSession(spark: SparkSession) {
  private val sc = spark.sparkContext
  val tracer = new Tracer((k, v) => sc.setLocalProperty(k, v))
  val exec = new ExecListener
  val phases = new PhaseListener
  val codegen = new CodegenLog
  val clock = new Clock

  def attach(): scala.Unit = {
    sc.addSparkListener(exec)
    spark.listenerManager.register(phases)
    codegen.install()
  }

  /** Waits until the listeners have seen every event of the round. */
  def detach(): scala.Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(exec)
    spark.listenerManager.unregister(phases)
    codegen.uninstall()
  }
}

/** Epoch milliseconds (Spark's event times) onto the `nanoTime` clock. */
final class Clock {
  private val baseNanos = System.nanoTime()
  private val baseMillis = System.currentTimeMillis()
  def fromEpochMs(ms: Long): Long = baseNanos + (ms - baseMillis) * 1000000L
}

/** Raw per-task, per-stage and per-job records from Spark's listener bus.
  * Callbacks run on the bus thread; the harness reads the records only
  * after draining the bus. */
final class ExecListener extends SparkListener {
  final case class JobRec(jobId: Int, props: java.util.Properties, start: Long,
                          var end: Long = -1L)
  final case class StageRec(stageId: Int, attempt: Int, start: Long, end: Long)
  final class TaskSums {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var shuffleBytes = 0L
    var shuffleRecords = 0L; var spillBytes = 0L; var inputRecords = 0L
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasksByStage = new java.util.concurrent.ConcurrentHashMap[Int, TaskSums]()
  val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, JobRec(e.jobId, e.properties, e.time))
    e.stageIds.foreach(s => jobOfStage.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(StageRec(i.stageId, i.attemptNumber(), s, c))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = tasksByStage.computeIfAbsent(e.stageId, _ => new TaskSums)
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }
}

/** Catalyst phase times of every executed query, from
  * `QueryExecution.tracker`. */
final class PhaseListener extends QueryExecutionListener {
  final case class PhaseRec(phase: String, startMs: Long, endMs: Long)
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(PhaseRec(name, p.startTimeMs, p.endTimeMs))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Codegen compile times from the `Code generated in N ms` line Spark's
  * code generator logs once per compiled class (cache hits log nothing).
  * The appender takes only that logger's INFO lines and keeps them off the
  * console. */
final class CodegenLog {
  final case class Compile(epochMs: Long, ms: Double)
  val compiles = new ConcurrentLinkedQueue[Compile]()
  private val loggerName =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val pattern = "Code generated in ([0-9.]+) ms".r.unanchored

  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
  import org.apache.logging.log4j.Level

  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case pattern(ms) => compiles.add(Compile(e.getTimeMillis, ms.toDouble))
        case _ => ()
      }
  }

  def install(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    val lc = new LoggerConfig(loggerName, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }

  def uninstall(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(loggerName)
    ctx.updateLoggers()
    appender.stop()
  }
}

/** CPU time of the whole machine from `/proc/stat`, in clock ticks: the
  * time its CPUs ran (user, nice, system, irq, softirq) and the time the
  * hypervisor ran other guests while one of them had work (steal). Reads
  * (0, 0) where there is no `/proc/stat`. */
object Host {
  final case class Ticks(busy: Long, steal: Long) {
    /** The share of the CPU time wanted since `from` that the host granted. */
    def grantedSince(from: Ticks): Double = {
      val b = busy - from.busy
      val st = steal - from.steal
      if (b + st > 0) b.toDouble / (b + st) else 1.0
    }
  }

  def ticks(): Ticks =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      Ticks(f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } catch { case _: java.io.IOException => Ticks(0L, 0L) }
}

/** JVM-wide readings taken on the client thread around each op. */
object Jvm {
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use just after the most recent collection, summed over the
    * heap pools. */
  def heapAfterGcMb: Double =
    heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Peak resident set size of this process so far (`VmHWM`). */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
