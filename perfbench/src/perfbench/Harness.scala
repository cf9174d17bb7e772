package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One request of a workload. `call` enters the library through a public
  * entry point — `GraftGateway.sql` or a `graft.ops` verb — and returns what
  * it returned: a DataFrame, or rows already in hand for verbs that return
  * values. `check` compares the collected rows with a reference computed
  * without the library; it runs after the timed loop. */
final case class Request(cls: String, plan: String, entry: String, inputRows: Long,
                         call: () => Any, check: Array[Row] => Option[String])

trait Workload {
  /** Generate the inputs from the seed, write them and register the views. */
  def prepare(dir: String): scala.Unit
  /** One request of every class, with parameters the timed stream does not use. */
  def warmUp: Seq[Request]
  /** Rounds of the stream run untimed after `warmUp`, so that the timed
    * rounds start once the JIT has compiled the per-query paths: without
    * them the first timed rounds ran 20-30 % slower than later ones. */
  def warmRounds: Int
  /** The seeded request stream, in rounds that each hold the workload's
    * fixed class mix; a run always ends on a round boundary. */
  def rounds: Iterator[Seq[Request]]
  /** Input sizes and stream shape, for the summary. */
  def describe(warm: Seq[Done], timed: Seq[Done]): Seq[String]
}

/** A finished op. `granted` is the share of the CPU time the machine
  * wanted during the op that the host granted it (1 without steal).
  * Readings after it are taken only when tracing. */
final case class Done(req: Request, op: Int, latencyNs: Long, rows: Option[Array[Row]],
                      error: Option[Throwable], granted: Double = 1.0, gcMs: Long = 0L,
                      heapAfterGcMb: Double = 0.0, storageMb: Double = 0.0, blocks: Long = 0L) {
  def latencyMs: Double = latencyNs / 1e6
  /** The latency net of steal: the part of it the host let the machine run. */
  def netMs: Double = latencyMs * granted
  def outcome: Stats.Outcome = error match {
    case Some(e) => Stats.Threw(String.valueOf(e.getMessage).take(300))
    case None =>
      try req.check(rows.get).fold[Stats.Outcome](Stats.Ok)(Stats.Wrong)
      catch { case NonFatal(e) => Stats.Wrong(s"check failed to read the result: $e") }
  }
}

/** The ops of one side of a loop. `netNs` is the wall time of its rounds,
  * each scaled by the share of CPU time the host granted during it. */
final case class Phase(done: Seq[Done], wallNs: Long, netNs: Double, roundsNs: Seq[Long]) {
  def wallS: Double = wallNs / 1e9
  def opsPerS: Double = done.length / wallS
  def netOpsPerS: Double = done.length / (netNs / 1e9)
}

/** The closed-loop client: one thread, next request only after the
  * previous one returned. Every op ends at the query boundary the library
  * documents for harness callers: `Ckpt.releaseAll()`. */
final class Client(spark: SparkSession) {
  private var nextOp = 0

  /** Runs whole rounds until `seconds` have passed. With a trace session
    * the rounds run in blocks of four — untraced, traced, traced,
    * untraced — and only whole blocks, at least one, so neither side gets
    * the warmer rounds; returns (untraced, traced) phases. */
  def loop(rounds: Iterator[Seq[Request]], seconds: Double,
           trace: Option[TraceSession]): (Phase, Phase) = {
    val done = Array.fill(2)(mutable.ArrayBuffer.empty[Done])
    val wall = Array(0L, 0L)
    val net = Array(0.0, 0.0)
    val roundNs = Array.fill(2)(mutable.ArrayBuffer.empty[Long])
    val block = if (trace.isDefined) 4 else 1
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || i % block != 0 || System.nanoTime() - t0 < seconds * 1e9) {
      val side = if (trace.isDefined && (i % 4 == 1 || i % 4 == 2)) 1 else 0
      val tracer = if (side == 1) trace.map { t => t.attach(); t.tracer } else None
      val ticks = Host.ticks()
      val start = System.nanoTime()
      rounds.next().foreach(r => done(side) += op(r, tracer))
      roundNs(side) += System.nanoTime() - start
      wall(side) += roundNs(side).last
      net(side) += roundNs(side).last * Host.ticks().grantedSince(ticks)
      if (side == 1) trace.foreach(_.detach())
      i += 1
    }
    (Phase(done(0).toSeq, wall(0), net(0), roundNs(0).toSeq),
      Phase(done(1).toSeq, wall(1), net(1), roundNs(1).toSeq))
  }

  def op(r: Request, tracer: Option[Tracer]): Done = {
    nextOp += 1
    val id = nextOp
    val sc = spark.sparkContext
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name, id)(body))
    tracer.foreach(_ => sc.setJobGroup(s"op-$id", r.cls))
    val gc0 = if (tracer.isDefined) Jvm.gcMs else 0L
    val opSpan = tracer.map(_.open("op", id))
    val ticks = Host.ticks()
    val t0 = System.nanoTime()
    var rows: Option[Array[Row]] = None
    var error: Option[Throwable] = None
    try {
      val res = span(s"${r.entry}.call")(r.call())
      rows = Some(span("action.collect")(materialize(res)))
    } catch { case NonFatal(e) => error = Some(e) }
    val latency = System.nanoTime() - t0
    val granted = Host.ticks().grantedSince(ticks)
    var storageMb = 0.0
    var blocks = 0L
    span("ckpt.release") {
      if (tracer.isDefined) {
        val info = sc.getRDDStorageInfo
        storageMb = info.map(i => i.memSize + i.diskSize).sum / 1048576.0
        blocks = info.map(_.numCachedPartitions.toLong).sum
      }
      graft.Ckpt.releaseAll()
    }
    opSpan.foreach(s => tracer.get.close(s))
    if (tracer.isEmpty) Done(r, id, latency, rows, error, granted)
    else {
      sc.clearJobGroup()
      Done(r, id, latency, rows, error, granted, Jvm.gcMs - gc0, Jvm.heapAfterGcMb, storageMb, blocks)
    }
  }

  private def materialize(res: Any): Array[Row] = res match {
    case df: DataFrame => df.collect()
    case rows: Array[Row] => rows
    case other => Array(Row(other))
  }
}
