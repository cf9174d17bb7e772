package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Micro-batch harness for the run-to-completion (AvailableNow) streaming
  * queries. The query semantics are entirely the writer's; this helper
  * only places the scratch I/O and sizes the stateful partitioning
  * (optimization guide §2/§4 — both measured dominant in the streaming
  * tier's fixed per-query cost):
  *
  *  - CHECKPOINT SCRATCH. A memory-sink streaming query's temp checkpoint
  *    (offset log, commit log, state-store delta files) defaults to
  *    java.io.tmpdir — DISK on this box. Every micro-batch commits several
  *    small files per state partition there. A tmpfs scratch (/dev/shm,
  *    the same placement Bench uses for spark.local.dir) removes that disk
  *    I/O. The directory is unique per invocation and deleted afterwards,
  *    so every run still computes from the parquet source (a reused
  *    checkpoint would RESUME the stream and skip recomputation — that
  *    would be result caching, so it is deliberately impossible here).
  *
  *  - STATE PARTITIONS (guide §2: derive partitioning from input size,
  *    never a constant tuned for one deployment). A stateful micro-batch
  *    creates one state store (directory + per-commit files + provider
  *    init) per shuffle partition. At the session default (= cores) a
  *    few-MB batch pays ~cores state-store setups to aggregate a handful
  *    of windows. partitions = clamp(inputBytes / 64 MB, 1, session
  *    value): big inputs keep the session's configured parallelism
  *    untouched — the derivation can only trim fixed cost on small
  *    batches, never parallelism at scale. The session conf is restored
  *    after the stream terminates.
  */
object StreamRun {

  /** Best-effort size of one input (local or hadoop-visible path): a
    * file's length, or for a directory-shaped dataset (parquet parts)
    * the summed length of every regular file under it — a directory's
    * own length is its inode size (~4 KB), which would clamp the stream
    * to one partition at any scale. -1 when unknown (the partition
    * derivation then keeps the session value). */
  def inputBytes(dir: String, file: String): Long =
    try {
      val f = new java.io.File(dir, file)
      if (!f.exists) -1L
      else {
        val walk = java.nio.file.Files.walk(f.toPath)
        try walk.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally walk.close()
      }
    } catch { case _: Throwable => -1L }

  /** Start `w` with AvailableNow, a tmpfs scratch checkpoint, and
    * size-derived stateful partitioning; block until completion. */
  def runAvailableNow[T](w: DataStreamWriter[T], spark: SparkSession,
                         bytes: Long): Unit = {
    val conf = spark.conf
    val prev = conf.get("spark.sql.shuffle.partitions")
    val sessionParts = try prev.toInt catch { case _: Throwable => 200 }
    val parts =
      if (bytes <= 0) sessionParts
      else math.max(1L, math.min(sessionParts.toLong,
        (bytes + (64L << 20) - 1) / (64L << 20))).toInt
    val ckptBase = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite)
        new java.io.File(shm, "graft_stream_ckpt")
      else new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_stream_ckpt")
    }
    ckptBase.mkdirs()
    val ckpt = java.nio.file.Files.createTempDirectory(
      ckptBase.toPath, "run").toFile
    try {
      conf.set("spark.sql.shuffle.partitions", parts.toString)
      val q = w.option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      conf.set("spark.sql.shuffle.partitions", prev)
      def rm(f: java.io.File): Unit = {
        val ch = f.listFiles()
        if (ch != null) ch.foreach(rm)
        f.delete(); ()
      }
      try rm(ckpt) catch { case _: Throwable => () }
    }
  }
}
