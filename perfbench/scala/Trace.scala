package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of one benchmark run: operations, spans, and (when
  * tracing) Spark's own counters. Everything is written out once, as JSON,
  * when the run ends; the arithmetic over it lives in `perfbench/stats.py`.
  *
  * Times are epoch microseconds, so they line up with Spark's listener
  * timestamps (epoch milliseconds).
  */
object Rec {
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  /** Whether the current round is traced: spans, FS and JVM deltas per op. */
  @volatile var traced = false
  @volatile var round = -1

  final case class Op(id: Long, round: Int, kind: String, name: String,
      start: Long, end: Long, ok: Boolean, err: String, traced: Boolean,
      extra: Map[String, Any])
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      start: Long, end: Long)

  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  private var curOp = -1L
  var failures = mutable.ArrayBuffer.empty[String]
  var checks = 0L

  /** One client operation, timed from outside, with the JVM's CPU time
    * while it ran. A throw is recorded as a failed operation and yields
    * None. `extra` is filled by the body. */
  def op[T](kind: String, name: String)(body: mutable.Map[String, Any] => T): Option[T] = {
    val id = ids.incrementAndGet()
    val sc = Main.spark.sparkContext
    sc.setLocalProperty("perfbench.op", id.toString)
    sc.setLocalProperty("perfbench.traced", if (traced) "1" else null)
    val extra = mutable.Map.empty[String, Any]
    val fs0 = if (traced) Fs.snapshot() else null
    curOp = id
    stack = List(id)
    val cpu0 = Main.cpuNs()
    val jit0 = Main.jitMs()
    val t0 = nowUs()
    var err = ""
    val res = try Some(body(extra)) catch {
      case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        None
    }
    val t1 = nowUs()
    // the JVM's CPU time while the op ran, less the JIT compiler's share
    extra("cpu_s") = (Main.cpuNs() - cpu0) / 1e9 - (Main.jitMs() - jit0) / 1e3
    if (traced) {
      extra("fs") = Fs.delta(fs0)
      spans += Span(id, 0L, id, s"op.$kind.$name", t0, t1)
    }
    stack = Nil
    curOp = -1L
    sc.setLocalProperty("perfbench.op", null)
    sc.setLocalProperty("perfbench.traced", null)
    ops += Op(id, round, kind, name, t0, t1, res.isDefined, err, traced, extra.toMap)
    if (res.isEmpty) failures += s"$kind $name: $err"
    res
  }

  /** A span around a call into one layer, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    if (!traced || curOp < 0) return body
    val id = ids.incrementAndGet()
    val parent = stack.head
    stack = id :: stack
    val t0 = nowUs()
    try body
    finally {
      spans += Span(id, parent, curOp, name, t0, nowUs())
      stack = stack.tail
    }
  }

  /** Count a correctness check; a failed one is a failed operation. */
  def check(ok: Boolean, what: => String): Boolean = {
    checks += 1
    if (!ok) failures += s"wrong output: $what"
    ok
  }
}

/** Local file system counters: API calls counted by CountingLocalFileSystem,
  * bytes from Hadoop's statistics, summed over threads. */
object Fs {
  def snapshot(): Array[Long] = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(s => s.getScheme == "file")
    Array(FsOps.reads.get, FsOps.writes.get, FsOps.lists.get,
      all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
  def delta(a: Array[Long]): Map[String, Long] = {
    val b = snapshot()
    Seq("read_ops", "write_ops", "list_ops", "bytes_read", "bytes_written")
      .zipWithIndex.map { case (k, i) => k -> (b(i) - a(i)) }.toMap
  }
}

/** Spark scheduler and executor counters for traced operations. Jobs carry
  * the operation id in their properties and their call site in the result
  * stage's name; stages and tasks are attributed through their job. */
class JobTrace extends SparkListener {
  final class StageAgg(val stage: Int, val job: Int) {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shW = 0L; var shR = 0L; var fetchMs = 0L; var spill = 0L
    var peakMem = 0L; var inBytes = 0L; var inRecs = 0L; var outBytes = 0L
    val durs = mutable.ArrayBuffer.empty[Long]
  }
  final case class JobRec(job: Int, op: Long, callSite: String, start: Long,
      var end: Long, stages: Seq[Int])

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    if (p == null || p.getProperty("perfbench.traced") != "1") return
    val op = Option(p.getProperty("perfbench.op")).map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, JobRec(e.jobId, op,
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""), e.time, -1L,
      e.stageIds))
    e.stageIds.foreach(s => stages.putIfAbsent(s, new StageAgg(s, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.end = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.get(e.stageId)
    val m = e.taskMetrics
    if (s == null || m == null) return
    s.synchronized {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shW += m.shuffleWriteMetrics.bytesWritten
      s.shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      s.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecs += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.durs += e.taskInfo.duration
    }
  }

  def toJson: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.job).map { j =>
    Map("job" -> j.job, "op" -> j.op, "callsite" -> j.callSite,
      "start_ms" -> j.start, "end_ms" -> j.end,
      "stages" -> j.stages.flatMap(s => Option(stages.get(s))).filter(_.job == j.job)
        .map { s => Map("stage" -> s.stage, "tasks" -> s.tasks,
          "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
          "shuffle_write" -> s.shW, "shuffle_read" -> s.shR,
          "fetch_wait_ms" -> s.fetchMs, "spill" -> s.spill,
          "peak_mem" -> s.peakMem, "in_bytes" -> s.inBytes,
          "in_recs" -> s.inRecs, "out_bytes" -> s.outBytes,
          "task_ms" -> s.durs.toSeq) })
  }
}

/** Catalyst phase times of every executed query, in any session (registered
  * through `spark.sql.queryExecutionListeners`). */
class PlanTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanTrace.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PlanTrace.record(qe)
}

object PlanTrace {
  val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) phases.add(ph.map { case (k, v) =>
      k -> Map("start_ms" -> v.startTimeMs, "end_ms" -> v.endTimeMs) })
  }
}

/** Micro-batch progress of every streaming query, in any session
  * (registered through `spark.sql.streaming.streamingQueryListeners`).
  * Always on: `batch_s` is an end-to-end metric. */
class StreamTrace extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    StreamTrace.batches.add(Map(
      "query" -> p.id.toString, "batch" -> p.batchId, "rows" -> p.numInputRows,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "ms" -> d))
  }
}

object StreamTrace {
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
}

/** The local file system with its API calls counted (traced runs only;
  * installed as `fs.file.impl`). Local statistics carry bytes but no op
  * counts. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsOps.reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsOps.writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsOps.writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsOps.writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsOps.writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsOps.lists.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsOps.reads.incrementAndGet(); super.getFileStatus(f)
  }
}

object FsOps {
  val reads = new AtomicLong(0)
  val writes = new AtomicLong(0)
  val lists = new AtomicLong(0)
}
