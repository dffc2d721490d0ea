package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RemoteIterator, LocatedFileStatus}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The local file system with call counters. Hadoop's own statistics for
  * `file:` count bytes but no operations, so the traced run installs this
  * class as `fs.file.impl` to count listings and metadata calls. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  private def op(): Unit = { ops.incrementAndGet(); () }
  private def list(): Unit = { lists.incrementAndGet(); op() }
  override def listStatus(f: Path): Array[FileStatus] = { list(); super.listStatus(f) }
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    list(); super.listStatusIterator(p)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    list(); super.listLocatedStatus(f)
  }
  override def globStatus(p: Path): Array[FileStatus] = { list(); super.globStatus(p) }
  override def getFileStatus(f: Path): FileStatus = { op(); super.getFileStatus(f) }
  override def mkdirs(f: Path, p: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    op(); super.mkdirs(f, p)
  }
  override def rename(src: Path, dst: Path): Boolean = { op(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { op(); super.delete(f, recursive) }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    op(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    op(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingFileSystem {
  val lists = new AtomicLong
  val ops = new AtomicLong
}

/** Handle a traced call fills with what only the caller knows. */
final class Span {
  val extra = mutable.LinkedHashMap.empty[String, Double]
  def set(k: String, v: Double): Unit = extra(k) = v
}

/** Per-span tracing from the benchmark's side of the API: a span is one
  * call into a public graft function (and the action that consumes it).
  * Jobs are tagged to spans by a local property set around the call;
  * task metrics reach spans through their stage's job; planning phases
  * through their start time. Spans stay in memory; [[records]] resolves
  * them once the listener bus has drained.
  *
  * Call [[span]] from the one client thread only: spans never overlap. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private final class StageAcc {
    var tasks, runMs, cpuNs, shW, shR, spill, inRows, outBytes = 0L
  }
  private final case class JobRec(span: Option[String], start: Long, var end: Long,
      stages: Seq[Int])
  private final case class Rec(id: String, name: String, op: Int, start: Long, end: Long,
      lists: Long, ops: Long, fsWritten: Long, gcMs: Long, outFiles: Long,
      extra: collection.Map[String, Double])

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val phases = ArrayBuffer.empty[(Long, Long)]
  private val spans = ArrayBuffer.empty[Rec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      jobs(e.jobId) = JobRec(tag, e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val m = e.taskMetrics
      jobs.synchronized {
        val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inRows += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  private val queries = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = jobs.synchronized {
      qe.tracker.phases.values.foreach(p => phases += (p.startTimeMs -> p.durationMs))
    }
  }

  private var on = false
  private var seq = 0

  /** Attach or detach the listeners; detached, [[span]] only runs `body`. */
  def active_=(v: Boolean): Unit = if (v != on) {
    drain()
    if (v) { sc.addSparkListener(listener); spark.listenerManager.register(queries) }
    else { sc.removeSparkListener(listener); spark.listenerManager.unregister(queries) }
    on = v
  }
  def active: Boolean = on

  /** Run `body` as span `name` of user operation `op`. `watch` names
    * directories whose new files count as the span's output files. */
  def span[A](name: String, op: Int, watch: Seq[String] = Nil)(body: Span => A): A = {
    val s = new Span
    if (!on) return body(s)
    seq += 1
    val id = s"$name#$seq"
    val before = watch.flatMap(files).toSet
    val l0 = CountingFileSystem.lists.get
    val o0 = CountingFileSystem.ops.get
    val w0 = fsBytesWritten()
    val g0 = gcMs()
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id)
    val t0 = System.currentTimeMillis()
    val out = try body(s) finally sc.setLocalProperty(SpanKey, prev)
    val t1 = System.currentTimeMillis()
    val fresh = watch.flatMap(files).count(f => !before.contains(f))
    spans += Rec(id, name, op, t0, t1,
      CountingFileSystem.lists.get - l0, CountingFileSystem.ops.get - o0,
      fsBytesWritten() - w0, gcMs() - g0, fresh.toLong, s.extra)
    out
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Every span with its attributed jobs, task totals and plan time. */
  def records(): Seq[Map[String, Any]] = {
    drain()
    jobs.synchronized {
      def within(r: Rec, t: Long) = t >= r.start && t <= r.end
      spans.toSeq.map { r =>
        val mine = jobs.values.filter(j => j.span match {
          case Some(tag) => tag == r.id
          case None => within(r, j.start)
        }).toSeq
        val acc = mine.flatMap(_.stages).distinct.flatMap(stages.get)
        def sum(f: StageAcc => Long) = acc.map(f).sum
        Map[String, Any](
          "name" -> r.name, "op" -> r.op, "start_ms" -> r.start, "end_ms" -> r.end,
          "jobs" -> mine.map(j => Seq(j.start, j.end)),
          "tasks" -> sum(_.tasks), "run_ms" -> sum(_.runMs), "cpu_ns" -> sum(_.cpuNs),
          "shuffle_write_b" -> sum(_.shW), "shuffle_read_b" -> sum(_.shR),
          "spill_b" -> sum(_.spill), "input_rows" -> sum(_.inRows),
          "output_b" -> sum(_.outBytes), "output_files" -> r.outFiles,
          "plan_ms" -> phases.filter(p => within(r, p._1)).map(_._2).sum,
          "fs_list_ops" -> r.lists, "fs_ops" -> r.ops, "fs_written_b" -> r.fsWritten,
          "gc_ms" -> r.gcMs) ++ r.extra
      }
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Configuration the traced session needs at build time. */
  val sessionConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[CountingFileSystem].getName)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def fsBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  /** Regular files under `dir` (empty when it does not exist). */
  def files(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).toList
      finally s.close()
    }
  }
}
