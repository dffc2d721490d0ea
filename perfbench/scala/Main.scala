package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Counts operations and failures, and times what the run measures.
  * An operation is one load, dedup pass, read or final check; it fails
  * when it throws or when one of its output checks does not hold. */
final class Recorder {
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val reads = ArrayBuffer.empty[Map[String, Any]]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  var measuring = false
  var traced = false
  /** The loop iteration ops belong to. */
  var step = 0
  private var opFailed = false

  /** One operation; [[expect]] inside `body` marks it failed. An
    * exception also marks it failed and is rethrown: the store it worked
    * on can no longer be trusted. */
  def attempt[A](what: String)(body: => A): A = {
    attempted += 1
    opFailed = false
    try body
    catch { case NonFatal(e) => expect(ok = false, s"$what threw $e"); throw e }
    finally if (opFailed) failed += 1
  }

  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) { if (!opFailed) failures += what; opFailed = true }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A load or a dedup pass over `rows` input rows. */
  def op[A](kind: String, rows: Long)(body: => A): A = {
    val (r, s) = timed(body)
    if (measuring)
      ops += Map("kind" -> kind, "step" -> step, "wall_s" -> s, "rows" -> rows, "traced" -> traced)
    r
  }

  /** A read; returns its row count. */
  def read(kind: String)(body: => Long): Long = {
    val (r, s) = timed(body)
    if (measuring) reads += Map("kind" -> kind, "wall_ms" -> s * 1e3, "traced" -> traced)
    r
  }
}

/** What a workload gets: the session, its seed and scratch, the recorder
  * and (traced runs only) the trace. */
final case class Ctx(spark: SparkSession, seed: Long, work: String, rec: Recorder,
    trace: Option[Trace]) {
  /** Inputs, stores and outputs; setup wipes it. */
  val data = s"$work/data"
  private var ops = 0
  /** A fresh id for one user-level operation; its spans share it. */
  def nextOp(): Int = { ops += 1; ops }
  def span[A](name: String, op: Int, watch: Seq[String] = Nil)(body: Span => A): A =
    trace.fold(body(new Span))(_.span(name, op, watch)(body))
}

/** One closed-loop, single-client workload. */
trait Workload {
  /** Wipe the workload's scratch, generate inputs and bootstrap the
    * store. Called several times; the last call leaves the state the
    * warm-up continues from. */
  def prepare(): Unit
  /** One operation and a few reads before measuring, so that caches fill
    * and code is compiled; includes the checks on the first outputs. */
  def warmUp(): Unit
  /** One iteration of the loop: one load or pass, then its reads. */
  def step(): Unit
  /** Checks over the final state. */
  def finish(): Unit
  /** Directories holding the workload's store(s). */
  def storeDirs: Seq[String]
  /** Generator facts about the inputs: rows, bytes, rates. */
  def inputs: Map[String, Any]
  /** Generate the bootstrap and first-step inputs only. */
  def generate(): Unit
}

/** Benchmark JVM entry point.
  *
  * {{{
  * perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <work dir> <out json>
  * perfbench.Main gen all <seed> <work dir>
  * }}}
  * `run` sets up, runs the closed loop for `seconds` and writes raw
  * samples, checks and spans to `out json`; run.py turns them into
  * metrics. `gen` only generates every workload's first inputs, each under
  * `<work dir>/<workload>` (the determinism test). */
object Main {
  val SetupRepeats = 3
  /** Loop iterations a run makes even when `seconds` is shorter. */
  val MinSteps = 3

  def main(args: Array[String]): Unit = {
    // the monotonic clock run.py also reads: wall-clock steps cannot skew
    // the JVM start time measured across the two processes
    val mainStartNs = System.nanoTime()
    args.toList match {
      case "run" :: w :: seed :: secs :: tr :: work :: out :: Nil =>
        run(mainStartNs, w, seed.toLong, secs.toDouble, tr == "1", work, out)
      case "gen" :: "all" :: seed :: work :: Nil =>
        val spark = session(work, traced = false)
        try Workloads.foreach { w =>
          workload(w, Ctx(spark, seed.toLong, s"$work/$w", new Recorder, None)).generate()
        } finally spark.stop()
      case _ =>
        System.err.println("usage: perfbench.Main run|gen ...")
        sys.exit(2)
    }
  }

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def session(work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    if (traced) Trace.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val Workloads = Seq("store_daily", "dedup_corpus")

  def workload(name: String, c: Ctx): Workload = name match {
    // one day of a warehouse: the orders dimension's full snapshot through
    // the SCD2 tier (batch ≈ store) and the lineitem feed's delta batch
    // through CDC historization (batch ≪ store)
    case "store_daily" => new Composite(Seq(
      "scd2" -> new Scd2Daily(c, s"${c.data}/scd2"),
      "cdc" -> new CdcFeed(c, s"${c.data}/cdc")))
    case "dedup_corpus" => new DedupCorpus(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def run(mainStartNs: Long, name: String, seed: Long, seconds: Double,
      traced: Boolean, work: String, out: String): Unit = {
    val t0 = System.nanoTime()
    val spark = session(work, traced)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder
    val trace = if (traced) Some(new Trace(spark)) else None
    val c = Ctx(spark, seed, work, rec, trace)
    val w = workload(name, c)
    val raw = scala.collection.mutable.LinkedHashMap[String, Any](
      "main_start_ns" -> mainStartNs, "session_s" -> sessionS, "cores" -> cores)
    try {
      raw("prepare_s") = (1 to SetupRepeats).map { _ =>
        val s0 = System.nanoTime()
        w.prepare()
        (System.nanoTime() - s0) / 1e9
      }
      val s0 = System.nanoTime()
      w.warmUp()
      raw("warm_up_s") = (System.nanoTime() - s0) / 1e9
      val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
      pools.foreach(_.resetPeakUsage())
      val gc0 = Trace.gcMs()
      rec.measuring = true
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline || i < MinSteps) {
        // traced runs alternate traced and untraced iterations; the
        // difference between the two is the tracing overhead
        trace.foreach(_.active = i % 2 == 0)
        rec.traced = trace.exists(_.active)
        rec.step = i
        w.step()
        i += 1
      }
      trace.foreach(_.active = false)
      rec.measuring = false
      raw("gc_s") = (Trace.gcMs() - gc0) / 1e3
      raw("peak_heap_b") = pools.map(_.getPeakUsage.getUsed).sum
      raw("store_b") = w.storeDirs.map(Scratch.bytes).sum
      w.finish()
      raw("complete") = true
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: $name stopped: $e")
        e.printStackTrace()
    } finally {
      raw("ops") = rec.ops.toSeq
      raw("reads") = rec.reads.toSeq
      raw("attempted") = rec.attempted
      raw("failed") = rec.failed
      raw("failures") = rec.failures.toSeq
      raw("inputs") = w.inputs
      raw("spans") = trace.map(_.records()).getOrElse(Nil)
      Files.write(Paths.get(out), Json(raw).getBytes("UTF-8"))
      spark.stop()
    }
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
