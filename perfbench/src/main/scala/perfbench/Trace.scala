package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed operation of the closed loop: a CDC window or an admission
  * tick, regular or maintenance. Counters accumulate what the listeners
  * and the benchmark's own call sites attribute to it. */
final class Op(val id: Int, val kind: String, val maint: Boolean) {
  var startNs = 0L
  var endNs = 0L
  /** CPU time of the JVM during the op, without its JIT compiler threads. */
  var cpuMs = 0.0
  /** CPU time of the JIT compiler threads during the op. */
  var jitCpuMs = 0.0
  /** JIT compilation time during the op, as the CompilationMXBean reports it. */
  var jitMs = 0.0
  var ok = true
  var error = ""
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  def wallMs: Double = (endNs - startNs) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long)

/** Spans, counters and listener roll-ups for the traced run.
  *
  * A span is recorded around every call the benchmark makes into a layer
  * (name, start, end, parent span, op id); counts are recorded at the same
  * call sites. A SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener roll task metrics, planning phases and streaming
  * progress up into the op that is open while they arrive: the loop has
  * one client thread, and a traced op waits for the listener bus to drain
  * before it closes, so every event lands in the op that caused it.
  *
  * Nothing is recorded outside a traced op (set-up, warm-up), and nothing
  * at all when tracing is off: the untraced run is the baseline the
  * tracing overhead is measured against. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Op = _
  private var stack: List[Int] = Nil
  private var nextSpan = 0

  private def open: Option[Op] = if (enabled) synchronized(Option(current)) else None
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** Time one op: wall time, and the CPU time the JVM spent meanwhile
    * (driver, executor and GC threads: in local mode all of the op's
    * compute) without its JIT compiler threads. In a JVM as young as a
    * benchmark run's, JIT compilation is still 40–55% of the process CPU
    * and falls op after op; it is recorded apart (`jitCpuMs`, `jitMs`).
    * Failures are recorded, not thrown: a failed op counts against
    * `failed` and misses every latency limit. */
  def op(kind: String, maint: Boolean)(body: Op => Unit): Op = {
    val o = new Op(ops.size, kind, maint)
    if (enabled) PerfbenchBus.drain(spark.sparkContext)
    val compile0 = if (enabled) Codegen.snapshot else null
    synchronized { current = o }
    val cpu0 = os.getProcessCpuTime
    val jit0 = ThreadCpu.jit
    val jitMs0 = jit.getTotalCompilationTime
    o.startNs = System.nanoTime()
    try body(o)
    catch {
      case e: Throwable =>
        o.ok = false
        o.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] op ${o.id} ($kind) failed: ${o.error}")
    }
    o.endNs = System.nanoTime()
    o.jitCpuMs = ThreadCpu.jit - jit0
    o.cpuMs = (os.getProcessCpuTime - cpu0) / 1e6 - o.jitCpuMs
    o.jitMs = (jit.getTotalCompilationTime - jitMs0).toDouble
    if (enabled) {
      PerfbenchBus.drain(spark.sparkContext)
      val c1 = Codegen.snapshot
      o.add("codegen.compile_ms", (c1._1 - compile0._1) / 1e6)
      o.add("codegen.classes_compiled", (c1._2 - compile0._2).toDouble)
      o.add("driver.nonjob_ms", math.max(0.0, o.wallMs - covered(o.jobSpans.toSeq)))
    }
    synchronized { current = null }
    ops += o
    o
  }

  /** Record a span around a call into a layer. Without tracing, or
    * outside an op, the body runs bare. */
  def span[T](name: String)(body: => T): T = open match {
    case None => body
    case Some(o) =>
      val id = synchronized { nextSpan += 1; nextSpan }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans += Span(id, name, parent, o.id, t0, t1) }
      }
  }

  /** True while a traced op is open. */
  def tracing: Boolean = open.isDefined

  /** A count recorded at a layer boundary of the open traced op. */
  def count(name: String, v: Double): Unit = open.foreach(o => synchronized(o.add(name, v)))

  /** Length of the union of intervals (any unit). */
  private def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var end = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      val s1 = math.max(s, end)
      if (e > s1) { total += e - s1; end = e }
    }
    total.toDouble
  }

  private def attribute(f: Op => Unit): Unit = synchronized {
    if (current != null) f(current)
  }

  private val jobStart = mutable.Map.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = attribute { o =>
      jobStart(e.jobId) = e.time
      o.add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = attribute { o =>
      jobStart.remove(e.jobId).foreach(s => o.jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      attribute(_.add("exec.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = attribute { o =>
      val m = e.taskMetrics
      o.add("exec.tasks", 1)
      if (m != null) {
        o.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        o.add("exec.task_run_ms", m.executorRunTime.toDouble)
        o.add("exec.gc_ms", m.jvmGCTime.toDouble)
        o.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        o.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        o.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        o.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        o.add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val scans = scala.util.Try(collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s: SparkPlan
        case s: BatchScanExec => s: SparkPlan
      }.size).getOrElse(0)
      attribute { o =>
        o.add("catalyst.analysis_ms", ms("analysis"))
        o.add("catalyst.optimization_ms", ms("optimization"))
        o.add("catalyst.planning_ms", ms("planning"))
        o.add("pipeline.scan_relations", scans.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      attribute { o =>
        o.add("streaming.query_planning_ms", ms("queryPlanning"))
        o.add("streaming.add_batch_ms", ms("addBatch"))
        o.add("streaming.wal_commit_ms", ms("walCommit"))
        o.add("streaming.commit_offsets_ms", ms("commitOffsets"))
        o.add("streaming.trigger_execution_ms", ms("triggerExecution"))
      }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Self time: a span's duration minus the part of it its children cover. */
  def selfNs: Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).toSeq
      s.id -> (s.endNs - s.startNs - covered(kids).toLong)
    }.toMap
  }
}

/** Spark's global code-generation counters: cumulative compile nanos and
  * the number of classes compiled. */
object Codegen {
  def snapshot: (Long, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
     org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** CPU time of the JVM's JIT compiler threads ("C1/C2 CompilerThread"),
  * in ms, read from /proc (Linux; elsewhere 0). They never exit while the
  * JVM runs (run.py turns off dynamic compiler threads), so differences
  * over an op are exact to the kernel's clock tick. */
object ThreadCpu {
  private val tickMs = 10.0 // USER_HZ = 100
  def jit: Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      val stat = try new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        catch { case _: java.io.IOException => "" }
      val close = stat.lastIndexOf(')')
      if (close < 0 || !stat.substring(0, close).contains("CompilerThre")) 0.0
      else {
        // utime and stime, fields 14 and 15 of stat, are 12 and 13 after the name
        val f = stat.substring(close + 2).split(' ')
        (f(11).toLong + f(12).toLong) * tickMs
      }
    }.sum
  }
}
