package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Benchmark-side tracer. A span wraps each call the benchmark makes into
  * a public function of a layer. The span id rides on the calling thread as
  * a Spark local property, so every job the call submits carries it; the
  * listener then attributes jobs, stages, tasks, shuffle, spill, query
  * phases, scans, writes and file-system operations to that span. Spans
  * live in memory until the run reports.
  *
  * Off (the end-to-end runs), [[span]] is a plain call and nothing is
  * registered.
  */
object Tracer {
  val SpanKey = "perfbench.span"

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val wallBase = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()

  /** Epoch milliseconds with nanoTime resolution, on the listener's clock. */
  def nowMs: Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  final class Span(val id: Long, val parent: Long, val layer: String, val name: String,
                   val startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    def durMs: Double = endMs - startMs
  }

  /** Everything attributed to one span. */
  final class Acc {
    val jobs, stages, tasks, taskMs, shuffleWrite, spill = new LongAdder
    val planMs, filesScanned, rowsScanned, filesWritten, bytesWritten = new LongAdder
    val fsOps = new ConcurrentHashMap[String, LongAdder]()
    val jobIntervals = new ConcurrentLinkedQueue[(Double, Double)]()
    val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
    def fs(op: String): Long = Option(fsOps.get(op)).map(_.sum()).getOrElse(0L)
    def intervals: Seq[(Double, Double)] = jobIntervals.asScala.toList
    def stageTimes: Seq[Seq[Double]] =
      stageTaskMs.values().asScala.map(_.asScala.map(_.toDouble).toList).toList
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val accs = new ConcurrentHashMap[Long, Acc]()
  private def acc(span: Long): Acc = accs.computeIfAbsent(span, _ => new Acc)

  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Double)]()

  private val counts = new ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()

  /** Add `n` to a named counter (traced phases only). */
  def count(name: String, n: Double): Unit =
    if (enabled) counts.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder).add(n)

  def counters: Map[String, Double] = counts.asScala.map { case (k, v) => k -> v.sum() }.toMap

  /** Run `body` as a span of `layer`; nested spans record their parent. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(SpanKey)
      val s = new Span(ids.incrementAndGet(),
        if (prev == null) 0L else prev.toLong, layer, name, nowMs)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        sc.setLocalProperty(SpanKey, prev)
        spans.add(s)
      }
    }

  /** The span active where a file-system call runs: a task's job
    * properties on executor threads, the local property on driver threads.
    */
  private def currentSpan: Long = {
    val tc = TaskContext.get()
    val v = if (tc != null) tc.getLocalProperty(SpanKey)
      else if (sc != null) sc.getLocalProperty(SpanKey) else null
    if (v == null) 0L else v.toLong
  }

  def fsOp(op: String): Unit =
    if (enabled) acc(currentSpan).fsOps.computeIfAbsent(op, _ => new LongAdder).increment()

  private object Plans extends AdaptiveSparkPlanHelper

  /** Query phases (analysis, optimisation, planning), scans and writes of
    * one finished SQL execution.
    */
  private def query(a: Acc, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    a.planMs.add(Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum)
    Plans.foreach(qe.executedPlan) {
      case s: FileSourceScanExec =>
        s.metrics.get("numFiles").foreach(m => a.filesScanned.add(m.value))
        s.metrics.get("numOutputRows").foreach(m => a.rowsScanned.add(m.value))
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").foreach(m => a.filesWritten.add(m.value))
        w.cmd.metrics.get("numOutputBytes").foreach(m => a.bytesWritten.add(m.value))
      case _ =>
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val v = if (p == null) null else p.getProperty(SpanKey)
      if (v != null) {
        val span = v.toLong
        jobStart.put(e.jobId, (span, e.time.toDouble))
        e.stageIds.foreach(s => stageSpan.put(s, span))
        Option(p.getProperty("spark.sql.execution.id")).foreach(x => execSpan.put(x.toLong, span))
        val a = acc(span)
        a.jobs.increment()
        a.stages.add(e.stageIds.length)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
        acc(span).jobIntervals.add((t0, e.time.toDouble))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val span = execSpan.getOrDefault(end.executionId, 0L)
        val qe = BenchAccess.queryExecution(end)
        if (span != 0L && qe != null) query(acc(span), qe)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (span != 0L && m != null) {
        val a = acc(span)
        a.tasks.increment()
        a.taskMs.add(m.executorRunTime)
        a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(m.executorRunTime)
      }
    }
  }

  /** Register the listeners on `spark` (called once, in traced runs only). */
  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (sc != null) BenchAccess.drainListeners(sc)

  /** Spans in the order they ended, and a fresh start for the next phase. */
  def snapshot(): (Seq[Span], Long => Acc) = {
    drain()
    val ss = spans.asScala.toList
    (ss, (id: Long) => accs.getOrDefault(id, new Acc))
  }

  def reset(): Unit = {
    drain()
    spans.clear(); accs.clear(); stageSpan.clear(); execSpan.clear(); counts.clear()
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Local file system that counts logical operations for the tracer
  * (installed as `fs.file.impl` in traced runs only).
  */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    Tracer.fsOp("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Tracer.fsOp("open"); super.open(f, bufferSize)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Tracer.fsOp("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Tracer.fsOp("delete"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Tracer.fsOp("mkdirs"); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    Tracer.fsOp("list"); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    Tracer.fsOp("stat"); super.getFileStatus(f)
  }
}
