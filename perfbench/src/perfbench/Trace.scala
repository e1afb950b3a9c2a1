package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer of the program. `op` groups every span of
  * one top-level operation; `parent` is 0 for the operation itself. */
final case class Span(id: Long, op: Long, name: String, parent: Long,
                      start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder for the traced run. Spans are timed around calls into the
  * program's public entry points from this benchmark's own code; nothing is
  * instrumented inside the program. Before each call the span id goes into
  * the Spark local property [[SpanKey]], so [[JobRecorder]] attributes every
  * job the call launches to that span. With tracing off, `op` and `span`
  * only run their body.
  */
object Trace {
  val SpanKey = "perfbench.span"

  @volatile var enabled = false
  private var sc: SparkContext = _
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var nextOp = 1L

  def attach(context: SparkContext): Unit = sc = context

  /** A top-level operation: one pipeline step, door batch, query or
    * curation stage. */
  def op[T](name: String)(body: => T): T =
    try span(name)(body) finally nextOp += 1

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val s = Span(nextId, parent.map(_.op).getOrElse(nextOp), name,
      parent.map(_.id).getOrElse(0L), System.nanoTime())
    nextId += 1
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
    }
  }

  def clear(): Unit = { spans.clear(); stack = Nil }
}

/** Listener attached by the benchmark: attributes each job to the span that
  * launched it, and keeps the execution totals the per-layer metrics need. */
final class JobRecorder extends SparkListener {
  /** Jobs launched per span id (0: outside any span). */
  val bySpan = mutable.HashMap[Long, Int]()
  val jobSeconds = mutable.ArrayBuffer[Double]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  val stageSkew = mutable.ArrayBuffer[Double]()
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, shuffleWrite, shuffleRead, spill = 0L
  /** Write tasks that produced output (one file each) and their bytes. */
  var filesWritten, outputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.SpanKey))).map(_.toLong).getOrElse(0L)
    jobs += 1
    jobStart(e.jobId) = e.time
    bySpan(span) = bySpan.getOrElse(span, 0) + 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => jobSeconds += (e.time - t) / 1e3)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (e.stageInfo.numTasks > 0) stages += 1
    stageTaskMs.remove(id).filter(_.nonEmpty).foreach { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.length / 2).max(1L)
      stageSkew += sorted.last.toDouble / med
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.outputMetrics.bytesWritten > 0) {
        filesWritten += 1
        outputBytes += m.outputMetrics.bytesWritten
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        m.executorRunTime
    }
  }

  def reset(): Unit = synchronized {
    bySpan.clear(); jobSeconds.clear(); stageSkew.clear()
    jobs = 0; stages = 0; tasks = 0; failedTasks = 0
    taskRunMs = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0
    filesWritten = 0; outputBytes = 0
  }
}

/** Catalyst phase times and scan metrics of every executed Dataset action,
  * read from `QueryExecution.tracker` and the executed plan's SQL metrics. */
final class PlanRecorder extends QueryExecutionListener {
  var actions = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var scanNs, filesRead, readBytes = 0L

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => other.children.flatMap(scans) ++
      other.subqueries.flatMap(scans)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    actions += 1
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
    scans(qe.executedPlan).foreach { s =>
      val m = s.metrics
      def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
      // scanTime is in ms for the columnar (vectorized) reader
      scanNs += v("scanTime") * 1000000L
      filesRead += v("numFiles")
      readBytes += v("filesSize")
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def reset(): Unit = synchronized {
    actions = 0; analysisMs = 0; optimizationMs = 0; planningMs = 0
    scanNs = 0; filesRead = 0; readBytes = 0
  }
}

/** JVM-wide readings: GC time, peak heap since the last reset, peak RSS. */
object Jvm {
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM of this process (Linux), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
