package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` is shared by every span of one client
  * operation; `parent` is the enclosing span (-1 for an operation's root).
  */
final case class Span(id: Int, layer: String, name: String, parent: Int, op: Int,
    start: Long, startMs: Long, var end: Long = -1L, var endMs: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span: the span id travels to the scheduler
  * as a local property of the driver thread, so every job a span triggers
  * carries it.
  */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var resultBytes = 0L
  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; resultBytes += o.resultBytes
  }
}

/** Listener the benchmark registers itself in traced runs: per-span job,
  * stage, task and byte counts, job intervals (for driver-only time) and
  * Catalyst phase time.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  val bySpan = new ConcurrentHashMap[Int, SparkCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var planningMs = 0L

  private def counts(span: Int): SparkCounts = bySpan.computeIfAbsent(span, _ => new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, span)
    jobStartMs.put(e.jobId, e.time)
    e.stageIds.foreach(stageSpan.put(_, span))
    val c = counts(span)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStartMs.remove(e.jobId)).foreach(s => jobIntervals.add((s, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counts(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = counts(stageSpan.getOrDefault(e.stageId, -1))
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskNs += m.executorRunTime * 1000000L
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultBytes += m.resultSize
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Span recorder for the single client thread. With tracing off, `span`
  * runs its body and records nothing; with it on, spans stay in memory
  * until the run ends.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var current: Span = null
  private var nextOp = 0

  /** A client operation: the root span of everything it calls. */
  def op[T](name: String)(body: => T): T = {
    nextOp += 1
    span("client", name)(body)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current
      val s = Span(spans.size, layer, name, if (parent == null) -1 else parent.id, nextOp,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      current = s
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current = parent
        sc.setLocalProperty(Tracer.SpanProperty, if (parent == null) null else parent.id.toString)
      }
    }

  /** Per layer: summed self time (duration minus the time child spans cover). */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.end - s.start - childNs(s.id)) / 1e9).sum
    }
  }

  /** Median duration of the spans with this name, in seconds; 0 if none. */
  def medianSeconds(name: String): Double = {
    val d = spans.iterator.filter(_.name == name).map(_.seconds).toSeq
    if (d.isEmpty) 0.0 else Stats.median(d)
  }
}

/** JVM-wide GC time and heap peak over a window (local mode: driver and
  * executors share this JVM).
  */
final class JvmWindow {
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val gc0 = gcMs
  def gcSeconds: Double = (gcMs - gc0) / 1000.0
  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Length of the part of [start, end] (ms) that none of `intervals` covers. */
object Intervals {
  def uncovered(start: Long, end: Long, intervals: Iterable[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    intervals.toSeq.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    end - start - covered
  }
}
