package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: an iteration, a step, or a step's build / plan /
  * exec phase. `counters` holds the Spark listener totals of the jobs
  * started while the span was the innermost open one (traced
  * iterations only).
  */
final class Span(val id: Int, val parent: Int, val iter: Int, val name: String,
                 val kind: String, val layer: String) {
  var t0 = 0L
  var t1 = 0L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (t1 - t0) / 1e9
}

/** Span recorder. Spans stay in memory and are written once, when the
  * run ends. With `tagging` on, the innermost span's id is set as a
  * Spark local property, so the jobs a call starts carry it.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  var tagging = false
  var iter = -1

  def span[T](name: String, kind: String, layer: String)(body: => T): T = {
    val s = new Span(spans.size, open.headOption.fold(-1)(_.id), iter, name, kind, layer)
    spans += s
    open = s :: open
    if (tagging) sc.setLocalProperty(Tracer.Key, s.id.toString)
    s.t0 = System.nanoTime()
    try body
    finally {
      s.t1 = System.nanoTime()
      open = open.tail
      if (tagging) sc.setLocalProperty(Tracer.Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Self time: a span's duration minus the part its children cover
    * (children are sequential and nested, so their sum).
    */
  def selfSeconds: Map[Int, Double] = {
    val childSum = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childSum(s.parent) += s.seconds)
    spans.map(s => s.id -> (s.seconds - childSum(s.id))).toMap
  }
}

object Tracer {
  val Key = "graft.perfbench.span"
}

/** Task-metric totals of one span (or of a whole iteration). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, deserMs, gcMs = 0L
  var peakExecBytes, shuffleWrite, shuffleRead, spill, bytesRead, recordsRead = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    deserMs += m.executorDeserializeTime
    gcMs += m.jvmGCTime
    peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    bytesRead += m.inputMetrics.bytesRead
    recordsRead += m.inputMetrics.recordsRead
  }

  def values: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
    "task_deser_s" -> deserMs / 1e3, "task_gc_s" -> gcMs / 1e3,
    "peak_exec_mem_mb" -> peakExecBytes / 1048576.0,
    "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble, "spill_bytes" -> spill.toDouble,
    "bytes_read" -> bytesRead.toDouble, "records_read" -> recordsRead.toDouble)
}

/** Attributes jobs, stages and tasks to the span id found in the job's
  * local properties. Registered for traced iterations only.
  */
final class SpanListener extends SparkListener {
  val perSpan = mutable.Map.empty[Int, Counters]
  val total = new Counters
  /** (launch ms, finish ms) of every finished task */
  val taskWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(q => Option(q.getProperty(Tracer.Key))).fold(-1)(_.toInt)
  private def of(span: Int): Counters = perSpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    e.stageIds.foreach(stageSpan(_) = s)
    of(s).jobs += 1
    total.jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stageSpan.getOrElse(e.stageInfo.stageId, spanOf(e.properties))
    stageSpan(e.stageInfo.stageId) = s
    of(s).stages += 1
    total.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) {
      of(stageSpan.getOrElse(e.stageId, -1)).add(e.taskMetrics)
      total.add(e.taskMetrics)
    }
    taskWindows += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }
}

/** Always-on input-byte counter (the denominator of
  * `io_bytes_per_in_byte`); one add per finished task.
  */
final class InputBytesListener extends SparkListener {
  @volatile var bytesRead = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized { bytesRead += e.taskMetrics.inputMetrics.bytesRead }
}
