package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: `<layer>.<call>` around a call into the program. */
final case class Span(
    id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int, phase: String)

/** Spark counters attributed to one span (summed over its jobs). */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var taskBusyMs = 0L
  var schedWaitMs = 0L
  var gcMs = 0L
}

/** In-memory span recorder. Spans nest on the calling thread; the open
  * span's id travels to Spark as a local property, so every job the call
  * submits -- including jobs fired inside the optimizer -- is attributed
  * to it by [[SpanListener]]. When disabled, [[span]] is a plain call. */
final class Tracer(sc: SparkContext) {
  import Tracer.SpanKey

  @volatile private var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Long)]
  private var nextId = 0
  private var opId = -1
  private var phase = "setup"
  val counters = new ConcurrentHashMap[Int, SpanCounters]()
  /** (span, stage) -> task durations in ms, for the straggler measure. */
  val stageTaskMs = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private var listener: Option[SpanListener] = None

  /** Register the listener and start recording. */
  def start(): Unit = if (!enabled) {
    val l = new SpanListener(counters, stageTaskMs)
    sc.addSparkListener(l)
    listener = Some(l)
    enabled = true
  }

  /** Stop recording, wait for the listener bus to deliver every event
    * of the recorded jobs, and remove the listener. */
  def stop(): Unit = if (enabled) {
    enabled = false
    org.apache.spark.graftbench.ListenerBusBridge.drain(sc)
    listener.foreach(l => sc.removeSparkListener(l))
    listener = None
  }

  def setOp(i: Int): Unit = opId = i

  /** "setup" or "loop": spans of warm-up ops inside set-up are kept out
    * of the op-level means. */
  def setPhase(p: String): Unit = { phase = p; opId = -1 }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack.push((id, System.nanoTime()))
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        val (_, t0) = stack.pop()
        spans += Span(id, name, t0, System.nanoTime(), parent, opId, phase)
        sc.setLocalProperty(SpanKey, stack.headOption.map(_._1.toString).orNull)
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  /** A span's duration minus the part of it its children cover. */
  def selfNs(s: Span, children: Map[Int, Seq[Span]]): Long = {
    val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    (s.endNs - s.startNs) - covered
  }

  /** Write every span, with its counters and self time, as JSONL. */
  def writeJsonl(path: String): Unit = {
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      val c = Option(counters.get(s.id)).getOrElse(new SpanCounters)
      w.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "phase" -> s.phase, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ms" -> selfNs(s, children) / 1e6,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "input_bytes" -> c.inputBytes,
        "input_records" -> c.inputRecords, "shuffle_bytes" -> c.shuffleBytes,
        "spill_bytes" -> c.spillBytes, "task_busy_ms" -> c.taskBusyMs,
        "sched_wait_ms" -> c.schedWaitMs, "gc_ms" -> c.gcMs)))
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Attributes job, stage and task metrics to the span named by the
  * submitting thread's [[Tracer.SpanKey]] local property. Also keeps the
  * task durations of each stage for the straggler measure. */
final class SpanListener(
    counters: ConcurrentHashMap[Int, SpanCounters],
    stageTaskMs: ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]])
    extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStarted = ConcurrentHashMap.newKeySet[Int]()

  private def of(span: Int): SpanCounters =
    counters.computeIfAbsent(span, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .foreach { sid =>
        val span = sid.toInt
        e.stageIds.foreach { st => stageSpan.put(st, span); stageJob.put(st, e.jobId) }
        jobSubmit.put(e.jobId, e.time)
        of(span).synchronized { of(span).jobs += 1 }
      }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    if (stageSpan.containsKey(e.stageId)) {
      val job = stageJob.get(e.stageId)
      val submit = jobSubmit.get(job)
      if (submit != null && jobStarted.add(job)) {
        val c = of(stageSpan.get(e.stageId))
        c.synchronized { c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submit) }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageSpan.containsKey(e.stageId)) {
      val span = stageSpan.get(e.stageId)
      val c = of(span)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.taskBusyMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
        }
      }
      val ds = stageTaskMs.computeIfAbsent((span, e.stageId), _ => mutable.ArrayBuffer.empty[Long])
      ds.synchronized { ds += e.taskInfo.duration }
    }
}
