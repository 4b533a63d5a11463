package graftbench

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark work attributed to one span. Written only on the listener
  * thread; the client reads it after the span has closed, and closing
  * drains the bus, so every write lands before the read.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  /** (submission ms, completion ms, task count) per completed stage. */
  val stages = mutable.ArrayBuffer.empty[(Long, Long, Int)]
}

/** One timed call. `callId` is shared by a round span and every span
  * under it; `parent` is -1 for a round.
  */
final case class Span(id: Int, name: String, parent: Int, callId: Long,
                      startNs: Long, startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  val counters = new Counters
  def wallS: Double = (endNs - startNs) / 1e9
}

object Trace {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * child spans cover.
    */
  def selfNs(span: Span, all: Seq[Span]): Long =
    (span.endNs - span.startNs) -
      covered(all.filter(_.parent == span.id).map(c => (c.startNs, c.endNs)),
        span.startNs, span.endNs)

  /** Stage time spent in stages of at most two tasks. */
  def serialS(c: Counters): Double =
    c.stages.collect { case (a, b, n) if n <= 2 => b - a }.sum / 1e3

  /** Span time with no stage of the span running. */
  def driverS(s: Span): Double =
    math.max(0.0, s.wallS -
      covered(s.counters.stages.map(st => (st._1, st._2)).toSeq, s.startMs, s.endMs) / 1e3)
}

/** Times every call; with a SparkContext it also records spans and
  * attributes Spark work to them by call window.
  *
  * One client runs one call at a time, so every job submitted while a
  * span is the innermost open one belongs to it, whichever thread
  * submitted it. The bus is drained when a span opens and again before
  * it closes, so events posted before the window never land in it and
  * events posted inside it are counted before it closes.
  */
final class Tracer(sc: Option[SparkContext]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Wall seconds per span name, traced or not. */
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Client seconds spent waiting for bus drains: the tracer's own cost. */
  var drainNs = 0L

  private var stack = List.empty[Span]
  private var nextCall = 0L
  @volatile private var current: Span = null
  private val stageSpan = mutable.HashMap.empty[Int, Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = current
      if (s != null) {
        s.counters.jobs += 1
        e.stageIds.foreach(id => stageSpan(id) = s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { s =>
        val (c, m) = (s.counters, e.taskMetrics)
        c.tasks += 1
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
          c.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      for (s <- stageSpan.get(info.stageId); a <- info.submissionTime; b <- info.completionTime)
        s.counters.stages += ((a, b, info.numTasks))
    }
  }
  sc.foreach(_.addSparkListener(listener))

  private def drain(): Unit = sc.foreach { c =>
    val t0 = System.nanoTime()
    BenchBus.drain(c)
    drainNs += System.nanoTime() - t0
  }

  /** Run `f` as a span named `name` under the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    drain()
    val parent = stack.headOption
    val callId = parent.map(_.callId).getOrElse { nextCall += 1; nextCall }
    val s = Span(spans.length, name, parent.map(_.id).getOrElse(-1), callId,
      System.nanoTime(), System.currentTimeMillis())
    if (sc.isDefined) spans += s
    stack = s :: stack
    current = s
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      drain()
      stack = stack.tail
      current = stack.headOption.orNull
      walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s.wallS
    }
  }

  def close(): Unit = sc.foreach(_.removeSparkListener(listener))

  /** Spans as JSON lines: name, start, end, parent, call id, self time
    * and counters.
    */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    val c = s.counters
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"call":${s.callId},""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${Trace.selfNs(s, spans.toSeq)},""" +
      f""""jobs":${c.jobs},"tasks":${c.tasks},"task_cpu_ns":${c.taskCpuNs},""" +
      f""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},""" +
      f""""output_bytes":${c.outputBytes},"output_records":${c.outputRecords}}"""
  }
}
