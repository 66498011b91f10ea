package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters for one span: the jobs whose job group names it
  * and the tasks of those jobs' stages. */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, shuffleRead, shuffleWrite, spill, input, output = 0L
  val jobTimes = ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
}

final case class Span(id: Int, name: String, parent: Int, req: Long, startNs: Long, var endNs: Long)

/** In-memory span recorder. `span` sets a job group naming the span
  * around the call, so a listener can charge every Spark job and task
  * to the innermost open span. Spans nest; the benchmark drives one
  * client thread, so siblings never overlap. When disabled, `span`
  * only runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val stats = new ConcurrentHashMap[Int, SpanStats]()
  private var stack = List.empty[Span]
  private val startNs = System.nanoTime()
  private val startMs = System.currentTimeMillis()
  /** nanoTime → epoch ms, to place listener event times on span clocks */
  def epochMs(ns: Long): Double = startMs + (ns - startNs) / 1e6
  /** time spent inside span bookkeeping (the tracer's own overhead) */
  var selfNs = 0L

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body else {
      val t0 = System.nanoTime()
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (req >= 0) req else parent.map(_.req).getOrElse(-1L), t0, -1L)
      spans += s
      stats.put(s.id, new SpanStats)
      stack = s :: stack
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      val t1 = System.nanoTime()
      selfNs += t1 - t0
      try body finally {
        val t2 = System.nanoTime()
        s.endNs = t2
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        selfNs += System.nanoTime() - t2
      }
    }
}

/** Charges jobs, stages and tasks to spans by job group. Also keeps the
  * whole-run output byte total, which untraced runs report too. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  @volatile var outputBytes = 0L
  @volatile var unattributedJobs = 0L
  /** time spent in this listener's handlers (part of the tracing overhead) */
  @volatile var selfNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally selfNs += System.nanoTime() - t0
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.drop(3).toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val s = spanOf(e.properties)
    if (s < 0) unattributedJobs += 1
    else {
      jobSpan.put(e.jobId, (s, e.time))
      e.stageIds.foreach(st => stageSpan.put(st, s))
      val ss = tracer.stats.get(s)
      if (ss != null) ss.synchronized { ss.jobs += 1; ss.stages += e.stageIds.size }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val js = jobSpan.remove(e.jobId)
    if (js != null) {
      val ss = tracer.stats.get(js._1)
      if (ss != null) ss.synchronized { ss.jobTimes += ((js._2, e.time)) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      outputBytes += m.outputMetrics.bytesWritten
      val s = stageSpan.getOrDefault(e.stageId, -1)
      val ss = if (s >= 0) tracer.stats.get(s) else null
      if (ss != null) ss.synchronized {
        ss.tasks += 1
        ss.cpuNs += m.executorCpuTime
        ss.runMs += m.executorRunTime
        ss.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        ss.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        ss.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        ss.input += m.inputMetrics.bytesRead
        ss.output += m.outputMetrics.bytesWritten
      }
    }
  }
}
