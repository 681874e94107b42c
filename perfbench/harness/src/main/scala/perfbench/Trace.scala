package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `parent` is the enclosing span's id (-1 at
  * the root); spans of one request share `request`.
  */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      startNs: Long, var endNs: Long = -1L)

/** Per-span counters fed by the listener. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  val executions = mutable.LinkedHashSet.empty[Long]
}

/** Spans and their Spark counters, kept in memory and written out at the
  * end of a traced run.
  *
  * Attribution: [[span]] tags every job started inside it with the job
  * group `pb:<spanId>` (and a readable job description), so the listener
  * maps job -> stage -> task to the innermost open span without reading
  * plans. SQL executions are mapped to spans through their jobs; the last
  * (final, adaptive) plan of each execution is kept for Exchange counts.
  *
  * While `on` is false, [[span]] only runs its body: no job labels, no
  * clock reads. An untraced run never attaches the listener.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var request = 0
  private val counters = mutable.HashMap.empty[Int, SpanCounters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.HashMap.empty[Long, SparkPlanInfo]
  @volatile private var jobsStarted = 0L
  @volatile private var jobsEnded = 0L

  /** Whether spans are recorded right now (the listener stays attached). */
  var on: Boolean = enabled

  if (enabled) sc.addSparkListener(this)

  def newRequest(): Int = { request += 1; request }

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      request, System.nanoTime())
    spans += s
    stack.push(s)
    sc.setJobGroup(s"pb:${s.id}", s"$name req=${s.request}", interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb:${p.id}", s"${p.name} req=${p.request}",
          interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb:")).map(_.stripPrefix("pb:").toInt)

  private def c(id: Int) = counters.getOrElseUpdate(id, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    spanOf(e.properties).foreach { id =>
      c(id).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => c(id).executions += x.toLong)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val k = c(id)
      k.tasks += 1
      k.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        k.cpuNs += m.executorCpuTime
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        k.bytesRead += m.inputMetrics.bytesRead
        k.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => plans(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans(u.executionId) = u.sparkPlanInfo
      case _ => ()
    }
  }

  /** Wait until the listener has seen the end of every job it saw start. */
  def drain(timeoutMs: Long = 30000L): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quietSince = System.currentTimeMillis()
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (jobsEnded < jobsStarted || System.currentTimeMillis() - quietSince < 300L)) {
      if (jobsStarted != last) { last = jobsStarted; quietSince = System.currentTimeMillis() }
      Thread.sleep(20L)
    }
  }

  private def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName.endsWith("Exchange")) 1 else 0) + p.children.map(exchanges).sum

  /** Spans with name `name` (all requests). */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def childMs(s: Span): Double =
    spans.filter(x => x.parent == s.id && x.endNs >= 0)
      .map(x => (x.endNs - x.startNs) / 1e6).sum

  def selfMs(s: Span): Double = (s.endNs - s.startNs) / 1e6 - childMs(s)

  /** Counters summed over every span with this name. */
  def totals(name: String): SpanCounters = synchronized {
    val out = new SpanCounters
    named(name).flatMap(s => counters.get(s.id)).foreach { k =>
      out.jobs += k.jobs; out.tasks += k.tasks; out.cpuNs += k.cpuNs
      out.shuffleRead += k.shuffleRead; out.shuffleWrite += k.shuffleWrite
      out.spill += k.spill; out.bytesRead += k.bytesRead
      out.bytesWritten += k.bytesWritten; out.taskMs ++= k.taskMs
      out.executions ++= k.executions
    }
    out
  }

  def exchangeCount(name: String): Int = synchronized {
    totals(name).executions.toSeq.flatMap(plans.get).map(exchanges).sum
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}
