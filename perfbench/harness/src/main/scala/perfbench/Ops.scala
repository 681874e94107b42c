package perfbench

import java.io.File

import scala.collection.mutable

/** Shared helpers for the workloads: timed client calls and disk sizes. */
object Ops {

  /** Run one client call inside a span, timing it. A throw marks the op
    * failed (it still counts as attempted) and is reported on stderr. */
  def timedOp(ctx: Ctx, out: mutable.Buffer[Op], kind: String, name: String)
             (body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok = try { ctx.trace.span(name)(body); true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    out += Op(kind, name, (System.nanoTime() - t0) / 1e6, ok)
  }

  def files(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).toSeq.flatten.flatMap(files)

  /** Bytes of data files under `path` (Spark's _SUCCESS / .crc excluded). */
  def dataBytes(path: String): Long =
    files(new File(path)).filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length()).sum

  def dataFiles(path: String): Int =
    files(new File(path)).count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  /** The four metrics every span reports, plus the optional extras; counts
    * are per call (totals over the run's calls of `span` / number of calls). */
  def spanMetrics(t: Trace, span: String, selfMs: Double,
                  exchanges: Boolean = false, skew: Boolean = false): Map[String, Double] = {
    val k = t.totals(span)
    val n = math.max(1, t.named(span).size).toDouble
    val base = Map(
      s"$span.self_ms" -> selfMs,
      s"$span.tasks" -> k.tasks / n,
      s"$span.shuffle_bytes" -> (k.shuffleRead + k.shuffleWrite) / n,
      s"$span.cpu_ms" -> k.cpuNs / 1e6 / n)
    val ex = if (exchanges) Map(s"$span.exchanges" -> t.exchangeCount(span) / n) else Map.empty
    val sk = if (skew) {
      val med = median(k.taskMs.map(_.toDouble).toSeq)
      Map(s"$span.spill_bytes" -> k.spill / n,
        s"$span.task_skew" -> (if (med > 0) k.taskMs.max / med else 1.0))
    } else Map.empty
    base ++ ex ++ sk
  }

  /** Median self time of the spans named `span`. */
  def selfMs(t: Trace, span: String): Double = median(t.named(span).map(t.selfMs))
}
