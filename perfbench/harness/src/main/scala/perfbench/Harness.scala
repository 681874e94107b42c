package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** One timed call a client makes: a pipeline stage action, a read request,
  * a write request. `ok` is false when the call threw; output mismatches
  * are found later, outside the timed span, and counted separately.
  */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean)

/** What every workload gives the harness. */
trait Workload {
  /** The one-off bulk load the passes then read, timed (ingest_s) as a
    * freshly started process runs it. */
  def ingest(): Unit
  /** Untimed work after the ingest and before the first timed pass, so JIT
    * and codegen caches are warm; a no-op for workloads timed the way a
    * freshly submitted batch job runs. */
  def warmup(): Unit = ()
  /** One complete pass (or request-schedule cycle); returns its ops. */
  def pass(passNo: Int): Seq[Op]
  /** Input rows one pass consumes. */
  def rowsPerPass: Long
  /** Output checks, outside every timed span: mismatch descriptions. */
  def check(): Seq[String] = Nil
  /** Bytes the workload keeps on disk at the end (space amplification's
    * numerator) and bytes of the live input it was built from. */
  def storedBytes: Long
  def inputBytes: Long
  /** Per-layer metrics from the trace (traced runs only). */
  def perLayer(): Map[String, Double]
  /** Extra facts for the result record (sizes, checked counts). */
  def facts(): Map[String, Any] = Map.empty
  /** Gates whose DuckDB oracle SQL is this workload's output reference. */
  def oracles: Seq[String] = Nil
}

/** Several batch workloads run back to back as one pass, in one session. */
final class Batch(ctx: Ctx, parts: Seq[Workload]) extends Workload {
  // no warm-up: a batch pass is timed as a freshly submitted job runs it
  def ingest(): Unit = parts.foreach(_.ingest())
  def pass(passNo: Int): Seq[Op] = parts.flatMap(_.pass(passNo))
  def rowsPerPass: Long = parts.map(_.rowsPerPass).sum
  override def check(): Seq[String] = parts.flatMap(_.check())
  def storedBytes: Long = parts.map(_.storedBytes).sum
  def inputBytes: Long = parts.map(_.inputBytes).sum
  def perLayer(): Map[String, Double] = parts.flatMap(_.perLayer()).toMap
  override def facts(): Map[String, Any] = parts.flatMap(_.facts()).toMap
  override def oracles: Seq[String] = parts.flatMap(_.oracles)
}

final class Ctx(val spark: SparkSession, val trace: Trace, val data: String,
                val work: String, val seed: Long) {
  def path(parts: String*): String = (work +: parts).mkString("/")
  def input(name: String): String = s"$data/$name"
}

/** Runs one workload: session, warm-up, timed ingest, then passes until
  * the time budget is spent; writes a JSON record for `perfbench/run.py`.
  *
  * Usage: Harness --workload W --data DIR --work DIR --seconds S
  *        --trace 0|1 --seed N --out FILE
  */
object Harness {

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // two task threads: with four, the executors, the driver thread and
    // the JIT compiler threads together asked for more cores than a 4-core
    // host has, and the passes were no faster
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val work = new File(a("work")).getAbsolutePath
    new File(work).mkdirs()

    val spark = graft.GraftSession.builder("perfbench", Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionReadyMs = System.currentTimeMillis()

    val trace = new Trace(spark.sparkContext, traced)
    val ctx = new Ctx(spark, trace, a("data"), work, a("seed").toLong)
    val wl: Workload = a("workload") match {
      case "batch" => new Batch(ctx,
        Seq(new EtlPipeline(ctx), new GraphIterate(ctx), new CorpusPrep(ctx)))
      case "serving" => new IndexServing(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    trace.on = traced
    val ingestS = timed(wl.ingest())
    // warm-up runs with tracing off: it is set-up, not a measured layer
    trace.on = false
    val warmupS = timed(wl.warmup())

    // passes: one, then more while the next is expected to end within the
    // budget. A traced run needs three: the first (untimed for the overhead),
    // then a traced and an untraced one, whose difference is the overhead.
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0Loop = System.nanoTime()
    var last = 0.0
    var i = 0
    def elapsed = (System.nanoTime() - t0Loop) / 1e9
    while (i < (if (traced) 3 else 1) || elapsed + last <= seconds) {
      val tracedPass = traced && i == 1
      trace.on = tracedPass
      val c0 = cpuNs(); val t0 = System.nanoTime()
      val passOps = wl.pass(i)
      last = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      ops ++= passOps
      System.err.println(f"[perfbench] pass $i%d: $last%.3f s wall, $cpu%.3f s cpu, " +
        passOps.map(o => f"${o.name}%s=${o.ms}%.0f").mkString(" "))
      passes += Map("wall_s" -> last, "cpu_s" -> cpu, "traced" -> tracedPass,
        "ops" -> passOps.size, "failed" -> passOps.count(!_.ok))
      i += 1
    }
    trace.on = false

    val spaceAmp = wl.storedBytes.toDouble / wl.inputBytes
    val tCheck = System.nanoTime()
    val mismatches = wl.check()
    System.err.println(f"[perfbench] in-process checks: ${(System.nanoTime() - tCheck) / 1e9}%.1f s")
    trace.drain()
    val perLayer = if (traced) wl.perLayer() else Map.empty[String, Double]

    val record = Map[String, Any](
      "workload" -> a("workload"),
      "seed" -> ctx.seed,
      "cores" -> cores,
      "session_s" -> (sessionReadyMs - jvmStartMs) / 1e3,
      "session_ready_ms" -> sessionReadyMs,
      "warmup_s" -> warmupS,
      "ingest_s" -> ingestS,
      "rows_per_pass" -> wl.rowsPerPass,
      "passes" -> passes.toSeq,
      "ops" -> ops.toSeq.map(o => Map("kind" -> o.kind, "name" -> o.name,
        "ms" -> o.ms, "ok" -> o.ok)),
      "mismatches" -> mismatches,
      "space_amp" -> spaceAmp,
      "per_layer" -> perLayer,
      "facts" -> wl.facts(),
      "oracle" -> wl.oracles.map(g => g -> graft.SparkEntry.oracleSql(g)).toMap,
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "spans" -> (if (traced) trace.spanRecords else Seq.empty))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(a("out")), record)
    spark.stop()
  }
}
