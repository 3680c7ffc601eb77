package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--data"), need("--out"))
  }
}

/** What a workload hands back: operation counts, the end-to-end figures,
  * (traced runs) the per-layer figures, and for the run record the figures
  * measured but not gated (wall-clock ones) and named lists (e.g. queries
  * whose counts drift).
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap[String, Double]()
  val ungated = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val notes = mutable.LinkedHashMap[String, Seq[String]]()
  val errors = mutable.ArrayBuffer[String]()

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$what: ${String.valueOf(e.getMessage)
      .linesIterator.take(2).mkString(" ")}"
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), q in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Traced-minus-untraced difference of a figure, in % of untraced. */
  def overheadPct(on: Seq[Double], off: Seq[Double]): Double =
    if (on.isEmpty || off.isEmpty) 0.0 else 100.0 * (mean(on) / mean(off) - 1.0)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

object Host {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val threads = java.lang.management.ManagementFactory
    .getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of the whole JVM (all threads, local executors, JIT, GC), ns. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Bytes allocated on the heap by all threads of the JVM so far. */
  def allocBytes(): Long = threads.getTotalThreadAllocatedBytes

  /** Peak resident set of this JVM (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Counters over Spark jobs, stages and tasks, kept per phase. Registered
  * only in traced runs; `snap` drains the listener bus first so the figures
  * are complete. A job's phase is fixed when it starts: jobs of a streaming
  * query carry its id as a local property ("stream"), the benchmark's own
  * in-process lookups run under a job group ("inproc"), and the batch loop
  * tags its calls with the "perfbench.phase" property ("compile", "exec").
  * Anything else (interactive-query lookups served over HTTP) is "other".
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._
  private val sc = spark.sparkContext
  private val counters =
    new java.util.concurrent.ConcurrentHashMap[String, Array[AtomicLong]]()
  private val stagePhase =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private var on = false

  private def ctr(phase: String): Array[AtomicLong] =
    counters.computeIfAbsent(phase, _ => Array.fill(Fields)(new AtomicLong))

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val p = Option(j.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val phase =
      if (prop("sql.streaming.queryId").isDefined) "stream"
      else if (prop("spark.jobGroup.id").contains(inProcessGroup)) "inproc"
      else prop(PhaseKey).getOrElse("other")
    j.stageIds.foreach(id => stagePhase.put(id, phase))
    ctr(phase)(0).incrementAndGet()
  }
  private def phaseOf(stageId: Int) = stagePhase.getOrDefault(stageId, "other")
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    ctr(phaseOf(s.stageInfo.stageId))(1).incrementAndGet()
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val c = ctr(phaseOf(t.stageId))
    c(2).incrementAndGet()
    val m = t.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(4).addAndGet(m.diskBytesSpilled)
      c(5).addAndGet(m.executorCpuTime)
      c(6).addAndGet(m.jvmGCTime)
    }
  }

  def enable(): Unit = if (!on) { sc.addSparkListener(this); on = true }
  def disable(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(this)
    on = false
  }
  def enabled: Boolean = on

  /** Current totals of one phase. */
  def snap(phase: String): Snap = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val c = ctr(phase).map(_.get)
    Snap(c(0), c(1), c(2), c(3), c(4), c(5), c(6))
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  val inProcessGroup = "perfbench-in-process"
  private val Fields = 7
  final case class Snap(jobs: Long, stages: Long, tasks: Long,
                        shuffleWrite: Long, spill: Long, cpuNs: Long,
                        gcMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleWrite - o.shuffleWrite, spill - o.spill,
      cpuNs - o.cpuNs, gcMs - o.gcMs)
  }
}
