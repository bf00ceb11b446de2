package cdcbench

import org.apache.spark.sql.SparkSession

/** A metric value with its unit, as printed in the result line. */
final case class Metric(value: Double, unit: String)

/** What one workload run measured. `ops` are fences (replay workloads) or
  * query executions (query suite); an exception or a correctness mismatch
  * counts the affected operations in `opsFailed`.
  */
final case class Outcome(
    ops: Long,
    opsFailed: Long,
    metrics: Map[String, Metric],
    /** workload parameters and the workload-specific figures behind the
      * metrics, printed in the run-validity record
      */
    details: Map[String, Any]
)

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  /** Linear-interpolation quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, floored at
    * the median: below twenty samples the sample supports no tail, and the
    * figure is the median itself.
    */
  def tailQuantile(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)

  /** How often a run repeats a timed unit that takes about `nominalS` on
    * the reference VM: `seconds` of work, at least three repeats. The count
    * depends on `seconds` only, never on how fast this host runs, so every
    * run's median is taken over the same number of samples.
    */
  def repeats(seconds: Int, nominalS: Double): Int =
    math.max(3, math.round(seconds / nominalS).toInt)
}

/** Hypervisor-steal accounting from /proc/stat, the same reading graft.Bench
  * takes for its legs (copied: Bench keeps it private).
  */
object ProcStat {
  /** (stealTicks, busyTicks) of the aggregate cpu line; busy = total - idle
    * - iowait (steal included). None off-Linux.
    */
  def read(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        val steal = if (f.length > 7) f(7) else 0L
        val idle = (if (f.length > 3) f(3) else 0L) +
          (if (f.length > 4) f(4) else 0L)
        Some((steal, f.sum - idle))
      } finally src.close()
    } catch { case _: Exception => None }

  def stealFraction(before: Option[(Long, Long)], after: Option[(Long, Long)]): Double =
    (before, after) match {
      case (Some((s0, b0)), Some((s1, b1))) if b1 > b0 => (s1 - s0).toDouble / (b1 - b0)
      case _ => 0.0
    }
}

/** Named points in time since JVM start (seconds), for the record. */
final class Phases {
  private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def mark(name: String): Unit = marks(name) = Proc.sinceJvmStartS()
  def toMap: Map[String, Double] = marks.toMap
}

object Proc {
  /** Peak resident set (VmHWM) of this JVM in MB, from /proc/self/status. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try
        src.getLines()
          .find(_.startsWith("VmHWM:"))
          .map(_.split("\\s+")(1).toDouble / 1024.0)
          .getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  /** Milliseconds this JVM has spent in JIT compilation so far. */
  def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean match {
    case b if b != null && b.isCompilationTimeMonitoringSupported => b.getTotalCompilationTime
    case _ => 0L
  }

  /** Milliseconds this JVM's collectors have spent so far. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Classes Spark's code generator has compiled in this JVM so far. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Milliseconds a fixed single-threaded integer loop takes: a probe of
    * the host's speed at the start and end of a run, for the record.
    */
  def hostProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Seconds since this JVM started. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

object Session {
  /** The engine's session shape (ReplayMain/graft.Bench), on `cores`
    * local threads, with Spark's scratch space inside the run directory.
    */
  def create(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
