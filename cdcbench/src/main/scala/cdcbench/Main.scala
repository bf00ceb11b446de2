package cdcbench

import scala.collection.immutable.ListMap

/** One benchmark run's settings. */
final case class RunCfg(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    /** tiny sizes, for the benchmark's own check */
    smoke: Boolean,
    /** expect a deliberately wrong result (the check's negative case) */
    corruptExpected: Boolean,
    work: String,
    data: String,
    spansFile: String,
    cores: Int
)

/** JVM side of the benchmark: runs one workload and prints the run-validity
  * record and the result as two tagged JSON lines (run.py forwards them).
  */
object Main {
  val Workloads = Seq("replay", "query_suite")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput_per_s" -> "1/s",
    "op_p50_ms" -> "ms", "op_tail_ms" -> "ms")

  val PerLayer: Seq[(String, String)] =
    Replay.layerNames ++ Queries.layerNames ++
      Seq("trace.overhead_s" -> "s", "trace.fingerprint_mismatch" -> "count")

  private def usage(msg: String): Nothing = {
    System.err.println(s"cdcbench: $msg")
    System.err.println("usage: Main --workload <" + Workloads.mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1> --work <dir> --data <dir> " +
      "--spans <file> [--smoke] [--corrupt-expected]")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val flags = Set("--smoke", "--corrupt-expected")
    def parse(as: List[String], m: Map[String, String]): Map[String, String] = as match {
      case Nil => m
      case f :: rest if flags(f) => parse(rest, m + (f -> "1"))
      case k :: v :: rest if k.startsWith("--") => parse(rest, m + (k -> v))
      case x => usage(s"bad arguments: ${x.mkString(" ")}")
    }
    val a = parse(argv.toList, Map.empty)
    def need(k: String) = a.getOrElse(k, usage(s"missing $k"))
    val cores = Runtime.getRuntime.availableProcessors()
    val c = RunCfg(
      workload = need("--workload"),
      seed = need("--seed").toLong,
      seconds = need("--seconds").toInt,
      trace = need("--trace") == "1",
      smoke = a.contains("--smoke"),
      corruptExpected = a.contains("--corrupt-expected"),
      work = need("--work"),
      data = need("--data"),
      spansFile = need("--spans"),
      cores = cores
    )
    if (!(Workloads :+ "query_digests").contains(c.workload)) usage(s"unknown workload ${c.workload}")

    val steal0 = ProcStat.read()
    val probe0 = Proc.hostProbeMs()
    val spark = Session.create(cores, c.work)
    if (c.workload == "query_digests") {
      Queries.printDigests(spark, c.data)
      spark.stop()
      sys.exit(0)
    }
    val out = c.workload match {
      case "replay" => Replay.replay(spark, c)
      case "query_suite" => Queries.suite(spark, c)
    }
    val steal = ProcStat.stealFraction(steal0, ProcStat.read())
    val probes = Seq(probe0, Proc.hostProbeMs())
    val measured = out.metrics + ("peak_rss_mb" -> Metric(Proc.peakRssMb(), "MB"))
    val names = if (c.trace) PerLayer else EndToEnd
    // a layer a workload does not exercise reads 0 (it did no work there)
    val metrics = ListMap(names.map { case (n, unit) =>
      val m = measured.getOrElse(n, Metric(0.0, unit))
      n -> ListMap("value" -> m.value, "unit" -> m.unit)
    }: _*)
    val jvmArgs = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala
    val record = ListMap(
      "workload" -> c.workload,
      "trace" -> c.trace,
      "smoke" -> c.smoke,
      "ops" -> out.ops,
      "ops_failed" -> out.opsFailed,
      "validity" -> ListMap(
        "nproc" -> cores,
        "steal_fraction" -> steal,
        "host_probe_ms" -> probes,
        "seed" -> c.seed,
        "seconds" -> c.seconds,
        "heap" -> jvmArgs.find(_.startsWith("-Xmx")).getOrElse("default"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version")
      ),
      "end_to_end" -> ListMap(EndToEnd.map { case (n, _) =>
        n -> measured.get(n).map(_.value).getOrElse(Double.NaN) }: _*),
      "details" -> out.details,
      "spans_file" -> (if (c.trace) c.spansFile else "")
    )
    println("CDCBENCH_RECORD " + Json(record))
    println("CDCBENCH_RESULT " + Json(ListMap(
      "correct" -> (out.opsFailed == 0 && out.ops > 0),
      "attempted" -> math.max(1L, out.ops),
      "failed" -> out.opsFailed,
      "metrics" -> metrics)))
    spark.stop()
    sys.exit(0)
  }
}
