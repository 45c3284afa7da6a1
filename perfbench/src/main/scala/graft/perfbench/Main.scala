package graft.perfbench

import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark; `perfbench/run.py` launches it.
  *
  * Arguments are `key=value` pairs: `mode` (registry | setup | list),
  * `work` (scratch root inside the checkout), `out` (result JSON), `cores`,
  * `trace` (0|1), plus the keys [[Registry.run]] reads. Mode `list` only
  * writes the registry listing (entry, module, oracle SQL). The process
  * prints `PERFBENCH_READY` once the session is up; mode `setup` (a set-up
  * probe) then stops, mode `registry` writes every measurement to `out`
  * before it exits.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    graft.JvmOpens.check()
    val args = argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    if (args("mode") == "list") return Json.write(args("out"), Registry.listing)
    val cores = args("cores").toInt
    val work = args("work")
    val trace = new Trace(args.getOrElse("trace", "0") == "1")
    val spark = session(cores, work)
    ready()
    if (args("mode") == "setup") return spark.stop()
    val result = args("mode") match {
      case "registry" => Registry.run(spark, args, trace)
      case m => throw new IllegalArgumentException(s"unknown mode '$m'")
    }
    val common = Map[String, Any](
      "cores" -> cores,
      "peak_rss_mb" -> peakRssMb,
      "trace_overhead_ns" -> trace.overheadNs.get,
      "spans" -> trace.toJson)
    Json.write(args("out"), result ++ common)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** `local[cores]` with the same posture as the engine's own mains, every
    * scratch path kept inside the benchmark's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def ready(): Unit = { println("PERFBENCH_READY"); System.out.flush() }

  /** Peak resident set of this JVM (VmHWM), in MB; -1 if unavailable. */
  def peakRssMb: Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Interference over a timed region: host steal/other CPU-seconds, this
    * JVM's GC seconds (graft.CpuMeter) and the 1-minute load average. */
  final class Interference {
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    private val load0 = os.getSystemLoadAverage
    private val c0 = graft.CpuMeter.snap()
    def finish(): Map[String, Any] = {
      val d = graft.CpuMeter.delta(c0, graft.CpuMeter.snap())
      Map("steal_s" -> d.stealS, "iowait_s" -> d.iowaitS, "other_s" -> d.otherS,
          "gc_s" -> d.gcS, "load1_start" -> load0,
          "load1_end" -> os.getSystemLoadAverage)
    }
  }
}
