package graft

/** Host-interference meter for bench artifacts (round-12 verdict item
  * #1). The 1-min loadavg is an EMA of runnable-task count and has
  * repeatedly failed to explain inflated timings (a query can lose 10×
  * wall at loadavg 2 on a 32-cpu box): it misses short bursts, IO
  * stalls, and hypervisor steal entirely. `/proc/stat`'s first line
  * carries host-wide cumulative tick counters that DO see all of it —
  * including co-tenant processes in foreign PID namespaces that `ps`
  * cannot enumerate — so per-query deltas adjudicate "regression or
  * interference?" from the artifact alone:
  *
  *   steal  = cpu-seconds the hypervisor withheld from this guest
  *   iowait = cpu-seconds cores sat idle waiting on IO
  *   other  = host busy cpu-seconds minus this JVM's own process CPU —
  *            i.e. compute consumed by ANYONE else during the window
  *   gc     = cpu-seconds this JVM's collectors spent (JMX; the one
  *            swing class the host counters cannot see — round 13's
  *            x_label_propagation inflated 2.35→4.27 s with
  *            steal/iowait/other all ≈0, a JVM-internal pause)
  *
  * A wall-time spike with other≫0 / steal≫0 is environmental; gc≫0 is
  * the JVM's own heap churn; all FOUR ≈0 beside a high wall means the
  * regression is real. All fields report −1 when the underlying
  * interface is unavailable (non-Linux or masked /proc), never throw.
  */
object CpuMeter {
  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** Cumulative host ticks (USER_HZ = 100 on linux-amd64/arm64) plus
    * this JVM's cumulative process CPU ns and collector ms. */
  final case class Snap(total: Long, idle: Long, iowait: Long,
                        steal: Long, guest: Long, ownNs: Long, gcMs: Long)

  /** Interference CPU-seconds between two snapshots. */
  final case class Delta(stealS: Double, iowaitS: Double, otherS: Double,
                         gcS: Double)

  def snap(): Snap = {
    // /proc/stat line 1: "cpu user nice system idle iowait irq softirq
    // steal guest guest_nice" — cumulative ticks summed over all cpus
    val t = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case e if scala.util.control.NonFatal(e) => Array.empty[Long] }
    val ownNs = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    val gcMs = try {
      import scala.jdk.CollectionConverters._
      // -1 when NO collector reports a valid time: a filtered-empty sum
      // would read 0 and revive the 0-vs-unavailable ambiguity the
      // steal/other sentinels exist to prevent (round-14 ADVICE #1)
      val ts = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ >= 0)
      if (ts.isEmpty) -1L else ts.sum
    } catch { case e if scala.util.control.NonFatal(e) => -1L }
    // guest/guest_nice are trailing and kernel-version dependent
    val guest = if (t.length >= 10) t(8) + t(9) else 0L
    if (t.length >= 8) Snap(t.sum, t(3), t(4), t(7), guest, ownNs, gcMs)
    else Snap(-1L, -1L, -1L, -1L, 0L, ownNs, gcMs)
  }

  def delta(a: Snap, b: Snap): Delta = {
    val gcS = if (a.gcMs < 0 || b.gcMs < 0) -1.0 else (b.gcMs - a.gcMs) / 1e3
    if (a.total < 0 || b.total < 0) Delta(-1.0, -1.0, -1.0, gcS)
    else {
      val hz = 100.0
      // busy = strictly non-steal, non-idle, non-iowait host compute.
      // steal and guest/guest_nice are subtracted (round-13 ADVICE):
      // t.sum includes steal, and user already contains guest ticks
      // which t.sum adds again — without the subtraction a pure
      // hypervisor-steal event showed up in BOTH stealS and otherS,
      // reading as two separate thieves in the artifact.
      val busyS = (b.total - a.total - (b.idle - a.idle) -
                   (b.iowait - a.iowait) - (b.steal - a.steal) -
                   (b.guest - a.guest)) / hz
      val ownS = if (a.ownNs < 0 || b.ownNs < 0) -1.0
                 else (b.ownNs - a.ownNs) / 1e9
      Delta((b.steal - a.steal) / hz, (b.iowait - a.iowait) / hz,
            if (ownS < 0) -1.0 else math.max(0.0, busyS - ownS), gcS)
    }
  }
}
