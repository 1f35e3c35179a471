package graft.perfbench

import java.lang.management.ManagementFactory

/** What one phase cost: its wall seconds, the CPU seconds this JVM spent
  * on all its threads, and the box's busy and stolen cpu ticks over the
  * same interval (from /proc/stat). */
final case class Cost(wallS: Double, cpuS: Double, busyTicks: Long, stealTicks: Long) {

  /** Wall time less the share the host stole: wall × busy / (busy + steal).
    * On a VM whose host runs other guests, a vcpu that wants to run may
    * wait; that wait is counted as steal. Scaling by the share of wanted
    * cpu time the box really got removes it, whether the phase ran on one
    * vcpu or on all of them. Idle time (waits with no vcpu wanting to run)
    * is neither busy nor steal and is kept. */
  def netS: Double =
    if (busyTicks + stealTicks == 0) wallS else wallS * busyTicks / (busyTicks + stealTicks)

  /** Stolen ticks as a share of wanted ticks. */
  def stealShare: Double =
    if (busyTicks + stealTicks == 0) 0.0 else stealTicks.toDouble / (busyTicks + stealTicks)
}

object Probe {
  final case class Mark(nanos: Long, cpuNs: Long, busy: Long, steal: Long)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def mark(): Mark = {
    val (busy, steal) = cpuTicks()
    Mark(System.nanoTime(), os.getProcessCpuTime, busy, steal)
  }

  /** The cost from `m` to now; `extraWallS` adds wall time before the mark
    * (the JVM's own start, which no mark can see). */
  def since(m: Mark, extraWallS: Double = 0.0): Cost = {
    val n = mark()
    Cost((n.nanos - m.nanos) / 1e9 + extraWallS, (n.cpuNs - m.cpuNs) / 1e9,
      n.busy - m.busy, n.steal - m.steal)
  }

  def measure[T](f: => T): (Cost, T) = {
    val m = mark()
    val r = f
    (since(m), r)
  }

  /** The box's cumulative busy (user, nice, system, irq, softirq) and steal
    * ticks, from the "cpu" line of /proc/stat. Zero where there is none. */
  private def cpuTicks(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val t = src.getLines().find(_.startsWith("cpu ")).get.split("\\s+").drop(1).map(_.toLong)
        (t(0) + t(1) + t(2) + t(5) + t(6), if (t.length > 7) t(7) else 0L)
      } finally src.close()
    }
  }

  /** Heap in use right after a full collection, in MB: what the program
    * still holds. */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toLong * 1024 / 1e6
    finally src.close()
  }
}
