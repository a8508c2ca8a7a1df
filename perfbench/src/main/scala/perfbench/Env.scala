package perfbench

import java.lang.management.ManagementFactory

/** The box a run ran on, so that a spread outside a bound can be laid on
  * the box rather than the code. */
object Env {
  final case class Sample(load: Double, steal: Long)

  def sample(): Sample = Sample(
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
    stealJiffies)

  /** Hypervisor CPU steal since boot (/proc/stat, field 9); -1 where the
    * file does not exist. */
  def stealJiffies: Long =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+")(8).toLong
      finally f.close()
    } catch { case _: java.io.IOException => -1L }

  /** Peak resident set of this process (VmHWM, kB); -1 where unknown. */
  def vmHwmKb: Long =
    try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      try f.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
      }.getOrElse(-1L)
      finally f.close()
    } catch { case _: java.io.IOException => -1L }

  /** The fixed-work probes `graft.Bench` records, run after every other
    * sample so their own load is not sampled: 2^28 dependent integer
    * multiply-adds (core speed) and 2^24 dependent random reads over a
    * 256 MB array (memory latency; -1 when the heap lacks room). */
  def probes(): (Double, Double) = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var i = 0
    while (i < (1 << 28)) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val cpu = (System.nanoTime() - t0) / 1e9
    val n = 1 << 25
    val rt = Runtime.getRuntime
    val mem = if (rt.maxMemory - (rt.totalMemory - rt.freeMemory) < 3L * (n.toLong << 3)) -1.0
    else {
      val a = new Array[Long](n)
      var k = 0
      while (k < n) { a(k) = k * 0x9E3779B97F4A7C15L; k += 1 }
      val t1 = System.nanoTime()
      var y = 0L; var j = 0
      while (j < (1 << 24)) { y = a(((y ^ (y >>> 13)) & (n - 1)).toInt) + y + j; j += 1 }
      if (y == 42L) System.err.print("")
      (System.nanoTime() - t1) / 1e9
    }
    if (x == 42L) System.err.print("")
    (cpu, mem)
  }
}
