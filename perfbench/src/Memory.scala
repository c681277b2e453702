package perfbench

import java.lang.management.ManagementFactory

/** Memory figures of this JVM. The peak resident set depends on when the
  * collector chose to grow the heap and moved by up to 40 % between runs of
  * the same inputs; the heap a full collection leaves at each phase end
  * measures what the workload keeps alive. */
object Memory {
  private var retained = 0L

  /** Collects fully and records the heap still in use. The second
    * collection frees what Spark's cleaner released after the first. */
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > retained) retained = used
  }

  /** Largest heap in use after a full collection at a phase end, MB. */
  def retainedHeapMb: Double = retained / (1024.0 * 1024.0)

  /** Peak resident set of this JVM, MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally status.close()
  }
}
