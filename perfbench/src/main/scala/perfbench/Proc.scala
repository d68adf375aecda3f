package perfbench

import scala.jdk.CollectionConverters._

/** Process and host readings from /proc and the JVM management beans. Each
  * returns -1 where the source is missing, so a reading never fails a run. */
object Proc {

  private def lines(path: String): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toList finally src.close()
    } catch { case _: java.io.IOException => Nil }

  private def statusKb(field: String): Long =
    lines("/proc/self/status").find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  /** Hypervisor steal ticks, summed over all CPUs since boot. */
  def stealTicks: Long =
    lines("/proc/stat").find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)

  /** One-minute load average. */
  def loadAvg1: Double =
    lines("/proc/loadavg").headOption.map(_.split("\\s+")(0).toDouble)
      .getOrElse(-1.0)

  /** Bytes this process caused to be written to storage (`write_bytes`). */
  def writeBytes: Long =
    lines("/proc/self/io").find(_.startsWith("write_bytes:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Total collections and collection time over all collectors. */
  def gc: (Long, Long) = {
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).filter(_ >= 0).sum,
      beans.map(_.getCollectionTime).filter(_ >= 0).sum)
  }

  /** Sum of the heap pools' peak usage since the last reset, in MiB. */
  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())

  /** Files and bytes under `dir`. */
  def du(dir: java.io.File): (Long, Long) =
    if (dir.isFile) (1L, dir.length())
    else Option(dir.listFiles).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((f, b), (f1, b1)) => (f + f1, b + b1) }

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(); ()
  }
}
