package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process-level readings of the benchmark JVM (local-mode Spark runs
  * driver and executors in this one process).
  */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** User + system CPU seconds of the whole process. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Collection time of every JVM collector, in seconds. */
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def lines(path: String): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toList finally src.close()
    } catch { case _: java.io.IOException => Nil }

  /** A kB field of /proc/self/status (VmRSS, VmHWM) in MiB. */
  def statusMb(key: String): Double =
    lines("/proc/self/status").collectFirst {
      case l if l.startsWith(key + ":") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)

  /** (read_bytes, write_bytes) of /proc/self/io: bytes this process
    * made the block layer read or write.
    */
  def diskIo(): (Long, Long) = {
    val m = lines("/proc/self/io").flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) => Some(k -> v.trim.toLong)
        case _ => None
      }
    }.toMap
    (m.getOrElse("read_bytes", 0L), m.getOrElse("write_bytes", 0L))
  }

  /** (read calls, write calls, bytes written) of Hadoop's `file` scheme;
    * the call counts stay 0 unless CountingFs is installed.
    */
  def hadoopFs(): (Long, Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    val written =
      if (st == null) 0L else Option(st.getLong("bytesWritten")).map(_.longValue).getOrElse(0L)
    (CountingFs.reads.get, CountingFs.writes.get, written)
  }

  def loadAvg1m: Double =
    lines("/proc/loadavg").headOption.map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)
}
