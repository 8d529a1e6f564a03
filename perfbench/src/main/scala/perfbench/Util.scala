package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Nearest-rank percentile, `q` in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Length of the union of intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = 0L; var curB = 0L; var have = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!have || a > curB) { if (have) total += curB - curA; curA = a; curB = b; have = true }
      else curB = math.max(curB, b)
    }
    if (have) total + (curB - curA) else 0L
  }
}

/** Process and JVM counters. */
object Host {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Peak resident set size, from the kernel's high-water mark. */
  def peakRssMb: Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => 0L
  }

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Bytes and regular files under `root`. */
  def du(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val st = Files.walk(root)
      try st.iterator.asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally st.close()
    }
}

/** Process-wide counters over a measured window: GC share, host CPU share. */
final class Window {
  private val t0 = System.nanoTime(); private val gc0 = Host.gcMs; private val cpu0 = Host.cpuNs
  def metrics(): Map[String, Double] = {
    val wallS = (System.nanoTime() - t0) / 1e9
    Map("jvm.gc_share" -> (Host.gcMs - gc0) / 1e3 / wallS,
      "jvm.heap_peak_mb" -> Host.heapPeakMb,
      "host.cpu_busy_share" -> (Host.cpuNs - cpu0) / 1e9 / (wallS * Host.cores))
  }
}
