package perfbench

import java.io.File

/** Sample arithmetic shared by every workload. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail metric may report, highest first. */
  val TailLadder: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile up to p99 with at least ten samples beyond
    * it; `None` when even the median has fewer than ten beyond it.
    */
  def supportedTail(n: Int): Option[Double] =
    TailLadder.find(p => n * (1 - p / 100.0) >= 10.0 - 1e-9)

  /** Tail value with the percentile it was taken at: the highest
    * supported one, or the maximum (reported as p100) for small samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = supportedTail(xs.length) match {
    case Some(p) => (percentile(xs, p), p)
    case None => (xs.max, 100.0)
  }

  def failedFrac(attempted: Long, failed: Long): Double = {
    require(attempted >= 1 && failed >= 0 && failed <= attempted,
      s"failed=$failed of attempted=$attempted")
    failed.toDouble / attempted
  }

  /** CPU time of this process so far (all threads), in ns; stolen time is
    * not charged to it, so it moves less than wall time under co-tenant load.
    */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Peak resident set of this process in MB (VmHWM), -1 if unreadable. */
  def peakRssMb(): Double =
    try {
      val l = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      l.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
}

object Util {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Regular files under `dir` whose name ends with `suffix`. */
  def files(dir: File, suffix: String): Seq[File] =
    if (!dir.exists()) Nil
    else {
      val s = java.nio.file.Files.walk(dir.toPath)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].toFile)
        .filter(f => f.isFile && f.getName.endsWith(suffix)).toSeq
      finally s.close()
    }

  def secs(ns: Long): Double = ns / 1e9

  /** Wall-clock microseconds since the epoch; comparable across processes. */
  def epochUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}
