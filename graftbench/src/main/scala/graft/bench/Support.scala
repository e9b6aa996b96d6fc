package graft.bench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host and JVM readings for the noise telemetry. */
object Host {

  private def read(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.mkString finally src.close()
  }

  /** Stolen CPU seconds since boot, summed over all vCPUs: the 8th value of
    * the "cpu" line of /proc/stat, in USER_HZ (100 per second).
    */
  def stealCpuS(): Double = {
    val cols = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .getOrElse("").trim.split("\\s+").drop(1)
    if (cols.length >= 8) cols(7).toDouble / 100.0 else 0.0
  }

  /** One-minute load average. */
  def loadAvg1(): Double = read("/proc/loadavg").trim.split("\\s+")(0).toDouble

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
    .getOrElse(0.0)

  /** Cumulative GC time of this JVM, all collectors, in seconds. */
  def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0

  /** Total size of the regular files under `dir`, in bytes. */
  def duBytes(dir: java.io.File): Long =
    if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the benchmark's output lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
