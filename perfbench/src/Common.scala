package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  /** Full precision; JSON has no NaN or infinity, so those become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Append-only log of completed requests: latency and completion time,
  * both in nanoseconds. */
final class LatencyLog {
  private var lat = new Array[Long](1024)
  private var end = new Array[Long](1024)
  private var n = 0
  def add(latencyNs: Long, endNs: Long): Unit = {
    if (n == lat.length) {
      lat = java.util.Arrays.copyOf(lat, n * 2)
      end = java.util.Arrays.copyOf(end, n * 2)
    }
    lat(n) = latencyNs
    end(n) = endNs
    n += 1
  }
  /** Latencies of the requests that completed at or after `fromNs`. */
  def since(fromNs: Long): Array[Long] = (0 until n).filter(end(_) >= fromNs).map(lat).toArray
  /** (latency, completion time) of the requests completed at or after `fromNs`. */
  def samples(fromNs: Long): Seq[(Long, Long)] =
    (0 until n).filter(end(_) >= fromNs).map(i => (lat(i), end(i)))
}

object Stats {
  /** Nearest-rank percentile (`q` in 0..100) of unsorted values. */
  def percentile(values: Array[Long], q: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    val s = values.sorted
    val rank = math.ceil(q / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1))).toDouble
  }

  def median(values: Seq[Double]): Double = {
    require(values.nonEmpty, "median of no samples")
    val s = values.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def geomean(values: Seq[Double]): Double =
    math.exp(values.map(v => math.log(math.max(v, 1e-9))).sum / values.size)

  /** Number of samples strictly above the nearest-rank `q` percentile. */
  def beyond(values: Array[Long], q: Double): Int = {
    val p = percentile(values, q)
    values.count(_ > p)
  }
}

/** Progress lines on stderr, so a slow or killed run shows where it was. */
object Progress {
  private val t0 = System.nanoTime()
  def apply(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
}

object Host {
  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = Files.readAllLines(Path.of("/proc/self/status"))
    .asScala.find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** CPU time this process has used so far, all threads, in ms. */
  def cpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Milliseconds spent in and number of garbage collections so far. */
  def gc: (Double, Double) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime.max(0L)).sum.toDouble,
      beans.map(_.getCollectionCount.max(0L)).sum.toDouble)
  }
}
