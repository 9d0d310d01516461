package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Order statistics as the benchmark reports them: a median and the highest
  * percentile that still has at least ten samples beyond it. */
object Stats {

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private val TailLevels = Seq(0.999, 0.99, 0.98, 0.97, 0.95, 0.9, 0.8, 0.75, 0.5)

  /** (level, value) of the highest listed percentile with at least ten
    * samples beyond it; the maximum when the sample is under twenty. */
  def tail(xs: Seq[Double]): (Double, Double) =
    TailLevels.find(l => xs.size * (1 - l) >= 10 - 1e-9) match {
      case Some(l) => (l, quantile(xs, l))
      case None => (1.0, xs.max)
    }

  def describe(label: String, xs: Seq[Double], unit: String): String =
    if (xs.isEmpty) s"$label: no samples"
    else {
      val (l, v) = tail(xs)
      f"$label: n=${xs.size} p10=${quantile(xs, 0.1)}%.3f$unit p25=${quantile(xs, 0.25)}%.3f$unit " +
        f"p50=${median(xs)}%.3f$unit p75=${quantile(xs, 0.75)}%.3f$unit p${l * 100}%.1f=$v%.3f$unit"
    }
}

/** Host readings from /proc: peak resident memory, load and CPU steal. */
object Host {

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  def loadAvg1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble

  /** (steal, total) jiffies of the aggregate cpu line. */
  def cpuTicks(): (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val dt = to._2 - from._2
    if (dt <= 0) 0.0 else (to._1 - from._1).toDouble / dt
  }
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

object Report {

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }

  /** The result line: exactly `correct`, `attempted`, `failed`, `metrics`. */
  def line(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}
