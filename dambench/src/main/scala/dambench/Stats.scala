package dambench

import scala.collection.mutable

/** Order statistics, process probes and the result record. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A p90 needs at least ten samples beyond it, so 100 in all. */
  val MinSamplesForP90 = 100

  /** Peak resident set of this JVM (VmHWM), MiB; NaN off Linux. */
  def peakRssMb(): Double =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case scala.util.control.NonFatal(_) => Double.NaN }

  def nowMs(): Double = System.nanoTime() / 1e6

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** What one run reports: metrics by name with units, the operation
  * count and the failed-check count, and free-form notes. Written as
  * one JSON object for the launcher to finish.
  */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.LinkedHashMap.empty[String, String]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted: Long = 0L

  def metric(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit)
  }

  def note(name: String, value: Any): Unit = synchronized { notes(name) = value.toString }

  /** Count one checked operation; a false `ok` records `what`. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) failures += what
  }

  def failed: Int = failures.size

  def toJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s"${q(k)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}" }
    val ns = notes.map { case (k, v) => s"${q(k)}: ${q(v)}" }
    s"""{"attempted": $attempted, "failed": $failed, """ +
      s""""failures": [${failures.take(20).map(q).mkString(", ")}], """ +
      s""""metrics": {${ms.mkString(", ")}}, "notes": {${ns.mkString(", ")}}}"""
  }
}
