package perfbench

import scala.collection.immutable.ListMap

final case class Metric(value: Double, unit: String)

/** One timed request: its operation kind, latency, whether its
  * response matched the reference and whether it was traced. */
final case class Sample(kind: String, ms: Double, ok: Boolean, traced: Boolean = false)

/** What a workload run hands back to [[Harness]]. */
final case class Outcome(attempted: Long, failed: Long, metrics: ListMap[String, Metric])

object Report {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  /** Driver heap still live after a full collection, in MiB: the least
    * of five readings, each after `System.gc()` and a short pause, so a
    * collection that has not yet released finalised objects is not read. */
  def heapAfterGcMib(): Double = {
    val rt = Runtime.getRuntime
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(20)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }

  /** Seconds since the JVM started. */
  def sinceProcessStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def json(o: Outcome, info: ListMap[String, String]): String = {
    val ms = o.metrics.map { case (k, m) =>
      s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}"
    }.mkString("{", ", ", "}")
    val inf = info.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": $ms, "host": $inf}"""
  }
}
