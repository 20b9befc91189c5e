package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** What one run reports: metrics (value, unit, sample count), the
  * attempted/failed operation tally, and free-form facts (sizes, host
  * stamp) printed alongside. Every ground-truth check is an operation;
  * a check that does not hold counts as a failed one.
  */
final class Report {
  import Report.Metric

  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val facts = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics(name) = Metric(value, unit, samples)

  def fact(name: String, value: Any): Unit = facts(name) = value.toString

  /** Run one operation; a throw counts as a failure and yields None. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"operation failed: $what: $e")
        None
    }
  }

  /** A ground-truth check; returns whether it held. */
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      println(s"check FAILED $name: $detail")
    }
    ok
  }

  def checkEq(name: String, expected: Long, actual: Long): Boolean =
    check(name, expected == actual, s"expected $expected, got $actual")

  def printHuman(): Unit = {
    facts.foreach { case (k, v) => println(s"fact $k = $v") }
    metrics.foreach { case (k, m) =>
      println(f"metric $k = ${m.value}%.6f ${m.unit} (n=${m.samples})")
    }
    println(s"operations attempted=$attempted failed=$failed error_rate=${errorRate}")
  }

  def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  /** The result line: every metric, with its unit. */
  def json: String = {
    val ms = metrics.map { case (k, m) =>
      s""""${Json.esc(k)}":{"value":${Json.num(m.value)},"unit":"${Json.esc(m.unit)}"}"""
    }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }
}

object Report {
  final case class Metric(value: Double, unit: String, samples: Int)

  /** Unit of a layer metric, from its name. */
  def unitOf(name: String): String =
    if (Seq("_frac", "_coverage", "_precision", "_recall").exists(name.endsWith)) "ratio"
    else if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_pairs") || name.startsWith("storage.files")) "count"
    else "bytes"
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

object Stats {
  /** Quantile by linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
