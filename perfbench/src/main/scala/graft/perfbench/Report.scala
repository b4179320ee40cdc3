package graft.perfbench

import scala.collection.mutable

/** Run outcome: operation counts, the correctness verdict and the metrics,
  * printed as the run's last stdout line.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** One counted operation: an exception counts it failed and returns None. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  /** Record a failed output check (the run reports correct=false). */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { problems += what; System.err.println(s"[perfbench] check failed: $what") }

  def correct: Boolean = problems.isEmpty && attempted > 0

  /** The failed checks, one line, for the end of stderr. */
  def summary: String =
    if (problems.isEmpty) s"no failed check ($attempted attempted, $failed failed)"
    else problems.mkString("; ")

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def json: String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secs(t0))
  }
}
