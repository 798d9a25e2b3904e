package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** What one run observed: latency samples per class, operations and
  * output checks attempted and failed. Every client operation goes through
  * [[op]] (timed, counted, traced); every correctness check through
  * [[check]]. Samples are kept only while `recording` (the measured
  * passes), but failures count always — a wrong answer during warm-up is
  * still a wrong answer. */
final class Rec(val tracer: Tracer) {
  val write = ArrayBuffer.empty[Double]
  val read = ArrayBuffer.empty[Double]
  val refresh = ArrayBuffer.empty[Double]
  /** Operations counted and traced in no reported latency class: the
    * migration's metadata-only stages 1–4, churn's SQL queries. */
  val other = ArrayBuffer.empty[Double]
  var recording = false
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  /** Time of harness work inside a pass that is not part of the workload
    * (independent checks, cleanup); subtracted from the pass's wall time. */
  var untimedNs = 0L

  private def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }

  /** One client operation of latency class `cls`, timed around a single
    * call into a layer and traced as span `name`. A throwing operation is
    * counted as failed and yields None; it adds no latency sample. */
  def op[T](cls: ArrayBuffer[Double], name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name, newOp = true)(body)
      if (recording) cls += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case NonFatal(e) => fail(s"$name: $e"); None
    }
  }

  /** An output check: counted as attempted, and as failed unless `ok`. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case NonFatal(e) => fail(s"check $what: $e"); return }
    if (!passed) fail(s"check $what")
  }

  /** Harness work inside a pass that the pass's wall time excludes. */
  def untimed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(s"bench.$name")(body)
    finally untimedNs += System.nanoTime() - t0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The tail: the highest percentile with at least ten samples beyond it
    * (the sample with exactly ten larger ones, at percentile (n - 10) / n)
    * once that is p90 or above, i.e. from 100 samples on; below that the
    * nearest-rank p90, as the first rule would fall towards the median.
    * Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val s = xs.sorted
      val n = s.length
      if (n >= 100) (s(n - 11), 100.0 * (n - 10) / n)
      else (s(math.ceil(0.9 * n).toInt - 1), 90.0)
    }
}
