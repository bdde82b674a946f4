package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Closed-loop operation recorder for one client. An operation is timed
  * without its correctness check; it becomes a latency sample only when
  * both the call and the check succeed. A failed call or check counts in
  * `failed` and is never a sample; a failed check (a wrong output) also
  * counts in `wrong`.
  */
final class Recorder(val tracer: Tracer) {
  private val samples = mutable.LinkedHashMap[(String, Boolean), mutable.ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  /** Seconds spent inside timed calls, failed ones included. */
  var timedSeconds = 0.0

  def op[A](kind: String)(body: => A)(check: A => Unit): Option[A] = {
    attempted += 1
    tracer.op += 1
    val traced = tracer.enabled
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.span(s"bench.$kind")(body))
      catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    timedSeconds += dt
    val checked = res.flatMap { a =>
      try { check(a); Right(a) }
      catch { case NonFatal(e) => wrong += 1; Left(e) }
    }
    checked match {
      case Right(a) =>
        samples.getOrElseUpdate((kind, traced), mutable.ArrayBuffer()) += dt
        Some(a)
      case Left(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
  }

  /** Forget everything recorded so far (the warm-up round). */
  def reset(): Unit = {
    samples.clear()
    attempted = 0
    failed = 0
    wrong = 0
    timedSeconds = 0.0
  }

  def latencies(kind: String, traced: Boolean = false): Seq[Double] =
    samples.getOrElse((kind, traced), Nil).toSeq

  def kinds: Seq[String] = samples.keys.map(_._1).toSeq.distinct

  def completed: Long = attempted - failed
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, sample count); the maximum when there are ten
    * samples or fewer.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (0.0, 0.0, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  /** A set-up milestone with the process uptime, for the run's log. */
  def note(what: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s: $what")

  def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"check failed: $what")
}
