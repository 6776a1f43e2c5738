package perfbench

import scala.collection.mutable

/** Run parameters, all explicit: nothing below derives from the host. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, plant: Boolean, work: java.nio.file.Path)

/** Latency samples, failures and checks of one run — the closed-loop
  * client's bookkeeping. Every operation goes through [[op]]: timed,
  * counted, and on a throw recorded as failed (a failed operation misses
  * every latency limit, so it enters the samples as +inf) while the run
  * continues. */
final class Recorder(val tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  var recording = false
  private var opSeq = 0
  private val perKind = mutable.Map.empty[String, Int]
  /** Traced runs trace every other operation of each kind; the untraced
    * half is the baseline of the tracing overhead. */
  val traced = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val untraced = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def add(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]],
      k: String, v: Double): Unit =
    m.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Double]) += v

  def sample(kind: String, ms: Double): Unit = if (recording) add(samples, kind, ms)

  /** Run one operation of `kind` (`read.<shape>`, `write.<op>`,
    * `maint.<op>`, `probe`); returns its result, or None if it threw. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val n = opSeq; opSeq += 1
    val k = perKind.getOrElse(kind, 0); perKind(kind) = k + 1
    val on = tracer.enabled && recording && k % 2 == 0
    if (recording) attempted += 1
    val t0 = System.nanoTime()
    val c0 = Host.cpuNs
    try {
      val r = if (on) tracer.traced(n, kind)(body) else body
      val ms = (System.nanoTime() - t0) / 1e6
      sample(kind, ms)
      sample(s"cpu.$kind", (Host.cpuNs - c0) / 1e6)
      if (recording && tracer.enabled) add(if (on) traced else untraced, kind, ms)
      Some(r)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        if (recording) failed += 1
        sample(kind, Double.PositiveInfinity)
        if (!recording) throw e // a failing warm-up means a broken setup
        None
    }
  }

  def all(prefix: String): Seq[Double] =
    samples.iterator.filter(_._1.startsWith(prefix)).flatMap(_._2).toSeq
  def of(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq

  // ---- correctness ------------------------------------------------------
  val mismatches = mutable.ArrayBuffer.empty[String]
  var checks = 0L
  var checkNs = 0L
  /** Compare an engine answer with the oracle's; outside any timed op. */
  def check(label: String, got: Shapes.Answer, want: => Shapes.Answer): Unit = {
    val t0 = System.nanoTime()
    val w = want
    checks += 1
    if (got != w && mismatches.length < 20)
      mismatches += s"$label: got ${got.take(3).mkString("|")} (${got.length} lines), " +
        s"want ${w.take(3).mkString("|")} (${w.length} lines)"
    else if (got != w) mismatches += label
    checkNs += System.nanoTime() - t0
  }
}

object Stats {
  /** Nearest-rank percentile (`q` in 0..100). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q / 100 * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
