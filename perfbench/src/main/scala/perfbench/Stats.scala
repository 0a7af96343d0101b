package perfbench

import scala.collection.mutable.ArrayBuffer

object Stats {

  /** Linearly interpolated quantile, `q` in [0, 1]; NaN for no values. */
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

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Every operation the client issues, in order. An operation that throws
  * or whose answer is wrong is failed: it counts as attempted and failed
  * and its latency is left out of every latency statistic, so a broken
  * operation can never read as a fast one.
  */
final class Recorder {

  final class Op(val index: Int, val kind: String, val traced: Boolean) {
    var ms: Double = Double.NaN
    /** Process CPU time while it ran, on every thread. */
    var cpuMs: Double = Double.NaN
    var failure: Option[String] = None
    def ok: Boolean = failure.isEmpty
  }

  val ops = ArrayBuffer[Op]()

  /** Time `body` as one operation; its value is None when it threw. */
  def run[A](kind: String, traced: Boolean = false)(body: => A): (Op, Option[A]) = {
    val op = new Op(ops.size, kind, traced)
    ops += op
    val c0 = Recorder.processCpuMs
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Exception =>
        op.failure = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    op.ms = (System.nanoTime() - t0) / 1e6
    op.cpuMs = Recorder.processCpuMs - c0
    (op, r)
  }

  /** Mark an operation wrong: it stays attempted, counts as failed. */
  def fail(op: Op, why: String): Unit =
    if (op.ok) op.failure = Some(why)

  /** Run a check on an operation's answer; a false or throwing check fails it. */
  def check(op: Op, what: String)(ok: => Boolean): Unit =
    try { if (!ok) fail(op, what) } catch {
      case e: Exception => fail(op, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)

  /** Latencies of the successful operations of the given kinds. */
  def ms(kinds: String*): Seq[Double] =
    ops.iterator.filter(o => o.ok && kinds.contains(o.kind)).map(_.ms).toSeq
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuMs: Double = os.getProcessCpuTime / 1e6
}
