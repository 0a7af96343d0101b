package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** Input sizes and set-up repetitions. `Size()` is what the benchmark
  * measures; the tests run a tiny one. */
final case class Size(
    etlSymbols: Int = 32, etlMinutes: Long = 1000, etlReps: Int = 3,
    readSymbols: Int = 32, readMinutes: Long = 6000, readSlices: Int = 4, readPool: Int = 16,
    readReps: Int = 2,
    writeSymbols: Int = 32, writeBaseHours: Int = 12, upsertKeys: Int = 64, writeReps: Int = 2) {

  def setupReps(workload: String): Int = workload match {
    case "etl_batch" => etlReps
    case "lake_read" => readReps
    case _ => writeReps
  }
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One workload: a set-up, a closed loop of steps issued one after the
  * other by a single client thread, and the checks of its answers. */
abstract class Workload(val spark: SparkSession, val seed: Long, val size: Size) {

  val rec = new Recorder
  var tracer: Option[Tracer] = None
  /** Operations issued by the first `tracePrefix` steps; set by the loop. */
  var prefixOps: Int = Int.MaxValue

  /** Make the inputs (and lakes) under the fresh directory `dir`. */
  def setup(dir: String): Unit

  /** Untimed operations that warm the JVM and Spark before the loop. */
  def warmup(): Unit

  /** Steps a run issues at least, so that every operation kind of the
    * workload's schedule is measured in every run. */
  def minSteps: Int = 1

  /** Issue step `i`: one or more operations, timed and checked. */
  def step(i: Int, traced: Boolean): Unit

  /** Checks that need the whole run; a failed check fails operations. */
  def finish(): Unit = ()

  /** The operation kinds the workload's latency and throughput are over. */
  def opKinds: Seq[String]

  /** Steps whose traced operations the deterministic counts are taken
    * over. A traced run issues at least this many steps. */
  def tracePrefix: Int

  /** Whether step `i` of a traced run is traced; the others are timed
    * without tracing, to measure the tracing overhead. */
  def traced(i: Int): Boolean = i % 2 == 0

  /** The workload's own end-to-end metrics, named as in the design;
    * `busyS` is the time spent inside operations. */
  def named(busyS: Double): Seq[Metric]

  /** The workload's own per-layer metrics (traced runs). Extra untimed
    * work such as ablations may run here. */
  def layers(dir: String): Seq[Metric] = Nil

  /** Time `body` as one operation of `kind`; traced when asked and a
    * tracer is attached. In a traced run the listener bus is drained
    * after untraced operations too, so none of their events can be
    * charged to the next traced one. */
  protected def timed[A](kind: String, traced: Boolean)(body: => A): (rec.Op, Option[A]) =
    tracer match {
      case Some(t) if traced =>
        val idx = rec.ops.size
        t.op(idx, kind)(rec.run(kind, traced = true)(body))
      case Some(t) =>
        try rec.run(kind)(body) finally t.settle()
      case None => rec.run(kind)(body)
    }

  /** A span around a call into one layer, when tracing. */
  protected def sp[A](name: String)(body: => A): A =
    tracer.fold(body)(_.span(name)(body))
}

object Workload {

  /** Compare two answers row by row; doubles to 1e-9 relative, since an
    * average over differently split files may round differently. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && (0 until x.size).forall(i => sameValue(x.get(i), y.get(i)))
    }

  private def sameValue(x: Any, y: Any): Boolean = (x, y) match {
    case (p: Double, q: Double) =>
      p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
    case (p: java.math.BigDecimal, q: java.math.BigDecimal) => p.compareTo(q) == 0
    case _ => x == y
  }

  /** Rows in a canonical order, for answers without one. */
  def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)
}
