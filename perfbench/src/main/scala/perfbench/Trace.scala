package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reported for one traced operation. */
final class Counters {
  var jobs, stages, tasks, queries = 0L
  var runMs, cpuMs = 0.0
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  /** Files the executed plans' file scans opened (their `numFiles`). */
  var filesRead = 0L
}

/** A timed interval: a call into a layer, or a Spark job. `parent` is the
  * id of the span that caused it, -1 for an operation. */
final case class Span(id: Int, name: String, parent: Int, startUs: Long, endUs: Long) {
  def ms: Double = (endUs - startUs) / 1e3
}

/** The benchmark's tracing, attached from outside the engine. Spans are
  * recorded around each call the benchmark makes into the engine, on the
  * single client thread. Spark's own `SparkListener` and
  * `QueryExecutionListener` count jobs, stages, tasks, task metrics and
  * planning phases; every event posted while an operation runs is charged
  * to that operation, because the client drains the listener bus before it
  * starts the next one. Job spans hang under the innermost client span
  * whose interval holds the job's start. Everything is kept in memory and
  * written out once, at the end of the run.
  */
final class Tracer(spark: SparkSession) {

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nanos0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nanos0) / 1000L

  private val clientSpans = ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private val jobSpans = ArrayBuffer[(Long, Long)]() // bus thread
  private val jobStartUs = mutable.Map[Int, Long]() // bus thread
  val perOp = mutable.LinkedHashMap[Int, Counters]()
  @volatile private var current: Counters = _

  /** Record a span around `body` when inside a traced operation. */
  def span[A](name: String)(body: => A): A =
    if (current == null) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowUs
      try body
      finally {
        stack = stack.tail
        clientSpans += Span(id, name, parent, t0, nowUs)
      }
    }

  /** Charge every Spark event posted while `body` runs to operation
    * `opIndex`, inside a span named `name`. The bus is drained after the
    * operation's timer has stopped, so draining is not timed. */
  def op[A](opIndex: Int, name: String)(body: => A): A = {
    val c = new Counters
    perOp(opIndex) = c
    current = c
    try span(name)(body)
    finally settle()
  }

  /** Wait until the listeners have seen every event posted so far. */
  def settle(): Unit = {
    BusDrain(spark.sparkContext)
    current = null
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (current != null) {
        current.jobs += 1
        jobStartUs(e.jobId) = e.time * 1000L
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStartUs.remove(e.jobId).foreach(s => jobSpans += ((s, e.time * 1000L)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (current != null) current.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = current
      if (c != null) {
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuMs += m.executorCpuTime / 1e6
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = current
      if (c != null) {
        c.queries += 1
        val ph = qe.tracker.phases
        c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        c.filesRead += Tracer.filesRead(qe.executedPlan)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Client spans plus job spans, each job under the innermost client
    * span open at its start. */
  def spans: Seq[Span] = {
    val base = clientSpans.sortBy(_.id).toSeq
    val jobs = jobSpans.toSeq.sorted.zipWithIndex.map { case ((s, e), i) =>
      val holders = base.filter(sp => sp.startUs <= s && s < sp.endUs)
      val parent = if (holders.isEmpty) -1 else holders.maxBy(_.startUs).id
      Span(nextId + i, "spark.job", parent, s, e)
    }
    base ++ jobs
  }

  /** Each span's own time: its length minus the part of it that its
    * children cover. */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { sp =>
      val covered = Tracer.union(kids.getOrElse(sp.id, Nil)
        .map(k => (math.max(k.startUs, sp.startUs), math.min(k.endUs, sp.endUs)))
        .filter { case (a, b) => b > a })
      sp.id -> math.max(0.0, (sp.endUs - sp.startUs - covered) / 1e3)
    }.toMap
  }
}

object Tracer {

  /** Length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sorted.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Files opened by the file scans of an executed plan. */
  def filesRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case other =>
      other.metrics.get("numFiles").map(_.value).getOrElse(0L) +
        other.children.map(filesRead).sum + other.subqueries.map(filesRead).sum
  }
}
