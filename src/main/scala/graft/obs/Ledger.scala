package graft.obs

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Rows (when the operator counts them) and time one physical operator
  * reported in a query's final plan.
  */
final case class OpCost(node: String, rows: Option[Long], ms: Double)

/** What Spark reported for one [[Ledger]] scope. */
final class Cost {
  var wallMs = 0.0
  var jobs, stages, tasks, queries = 0L
  var runMs, cpuMs = 0.0
  var shuffleRead, shuffleWrite, spill, input = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  val operators = mutable.ArrayBuffer[OpCost]()

  /** One JSON object: `head` fields first, then the counters and the
    * operators.
    */
  def json(head: (String, Any)*): String = Cost.json(head ++ Seq(
    "wall_ms" -> wallMs, "jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "queries" -> queries,
    "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuMs,
    "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "input_bytes" -> input, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "operators" -> operators.toList))
}

object Cost {
  private implicit val formats: Formats = DefaultFormats

  /** `fields` as one JSON object, in order. */
  def json(fields: Seq[(String, Any)]): String =
    Serialization.write(ListMap(fields: _*))
}

/** The engine's cost ledger: what Spark's listener bus and SQL metrics
  * report for the work run inside a [[scope]].
  *
  * A scope adds one fresh Spark job tag on the calling thread, so every
  * job it submits — and every job submitted from a thread started inside
  * it, such as a [[graft.Concurrent]] fork, which inherits the tag — is
  * charged to it, and nothing else is. One `SparkListener` counts jobs,
  * stages, tasks and task metrics of tagged jobs, and for each SQL
  * execution started under a scope's tag adds its planning phase times
  * and the rows and time of every operator in its final (post-AQE) plan.
  * (A `QueryExecutionListener` cannot do the latter: its callback gets
  * the query execution but not the SQL execution id that the start
  * event ties to the job tags.) The bus is drained when a scope opens
  * and again when it closes, so trailing events of earlier jobs are
  * settled before the scope starts and the scope's own events have all
  * arrived before its record is read.
  *
  * The listener is attached only while some scope is open: with none
  * open the ledger registers nothing and costs nothing. It runs no Spark
  * job of its own.
  */
object Ledger {

  private val TagsKey = "spark.job.tags" // SparkContext.SPARK_JOB_TAGS

  private val ids = new AtomicLong
  // all guarded by `this`: scopes open and close on caller threads, the
  // listeners run on the bus thread
  private val open = mutable.LinkedHashMap[String, Cost]()
  private val stageCosts = mutable.Map[Int, Seq[Cost]]()
  private val execCosts = mutable.Map[Long, Seq[Cost]]()

  /** Run `body` inside a new scope; its value and what it cost. */
  def scope[A](spark: SparkSession)(body: => A): (A, Cost) = {
    val sc = spark.sparkContext
    val tag = s"graft-ledger-${ids.incrementAndGet()}"
    val cost = new Cost
    ListenerBridge.drain(spark)
    attach(spark, tag, cost)
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    // the listener is detached even when the closing drain times out, and
    // a failure to close never hides the body's own
    def close(): Unit = {
      cost.wallMs = (System.nanoTime() - t0) / 1e6
      sc.removeJobTag(tag)
      try ListenerBridge.drain(spark) finally detach(spark, tag, cost)
    }
    val a = try body catch { case e: Throwable =>
      try close() catch { case c: Throwable => e.addSuppressed(c) }
      throw e
    }
    close()
    (a, cost)
  }

  private def attach(spark: SparkSession, tag: String, cost: Cost): Unit =
    synchronized {
      if (open.isEmpty) spark.sparkContext.addSparkListener(Listener)
      open(tag) = cost
    }

  private def detach(spark: SparkSession, tag: String, cost: Cost): Unit =
    synchronized {
      open.remove(tag)
      stageCosts.filterInPlace((_, cs) => !cs.contains(cost))
      execCosts.filterInPlace((_, cs) => !cs.contains(cost))
      if (open.isEmpty) spark.sparkContext.removeSparkListener(Listener)
    }

  /** The open scopes among `tags`. */
  private def costsOf(tags: Iterable[String]): Seq[Cost] =
    tags.iterator.flatMap(open.get).toSeq

  private def tagsOf(p: Properties): Seq[String] =
    Option(p).flatMap(p => Option(p.getProperty(TagsKey)))
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Ledger.synchronized {
        val cs = costsOf(tagsOf(e.properties))
        if (cs.nonEmpty) {
          cs.foreach(_.jobs += 1)
          e.stageIds.foreach(stageCosts(_) = cs)
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Ledger.synchronized {
        stageCosts.get(e.stageInfo.stageId).foreach(_.foreach(_.stages += 1))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Ledger.synchronized {
        stageCosts.get(e.stageId).foreach(_.foreach { c =>
          c.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            c.runMs += m.executorRunTime
            c.cpuMs += m.executorCpuTime / 1e6
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.input += m.inputMetrics.bytesRead
          }
        })
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Ledger.synchronized {
        val cs = costsOf(s.jobTags)
        if (cs.nonEmpty) execCosts(s.executionId) = cs
      }
      case end: SparkListenerSQLExecutionEnd => Ledger.synchronized {
        for (cs <- execCosts.remove(end.executionId);
             qe <- ListenerBridge.queryExecution(end)) charge(cs, qe)
      }
      case _ =>
    }

    private def charge(cs: Seq[Cost], qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val ops = operators(qe.executedPlan)
      cs.foreach { c =>
        c.queries += 1
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        c.operators ++= ops
      }
    }
  }

  /** Every operator of the final plan that reports output rows or time,
    * in pre-order; adaptive plans are read at their final stage plans.
    */
  private def operators(p: SparkPlan): Seq[OpCost] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case node =>
      val rows = node.metrics.get("numOutputRows").map(_.value)
      val timed = node.metrics.values.collect {
        case m if m.metricType == "timing" => m.value.toDouble
        case m if m.metricType == "nsTiming" => m.value / 1e6
      }
      val own =
        if (rows.isEmpty && timed.isEmpty) Nil
        else Seq(OpCost(node.nodeName, rows, timed.sum))
      own ++ (node.children ++ node.subqueries).flatMap(operators)
  }
}
