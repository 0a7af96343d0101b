package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical-plan inspection for specs that pin a plan's shape. */
trait PlanNodes { self: SparkSpec =>

  /** Every node of a plan tree, descending through the wrappers that
    * hide write-path joins from a naive string check: AQE wrappers and
    * stages, cached-relation plans (a persisted classification's join
    * lives in the InMemoryRelation, not the consuming write's tree),
    * and reused exchanges.
    */
  protected def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case i: InMemoryTableScanExec => nodes(i.relation.cachedPlan)
      case r: ReusedExchangeExec => nodes(r.child)
      case _ => Nil
    }
    p +: (nested ++ p.children.flatMap(nodes))
  }

  /** Run `body` with a QueryExecutionListener attached; returns every
    * execution it fired (drained, so the async bus cannot race the
    * asserts).
    */
  protected def captured(body: => Unit): Seq[QueryExecution] = {
    val out = ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        out.synchronized { out += qe }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; ListenerBridge.drain(spark) }
    finally spark.listenerManager.unregister(l)
    out.synchronized(out.toSeq)
  }

  protected def allNodes(qes: Seq[QueryExecution]): Seq[SparkPlan] =
    qes.flatMap(qe => nodes(qe.executedPlan))
}
