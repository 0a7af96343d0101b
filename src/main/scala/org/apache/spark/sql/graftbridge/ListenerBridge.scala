package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Seams into Spark's listener bus and status store, both
  * `private[spark]` — this bridge lives in the package tree for the same
  * reason [[StreamBridge]] does. `QueryExecutionListener` events ride the
  * shared async listener bus, so a spec that registers a listener, runs a
  * write, and immediately asserts on the captured plans races the
  * delivery thread; `LiveListenerBus.waitUntilEmpty()` closes that race.
  */
object ListenerBridge {

  /** Block until every queued listener event (including
    * QueryExecutionListener deliveries) has been dispatched.
    */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Whether a task of one of `stageIds` is still running, by the status
    * store's per-task records. A stage's active-task count, which
    * `SparkStatusTracker` reports, can read 0 while a task launched just
    * before the stage was cancelled still runs; that task's own record
    * reads RUNNING until its end event arrives. Attempt -1 holds a task
    * whose start was posted after its stage was gone.
    */
  def tasksRunning(sc: SparkContext, stageIds: Seq[Int]): Boolean = {
    val store = sc.statusStore
    stageIds.exists { id =>
      (store.stageData(id).map(_.attemptId) :+ -1).exists(attempt =>
        store.taskList(id, attempt, Int.MaxValue).exists(_.status == "RUNNING"))
    }
  }

  /** The query execution a successful SQL execution ran, when the driver
    * attached it to the end event (`private[sql]`; a failed execution may
    * have no executed plan). Unlike a `QueryExecutionListener` callback,
    * the event also names the execution id, which the start event maps to
    * its job tags.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe).filter(_ => e.executionFailure.isEmpty)
}

