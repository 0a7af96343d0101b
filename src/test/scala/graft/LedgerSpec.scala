package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.obs.Ledger

/** The cost ledger's attribution contract: a scope adds no Spark job,
  * charges nothing that ran before it opened, and charges the jobs of
  * the `graft.Concurrent` forks started inside it.
  */
class LedgerSpec extends SparkSpec {

  /** Jobs and tasks every listener sees while `body` runs. */
  private def observed(body: => Unit): (Long, Long) = {
    val jobs, tasks = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    ListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBridge.drain(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    (jobs.get, tasks.get)
  }

  private def query(): Unit = SparkEntry.run(spark, "a5_grouped_stats", sfDir)(
    _.write.format("noop").mode("overwrite").save())

  test("a query runs the same number of Spark jobs with its scope open as " +
      "without it, and the scope is charged exactly those jobs") {
    query() // warm
    val (plainJobs, plainTasks) = observed(query())
    var cost: graft.obs.Cost = null
    val (scopedJobs, scopedTasks) = observed { cost = Ledger.scope(spark)(query())._2 }
    assert(plainJobs > 0 && scopedJobs == plainJobs, s"$plainJobs vs $scopedJobs")
    assert(scopedTasks == plainTasks)
    assert(cost.jobs == scopedJobs && cost.tasks == scopedTasks)
    assert(cost.queries >= 1 && cost.stages >= 1 && cost.input > 0)
    assert(cost.operators.exists(o => o.node.contains("Aggregate") && o.rows.exists(_ > 0)),
      s"operators: ${cost.operators}")
  }

  test("a job run just before a scope opens is not charged to it") {
    val sleepy = udf { (i: Long) => Thread.sleep(2); i }
    val body = () => spark.range(0, 10, 1, 1).count()
    val (bodyJobs, bodyTasks) = observed(body())
    // a job right before an empty scope, and one still running on an
    // untagged thread while a scope runs its own
    spark.range(0, 200, 1, 4).select(sleepy(col("id"))).count()
    assert(Ledger.scope(spark)(())._2.jobs == 0)
    val bg = new Thread(() => {
      spark.range(0, 400, 1, 4).select(sleepy(col("id"))).count(); ()
    })
    bg.start()
    while (spark.sparkContext.statusTracker.getActiveJobIds.isEmpty && bg.isAlive)
      Thread.sleep(5)
    val cost = Ledger.scope(spark)(body())._2
    bg.join()
    assert(cost.jobs == bodyJobs && cost.tasks == bodyTasks,
      s"charged ${cost.jobs} jobs / ${cost.tasks} tasks, body runs " +
        s"$bodyJobs / $bodyTasks")
  }

  test("jobs from graft.Concurrent forks inside a scope are charged to it") {
    val counts = (1 to 3).map(n => () => spark.range(0, n * 10L, 1, 2).count())
    val serial = Ledger.scope(spark)(counts.map(_()))
    val forked = Ledger.scope(spark)(Concurrent.all(spark)(counts))
    assert(forked._1 == serial._1)
    assert(serial._2.jobs >= 3 && forked._2.jobs == serial._2.jobs,
      s"serial ${serial._2.jobs} vs forked ${forked._2.jobs}")
    assert(forked._2.tasks == serial._2.tasks)
  }
}
