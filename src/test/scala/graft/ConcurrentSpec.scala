package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBridge

/** The concurrency helper's contract, one case per clause: input-order
  * results, inline small fan-outs, cancel-on-first-failure, release once
  * per value, first cause rethrown with later ones suppressed, nested
  * scopes, one job tag per scope.
  */
class ConcurrentSpec extends SparkSpec {

  private def helperThreads(): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-concurrent-"))

  /** Poll until `cond` holds or `ms` pass; the final value. */
  private def eventually(ms: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis + ms
    while (!cond && System.currentTimeMillis < end) Thread.sleep(20)
    cond
  }

  /** A Spark job whose tasks sleep `msPerRow` per row (4 tasks). */
  private def sleepyCount(rows: Int, msPerRow: Long): Long = {
    val sleepy = org.apache.spark.sql.functions.udf { (i: Long) =>
      Thread.sleep(msPerRow); i
    }
    spark.range(0, rows, 1, 4).select(sleepy(org.apache.spark.sql.functions
      .col("id")).as("x")).filter("x >= 0").count()
  }

  private val cases: Seq[(String, () => Unit)] = Seq(

    "results come back in input order; at most MaxThreads run at once" ->
      (() => {
        val running = new AtomicInteger
        val peak = new AtomicInteger
        val out = Concurrent.all(spark)((0 until 40).map { i => () =>
          val now = running.incrementAndGet()
          peak.accumulateAndGet(now, math.max)
          Thread.sleep((40 - i) % 7 * 5L)
          running.decrementAndGet()
          i * 10
        })
        assert(out == (0 until 40).map(_ * 10))
        assert(peak.get <= Concurrent.MaxThreads && peak.get > 1,
          s"peak concurrency ${peak.get}")
      }),

    "zero or one task runs inline on the caller's thread" -> (() => {
      val before = helperThreads().size
      assert(Concurrent.all(spark)(Seq.empty[() => Int]).isEmpty)
      val caller = Thread.currentThread
      assert(Concurrent.all(spark)(Seq(() => Thread.currentThread)) ==
        Seq(caller))
      Concurrent.scope(spark) { s =>
        assert(s.all(Seq(() => Thread.currentThread)) == Seq(caller))
      }
      assert(helperThreads().size == before)
    }),

    "a failing branch cancels a sibling Spark job; no job stays active" ->
      (() => {
        val t0 = System.nanoTime
        val e = intercept[IllegalStateException] {
          Concurrent.scope(spark) { s =>
            // 4 tasks x 250 rows x 100 ms: ~25 s if left running
            val sibling = s.fork(sleepyCount(1000, 100L))
            s.fork {
              assert(eventually(30000)(
                spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty))
              throw new IllegalStateException("branch failed")
            }
            sibling.join()
          }
        }
        val secs = (System.nanoTime - t0) / 1e9
        assert(e.getMessage == "branch failed")
        // the sibling's job ended as cancelled; its failure is suppressed
        assert(e.getSuppressed.exists(_.getMessage.contains("cancelled")),
          e.getSuppressed.map(_.getMessage).mkString("; "))
        assert(secs < 20, s"scope took $secs s: the sibling ran to the end")
        assert(eventually(2000) {
          ListenerBridge.drain(spark) // a queued job start reads as inactive
          spark.sparkContext.statusTracker.getActiveJobIds.isEmpty
        })
        assert(eventually(2000)(helperThreads().isEmpty))
      }),

    "release runs once per branch that produced a value, on success and " +
      "on failure" -> (() => {
        val released = new ConcurrentHashMap[String, AtomicInteger]()
        def rel(v: String): Unit =
          released.computeIfAbsent(v, _ => new AtomicInteger).incrementAndGet()
        val vs = Concurrent.scope(spark) { s =>
          val fs = Seq("a", "b", "c").map(v => s.fork(v, release = rel))
          val got = fs.map(_.join())
          assert(released.isEmpty, "released before the scope closed")
          got
        }
        assert(vs == Seq("a", "b", "c"))
        assert(released.asScala.map { case (k, n) => k -> n.get }.toMap ==
          Map("a" -> 1, "b" -> 1, "c" -> 1))

        released.clear()
        intercept[ArithmeticException] {
          Concurrent.scope(spark) { s =>
            val ok = s.fork("d", release = rel)
            ok.join()
            s.fork[String](throw new ArithmeticException("no value"),
              release = rel)
            s.fork("e", release = rel).join()
          }
        }
        assert(released.asScala.get("d").map(_.get).contains(1))
        assert(released.asScala.get("e").forall(_.get == 1))
        assert(released.size <= 2)
      }),

    "the first cause is rethrown with its own type; later failures are " +
      "suppressed" -> (() => {
        val e = intercept[IllegalArgumentException] {
          Concurrent.scope(spark) { s =>
            val a = s.fork[Int](throw new IllegalArgumentException("first"))
            try a.join()
            catch { case _: IllegalArgumentException =>
              throw new IllegalStateException("second")
            }
          }
        }
        assert(e.getMessage == "first")
        assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
        // the fan-out path unwraps too: no ExecutionException wrapper
        val e2 = intercept[UnsupportedOperationException] {
          Concurrent.all(spark)(Seq(() => 1,
            () => throw new UnsupportedOperationException("fan-out")))
        }
        assert(e2.getMessage == "fan-out")
      }),

    "a scope nested in a fork completes without deadlock" -> (() => {
      val result = new java.util.concurrent.atomic.AtomicReference[Seq[Long]]
      val t = new Thread(() => result.set(
        Concurrent.all(spark)((0 until Concurrent.MaxThreads).map { i => () =>
          Concurrent.all(spark)((0 until 3).map { j => () =>
            if (j == 0 && i % 4 == 0) spark.range(i + 1).count()
            else (i + 1).toLong
          }).sum
        })))
      t.start()
      t.join(120000)
      assert(!t.isAlive, "nested scopes did not complete in 120 s")
      assert(result.get == (0 until Concurrent.MaxThreads).map(i => 3L * (i + 1)))
    }),

    "every job in the scope carries its one tag; the tag goes at close" ->
      (() => {
        val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]
        val l = new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit =
            tags.add(Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.tags")))
              .getOrElse(""))
        }
        spark.sparkContext.addSparkListener(l)
        try {
          Concurrent.scope(spark) { s =>
            s.fork(spark.range(10).count())
            spark.range(10).count() // from the caller's own thread
          }
          ListenerBridge.drain(spark)
        } finally spark.sparkContext.removeSparkListener(l)
        val scoped = tags.asScala.toSeq
          .map(_.split(",").filter(_.startsWith("graft-concurrent-")).toSet)
        assert(scoped.size >= 2 && scoped.forall(_.size == 1) &&
          scoped.toSet.size == 1, s"job tags: $scoped")
        assert(!spark.sparkContext.getJobTags()
          .exists(_.startsWith("graft-concurrent-")))
      })
  )

  cases.foreach { case (name, body) => test(name)(body()) }
}
