package graft

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one way driver code runs independent work concurrently.
  *
  * Spark actions run one after another only because the driver calls them
  * one after another: submitted from several driver threads, independent
  * jobs share the executors and each job's tail back-fills the others'
  * idle cores, so the wall is max(branch) instead of sum(branches) with
  * identical results. The same holds for independent blocking driver reads
  * (bloom sidecar loads).
  *
  * A [[Scope]] is opened by the caller; inside it the caller may `fork` a
  * body and later `join` it, or fan out with `all`, whose results come back
  * in input order. The contract:
  *
  *  - **Inline paths.** `all` over zero or one task runs it on the
  *    caller's thread and creates no thread.
  *  - **Threads.** At most [[MaxThreads]] threads run per scope; further
  *    forks queue. Threads are created by the scope, from the forking
  *    thread, so they inherit Spark's local properties (inheritable
  *    thread-locals copied at thread creation), and a scope nested in a
  *    fork gets threads of its own — nesting cannot deadlock.
  *  - **Job tag.** Every Spark job submitted inside the scope, from the
  *    caller's thread or a fork, carries one fresh job tag; it is removed
  *    when the scope closes.
  *  - **First failure.** The first failure (a branch's or the caller
  *    body's) cancels every job carrying the tag, skips forks that have
  *    not started, and makes pending `join`s throw. The scope then waits
  *    until every started branch has returned — re-cancelling the tag
  *    while it waits, so a job a branch submits after the cancel is
  *    cancelled too — and rethrows the first cause itself (never an
  *    `ExecutionException` wrapper) with later failures suppressed on it.
  *    Branches are never interrupted: an interrupt inside a lock commit or
  *    a Hadoop FS call could strand the lock or leave a half-written file.
  *  - **Release.** A fork's `release` runs exactly once, when the scope
  *    closes (after every branch has returned), for every fork that
  *    produced a value — on success and on failure alike.
  */
object Concurrent {

  /** Most threads one scope runs at once. */
  val MaxThreads = 16

  private val scopeIds = new AtomicLong

  /** Run `tasks` concurrently; results in input order. */
  def all[A](spark: SparkSession)(tasks: Seq[() => A]): Seq[A] =
    if (tasks.size <= 1) tasks.map(_())
    else scope(spark)(_.all(tasks))

  /** Open a scope around `body`; see the object doc for the contract. */
  def scope[A](spark: SparkSession)(body: Scope => A): A = {
    val s = new Scope(spark.sparkContext)
    s.close(try Right(body(s)) catch { case e: Throwable => Left(e) })
  }

  /** Handle on one forked body. */
  final class Fork[A] private[Concurrent] (scope: Scope,
      release: A => Unit) {
    @volatile private var outcome: Option[Either[Throwable, A]] = None

    /** The body's value; throws its failure, or the scope's first failure
      * once the scope has failed.
      */
    def join(): A = {
      val failure = scope.awaitUntil(outcome.isDefined)
      outcome.getOrElse(Left(failure)).fold(e => throw e, a => a)
    }

    private[Concurrent] def run(body: => A): Unit = {
      val o = scope.failure.map(Left(_)) // skipped: the scope already failed
        .getOrElse(try Right(body) catch { case e: Throwable => Left(e) })
      o.left.foreach(scope.fail)
      scope.settle { outcome = Some(o) }
    }

    private[Concurrent] def releaseValue(): Unit =
      outcome.foreach(_.foreach(release))
  }

  final class Scope private[Concurrent] (sc: SparkContext) {
    private val tag = s"graft-concurrent-${scopeIds.incrementAndGet()}"
    private val threadIds = new AtomicLong
    private val pool = Executors.newFixedThreadPool(MaxThreads, r => {
      val t = new Thread(r, s"$tag-${threadIds.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    private var forks = Vector.empty[Fork[_]]
    private var first: Throwable = null
    private var later = Vector.empty[Throwable]
    sc.addJobTag(tag)

    /** Start `body` on a scope thread (queued beyond [[MaxThreads]]).
      * `release` runs once on its value when the scope closes.
      */
    def fork[A](body: => A, release: A => Unit = (_: Any) => ()): Fork[A] = {
      val f = new Fork[A](this, release)
      synchronized(forks :+= f)
      pool.execute(() => f.run(body))
      f
    }

    /** Fan out `tasks`; results in input order. */
    def all[A](tasks: Seq[() => A]): Seq[A] =
      if (tasks.size <= 1) tasks.map(_())
      else tasks.map(t => fork(t())).map(_.join())

    private[Concurrent] def failure: Option[Throwable] =
      synchronized(Option(first))

    private[Concurrent] def fail(e: Throwable): Unit = {
      val isFirst = synchronized {
        if (first == null) { first = e; notifyAll(); true }
        else { if (e ne first) later :+= e; false }
      }
      if (isFirst) sc.cancelJobsWithTag(tag)
    }

    private[Concurrent] def settle(update: => Unit): Unit =
      synchronized { update; notifyAll() }

    /** Block until `done` holds or the scope has failed; the first failure
      * (null when none).
      */
    private[Concurrent] def awaitUntil(done: => Boolean): Throwable =
      synchronized { while (!done && first == null) wait(); first }

    private[Concurrent] def close[A](result: Either[Throwable, A]): A = {
      result.left.foreach(fail)
      pool.shutdown()
      try {
        while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
          if (failure.nonEmpty) sc.cancelJobsWithTag(tag)
        synchronized(forks).foreach { f =>
          try f.releaseValue() catch { case e: Throwable => fail(e) }
        }
      } finally sc.removeJobTag(tag)
      synchronized(if (first != null) {
        later.foreach(first.addSuppressed)
        throw first
      })
      result.toOption.get
    }
  }
}
