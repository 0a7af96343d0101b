package perfbench

/** A fixed piece of host work: every core sorts its own copy of the same
  * pseudo-random array. A shared virtual host drifts in speed by tens of
  * percent within minutes when other tenants load its cores, and every
  * run is one short JVM, so runs of the same code land in different host
  * states. Timing the canary between the loop's steps measures the
  * host's speed during the run, and the end-to-end figures are scaled to a
  * reference canary time: `ms × RefMs / canaryMs`. The canary does not use
  * the engine, so a change to the engine cannot move it. */
object Canary {

  /** Canary time, in ms, that the scaled figures are expressed at. */
  val RefMs = 50.0

  private val data: Array[Long] = {
    val r = new java.util.SplittableRandom(7L)
    Array.fill(1 << 17)(r.nextLong())
  }

  /** Wall time of one canary on `threads` threads. */
  def once(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(_ => new Thread(() => {
      var k = 0
      while (k < 4) { java.util.Arrays.sort(data.clone()); k += 1 }
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
}
